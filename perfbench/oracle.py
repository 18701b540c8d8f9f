"""Expected query results from each key's DuckDB oracle SQL.

The canonical form follows the repository's oracle comparison: columns
sorted by name, every cell normalized (naive ISO timestamps, ISO dates,
NaN as a string), rows sorted. Spark results arrive as Arrow tables
(the same form the benchmark times delivering to the driver), so maps
come back as key/value pairs; both sides fold maps and structs into
sorted tuples before comparing.
"""

from __future__ import annotations

import datetime as _dt
import json
import math
import pickle
import subprocess
import sys
from decimal import Decimal

import duckdb


def _key(v):
    """Total order over normalized cells, numbers compared by value."""
    if v is None:
        return (0,)
    if isinstance(v, (bool, int, float, Decimal)):
        return (1, v)
    if isinstance(v, str):
        return (2, v)
    if isinstance(v, tuple):
        return (3, tuple(_key(x) for x in v))
    return (4, repr(v))


def _norm(v):
    if isinstance(v, _dt.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, _dt.date):
        return v.isoformat()
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dict):
        return tuple(sorted(((k, _norm(x)) for k, x in v.items()), key=_key))
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):
            # an Arrow map arrives as a list of (key, value) pairs
            return tuple(sorted(((k, _norm(x)) for k, x in v), key=_key))
        return tuple(_norm(x) for x in v)
    return v


def canonical(cols: list[str], rows) -> tuple[list[str], list[tuple]]:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    out.sort(key=_key)
    return [cols[i] for i in order], out


def canonical_arrow(table) -> tuple[list[str], list[tuple]]:
    cols = table.column_names
    pylists = [table.column(i).to_pylist() for i in range(len(cols))]
    return canonical(cols, list(zip(*pylists)) if cols else [])


def expected(sqls: dict[str, str], data_dir: str, tables) -> dict:
    """key -> canonical (columns, rows) of its oracle SQL on data_dir."""
    con = duckdb.connect()
    try:
        con.execute("SET threads TO 4")
        for t in tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
        out = {}
        for key, sql in sqls.items():
            cur = con.execute(sql)
            out[key] = canonical([d[0] for d in cur.description], cur.fetchall())
        return out
    finally:
        con.close()


def expected_in_child(sqls: dict[str, str], data_dir: str, tables) -> dict:
    """`expected` in a child interpreter, so that DuckDB's memory is not
    counted in the benchmark process's resident set while the engine is
    measured."""
    out = subprocess.run(
        [sys.executable, __file__],
        input=json.dumps([sqls, data_dir, list(tables)]).encode(),
        capture_output=True, check=True)
    return pickle.loads(out.stdout)


if __name__ == "__main__":
    sys.stdout.buffer.write(pickle.dumps(expected(*json.load(sys.stdin))))
