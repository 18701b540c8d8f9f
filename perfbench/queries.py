"""The ``query`` workload: one analyst running registry keys in a closed loop.

A pass resets the session caches (``queries.pipeline.reset_session_caches``)
and then, for every key of the workload in a seed-permuted order, calls
the registry function and delivers its result to the driver as Arrow.
Per key that is two timed layer calls: ``build`` (the registry call:
plan construction plus any eager actions inside it) and ``exec``
(``DataFrame.toArrow``).

Every pass's results are compared, outside the timed region, with the
key's DuckDB oracle SQL, evaluated once in set-up on the same tables.
"""

from __future__ import annotations

import os
import random
import time

from catalyst_spark.queries import (
    ORACLE_SQL,
    PIPELINE_QUERIES,
    RELATIONAL_QUERIES,
    TSDB_QUERIES,
)
from catalyst_spark.queries.pipeline import reset_session_caches
from catalyst_spark.tables import TABLES

import datagen
from clock import Stopwatch
import oracle

FAMILIES = {
    "pipeline": PIPELINE_QUERIES,
    "relational": RELATIONAL_QUERIES,
    "tsdb": TSDB_QUERIES,
}

# A whole family does not fit one run (a warm pass over the 114
# pipeline keys takes ~110 s on a 4-CPU box, the 61 relational + tsdb
# keys ~43 s at sf0.1), so the workload runs a fixed subset of each
# family; the seed permutes the order, never the membership, so runs
# with different seeds do the same work.
#
# The pipeline subset keeps a consumer of every `_*_CACHE` of
# queries.pipeline: the prefix-filter verified pairs (near_dup_pagerank
# and dedup_keep_one, so which of the two pays for the build changes
# with the order), the PageRank chain (near_dup_pagerank), the
# connected-component labels (dedup_keep_one), the winnowing
# fingerprints (dedup_winnow_pairs), and the embeddings fingerprint,
# k-means model and top-k result caches (ann_ivf_trained_topk).
# near_dup_pagerank and dedup_keep_one also cut lineage with
# localCheckpoint, whose RDDs outlive reset_session_caches. token_counts
# and lang_id_confusion are cheap single-scan text operators. Pipeline
# keys run at sf0.001: their time is driver-side plan construction and
# eager actions, the same at sf0.001 as at sf0.01 on a 4-CPU box, while
# the DuckDB oracles of the prefix-pair consumers take 13-24 s at
# sf0.01.
PIPELINE_KEYS = ("token_counts", "lang_id_confusion", "near_dup_pagerank",
                 "dedup_keep_one", "dedup_winnow_pairs", "ann_ivf_trained_topk")
# Relational and tsdb keys run at sf0.1, where execution (scan, shuffle,
# AQE) dominates and no key shares a build: a TPC-H Q1 aggregate, a
# multi-way join, a semi-join and a top-k per group. Keys returning
# 10^5+ rows are left out: canonicalizing them for the output check
# costs seconds each.
RELATIONAL_TSDB_KEYS = ("q6_tpch_q1", "q8_multi_join", "q9_semi_join",
                        "top3_per_group")
SF = {"pipeline": 0.001, "relational": 0.1, "tsdb": 0.1}


def family_of(key: str) -> str:
    return next(f for f, reg in FAMILIES.items() if key in reg)


class QueryRun:
    def __init__(self, spark, seed: int, data_root: str, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.keys = list(PIPELINE_KEYS + RELATIONAL_TSDB_KEYS)
        self.family = {k: family_of(k) for k in self.keys}
        self.rng = random.Random(seed)
        dirs = {sf: datagen.write_tables(os.path.join(data_root, f"sf{sf}"), sf, seed)
                for sf in sorted(set(SF.values()))}
        self.data_dir = {k: dirs[SF[f]] for k, f in self.family.items()}
        self.expected = {}
        for d in dirs.values():
            self.expected.update(oracle.expected_in_child(
                {k: ORACLE_SQL[k] for k in self.keys if self.data_dir[k] == d},
                d, TABLES))
        self.build_s = {f: 0.0 for f in FAMILIES}  # traced layer busy seconds
        self.exec_s = {f: 0.0 for f in FAMILIES}

    def warm_up(self) -> None:
        """One unchecked pass, in which every plan compiles and the
        Python workers start."""
        self.one_pass(False)

    def close(self) -> None:
        pass

    def one_pass(self, traced: bool) -> dict:
        order = list(self.keys)
        self.rng.shuffle(order)
        reset_session_caches(self.spark)
        lat, results, errors = [], {}, 0
        pass_clock = Stopwatch()
        for key in order:
            clock = Stopwatch()
            try:
                results[key] = self._run_key(key, traced)
            except Exception as exc:  # a failed key counts, the pass goes on
                print(f"key {key} failed: {exc!r}")
                errors += 1
            lat.append(clock.read()[1])
        raw_wall, wall = pass_clock.read()
        return {"wall": wall, "raw_wall": raw_wall, "lat": lat, "ops": order,
                "results": results, "errors": errors}

    def _run_key(self, key: str, traced: bool):
        fam = self.family[key]
        fn = FAMILIES[fam][key]
        if not traced:
            return fn(self.spark, self.data_dir[key]).toArrow()
        tr = self.tracer
        with tr.span(f"key.{key}", family=fam):
            t0 = time.perf_counter()
            with tr.span("build", group=f"{fam}|{key}|build"):
                df = fn(self.spark, self.data_dir[key])
            t1 = time.perf_counter()
            with tr.span("exec", group=f"{fam}|{key}|exec"):
                table = df.toArrow()
            self.build_s[fam] += t1 - t0
            self.exec_s[fam] += time.perf_counter() - t1
        return table

    def check(self, results: dict) -> int:
        """Number of keys whose result differs from the oracle."""
        bad = 0
        for key, table in results.items():
            if oracle.canonical_arrow(table) != self.expected[key]:
                print(f"output mismatch: {key}")
                bad += 1
        return bad

    def measure(self, passes: int, traced: bool) -> dict:
        lat, ops, walls, raw_walls = [], [], [], []
        failed = rows = 0
        for _ in range(passes):
            p = self.one_pass(traced)
            walls.append(p["wall"])
            raw_walls.append(p["raw_wall"])
            lat += p["lat"]
            ops += p["ops"]
            failed += p["errors"] + self.check(p["results"])
            rows += sum(t.num_rows for t in p["results"].values())
        return {"lat": lat, "ops": ops, "walls": walls,
                "raw_walls": raw_walls,
                "attempted": passes * len(self.keys),
                "failed": failed, "rows": rows}
