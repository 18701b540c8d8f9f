"""Seeded request batches for the ``ingest`` workload.

A corpus is one block of batches: per protocol, several scraper-sized
pushes and one bulk push (``MIX``), so every seed gives the same
protocol mix and the same heavy-tailed size mix; the seed sets the
jitter on each size, the order of the batches and every line's
content.
A small fixed share of rows is malformed, using the error shapes of
each protocol's error taxonomy.

Every datapoint carries a label ``b=<batch id>`` and a timestamp made
from a corpus-wide counter, so every Sensision line in the corpus is
distinct and each one can be traced back to the batch it came from.
"""

from __future__ import annotations

import json
import math
import random
import re
import struct
from dataclasses import dataclass

import pyarrow as pa

PROTOCOLS = ("graphite", "influxdb", "opentsdb", "prometheus", "remote_write", "warp")

# input column each parser reads: request bodies for the JSON and
# protobuf protocols, one line per row for the others
INPUT_COL = {"opentsdb": "body", "remote_write": "body"}

# kind -> (datapoints per batch, batches per protocol in the corpus).
# Scraper pushes are the majority and expose the fixed cost of a batch;
# the rare bulk push exposes the cost per line. 27 datapoints is one
# flush of the Warp sink (PASSTHROUGH_FLUSH_LINES); the sink posts per
# input partition, so a scraper push makes about four short POSTs and a
# bulk push about 55 full ones.
MIX = {"small": (27, 3), "bulk": (1500, 1)}
JITTER = 0.15
# one malformed row in this many (every protocol with a parse step)
MALFORMED_EVERY = 40

T0_S = 1_700_000_000
BATCH_TAG = re.compile(rb"[{,]b=(\d+)[,}]")

# malformed-row shapes, one family per protocol
_BAD = {
    "graphite": ("bench.lonely.metric",            # Bad metric format
                 "bench.bad.ts 1.5 notatimestamp",  # Bad metric part: timestamp
                 "bench.bad.tag;notag 1.5 1700000000"),  # tag without '='
    "influxdb": ("cpu,b=0 usage=notanumber 1700000000000000000",
                 "cpu,b=0"),                        # Failed to parse datapoint
    "opentsdb": ("not a json body",                 # Failed to parse datapoint - EOF
                 '{"timestamp":1700000000,"value":null}'),
    "prometheus": ('bench_bad{b="0"} notanumber 1700000000000',
                   '{b="0"} 1.0'),                  # Invalid format
    "remote_write": (b"\x7fnot snappy at all",),    # Decode error
}


@dataclass
class Batch:
    batch_id: int
    protocol: str
    kind: str           # a key of MIX
    table: pa.Table     # the request rows handed to the engine
    rows: int


# --- minimal prompb.WriteRequest + snappy framing (literal-only) -------

def _uvarint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _ld(field: int, payload: bytes) -> bytes:
    return _uvarint((field << 3) | 2) + _uvarint(len(payload)) + payload


def write_request(series: list[tuple[dict, list[tuple[float, int]]]]) -> bytes:
    out = bytearray()
    for labels, samples in series:
        ts = bytearray()
        for k, v in labels.items():
            ts += _ld(1, _ld(1, k.encode()) + _ld(2, v.encode()))
        for value, ms in samples:
            sample = _uvarint(1 << 3 | 1) + struct.pack("<d", value)
            sample += _uvarint(2 << 3) + _uvarint(ms)
            ts += _ld(2, sample)
        out += _ld(1, bytes(ts))
    return bytes(out)


def snappy_literal(data: bytes) -> bytes:
    """A valid snappy block made only of literal chunks."""
    out = bytearray(_uvarint(len(data)))
    for i in range(0, len(data), 65536):
        chunk = data[i:i + 65536]
        out.append(61 << 2)  # literal, length-1 in the next two bytes
        out += struct.pack("<H", len(chunk) - 1)
        out += chunk
    return bytes(out)


# --- per-protocol row builders -----------------------------------------

class _Gen:
    def __init__(self, rng: random.Random) -> None:
        self.rng = rng
        self.tick = 0  # corpus-wide datapoint counter -> distinct timestamps

    def next_ts(self) -> int:
        self.tick += 1
        return T0_S + self.tick

    def value(self) -> str:
        r = self.rng.random()
        if r < 0.6:
            return f"{self.rng.uniform(0, 1000):.3f}"
        if r < 0.95:
            return str(self.rng.randrange(0, 100_000))
        return "true" if r < 0.975 else "false"

    def host(self) -> str:
        return f"h{self.rng.randrange(16)}"

    def graphite(self, b: int, n: int) -> list:
        return [f"bench.{self.host()}.m{self.rng.randrange(8)};b={b};dc=eu "
                f"{self.value()} {self.next_ts()}" for _ in range(n)]

    def influxdb(self, b: int, n: int) -> list:
        rows, dp = [], 0
        while dp < n:
            ts = self.next_ts() * 1_000_000_000
            rows.append(f"cpu,b={b},host={self.host()} "
                        f"usage={self.rng.uniform(0, 100):.2f},"
                        f"n={self.rng.randrange(1000)}i,"
                        f"ok={'true' if self.rng.random() < 0.5 else 'false'} {ts}")
            dp += 3  # multi-field fan-out: one GTS per field
        return rows

    def opentsdb(self, b: int, n: int) -> list:
        rows, dp = [], 0
        while dp < n:
            k = 1 if self.rng.random() < 0.3 else 4
            pts = [{"metric": f"sys.m{self.rng.randrange(8)}",
                    "timestamp": self.next_ts(),
                    "value": round(self.rng.uniform(0, 1000), 3),
                    "tags": {"b": str(b), "host": self.host()}} for _ in range(k)]
            rows.append(json.dumps(pts[0] if k == 1 else pts))
            dp += k
        return rows

    def prometheus(self, b: int, n: int) -> list:
        rows = ["# TYPE bench_requests_total counter"]
        for i in range(n):
            rows.append(f'bench_requests_total{{b="{b}",code="{200 + i % 4}",'
                        f'host="{self.host()}"}} {self.rng.randrange(100_000)} '
                        f"{self.next_ts() * 1000}")
        return rows

    def remote_write(self, b: int, n: int) -> list:
        rows, dp = [], 0
        while dp < n:
            series = []
            for s in range(5):
                samples = [(round(self.rng.uniform(0, 1000), 3), self.next_ts() * 1000)
                           for _ in range(10)]
                series.append(({"__name__": f"bench_rw_{s}", "b": str(b),
                                "host": self.host()}, samples))
            rows.append(snappy_literal(write_request(series)))
            dp += 50
        return rows

    def warp(self, b: int, n: int) -> list:
        return [f"{self.next_ts() * 1_000_000}// bench.warp{{b={b},host={self.host()}}} "
                f"{self.rng.randrange(100_000)}" for _ in range(n)]


def _with_malformed(rng: random.Random, protocol: str, rows: list) -> list:
    bad = _BAD.get(protocol)
    k = round(len(rows) / MALFORMED_EVERY)
    if not bad or not k:
        return rows
    rows = list(rows)
    for j in range(k):
        rows.insert(rng.randrange(len(rows) + 1), bad[j % len(bad)])
    return rows


def make_corpus(seed: int) -> list[Batch]:
    rng = random.Random(seed)
    gen = _Gen(rng)
    # jitter each batch's size, keeping the total per kind the same, so
    # that seeds change the inputs but not the work
    plan = []
    for kind, (base, count) in MIX.items():
        slots = [(p, kind) for p in PROTOCOLS for _ in range(count)]
        f = [math.exp(rng.uniform(-JITTER, JITTER)) for _ in slots]
        plan += [(p, k, max(1, round(base * x * len(f) / sum(f))))
                 for (p, k), x in zip(slots, f)]
    rng.shuffle(plan)
    block = []
    for b, (protocol, kind, n) in enumerate(plan):
        rows = _with_malformed(rng, protocol, getattr(gen, protocol)(b, n))
        col = INPUT_COL.get(protocol, "line")
        typ = pa.binary() if protocol == "remote_write" else pa.string()
        block.append(Batch(b, protocol, kind,
                           pa.table({col: pa.array(rows, typ)}), len(rows)))
    return block
