"""The ``ingest`` workload: request batches -> parse -> encode -> Warp POST.

One client in a closed loop hands the engine one batch at a time and
waits until the sink has posted all of it. Each batch goes through the
public layers in order:

    streaming.ingest.ingest_stream  (parsers.*)
    -> schema.permissive -> encode.encode_sensision
    -> sinks.warp_sink.WarpHTTPSink.foreach_batch -> stub /api/v0/update

(the ``warp`` passthrough already yields Sensision lines, so it skips
permissive and encode, as the forwarder in streaming.ingest does).

The output check: what the stub receives for a batch must equal, as a
multiset, the Sensision lines the same layers produce for that batch,
computed once in set-up from the whole corpus.
"""

from __future__ import annotations

import time
from collections import defaultdict

import pyarrow as pa

from catalyst_spark.encode import encode_sensision
from catalyst_spark.schema import PARSE_ERROR_COL, permissive
from catalyst_spark.sinks.warp_sink import WarpHTTPSink
from catalyst_spark.streaming.ingest import ingest_stream

import corpus as C
from clock import Stopwatch
from stub_warp import StubWarp, digest

TOKEN = "bench-write-token"
_NOW_US = (C.T0_S + 10_000_000) * 1_000_000
PARSER_KWARGS = {
    "graphite": {"now_us": _NOW_US},
    "influxdb": {"now_ns": _NOW_US * 1000},
    "opentsdb": {"now_us": _NOW_US},
    "prometheus": {"now_us": _NOW_US},
}
STUB_COUNTERS = ("posts", "rejected", "lines", "bytes", "duplicates",
                 "connections", "busy_s")


def _parse(df, protocol):
    return ingest_stream(df, protocol, **PARSER_KWARGS.get(protocol, {}))


def _encode(gts, protocol):
    return gts if protocol == "warp" else encode_sensision(permissive(gts))


def expected_per_batch(spark, block) -> dict[int, tuple[int, int]]:
    """batch id -> (line count, digest) of the encoded corpus."""
    by_proto = defaultdict(list)
    for b in block:
        by_proto[b.protocol].append(b.table)
    acc: dict[int, list[bytes]] = defaultdict(list)
    for protocol, tables in by_proto.items():
        df = spark.createDataFrame(pa.concat_tables(tables))
        for (line,) in _encode(_parse(df, protocol), protocol).collect():
            raw = line if line.endswith("\r\n") else line + "\r\n"
            raw = raw.encode()
            acc[int(C.BATCH_TAG.search(raw).group(1))].append(raw)
    return {b: digest(lines) for b, lines in acc.items()}


class IngestRun:
    def __init__(self, spark, seed: int, tracer) -> None:
        self.spark = spark
        self.tracer = tracer
        self.block = C.make_corpus(seed)
        self.expected = expected_per_batch(spark, self.block)
        self.stub = StubWarp(TOKEN).start()
        self.sink = WarpHTTPSink(self.stub.endpoint, TOKEN)
        self.epoch = 0
        self.layer = defaultdict(float)   # traced layer busy seconds
        self.counts = defaultdict(int)    # traced per-protocol row counts

    def close(self) -> None:
        self.stub.close()

    def warm_up(self) -> None:
        """The expected outputs computed in set-up already ran every
        parser and encoder; one small batch per protocol through the
        sink compiles the rest of each protocol's path."""
        first_small = {}
        for b in self.block:
            if b.kind == "small":
                first_small.setdefault(b.protocol, b)
        for b in first_small.values():
            self._send(b)
        self.stub.snapshot()

    def _send(self, b) -> None:
        df = self.spark.createDataFrame(b.table)
        self.sink.foreach_batch(_encode(_parse(df, b.protocol), b.protocol), self.epoch)
        self.epoch += 1

    def _send_traced(self, b) -> None:
        """The same calls as _send, plus prefix materializations: each
        lazy layer's busy time is the difference between materializing
        the pipeline up to it and up to the layer before."""
        tr, p = self.tracer, b.protocol

        def noop(frame) -> float:
            t0 = time.perf_counter()
            frame.write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0

        with tr.span(f"batch.{p}", rows=b.rows):
            df = self.spark.createDataFrame(b.table)
            with tr.span("parsers", group=f"ingest|{p}|parsers"):
                gts = _parse(df, p)
                t_parse = noop(gts)
                if p != "warp":
                    row = gts.selectExpr(
                        "count(*)", f"count({PARSE_ERROR_COL})").first()
                    self.counts[f"{p}.rows_out"] += row[0]
                    self.counts[f"{p}.parse_errors"] += row[1]
                else:
                    self.counts[f"{p}.rows_out"] += b.rows
            with tr.span("encode", group=f"ingest|{p}|encode"):
                enc = _encode(gts, p)
                t_enc = noop(enc) if p != "warp" else t_parse
            with tr.span("sinks", group=f"ingest|{p}|sink"):
                t0 = time.perf_counter()
                self.sink.foreach_batch(enc, self.epoch)
                t_sink = time.perf_counter() - t0
        self.epoch += 1
        self.counts[f"{p}.rows_in"] += b.rows
        self.counts["batches"] += 1
        self.layer[f"parsers.{p}"] += t_parse
        self.layer[f"encode.{p}"] += t_enc - t_parse
        self.layer[f"sinks.{p}"] += t_sink - t_enc

    def measure(self, blocks: int, traced: bool) -> dict:
        """Send the block `blocks` times; every batch is checked against
        what the stub received for it. Times are net of steal (clock.py);
        the wall-clock block times are kept as ``raw_walls``."""
        send = self._send_traced if traced else self._send
        lat, ops, walls, raw_walls = [], [], [], []
        failed = 0
        stub = defaultdict(float)
        for _ in range(blocks):
            block_clock = Stopwatch()
            for b in self.block:
                clock = Stopwatch()
                try:
                    send(b)
                    ok = True
                except Exception as exc:  # a failed batch counts, the run goes on
                    print(f"batch {b.batch_id} ({b.protocol}) failed: {exc!r}")
                    ok = False
                lat.append(clock.read()[1])
                ops.append(f"{b.protocol}.{b.kind}")
                got = self.stub.snapshot()
                for k in STUB_COUNTERS:
                    stub[k] += got[k]
                if not ok or got["rejected"] or \
                        (got["lines"], got["digest"]) != self.expected.get(b.batch_id, (0, 0)):
                    failed += 1
            raw, net = block_clock.read()
            raw_walls.append(raw)
            walls.append(net)
        return {"lat": lat, "ops": ops, "walls": walls,
                "raw_walls": raw_walls, "attempted": len(lat),
                "failed": failed, "stub": dict(stub)}
