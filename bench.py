#!/usr/bin/env python
"""Per-round benchmark: runs every declared query at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line:

    {"metric": "...", "value": <total sec>, "unit": "sec",
     "queries": {"<name>": sec, ...}, "sf": <sf>}

Each query is forced end-to-end with the noop sink (computes every column
— a bare count() would let Catalyst prune the expensive expressions and
under-report).
"""

from __future__ import annotations

import json
import os
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent
if str(REPO) not in sys.path:
    sys.path.insert(0, str(REPO))


def _ensure_sf1(spark, src_dir: str, dst_dir: str) -> None:
    """Deterministic 10x corpus derived from the driver's sf0.1 tables
    (documents + embeddings only — the dedup/similarity family reads
    nothing else). Replica family k > 0 gets a disjoint token space
    (every token suffixed `_k`) and a coordinate sign-flip pattern on
    embeddings (dot(s.a, s.b) = dot(a, b), so WITHIN-family cosine
    structure is preserved exactly while cross-family similarity is
    destroyed w.h.p.) — ten independent copies of the sf0.1 dup
    structure in one table. A correctly bucketed similarity join must
    therefore show ~10x candidates at 10x rows (stable sub-quadratic
    ratio); an all-pairs design would show 100x."""
    import shutil

    from pyspark.sql import functions as F

    done_flag = os.path.join(dst_dir, "_DONE")
    if os.path.exists(done_flag):
        return
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir, exist_ok=True)
    reps = "explode(sequence(0, 9))"
    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    emb0 = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    # ADVICE r10: the replica offsets assume the base ids fit under
    # them — colliding ids would silently corrupt every 10x measurement
    md = docs.selectExpr("max(doc_id) AS m").collect()[0]["m"]
    mv = emb0.selectExpr("max(vec_id) AS m").collect()[0]["m"]
    assert md < 1_000_000 and mv < 1_000_000, (
        f"replica offset too small for base ids: max doc_id={md},"
        f" max vec_id={mv} (offset 1_000_000)"
    )
    (
        docs.select("doc_id", "text", "lang", "source",
                    F.expr(reps).alias("rep"))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(1_000_000)).alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.expr(
                "array_join(transform(split(text, ' '),"
                " t -> concat(t, '_', rep)), ' ')"
            )).alias("text"),
            "lang", "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(32)
        .write.parquet(os.path.join(dst_dir, "documents.parquet"))
    )
    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    (
        emb.select("vec_id", "embedding", "label", F.expr(reps).alias("rep"))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(1_000_000)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN rep = 0 THEN x"
                " ELSE cast(x * (1 - 2 * pmod(hash(rep, i), 2)) as float)"
                " END)"
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.parquet(os.path.join(dst_dir, "embeddings.parquet"))
    )
    with open(done_flag, "w") as f:
        f.write("ok\n")


def _ensure_sf1_tpch(spark, src_dir: str, dst_dir: str) -> None:
    """Deterministic 10x TPC-H tier for the derived corpus (r11d — the
    relational surface q1-q21 previously had no 10x evidence): facts
    and mid-size dims replicate 10x with key offsets, nation/region
    copy verbatim (true broadcast dims). The customer offset equals
    the events user offset (1e6), so the fact-to-dim key space of the
    salted skew join stays joinable across replicas; orders reference
    the same-replica customers (o_custkey offset 1e6) and lineitem the
    same-replica orders (l_orderkey offset 1e7), so every declared
    join faces 10x rows on BOTH sides with per-replica 1:1 linkage —
    the linear-keys axis. Own flag so an already-built sf1 dir gains
    the tier without a rebuild."""
    done_flag = os.path.join(dst_dir, "_DONE_TPCH")
    if os.path.exists(done_flag):
        return
    from pyspark.sql import functions as F

    reps = "explode(sequence(0, 9))"
    specs = {
        "orders": {"o_orderkey": 10_000_000, "o_custkey": 1_000_000},
        "lineitem": {"l_orderkey": 10_000_000, "l_partkey": 1_000_000,
                     "l_suppkey": 1_000_000},
        "customer": {"c_custkey": 1_000_000},
        "supplier": {"s_suppkey": 1_000_000},
        "part": {"p_partkey": 1_000_000},
    }
    for t, offs in specs.items():
        df = spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
        # ADVICE r10: assert the base ids fit under their offsets — a
        # larger base corpus would silently collide across replicas
        mx = df.selectExpr(
            *[f"max({c}) AS {c}" for c in offs]).collect()[0]
        for c, off in offs.items():
            assert mx[c] < off, (t, c, mx[c], off)
        cols = df.columns
        out = df.select("*", F.expr(reps).alias("rep"))
        for c, off in offs.items():
            out = out.withColumn(c, F.col(c) + F.col("rep") * F.lit(off))
        (
            out.select(*cols)
            .repartition(32)
            .write.mode("overwrite")
            .parquet(os.path.join(dst_dir, f"{t}.parquet"))
        )
    for t in ("nation", "region"):
        (
            spark.read.parquet(os.path.join(src_dir, f"{t}.parquet"))
            .write.mode("overwrite")
            .parquet(os.path.join(dst_dir, f"{t}.parquet"))
        )
    with open(done_flag, "w") as f:
        f.write("ok\n")


def _ensure_sf5(spark, src_dir: str, dst_dir: str) -> None:
    """Deterministic 50x documents + events + embeddings corpus (r11e;
    embeddings added r12 per VERDICT item 4 — the third point on the
    scaling curve next to the 10x tier and the rek64 50x-vectors
    tier): fifty families with disjoint token spaces (token suffix
    _<rep>, the sf1 recipe), fifty disjoint user populations with
    identical per-user timelines, and fifty sign-flip embedding
    families (dot(s.a, s.b) = dot(a, b): within-family cosine
    structure preserved exactly, cross-family similarity destroyed
    w.h.p. — the _ensure_sf1 recipe at 50 reps). Same offset-guard
    discipline as the 10x builders."""
    done_flag = os.path.join(dst_dir, "_DONE_SF5")
    emb_flag = os.path.join(dst_dir, "_DONE_SF5_EMB")
    if os.path.exists(done_flag):
        _ensure_sf5_embeddings(spark, src_dir, dst_dir, emb_flag)
        # events gained their own flag in r14 (the kmv stream-scale
        # tier reads them): a dir whose _DONE_SF5 predates the events
        # write must still gain the table without a full rebuild
        _ensure_sf5_events(spark, src_dir, dst_dir)
        return
    os.makedirs(dst_dir, exist_ok=True)
    from pyspark.sql import functions as F

    docs = spark.read.parquet(os.path.join(src_dir, "documents.parquet"))
    md = docs.selectExpr("max(doc_id) AS m").collect()[0]["m"]
    assert md < 1_000_000, md
    reps = "explode(sequence(0, 49))"
    (
        docs.select("doc_id", "text", "lang", "source",
                    F.expr(reps).alias("rep"))
        .select(
            (F.col("doc_id") + F.col("rep") * F.lit(1_000_000))
            .alias("doc_id"),
            F.when(F.col("rep") == 0, F.col("text"))
            .otherwise(F.expr(
                "array_join(transform(split(text, ' '),"
                " t -> concat(t, '_', rep)), ' ')"
            )).alias("text"),
            "lang", "source",
        )
        .withColumn("n_chars", F.length("text").cast("long"))
        .repartition(64)
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "documents.parquet"))
    )
    ev = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
    mx = ev.selectExpr(
        "max(event_id) AS me", "max(user_id) AS mu").collect()[0]
    assert mx["me"] < 10_000_000 and mx["mu"] < 1_000_000, mx
    (
        ev.select("event_id", "ts", "user_id", "event_type", "value",
                  "props", F.expr(reps).alias("rep"))
        .select(
            (F.col("event_id") + F.col("rep") * F.lit(10_000_000))
            .alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * F.lit(1_000_000))
            .alias("user_id"),
            "event_type", "value", "props",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "events.parquet"))
    )
    with open(os.path.join(dst_dir, "_DONE_SF5_EVENTS"), "w") as f:
        f.write("ok\n")
    with open(done_flag, "w") as f:
        f.write("ok\n")
    _ensure_sf5_embeddings(spark, src_dir, dst_dir, emb_flag)


def _ensure_sf5_events(spark, src_dir: str, dst_dir: str) -> None:
    """50x events for a dir built before events joined _ensure_sf5's
    fresh path (the _ensure_sf1_events retrofit pattern): fifty
    disjoint user populations with identical per-user timelines —
    user-keyed operators face 50x independent keys, while the
    event_type segment axis (what the KMV stream tier keys state on)
    stays at the base cardinality."""
    done_flag = os.path.join(dst_dir, "_DONE_SF5_EVENTS")
    if os.path.exists(done_flag):
        return
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
    mx = ev.selectExpr(
        "max(event_id) AS me", "max(user_id) AS mu").collect()[0]
    assert mx["me"] < 10_000_000 and mx["mu"] < 1_000_000, mx
    (
        ev.select("event_id", "ts", "user_id", "event_type", "value",
                  "props", F.expr("explode(sequence(0, 49))").alias("rep"))
        .select(
            (F.col("event_id") + F.col("rep") * F.lit(10_000_000))
            .alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * F.lit(1_000_000))
            .alias("user_id"),
            "event_type", "value", "props",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "events.parquet"))
    )
    with open(done_flag, "w") as f:
        f.write("ok\n")


def _ensure_sf5_embeddings(spark, src_dir: str, dst_dir: str,
                           emb_flag: str) -> None:
    """50x embeddings for the ANN-serving 50x point (r12): own flag so
    an already-built r11 sf5 dir gains the table without a rebuild."""
    if os.path.exists(emb_flag):
        return
    from pyspark.sql import functions as F

    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    mv = emb.selectExpr("max(vec_id) AS m").collect()[0]["m"]
    assert mv < 1_000_000, mv
    reps = "explode(sequence(0, 49))"
    (
        emb.select("vec_id", "embedding", "label", F.expr(reps).alias("rep"))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(1_000_000))
            .alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN rep = 0 THEN x"
                " ELSE cast(x * (1 - 2 * pmod(hash(rep, i), 2)) as float)"
                " END)"
            ).alias("embedding"),
            "label",
        )
        .repartition(64)
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "embeddings.parquet"))
    )
    with open(emb_flag, "w") as f:
        f.write("ok\n")


# the 50x flagship set: the highest-volume document surface (prefix
# pairs, MinHash bands, the stride-1 window probe), the token-stream
# LM pass, both event-analytics axes (10x/50x users for sessionize;
# fixed series x 50x depth for counter_rate), and — r12, VERDICT item
# 4 — a served index rung (ann_sq8_ivf_rek_topk: sqrt(N)-scheduled k,
# cell-pruned SQ8 scoring) and the iterative dedup graph
# (dedup_clusters: banded-LSH pair graph + min-label propagation), so
# the three-point curve covers serving and graph shapes, not only
# scans/windows
_SF5_QUERIES = (
    "dedup_prefix_filter",
    "dedup_minhash_pairs",
    "window_decontaminate",
    "unigram_surprisal",
    "sessionize",
    "counter_rate",
    "ann_sq8_ivf_rek_topk",
    "dedup_clusters",
    # r13: the winnowing rung — df-capped fingerprint equi-join; the
    # cap BITES harder as the corpus grows (replicated boilerplate
    # fingerprints cross df=64 and drop), so the curve shows the
    # designed stop-fingerprint behavior, not just join scaling
    "dedup_winnow_pairs",
)
# r13 measured (committed snapshot): 50x/10x wall ratios 1.05-4.1 on
# all nine ops against the linear-trend mark of ~5 — sub-linear
# throughout: the served index rung ann_sq8_ivf_rek_topk at 1.95 (the
# sqrt(N) re-k schedule holding at 100k vectors), the iterative dedup
# graph dedup_clusters at 1.05 (pair-graph-sized label propagation),
# and the new winnowing rung at 3.04 (the stop-fingerprint df cap
# engaging as replicated boilerplate crosses the threshold).


def _sf5_section(spark, base_sf_dir: str) -> dict:
    """Three-point scaling curve (1x / 10x / 50x) for the flagship
    document/event operators — the extrapolation evidence a single
    10x ratio can't give: if wall grows ~linearly from 10x to 50x the
    sub-quadratic claim holds on the measured trend, not an assumed
    one. Embeddings get their 50x point from the rek64 section's
    100k-vector tier. Gated by SPARK_GRAFT_SF5_BENCH (default off —
    builder-measured into the committed snapshot; per-round driver
    runs keep the 10x sweep only)."""
    from catalyst_spark.queries import ALL_QUERIES
    from catalyst_spark.queries.pipeline import reset_session_caches

    sf1_dir = str(REPO / "benchdata" / "sf1")
    sf5_dir = str(REPO / "benchdata" / "sf5")
    _ensure_sf1(spark, base_sf_dir, sf1_dir)
    _ensure_sf1_events(spark, base_sf_dir, sf1_dir)
    _ensure_sf5(spark, base_sf_dir, sf5_dir)

    trials = int(os.environ.get("SPARK_GRAFT_SF5_TRIALS", "2"))
    out: dict = {}
    for tag, d in (("sf0.1", base_sf_dir), ("sf1", sf1_dir),
                   ("sf5", sf5_dir)):
        samples: dict[str, list[float]] = {n: [] for n in _SF5_QUERIES}
        for _ in range(trials):
            reset_session_caches(spark)
            for name in _SF5_QUERIES:
                t0 = time.perf_counter()
                ALL_QUERIES[name](spark, d).write.format(
                    "noop").mode("overwrite").save()
                samples[name].append(time.perf_counter() - t0)
        out[tag] = {n: round(min(ts), 3) for n, ts in samples.items()}
    out["ratio_10x"] = {
        n: round(out["sf1"][n] / out["sf0.1"][n], 2)
        for n in _SF5_QUERIES if out["sf0.1"][n] > 0
    }
    out["ratio_50x"] = {
        n: round(out["sf5"][n] / out["sf0.1"][n], 2)
        for n in _SF5_QUERIES if out["sf0.1"][n] > 0
    }
    out["ratio_50x_over_10x"] = {
        n: round(out["sf5"][n] / out["sf1"][n], 2)
        for n in _SF5_QUERIES if out["sf1"][n] > 0
    }
    out["note"] = (
        "Linear wall would put ratio_50x_over_10x at ~5; parallel "
        "headroom and fixed overhead put it below that on flat "
        "shapes. A value well ABOVE 5 would flag superlinearity the "
        "10x point alone cannot see."
    )
    return out


def _stream_scale_section(spark, base_sf_dir: str) -> dict:
    """Ingest-side scale evidence the batch curve can't give (VERDICT
    r12 item 8): replay ONE FIXED probe shard (the base tier's
    doc_id % 7 == 0 documents, identical bytes at every tier) through
    stream_shard_dedup_classify against corpus indexes built at 1x /
    10x / 50x, and record per-tier throughput plus the state-store
    rows/bytes from the query's own progress metrics. The claim under
    test: the stream-static band join's PER-BATCH cost and the keyed
    state are corpus-growth-FLAT — state rows equal the probe count
    (per ARRIVING doc, never per corpus doc) at every tier, and wall
    moves only with the colliding-candidate mass, not the corpus.
    Indexes are persisted+materialized OUTSIDE the clock (production
    serves yesterday's index from disk; building it is the batch
    job's cost, measured in the sf5 section). Gated by
    SPARK_GRAFT_STREAM_SCALE_BENCH (default: follows
    SPARK_GRAFT_SF5_BENCH — builder-measured into the committed
    snapshot; per-round driver runs carry it forward)."""
    import json as _json
    import shutil
    import tempfile

    from catalyst_spark.streaming.minhash import (
        shard_dedup_static_index,
        stream_shard_dedup_classify,
    )
    from catalyst_spark.queries.pipeline import reset_session_caches
    from catalyst_spark.tables import load as _load

    sf1_dir = str(REPO / "benchdata" / "sf1")
    sf5_dir = str(REPO / "benchdata" / "sf5")
    _ensure_sf1(spark, base_sf_dir, sf1_dir)
    _ensure_sf5(spark, base_sf_dir, sf5_dir)

    probe = (_load(spark, base_sf_dir, "documents")
             .where("doc_id % 7 = 0")
             .select("doc_id", "source", "text").collect())
    n_probe = len(probe)
    n_batches = 4
    probe_dir = tempfile.mkdtemp(prefix="stream_scale_probe_")
    step = max(1, (n_probe + n_batches - 1) // n_batches)
    for i in range(n_batches):
        chunk = probe[i * step:(i + 1) * step]
        with open(os.path.join(probe_dir, f"b{i}.json"), "w") as f:
            f.write("\n".join(_json.dumps(
                {"doc_id": r["doc_id"], "source": r["source"],
                 "text": r["text"]}) for r in chunk))

    trials = int(os.environ.get("SPARK_GRAFT_STREAM_SCALE_TRIALS", "2"))
    out: dict = {"probe_docs": n_probe, "micro_batches": n_batches}
    try:
        for tag, d in (("sf0.1", base_sf_dir), ("sf1", sf1_dir),
                       ("sf5", sf5_dir)):
            reset_session_caches(spark)
            fp_index, band_index, hset_index = shard_dedup_static_index(
                spark, d)
            fp_index = fp_index.persist()
            band_index = band_index.persist()
            hset_index = hset_index.persist()
            sizes = {"fp_rows": fp_index.count(),
                     "band_rows": band_index.count(),
                     "hset_rows": hset_index.count()}
            walls, state_rows, state_bytes = [], 0, 0
            # ADVICE r13: stop the query and unpersist the tier's
            # indexes even when processAllAvailable or progress parsing
            # throws — a leaked running query would poison every
            # subsequent tier's wall clock in this process
            try:
                for t in range(trials):
                    stream = (spark.readStream
                              .schema(
                                  "doc_id long, source string, text string")
                              .option("maxFilesPerTrigger", 1)
                              .json(probe_dir))
                    qname = f"stream_scale_{tag.replace('.', '_')}_{t}"
                    t0 = time.perf_counter()
                    q = (stream_shard_dedup_classify(
                            stream, fp_index, band_index, hset_index)
                         .writeStream.outputMode("update").format("memory")
                         .queryName(qname).start())
                    try:
                        q.processAllAvailable()
                        walls.append(time.perf_counter() - t0)
                        for prog in q.recentProgress:
                            for so in prog.get("stateOperators", []):
                                state_rows = max(state_rows,
                                                 so.get("numRowsTotal", 0))
                                state_bytes = max(
                                    state_bytes,
                                    so.get("memoryUsedBytes", 0))
                    finally:
                        q.stop()
                    spark.catalog.dropTempView(qname)
            finally:
                for df in (fp_index, band_index, hset_index):
                    df.unpersist()
            wall = min(walls)
            out[tag] = dict(
                sizes,
                wall_sec=round(wall, 3),
                docs_per_sec=round(n_probe / wall, 1),
                state_rows=state_rows,
                state_bytes=state_bytes,
            )
    finally:
        shutil.rmtree(probe_dir, ignore_errors=True)
    out["wall_50x_over_1x"] = round(
        out["sf5"]["wall_sec"] / out["sf0.1"]["wall_sec"], 2)
    out["note"] = (
        "Fixed probe stream vs growing static corpus: state_rows/"
        "state_bytes must be tier-invariant (keyed per arriving doc); "
        "wall_50x_over_1x near 1 means the band-bucket equi-join's "
        "per-batch cost is corpus-growth-flat, while a ratio tracking "
        "the corpus (~50) would flag a shard-x-corpus scan."
    )
    return out


def _stream_scale_kmv_section(spark, base_sf_dir: str) -> dict:
    """Second ingest-side scale family (r14, VERDICT r13 item 7): the
    r13 tier proved the stream-vs-static-index JOIN flat on a twin
    whose state is boolean-sized; this one scales the axis the OTHER
    way — 1x/10x/50x INPUT VOLUMES replayed through stream_kmv_sketch,
    a twin whose keyed STATE is the product. The claim under test:
    state stays k*segments BIGINTs (k=64, 5 event types -> 320 longs)
    at EVERY tier — the sketch compresses unbounded arriving rows into
    bounded state via sorted-union-truncate — so state_bytes must be
    tier-invariant while wall may track input volume (per-row cost).
    Input: the event_id % 10 == 0 sample of each tier's events table
    (the replica offsets are multiples of 10, so every replica
    contributes uniformly and the samples are exactly 1x/10x/50x).
    Same gate as _stream_scale_section."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    from catalyst_spark.streaming.stateful import stream_kmv_sketch

    sf1_dir = str(REPO / "benchdata" / "sf1")
    sf5_dir = str(REPO / "benchdata" / "sf5")
    _ensure_sf1_events(spark, base_sf_dir, sf1_dir)
    _ensure_sf5(spark, base_sf_dir, sf5_dir)

    trials = int(os.environ.get("SPARK_GRAFT_STREAM_SCALE_TRIALS", "2"))
    n_batches = 4
    out: dict = {"micro_batches": n_batches, "sample_mod": 10}
    for tag, d in (("sf0.1", base_sf_dir), ("sf1", sf1_dir),
                   ("sf5", sf5_dir)):
        probe_dir = tempfile.mkdtemp(prefix=f"kmv_scale_{tag}_")
        try:
            src = (spark.read
                   .parquet(os.path.join(d, "events.parquet"))
                   .where("event_id % 10 = 0")
                   .select("event_type", "user_id"))
            n_rows = src.count()
            # n_batches json files = n_batches micro-batches; the
            # writer is outside the clock (ingest transport, not the
            # operator under test)
            (src.withColumn(
                    "b", F.pmod(F.crc32(F.col("user_id").cast("string")),
                                F.lit(n_batches)))
                .repartition(n_batches, "b").drop("b")
                .write.mode("overwrite").json(probe_dir))
            walls, state_rows, state_bytes = [], 0, 0
            for t in range(trials):
                stream = (spark.readStream
                          .schema("event_type string, user_id long")
                          .option("maxFilesPerTrigger", 1)
                          .json(probe_dir))
                qname = f"kmv_scale_{tag.replace('.', '_')}_{t}"
                t0 = time.perf_counter()
                q = (stream_kmv_sketch(stream)
                     .writeStream.outputMode("update").format("memory")
                     .queryName(qname).start())
                try:
                    q.processAllAvailable()
                    walls.append(time.perf_counter() - t0)
                    for prog in q.recentProgress:
                        for so in prog.get("stateOperators", []):
                            state_rows = max(state_rows,
                                             so.get("numRowsTotal", 0))
                            state_bytes = max(
                                state_bytes,
                                so.get("memoryUsedBytes", 0))
                finally:
                    q.stop()
                spark.catalog.dropTempView(qname)
            wall = min(walls)
            out[tag] = {
                "input_rows": n_rows,
                "wall_sec": round(wall, 3),
                "rows_per_sec": round(n_rows / wall, 1),
                "state_rows": state_rows,
                "state_bytes": state_bytes,
            }
        finally:
            shutil.rmtree(probe_dir, ignore_errors=True)
    out["wall_50x_over_1x"] = round(
        out["sf5"]["wall_sec"] / out["sf0.1"]["wall_sec"], 2)
    out["state_bytes_50x_over_1x"] = round(
        out["sf5"]["state_bytes"]
        / max(1, out["sf0.1"]["state_bytes"]), 2)
    out["note"] = (
        "Growing input vs bounded sketch state: input_rows scale "
        "1x/10x/50x, state_rows must stay = segment count and "
        "state_bytes_50x_over_1x near 1 (k-min arrays truncate to k "
        "regardless of volume); wall may track input (per-row cost), "
        "never state — a state_bytes ratio tracking input would flag "
        "an unbounded accumulator masquerading as a sketch."
    )
    return out


def _ensure_sf1_events(spark, src_dir: str, dst_dir: str) -> None:
    """Deterministic 10x EVENTS table for the derived corpus (r10 —
    the TSDB/event-analytics family previously had no 10x evidence):
    ten replicas with disjoint user populations (user_id + rep * 1e6,
    event_id + rep * 1e7) and identical per-user timelines, so
    user-keyed operators (sessionize, funnels, retention, coverage)
    face 10x independent keys with unchanged per-key volume — the
    linear shape — while series-keyed operators (counter_rate keys on
    event_type) face the OTHER axis: fixed key cardinality with 10x
    rows per key, the longer-retention analog. Own flag so an
    already-built sf1 dir gains events without a rebuild."""
    done_flag = os.path.join(dst_dir, "_DONE_EVENTS")
    if os.path.exists(done_flag):
        return
    from pyspark.sql import functions as F

    ev = spark.read.parquet(os.path.join(src_dir, "events.parquet"))
    # ADVICE r10: the replica offsets assume the base ids fit under
    # them — a larger base corpus would silently produce colliding ids
    # across replicas and corrupt every 10x measurement
    mx = ev.selectExpr(
        "max(event_id) AS me", "max(user_id) AS mu"
    ).collect()[0]
    assert mx["me"] < 10_000_000 and mx["mu"] < 1_000_000, (
        f"replica offsets too small for base ids: max event_id={mx['me']}"
        f" (offset 10_000_000), max user_id={mx['mu']} (offset 1_000_000)"
    )
    reps = "explode(sequence(0, 9))"
    (
        ev.select("event_id", "ts", "user_id", "event_type", "value",
                  "props", F.expr(reps).alias("rep"))
        .select(
            (F.col("event_id") + F.col("rep") * F.lit(10_000_000))
            .alias("event_id"),
            "ts",
            (F.col("user_id") + F.col("rep") * F.lit(1_000_000))
            .alias("user_id"),
            "event_type", "value", "props",
        )
        .repartition(32)
        .write.mode("overwrite")
        .parquet(os.path.join(dst_dir, "events.parquet"))
    )
    with open(done_flag, "w") as f:
        f.write("ok\n")


_SCALE_QUERIES = (
    "dedup_prefix_filter",
    "dedup_minhash_pairs",
    "dedup_embedding_lsh",
    "semdedup_ivf",
    "dedup_clusters",
    # VERDICT r4 item 7: the substring/window family is the highest
    # row-volume surface in the repo (stride-1 8-token windows ≈ one
    # row per token) — measure it at 10x too, with the window-table
    # cardinality alongside the time ratios
    "window_decontaminate",
    "window_selfdup_spans",
    "window_overlap_source_matrix",
    # the production ANN rung at 10x vectors: cell pruning must keep the
    # ADC scan per query proportional to cell size, not corpus size
    "ann_ivfpq_topk",
    # residual encoding adds a broadcast-centroid zip_with per scan and
    # per-(query, cell) LUTs — same cell-pruned shape, measured at 10x
    "ann_ivfpq_residual_topk",
    # the LM-scoring family shuffles one (token, count) stream — the
    # text-volume surface after windows; measured at 10x
    "unigram_surprisal",
    # r6 rungs at 10x (VERDICT r6 item 4): the SQ8 pair is the measured
    # full-scan-vs-cell-pruned ablation — ann_sq8_topk scans Q x N code
    # pairs BY DESIGN (the exact-integer baseline, expected ~100x at
    # 10x rows x 10x queries), while ann_sq8_ivf_topk bounds each query
    # to its 2 probed cells (the scale path, expected ~10x)
    "ann_sq8_topk",
    "ann_sq8_ivf_topk",
    # bigram explode is the largest token-stream fan-out (one row per
    # consecutive pair); vocabulary²-bounded aggregates keep it linear
    "bigram_surprisal",
    # semantic-dedup materialization: cell-bounded pair set + CC labels
    "semdedup_keep_one",
    # r7 rungs at 10x: the rerank stage must stay bounded at queries x R
    # raw-vector fetches however large the corpus
    "ann_ivfpq_rerank_topk",
    # per-pair O(len^2) Levenshtein is safe only because the candidate
    # set is blocked — measured to prove the pair count, not doc count,
    # drives it
    "dedup_edit_distance",
    # the substring-cut materialization reassembles every doc's text —
    # the heaviest per-row payload in the window family
    "window_selfdup_cut",
    # r7b: shard-vs-corpus band join (the incremental flow) and the
    # two-arm fusion (vector arm is Q x N by design — the exact
    # baseline; the lexical arm is shingle-blocked)
    "incremental_shard_dedup",
    "rank_fusion_topk",
    # the re-k report at 10x: two quantizer fits + assignments; the
    # interesting number is the k=16 scan-mass drop at the larger corpus
    "ivf_rek_cell_stats",
    # r8: the re-k'd SERVING rung (VERDICT r7 item 2) — _serving_k
    # trains k=16 at sf0.1 and k=32 at the 10x corpus through the model
    # store, so this row IS the measured ratio-collapse evidence next
    # to ann_sq8_ivf_topk's fixed-k 6.9x
    "ann_sq8_ivf_rek_topk",
    # r8: index-served fusion vs the exact-arm row above it — the
    # vector arm's O(Q*N) term replaced by the cell-pruned rerank path
    "rank_fusion_indexed",
    # r8: 10x rows for the previously-unscaled r7b ops (VERDICT r7
    # item 4) — BPE pair counting and the coverage curve are
    # vocabulary-shaped (Heaps-sublinear aggregates over corpus-sized
    # token streams), the audit is pair-set + projection joins, and
    # the pHash family is the banded multimodal join
    "bpe_merge_stats",
    "token_coverage_curve",
    "dup_quality_audit",
    "phash_dup_pairs",
    "phash_dup_clusters",
    # r12: the audio member of the near-dup family (same banded join)
    # and the video member (frame-hash equi-join + exact Jaccard)
    "audio_fp_dup_pairs",
    "video_frame_dup_pairs",
    # r8: the incremental apply adds CC labeling on top of the shard
    # audit's band joins — measured so the merge step's cost is pinned
    "incremental_shard_apply",
    # r8b: PII scrub is a pure scan-side regex pass (the linearity row
    # should be ~10x flat); the boilerplate cut shuffles the chunk
    # table twice on 8-byte hashes then reassembles per doc (the same
    # text-volume surface as window_selfdup_cut); the funnel chains the
    # shared pair/contamination builds with doc_id anti-joins
    "pii_extract_stats",
    "boilerplate_line_cut",
    "curation_funnel",
    # r8b: keep-first cut reassembles per-doc text like window_selfdup_cut
    # plus a min-over-occurrences shuffle to pick the retained copy; the
    # packing curve re-aggregates pack_sequences over a small ladder of
    # context lengths (ladder-sized fan-out of one doc-length aggregate);
    # the n-gram-size curve re-runs the decontamination join per n in a
    # fixed ladder — each term is a window equi-join, never all-pairs
    "window_selfdup_cut_first",
    "packing_efficiency_curve",
    "contamination_ngram_sizes",
    # r8c: the rule matrix is a pure scan + 20-row reduce (the flattest
    # possible curve — any superlinearity here is a plan bug); the
    # dup-n-gram tables are window-family-sized with a gram-count
    # argmax window; temperature mixing is one aggregate + S-row math
    "gopher_quality_rules",
    "dup_ngram_coverage",
    "temperature_resample",
    # r8c: the x64 per-dim explode is the op's whole cost — sums are
    # partial-aggregated map-side to 640 (label, dim) rows, and the
    # pairwise stage joins only that model-sized aggregate
    "label_centroid_similarity",
    # r9: fertility / manifest / chunk-audit are scan + 20-row reduces
    # (expected ~10x flat); dim-variance is the x64 explode; DSIR is
    # one token pass against two broadcast 4096-row LUTs; the
    # hard-negative band is O(Q*N) BY DESIGN (the exact ablation
    # partner, expected ~100x — the serving path rides the rerank
    # shortlist); the nprobe sweep's scan mass is reported separately
    # in rek_scan_mass and grows ~linearly in nprobe
    "tokenizer_fertility",
    "shard_manifest",
    "embedding_dim_variance",
    "chunk_overlap_split",
    "dsir_importance_weights",
    "hard_negative_mining",
    "ann_nprobe_sweep",
    # r9b: CDC shuffles the token stream once (window + two hash
    # aggregates — the chunk_dedup surface plus the cid window); the
    # power iteration is _POW_ITERS corpus passes with 64-row traffic;
    # MMR is bounded at queries x R^2 once the shared rerank build
    # exists. (The old ltob exclusion is obsolete: _ensure_sf1_events
    # derives the 10x events table since r10b — ltob joins the r11
    # event block below.)
    "cdc_chunk_dedup",
    "embedding_principal_direction",
    "mmr_diversified_topk",
    # r10: the SERVED hard-negative rung (VERDICT r9 item 2's "done"
    # includes its ~1x ratio measured next to the exact form's ~100x —
    # it reads the bounded rerank shortlist, so 10x corpus means ~10x
    # only through the probe-set size, i.e. ~index-bounded flat);
    # perplexity bucketing adds one doc-sized source window on top of
    # the unigram-surprisal pass (expected ~ unigram_surprisal's ratio)
    "hard_negative_indexed",
    "perplexity_buckets",
    # r10b: the event-analytics family's first 10x rows (derived
    # events table, _ensure_sf1_events). The user-keyed four scale on
    # key cardinality (10x users, same per-user volume — expect ~10x
    # flat); counter_rate keys on event_type, so it scales on the
    # OTHER axis (fixed keys, 10x rows/key — the longer-retention
    # shape; per-series window sort is the n log n cost)
    "sessionize",
    "funnel_conversion",
    "retention_cohorts",
    "interval_coverage",
    "counter_rate",
    # r11 (VERDICT r10 item 4): the recall ladder is 8 rungs sharing
    # the session-cached brute baseline / models / top-k tables — its
    # 10x cost is those builds' 10x (each rung's join is probe-set x
    # k-sized); the triplet export and the merged overlap sweep both
    # ride the bounded rerank shortlist (index-bounded like
    # hard_negative_indexed's 1.05) except serving_overlap's fusion
    # family, which grades the exact fusion arm (O(Q*N) BY DESIGN —
    # the ablation partner, expected ~100x-shaped like
    # hard_negative_mining / rank_fusion_topk above)
    "ann_recall_ladder",
    "contrastive_triplets",
    "serving_overlap",
    # r11b: the winsorization audit's cost is the x64 explode plus ONE
    # (dim, q) sort-shuffle — n log n per dim at 10x rows (the exact-
    # percentile shape; production swaps in percentile_approx)
    "embedding_quantile_clip",
    # r11c: the rounding-audit conversions measured at 10x — the
    # exact-integer-moment plans must keep the family's linear shapes.
    # anomaly_zscore / time_weighted_avg / ts_rate are one groupBy-or-
    # window on the series key; series_correlation is two aggregates
    # (hourly buckets, then pairs); value_percentiles and
    # histogram_quantile are the sort-vs-bucket percentile pair (the
    # sort pays n log n per key, the bucketed estimator stays one
    # aggregate — the documented 100 TB trade measured side by side);
    # ewma is a row-bounded window pass with in-row integer math.
    # ltob rides the FIXED-cardinality axis twice over (5 event types,
    # unchanged bucket grid, so 10x rows land in the same
    # series x bucket windows): the per-window rank sort pays n log n
    # on 10x-deep windows with parallelism capped at series x buckets
    # — the measured ~5x. At 100 TB the series cardinality is the
    # parallelism (millions of real series, not 5), and a
    # longer-retention series re-keys the window by (series, day)
    "anomaly_zscore",
    "series_correlation",
    "value_percentiles",
    "histogram_quantile",
    "ts_rate",
    "time_weighted_avg",
    "ltob_downsample",
    "ewma_smooth",
    # r11b: the cluster-balanced sampler joins the cached assignment
    # to model-sized broadcast tables and ranks within k cells — its
    # 10x cost is the assignment scan's (expected ~linear; the window
    # parallelism is k here, the two-phase top-k rewrite at scale);
    # the dim-truncation sweep is 4 brute slice-scans over the probe
    # set BY DESIGN (the exact ablation class — Q x N like
    # hard_negative_mining, expected ~100x-shaped; production serves
    # truncated dims through the IVF path, this row prices the
    # truncation itself)
    "cluster_balanced_sample",
    "dim_truncation_recall",
    # r11c (VERDICT r10 trajectory: keep growing the measured-at-10x
    # set): the dedup family's remaining granularities — exact is ONE
    # hash groupBy (the flattest dedup shape), simhash is the 4x15-bit
    # banded join, ngram-jaccard is prefix-blocked, keep_one adds the
    # CC labels + anti-join on top of the shared pair set, and the
    # converged pagerank iterates over the pair-sized edge graph
    # (per-iteration overhead x fixed iterations, volume in the edges)
    "dedup_exact",
    "dedup_simhash_pairs",
    "dedup_ngram_jaccard",
    # r13: winnowing rides the df-capped fingerprint equi-join — the
    # same sub-quadratic shape as the band joins; its per-doc stage is
    # O(n*w) array folds inside one projection
    "dedup_winnow_pairs",
    "dedup_keep_one",
    "near_dup_pagerank_converged",
    # text-analysis tail: repetition pays two token-stream shuffles,
    # novelty is a first-seen window over shingle hashes, hapax ratio
    # joins the corpus type table back to docs, top_ngrams is the
    # bigram fan-out + TakeOrdered
    "repetition_ratio",
    "ngram_novelty",
    "rare_token_ratio",
    "top_ngrams",
    # sampling / curation tail: the domain cap is one source-keyed
    # window (the hot-domain skew shape the docstring's two-phase
    # rewrite addresses), stratified sampling is a deterministic
    # hash filter (expected ~flat), bloom is the constant-memory
    # probe (32 KB literal however big the corpus), chunk_dedup is
    # the non-overlapping-chunk hash aggregate
    "domain_cap_sample",
    "stratified_sample",
    "bloom_decontaminate",
    "chunk_dedup",
    # TSDB tail at 10x events: as-of joins shuffle both sides on the
    # series key (backward-nearest via one window), the bucketized
    # range join must stay an equi-join on bucket ids (never a nested
    # loop), gap_fill generates the per-series grid (output-sized),
    # the 7d RANGE frame sorts per user, robust outliers pay the
    # median/MAD exact-rank sorts per series
    "asof_nearest_join",
    "range_join_events",
    "gap_fill",
    "rolling_window_7d",
    "robust_outliers",
    # event-analytics tail: transitions and co-occurrence are
    # user/session-keyed (the 10x-users axis, same per-key volume);
    # the growth curve is one first-seen aggregate + running total
    "path_transitions",
    "session_cooccurrence",
    "user_growth_curve",
    # ANN tail: the PQ-ADC scan is Q x N over 4-byte codes BY DESIGN
    # (the compressed full-scan rung — its cell-pruned fix is the
    # IVFPQ row above), ivf_train is _KMEANS_ITERS corpus passes with
    # model-sized traffic, norm outliers is one fixed-point aggregate
    # + broadcast-back compare
    "ann_pq_adc_topk",
    "ivf_train",
    "embedding_norm_outliers",
    # r11c: the drift scalar is one token pass + vocabulary-sized
    # joins (the unigram_surprisal shape — Heaps-sublinear aggregates
    # over a corpus-sized explode); measured 1.42 at 10x
    "source_token_tvd",
)
# r11c measured notes (local min-of-3, full sweep green at sf1): the
# 27 newly covered ops land 1.03-3.2x except dim_truncation_recall
# (4.79 — the Q x N exact-scan class BY DESIGN, next to
# hard_negative_mining's 3.98 and ann_sq8_topk's 3.15; its production
# path is the IVF tier, this row prices the truncation itself).
# Above 2x with causes: gap_fill 3.16 and anomaly_zscore 3.19 ride the
# events table's FIXED-cardinality series axis (5 event types, so 10x
# rows mean 10x-deeper per-series windows/grids with parallelism
# capped at the series count — the ltob_downsample explanation; real
# retention keys the window by (series, day) and real corpora have
# millions of series), session_cooccurrence 2.59 / repetition_ratio
# 2.59 / range_join_events 2.53 / user_growth_curve 2.49 /
# stratified_sample 2.38 sit on 0.2-1.0 s base slots where fixed
# overhead is half the measurement — their work terms (per-session
# pair fan-out, two token-stream shuffles, bucketized equi-join, one
# first-seen aggregate, a hash filter) are all linear-by-plan.
# cluster_balanced_sample measures 1.36 (assignment-scan bound, as
# predicted above).
_SCALE_QUERIES = _SCALE_QUERIES + (
    # r11d: COMPLETE the sweep — every registry key now has a measured
    # 10x row. The relational tier q1-q21 runs against the
    # _ensure_sf1_tpch replicas (10x facts with per-replica 1:1 FK
    # linkage, verbatim nation/region broadcast dims — joins face 10x
    # on both sides, dims stay broadcast-sized); the q-family is
    # deliberately the flattest shapes in the suite (scan + aggregate /
    # broadcast join / window), so any superlinear ratio here is a
    # plan bug, not a volume effect.
    "q1_filter_project_sort", "q2_time_bucket", "q3_hash_aggregate",
    "q4_distinct_aggregate", "q5_latest_per_series", "q6_tpch_q1",
    "q7_broadcast_join", "q8_multi_join", "q9_semi_join",
    "q10_anti_join", "q11_top_k", "q12_set_op", "q13_string_functions",
    "q14_case_cascade", "q15_union_dedup", "q16_text_group",
    "q17_exact_dedup_counts", "q18_running_total", "q19_above_brand_avg",
    "q20_customer_deciles", "q21_salted_skew_join",
    # TSDB tail: the smoothers/changepoints are per-series in-row
    # integer folds (fixed series cardinality — the longer-retention
    # axis like ltob/counter_rate), the downsamples and profiles are
    # bucket-keyed aggregates, lag/rolling pay per-key window sorts,
    # the sketches are fixed-size state however large the input
    "cusum_changepoints", "holt_linear_smooth", "ohlc_downsample",
    "ts_downsample", "seasonal_hourly_profile", "lag_features",
    "burn_rate_windows", "value_histogram", "equi_depth_bins",
    # hll_distinct_sketch absorbed into distinct_sketch (r12 merge)
    "distinct_sketch", "percentile_sketch",
    # r13: the sketch-algebra pair table — the sketch side collapses
    # to 5 k-arrays before the 10-row pairwise stage; the exact
    # calibration side is one hash-equi self-join grouped per pair
    # (measured 1.38 at 10x, min-of-3; dedup_winnow_pairs measured
    # 1.41 the same way)
    "kmv_set_ops",
    "asof_prior_click", "incremental_rollup_merge", "json_props_stats",
    "pivot_event_counts", "cube_event_counts", "top3_per_group",
    # documents/text tail: scans + vocabulary-sized aggregates
    # (Heaps-sublinear), plus the remaining dedup materializations
    # over the shared pair/label builds
    "text_stats", "token_counts", "lang_id_confusion", "vocab_stats",
    "heavy_hitters", "distinctive_terms", "truncation_stats",
    "quality_filter", "quality_survival_curve", "mixture_weights",
    "doc_fingerprint", "train_val_test_split", "rollup_doc_counts",
    "approx_topk_tokens", "boilerplate_spans", "contamination_overlap",
    "doc_length_quartiles_by_source", "text_simhash",
    "dedup_token_set", "dedup_keep_best", "dedup_rate_by_source",
    "dedup_cluster_size_hist", "dedup_threshold_sensitivity",
    "dedup_embedding_cosine", "minhash_jaccard_estimate",
    "source_minhash_similarity", "near_dup_pagerank",
    "near_dup_source_matrix", "lsh_band_recall_curve",
    "lsh_bucket_size_hist", "pack_sequences",
    # ANN tail: brute/IVF ride the session-cached builds (their 10x
    # cost is the builds'), cell stats and distortion are model-sized
    # reports over the persisted assignment/codes. (ann_multiprobe_
    # recall was absorbed into ann_nprobe_sweep's probe_exact section
    # in r12 — its scale cost now rides that row above.)
    "ann_brute_topk", "ann_ivf_topk", "ann_ivf_trained_topk",
    "ivf_cell_stats", "pq_distortion",
    # the truncated-dim serving rung: stage-1 scans only the probed
    # cells' 16-dim slices, stage-2 is Q x R point lookups — the
    # ivfpq_rerank shape with the ADC stage swapped for the MRL slice
    "ann_mrl_rerank_topk",
    # r14: the compaction cost table — one band join + verify pass
    # over the union (the dedup family's standard blocked joins),
    # then K+1 CC runs over growing edge sets; its 10x cost is the
    # signature build's plus edge-set-sized label propagation
    "shard_apply_compaction",
)
# r11d measured notes (local min-of-3, all 171 queries then registered
# green at sf1 — ann_mrl_rerank_topk joined the tuple later in r11e,
# ann_multiprobe_recall left it in the r12 merge, and the audio/video
# near-dup rungs joined in r12, so the tuple tracks the live
# DURABLE registry, currently 175 after the r14 edv_diag_* deletion
# (the bisection keys were always excluded here — they re-ran
# embedding_dim_variance's exact plan) and the r14
# shard_apply_compaction addition; section
# wall ~38 min incl. the one-time TPC-H build): worst ratio 5.9
# (ann_sq8_ivf_topk) and every ratio > 2 falls in one of three known
# classes — (1) by-design exact-scan ablation rungs (dim_truncation
# 4.9, hard_negative_mining 3.7, sq8 3.6, multiprobe/trained-IVF
# recall rows riding Q x N arms), (2) fixed-series-cardinality event
# windows (ltob 5.0, gap_fill 3.0 — 10x-deep windows, parallelism
# capped at 5 event types; real corpora key by (series, day)), and
# (3) overhead-dominated sub-second slots where fixed cost is half
# the measurement (the whole q-family: worst q4_distinct_aggregate
# 3.46 on a 0.28 s base — one distinct-shuffle growing linearly on
# 32 cores; q16/q7/q12 at 1.3-1.5 show the same plans with slightly
# bigger bases). Nothing superlinear-by-plan anywhere: the 10x corpus
# moves every family < 6x wall at 10x rows.


def _scale_section(spark, base_sf_dir: str) -> dict:
    """Time the dedup/similarity family at sf0.1 and at the derived 10x
    corpus, with measured candidate-pair counts for the two blocking
    schemes (MinHash bands over documents, SRP-LSH buckets over
    embeddings). Near-linear time growth + ~10x candidate growth at 10x
    rows is the empirical form of the 100 TB sub-quadratic claim."""
    from catalyst_spark.queries import ALL_QUERIES
    from catalyst_spark.queries.pipeline import (
        _minhash_sig_cand,
        dedup_embedding_lsh,
        reset_session_caches,
    )

    sf1_dir = str(REPO / "benchdata" / "sf1")
    _ensure_sf1(spark, base_sf_dir, sf1_dir)
    _ensure_sf1_events(spark, base_sf_dir, sf1_dir)
    _ensure_sf1_tpch(spark, base_sf_dir, sf1_dir)

    trials = int(os.environ.get("SPARK_GRAFT_SCALE_TRIALS", "3"))
    # soft deadline over the whole section (r11d, the main-pass
    # deadline philosophy): now that the sweep covers the ENTIRE
    # registry, a slower machine should degrade to fewer cold trials
    # per scale — never to a timed-out run with no scale artifact.
    # First trial of each scale always completes (the ratios need at
    # least one sample on both sides).
    sec_deadline = float(
        os.environ.get("SPARK_GRAFT_SCALE_DEADLINE", "3000"))
    sec_t0 = time.perf_counter()
    out: dict[str, dict] = {}
    for tag, d in (("sf0.1", base_sf_dir), ("sf1", sf1_dir)):
        sec: dict = {"queries": {}, "output_rows": {}}
        # min over cold trials: the noise-resistant scaling estimator
        # (one-shot numbers here swung 5x with JVM warmup / GC phase)
        samples: dict[str, list[float]] = {n: [] for n in _SCALE_QUERIES}
        for t_i in range(trials):
            if t_i and time.perf_counter() - sec_t0 > sec_deadline:
                break
            reset_session_caches(spark)
            for name in _SCALE_QUERIES:
                t0 = time.perf_counter()
                df = ALL_QUERIES[name](spark, d)
                df.write.format("noop").mode("overwrite").save()
                samples[name].append(time.perf_counter() - t0)
        for name in _SCALE_QUERIES:
            sec["queries"][name] = round(min(samples[name]), 3)
            sec["output_rows"][name] = ALL_QUERIES[name](spark, d).count()
        # no silent caps: record how many cold trials the deadline left
        sec["trials_used"] = len(samples[_SCALE_QUERIES[0]])
        n_docs = spark.read.parquet(
            os.path.join(d, "documents.parquet")).count()
        n_vecs = spark.read.parquet(
            os.path.join(d, "embeddings.parquet")).count()
        _sig, cand = _minhash_sig_cand(spark, d)
        mh_cand = cand.count()
        # window-table cardinality: total and distinct stride-1 window
        # hashes — the row volume every window operator shuffles
        from catalyst_spark.queries.pipeline import _windowed

        win = _windowed(spark.read.parquet(
            os.path.join(d, "documents.parquet")))
        sec["window_rows"] = win.count()
        sec["window_distinct_hashes"] = win.select("h").distinct().count()
        # SRP-LSH candidates: distinct bucket-joined pairs — reuse the
        # operator's own bucketing by counting its candidate join input
        lsh_cand = dedup_embedding_lsh(spark, d).count()
        # re-k scan-mass evidence (VERDICT r8 item 2): scanned-candidate
        # rows for the fixed-k rung vs the re-k'd serving rung, counted
        # from the operators' own candidate sets. Wall ratios at this N
        # are overhead-dominated and cannot distinguish the schedules;
        # this is the term that grows with N/k and dominates at scale.
        from catalyst_spark.queries.pipeline import (
            _KMEANS_K,
            _serving_k,
            _sq8_ivf_cand,
        )

        rek_k = _serving_k(n_vecs)
        fixed_cand = _sq8_ivf_cand(spark, d, "full", _KMEANS_K).count()
        rek_cand = _sq8_ivf_cand(spark, d, f"full_k{rek_k}", rek_k).count()
        n_queries = (n_vecs + 49) // 50  # probe set: vec_id % 50 == 0
        sec["rek_scan_mass"] = {
            "fixed_k": _KMEANS_K,
            "serving_k": rek_k,
            "scanned_rows_fixed_k": fixed_cand,
            "scanned_rows_rek": rek_cand,
            "rows_per_query_fixed_k": round(fixed_cand / n_queries, 1),
            "rows_per_query_rek": round(rek_cand / n_queries, 1),
            "scan_reduction": (round(fixed_cand / rek_cand, 2)
                               if rek_cand else None),
        }
        # triplet-yield curriculum evidence (VERDICT r10 item 7): does
        # the hard-negative band stay populated as the corpus grows?
        # One collect of the probe-set-sized triplet table per scale;
        # margins are the already-rounded display column (2 decimals).
        trip_rows = ALL_QUERIES["contrastive_triplets"](
            spark, d).collect()
        by_q: dict[int, int] = {}
        margins: list[float] = []
        for r in trip_rows:
            by_q[r["q_id"]] = by_q.get(r["q_id"], 0) + 1
            margins.append(float(r["margin"]))
        negs = sorted(by_q.values())
        margins.sort()

        def _med(xs):
            return xs[len(xs) // 2] if xs else None

        sec["triplet_yield"] = {
            "n_probe_queries": n_queries,
            "queries_with_triplets": len(by_q),
            "n_triplets": len(trip_rows),
            "negs_per_query_min": negs[0] if negs else 0,
            "negs_per_query_med": _med(negs) or 0,
            "negs_per_query_max": negs[-1] if negs else 0,
            "margin_min": margins[0] if margins else None,
            "margin_med": _med(margins),
            "margin_max": margins[-1] if margins else None,
        }
        all_doc = n_docs * (n_docs - 1) // 2
        all_vec = n_vecs * (n_vecs - 1) // 2
        sec.update(
            n_docs=n_docs,
            n_vecs=n_vecs,
            minhash_candidates=mh_cand,
            minhash_candidate_ratio=round(mh_cand / all_doc, 6),
            lsh_verified_pairs=lsh_cand,
            all_doc_pairs=all_doc,
            all_vec_pairs=all_vec,
        )
        out[tag] = sec
        reset_session_caches(spark)
    out["note"] = (
        "sf1 = ten families, each an exact internal copy of the sf0.1 dup "
        "structure (disjoint token spaces; sign-flipped embeddings). "
        "Cross-family cosines are ~N(0, 1/64) noise, so a few exceed the "
        "0.4 verify threshold — embedding-side output_rows grow faster "
        "than 10x for that reason (real geometry of the derived corpus, "
        "not join fan-out); the blocking evidence is minhash_candidates "
        "(~10x at 10x rows) and the per-query time ratios. The window "
        "family's row volume is window_rows/window_distinct_hashes "
        "(stride-1 windows ~ one row per token): both grow exactly "
        "linearly (10.0x at 10x docs, disjoint token spaces keep "
        "distinct hashes linear too), so the probe joins shuffle O(docs) "
        "8-byte keys — the substring sweep stays linear at 100 TB. "
        "Events (r10): ten disjoint user populations with identical "
        "per-user timelines — the user-keyed family (sessionize, "
        "funnel, retention, coverage) scales on key cardinality and "
        "counter_rate on per-key volume; both axes should stay well "
        "under 10x wall at these overhead-dominated base slots."
    )
    base, ten = out["sf0.1"], out["sf1"]
    out["time_ratio_10x"] = {
        n: round(ten["queries"][n] / base["queries"][n], 2)
        for n in _SCALE_QUERIES
        if base["queries"][n] > 0
    }
    out["minhash_candidate_growth_10x"] = (
        round(ten["minhash_candidates"] / base["minhash_candidates"], 2)
        if base["minhash_candidates"]
        else None
    )
    # the headline re-k number (VERDICT r8 item 2): the fixed rung
    # serves the engine-default k=8 everywhere; the schedule serves
    # k=16 at sf0.1 (scan reduction ~2x) and k=32 at the 10x corpus
    # (~4x) — nprobe/k theory, growing with N: the collapse, measured
    out["rek_scan_reduction_10x"] = ten["rek_scan_mass"]["scan_reduction"]
    return out


def _ensure_vec100k(spark, src_dir: str, dst_dir: str) -> None:
    """Deterministic 50x embeddings-only corpus (100k vectors at the
    driver's sf0.1 = 2k): the k=64 tier of the re-k schedule, which no
    smaller corpus ever serves (_serving_k: 64k..256k rows -> k=64).
    Same replica construction as _ensure_sf1's embeddings branch —
    sign-flip patterns per (rep, dim) preserve within-family cosine
    structure exactly while destroying cross-family similarity w.h.p.
    Documents are NOT replicated: the rek rung and the nprobe sweep
    read only the embeddings table."""
    import shutil

    from pyspark.sql import functions as F

    done_flag = os.path.join(dst_dir, "_DONE")
    if os.path.exists(done_flag):
        return
    shutil.rmtree(dst_dir, ignore_errors=True)
    os.makedirs(dst_dir, exist_ok=True)
    emb = spark.read.parquet(os.path.join(src_dir, "embeddings.parquet"))
    # ADVICE r10: same collision guard as _ensure_sf1_events
    mv = emb.selectExpr("max(vec_id) AS m").collect()[0]["m"]
    assert mv < 1_000_000, (
        f"replica offset too small for base ids: max vec_id={mv}"
        " (offset 1_000_000)"
    )
    reps = "explode(sequence(0, 49))"
    (
        emb.select("vec_id", "embedding", "label", F.expr(reps).alias("rep"))
        .select(
            (F.col("vec_id") + F.col("rep") * F.lit(1_000_000)).alias("vec_id"),
            F.expr(
                "transform(embedding, (x, i) -> CASE WHEN rep = 0 THEN x"
                " ELSE cast(x * (1 - 2 * pmod(hash(rep, i), 2)) as float)"
                " END)"
            ).alias("embedding"),
            "label",
        )
        .repartition(32)
        .write.parquet(os.path.join(dst_dir, "embeddings.parquet"))
    )
    with open(done_flag, "w") as f:
        f.write("ok\n")


def _rek64_section(spark, base_sf_dir: str) -> dict:
    """VERDICT r9 item 7: one SCAN-DOMINATED measurement of the re-k
    schedule — the IVF+SQ8 rungs at a 100k-vector corpus, the first
    tier where _serving_k returns 64 and the in-cell scan term (not
    fixed per-query overhead) dominates wall time. Records the third
    rek_scan_mass row (fixed k=8 vs served k=64: theory predicts ~8x
    fewer scanned rows/query), wall seconds for both rungs served off
    the persisted model store (warm-up call trains + persists; timed
    runs reload, so the measurement is the serving scan), and the
    nprobe sweep AT THE SERVING QUANTIZER: scanned rows at nprobe
    1/2/4 over the full probe set, recall@5 against the exact brute
    baseline on the vec_id % 2000 == 0 query subsample (50 queries x
    100k exact cosines — the honest way to keep the brute term from
    dwarfing the measurement it calibrates; the subsample is stated in
    the emitted row)."""
    from pyspark.sql import functions as F
    from pyspark.sql import Window

    from catalyst_spark.queries.pipeline import (
        _KMEANS_K,
        _coarse_assign,
        _cosine,
        _probe_topn,
        _serving_k,
        _sq8_codes,
        _sq8_ivf_cand,
        _with_norm,
        ann_sq8_ivf_rek_topk,
        ann_sq8_ivf_topk,
        reset_session_caches,
    )
    from catalyst_spark.tables import load

    vec_dir = str(REPO / "benchdata" / "vec100k")
    _ensure_vec100k(spark, base_sf_dir, vec_dir)
    emb = load(spark, vec_dir, "embeddings")
    v = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    n_vecs = v.count()
    rek_k = _serving_k(n_vecs)
    rek_tag = f"full_k{rek_k}"
    n_queries = v.where("vec_id % 50 = 0").count()

    # wall: warm-up trains + persists every model; timed cold runs then
    # serve off the store — min over trials is the scan-dominated term
    trials = int(os.environ.get("SPARK_GRAFT_REK64_TRIALS", "2"))
    wall = {}
    for name, fn in (("fixed_k", ann_sq8_ivf_topk),
                     ("rek", ann_sq8_ivf_rek_topk)):
        reset_session_caches(spark)
        fn(spark, vec_dir).write.format("noop").mode("overwrite").save()
        ts = []
        for _ in range(trials):
            reset_session_caches(spark)
            t0 = time.perf_counter()
            fn(spark, vec_dir).write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        wall[name] = round(min(ts), 3)
    reset_session_caches(spark)

    fixed_cand = _sq8_ivf_cand(spark, vec_dir, "full", _KMEANS_K).count()
    rek_cand = _sq8_ivf_cand(spark, vec_dir, rek_tag, rek_k).count()
    sec: dict = {
        "n_vecs": n_vecs,
        "n_queries": n_queries,
        "fixed_k": _KMEANS_K,
        "serving_k": rek_k,
        "wall_seconds": wall,
        "wall_ratio_fixed_over_rek": (
            round(wall["fixed_k"] / wall["rek"], 2) if wall["rek"] else None
        ),
        "rek_scan_mass": {
            "scanned_rows_fixed_k": fixed_cand,
            "scanned_rows_rek": rek_cand,
            "rows_per_query_fixed_k": round(fixed_cand / n_queries, 1),
            "rows_per_query_rek": round(rek_cand / n_queries, 1),
            "scan_reduction": (round(fixed_cand / rek_cand, 2)
                               if rek_cand else None),
        },
    }

    # nprobe sweep at the serving quantizer (k=64): scanned rows over
    # the full probe set; recall@5 vs exact brute on the stated
    # subsample (the sweep operator's own machinery: integer SQ8
    # distance, (d2, n_id) ties, ONE ranked probe assignment)
    probes = _probe_topn(spark, vec_dir, v, 4, tag=rek_tag,
                         k=rek_k).persist()
    probes.count()
    members = _coarse_assign(spark, vec_dir, rek_tag, rek_k).select(
        F.col("vec_id").alias("n_id"), "c_id"
    )
    codes = _sq8_codes(spark, vec_dir)
    sub_mod = 2000
    qn = _with_norm(emb.where(f"vec_id % {sub_mod} = 0"), "q_id", "vq")
    cn = _with_norm(emb, "n_id", "vc")
    wb = Window.partitionBy("q_id").orderBy(
        F.col("cos_raw").desc(), F.col("n_id"))
    brute = (
        cn.join(F.broadcast(qn), F.col("q_id") != F.col("n_id"))
        .withColumn("cos_raw", _cosine("vq", "vc"))
        .withColumn("rnk", F.row_number().over(wb))
        .where(F.col("rnk") <= 5)
        .select("q_id", "n_id")
        .persist()
    )
    nq_sub = brute.select("q_id").distinct().count()
    qs = codes.where(f"vec_id % {sub_mod} = 0").select(
        F.col("vec_id").alias("q_id"), F.col("c").alias("qc")
    )
    d2 = F.expr(
        "aggregate(zip_with(qc, c, (a, b) -> (a - b) * (a - b)),"
        " cast(0 as long), (s, x) -> s + x)"
    )
    wd = Window.partitionBy("q_id").orderBy(
        F.col("sq_d2").asc(), F.col("n_id"))
    sweep = []
    for np_ in (1, 2, 4):
        cand = (
            probes.where(F.col("crank") <= np_)
            .join(members, "c_id")
            .where(F.col("n_id") != F.col("q_id"))
            .select("q_id", "n_id")
            .distinct()
            .persist()
        )
        scanned = cand.count()
        top5 = (
            cand.where(f"q_id % {sub_mod} = 0")
            .join(codes.withColumnRenamed("vec_id", "n_id"), "n_id")
            .join(F.broadcast(qs), "q_id")
            .withColumn("sq_d2", d2)
            .withColumn("rnk", F.row_number().over(wd))
            .where(F.col("rnk") <= 5)
            .select("q_id", "n_id")
        )
        hits = brute.join(top5, ["q_id", "n_id"], "semi").count()
        sweep.append({
            "nprobe": np_,
            "scanned_rows": scanned,
            "rows_per_query": round(scanned / n_queries, 1),
            "recall_at_5_subsample": round(hits / (5.0 * nq_sub), 4),
            "recall_subsample_queries": nq_sub,
        })
        cand.unpersist()
    probes.unpersist()
    brute.unpersist()
    sec["nprobe_sweep_at_serving_k"] = sweep
    sec["note"] = (
        "First corpus tier where _serving_k = 64. Scan reduction "
        "fixed/rek should track k_rek/k_fixed = 8 (cell-balance "
        "tolerance applies); wall ratio is the same collapse measured "
        "in scan-dominated seconds. Sweep recall is on the stated "
        "vec_id % 2000 subsample; scanned rows cover the full probe "
        "set. Absolute recall is LOW BY CONSTRUCTION here: the derived "
        "corpus's embeddings are near-random (sf0.1 max pairwise cos "
        "~0.5; cross-family sims are N(0,1/64) noise), so exact top-5 "
        "neighbors are weak-cosine noise points with no cluster "
        "structure for IVF to exploit — recall tracks the scanned "
        "fraction plus the within-family signal, and the number that "
        "validates the schedule is its GROWTH along the sweep at "
        "linear scan cost, not its level."
    )
    reset_session_caches(spark)
    return sec


def _committed_round_summary():
    """The last ROUND-BOUNDARY committed bench_summary.json (VERDICT
    r13 item 4): the driver commits 'round N: verdict/advice/
    correctness/bench' at each round boundary, so bench_summary.json
    at the newest such commit is the previous round's headline
    numbers. vs_prev diffs only the previous same-state run in this
    working tree, which hides cross-round shifts (the r13 phantom 13x
    on ann_pq_adc_topk was invisible to the artifact and only caught
    by a judge-side git diff); this makes that diff part of the
    artifact. Returns (round_number, payload) or None."""
    import re
    import subprocess

    try:
        log = subprocess.run(
            ["git", "-C", str(REPO), "log", "--format=%H %s"],
            capture_output=True, text=True, timeout=30, check=True,
        ).stdout
        for line in log.splitlines():
            sha, _, msg = line.partition(" ")
            m = re.match(r"round (\d+):", msg)
            if not m:
                continue
            txt = subprocess.run(
                ["git", "-C", str(REPO), "show",
                 f"{sha}:bench_summary.json"],
                capture_output=True, text=True, timeout=30, check=True,
            ).stdout
            return int(m.group(1)), json.loads(txt)
    except Exception:
        return None
    return None


def _time_shared_builds(spark, sf_dir: str) -> dict[str, float]:
    """Materialize every session-shared build under its own named timer
    (VERDICT r6 item 5), in the registry's declaration order.
    Family-fronting order previously attributed e.g. the window-table
    persist to whichever family member ran first, so a rotation-driven
    registry reorder could masquerade as a per-query regression in
    round-over-round diffs (the r6 window_overlap 2.2x slot artifact).
    With the builds pre-timed here, the per-query numbers are
    build-free marginal costs whose attribution can't shift between
    rounds. Every DataFrame a build returns is counted, so lazily
    persisted halves (the MinHash candidate set) materialize here too."""
    from pyspark.sql import DataFrame

    from catalyst_spark.queries.pipeline import SHARED_BUILDS

    out: dict[str, float] = {}
    for name, build in SHARED_BUILDS.items():
        t0 = time.perf_counter()
        built = build(spark, sf_dir)
        for part in built if isinstance(built, tuple) else (built,):
            if isinstance(part, DataFrame):
                part.count()
        out[name] = round(time.perf_counter() - t0, 3)
    return out


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)

    from catalyst_spark.session import get_spark
    from catalyst_spark.queries import ALL_QUERIES
    from catalyst_spark.queries.pipeline import (
        SHARED_BUILDS,
        reset_session_caches,
    )

    spark = get_spark("catalyst_spark_bench", cpus=cpus)

    # JVM/codegen warm-up + parquet footer/FS cache priming outside the
    # timed region (the first scan otherwise pays one-time costs that
    # are not query work)
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from catalyst_spark.tables import TABLES, load as load_table

    for t in TABLES:
        load_table(spark, sf_dir, t).limit(1).collect()

    try:
        sf = float(os.path.basename(os.path.normpath(sf_dir)).replace("sf", ""))
    except ValueError:
        sf = -1.0

    # --- scale-proof section (VERDICT r3 item 2): the dedup/similarity
    # family at a 10x corpus, with measured candidate-pair ratios. Runs
    # BEFORE the main passes so its timings aren't distorted by three
    # bench passes' worth of accumulated JVM/GC state. ---
    scale = None
    if os.environ.get("SPARK_GRAFT_SCALE_BENCH", "1") != "0":
        scale = _scale_section(spark, sf_dir)
        reset_session_caches(spark)

    # --- k=64 tier (VERDICT r9 item 7): the scan-dominated re-k
    # measurement at 100k vectors. Also before the main passes, and
    # separately gateable because it fits + serves two quantizers over
    # a 50x corpus. ---
    rek64 = None
    if os.environ.get("SPARK_GRAFT_REK64_BENCH", "1") != "0":
        rek64 = _rek64_section(spark, sf_dir)
        reset_session_caches(spark)

    # --- 50x tier (r11e): three-point scaling curve for the flagship
    # document/event operators. Default OFF (builder-measured into the
    # committed snapshot; the per-round driver run keeps 10x only). ---
    sf5 = None
    if os.environ.get("SPARK_GRAFT_SF5_BENCH", "0") != "0":
        sf5 = _sf5_section(spark, sf_dir)
        reset_session_caches(spark)

    # --- ingest-side 50x tier (r13, VERDICT r12 item 8): fixed probe
    # stream vs 1x/10x/50x corpus indexes. Default follows the sf5
    # gate (builder-measured; driver rounds carry it forward). ---
    stream_scale = None
    stream_scale_kmv = None
    if os.environ.get(
        "SPARK_GRAFT_STREAM_SCALE_BENCH",
        os.environ.get("SPARK_GRAFT_SF5_BENCH", "0"),
    ) != "0":
        stream_scale = _stream_scale_section(spark, sf_dir)
        reset_session_caches(spark)
        # second family (r14): growing input vs bounded sketch state
        stream_scale_kmv = _stream_scale_kmv_section(spark, sf_dir)
        reset_session_caches(spark)

    # median-of-n per query: one timing per pass, each pass fully cold, so
    # sub-second ambient noise can't masquerade as a regression while
    # shared-build attribution stays identical in every pass
    # default 5: an ambient-drift episode this round pushed six queries
    # past the 1.3x flag under median-of-3 (spreads 0.4-0.8 s) and all
    # six reverted at median-of-5; the soft deadline below degrades
    # pass count gracefully on a slow machine, so the larger default
    # costs nothing when time is short
    runs = int(os.environ.get("SPARK_GRAFT_BENCH_RUNS", "5"))
    # soft deadline: a slower machine should degrade to fewer passes,
    # not to a timed-out run with no artifact at all. Sized for the
    # CURRENT registry (ADVICE r12 flagged this note's arithmetic as
    # stale; history: the r8 registry outgrew the original 900 s
    # budget written at ~100 s/pass, silently cutting a run to 4
    # passes and suppressing the regression gate via the run-count
    # methodology check): r12 measured ~163 s queries-only per cold
    # pass at 172 registry keys; r13 measured 146 s/pass at 176 keys;
    # the r14 registry is 175 (edv_diag_* deleted,
    # shard_apply_compaction added), so 1600 s still buys 5 full
    # passes with headroom
    deadline = float(os.environ.get("SPARK_GRAFT_BENCH_DEADLINE", "1600"))
    bench_t0 = time.perf_counter()
    samples: dict[str, list[float]] = {n: [] for n in ALL_QUERIES}
    sb_samples: dict[str, list[float]] = {n: [] for n in SHARED_BUILDS}
    passes_done = 0
    for _ in range(runs):
        reset_session_caches(spark)
        # shared builds first, each under its own named timer — the
        # query timings below are then build-free marginal costs
        for n, t in _time_shared_builds(spark, sf_dir).items():
            sb_samples[n].append(t)
        for name, fn in ALL_QUERIES.items():
            t0 = time.perf_counter()
            df = fn(spark, sf_dir)
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(time.perf_counter() - t0)
        passes_done += 1
        elapsed = time.perf_counter() - bench_t0
        if passes_done < runs and elapsed + elapsed / passes_done > deadline:
            break
    runs = passes_done
    # true median (interpolated for even sample counts): the deadline
    # can stop after 2 passes, and the upper-middle element would then
    # report the SLOWER of the two, biasing vs_prev ratios upward
    timings = {
        n: round(statistics.median(ts), 3) for n, ts in samples.items()
    }
    spread = {n: round(max(ts) - min(ts), 3) for n, ts in samples.items()}
    shared_builds = {
        n: round(statistics.median(ts), 3)
        for n, ts in sb_samples.items() if ts
    }

    # ingest-path throughput: synthesize wire lines from the events table
    # and measure parse -> encode end-to-end (rows/sec, JVM-side paths)
    from pyspark.sql import functions as F
    from catalyst_spark.encode import encode_sensision
    from catalyst_spark.parsers import parse_graphite
    from catalyst_spark.schema import permissive
    from catalyst_spark.tables import load as load_table2

    events = load_table2(spark, sf_dir, "events")
    lines = events.select(
        F.concat_ws(
            " ",
            F.concat(F.lit("evt."), F.col("event_type"), F.lit(";user="),
                     F.col("user_id").cast("string")),
            F.col("value").cast("string"),
            F.unix_millis(F.col("ts")).cast("string"),
        ).alias("line")
    )
    # x16 so per-job fixed cost doesn't dominate the throughput figure
    for _ in range(4):
        lines = lines.unionAll(lines)
    lines = lines.repartition(cpus).persist()
    n_lines = lines.count()

    # median-of-n (VERDICT r4 item 5): the single-pass ingest figures
    # swung 2.6x between driver rounds with byte-identical parser code —
    # pure ambient-load noise; the queries already got this treatment.
    # r12 measured caveat: when the gated sf5 section runs (builder
    # snapshots only — the driver's per-round run keeps it off), the
    # ingest medians read ~25% lower from accumulated JVM/GC state
    # (influx 699k in the sf5 snapshot vs 951k standalone median-of-5
    # on the same code) — compare ingest numbers across runs with the
    # same section set only
    ingest_runs = int(os.environ.get("SPARK_GRAFT_INGEST_RUNS", "5"))

    def _timed(df):
        df.write.format("noop").mode("overwrite").save()  # codegen warm-up
        ts = []
        for _ in range(ingest_runs):
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            ts.append(time.perf_counter() - t0)
        return statistics.median(ts), min(ts), max(ts)

    parse_s, parse_min, parse_max = _timed(
        encode_sensision(permissive(parse_graphite(lines))))

    # influx ingest: same events as line protocol (2 fields per line ->
    # 2 GTS rows after fan-out); the JVM fast path handles all of these
    from catalyst_spark.parsers import parse_influx

    influx_lines = events.select(
        F.concat(
            F.lit("evt,type="), F.col("event_type"),
            F.lit(",user="), F.col("user_id").cast("string"),
            F.lit(" value="), F.col("value").cast("string"), F.lit(",n=1i"),
            F.lit(" "), (F.unix_micros("ts") * 1000).cast("string"),
        ).alias("line")
    )
    for _ in range(4):
        influx_lines = influx_lines.unionAll(influx_lines)
    influx_lines = influx_lines.repartition(cpus).persist()
    n_influx = influx_lines.count()
    influx_s, influx_min, influx_max = _timed(
        encode_sensision(permissive(parse_influx(influx_lines, now_ns=0)))
    )
    lines.unpersist()
    influx_lines.unpersist()

    # remaining 3 protocols (VERDICT r5 item 6): OpenTSDB JSON bodies,
    # Prometheus exposition text, remote_write snappy+protobuf — same
    # synthesized-events corpus, same warmed median-of-n timing, so all
    # five wire formats now carry lines-per-second evidence.
    from catalyst_spark.parsers import (
        parse_opentsdb,
        parse_prom_text,
        parse_remote_write,
    )

    # OpenTSDB: one single-point JSON body per row (the harshest
    # per-body overhead shape — every body pays brace-scan + from_json)
    tsdb_bodies = events.select(
        F.concat(
            F.lit('{"metric":"evt.'), F.col("event_type"),
            F.lit('","timestamp":'), F.unix_millis("ts").cast("string"),
            F.lit(',"value":'), F.col("value").cast("string"),
            F.lit(',"tags":{"user":"'), F.col("user_id").cast("string"),
            F.lit('"}}'),
        ).alias("body")
    )
    for _ in range(4):
        tsdb_bodies = tsdb_bodies.unionAll(tsdb_bodies)
    tsdb_bodies = tsdb_bodies.repartition(cpus).persist()
    n_tsdb = tsdb_bodies.count()
    tsdb_s, tsdb_min, tsdb_max = _timed(
        encode_sensision(permissive(parse_opentsdb(tsdb_bodies, now_us=0)))
    )
    tsdb_bodies.unpersist()

    # Prometheus text: one exposition line per event
    prom_lines = events.select(
        F.concat(
            F.lit("evt_"), F.col("event_type"),
            F.lit('{user="'), F.col("user_id").cast("string"), F.lit('"} '),
            F.col("value").cast("string"),
            F.lit(" "), F.unix_millis("ts").cast("string"),
        ).alias("line")
    )
    for _ in range(4):
        prom_lines = prom_lines.unionAll(prom_lines)
    prom_lines = prom_lines.repartition(cpus).persist()
    n_prom = prom_lines.count()
    prom_s, prom_min, prom_max = _timed(
        encode_sensision(permissive(parse_prom_text(prom_lines, now_us=0)))
    )
    prom_lines.unpersist()

    # remote_write: snappy+protobuf bodies built once on the driver from
    # a 1k-event slice (64 series x 16 samples), replicated to rows —
    # every row pays the full Arrow->Python decompress+decode, which is
    # the real per-body cost; samples/s counts decoded samples
    from catalyst_spark.parsers.wire import encode_write_request, snappy_compress

    ev_rows = events.select(
        "event_type", "user_id", "value", F.unix_millis("ts").alias("ms")
    ).limit(1024).collect()
    series_map: dict = {}
    for r in ev_rows:
        k = (r["event_type"], int(r["user_id"]) % 64)
        series_map.setdefault(k, []).append(
            (float(r["value"]), int(r["ms"])))
    rw_body = snappy_compress(encode_write_request([
        {"labels": {"__name__": f"evt_{t}", "user": str(u)},
         "samples": samples}
        for (t, u), samples in series_map.items()
    ]))
    n_rw_samples_per_body = sum(len(s) for s in series_map.values())
    rw_rows = 256
    rw_bodies = spark.createDataFrame(
        [(bytearray(rw_body),)] * rw_rows, "body binary"
    ).repartition(cpus).persist()
    rw_bodies.count()
    rw_s, rw_min, rw_max = _timed(
        encode_sensision(permissive(parse_remote_write(rw_bodies)))
    )
    n_rw = n_rw_samples_per_body * rw_rows
    rw_bodies.unpersist()

    # --- error-path throughput (VERDICT r6 item 9): a bad client
    # hammers exactly this path at 100 TB ingest, and it was untimed.
    # Two measurements: (a) the parser's per-line error taxonomy on a
    # 75%-corrupt Graphite corpus (every corrupt shape the reference
    # distinguishes: too few tokens / bad timestamp / tag without '='),
    # forced end-to-end including the parse_error column; (b) the
    # C4/C5 backend-body classifier (substring decision table + HTTP
    # status map) over a body corpus cycling the whole taxonomy. ---
    from catalyst_spark.control.errors import (
        classify_error_col,
        http_status_col,
    )

    bad_lines = events.select(
        F.expr(
            "CASE cast(user_id as int) % 4"
            " WHEN 0 THEN concat('evt.', event_type, ';user=',"
            "   cast(user_id as string), ' ', cast(value as string), ' ',"
            "   cast(unix_millis(ts) as string))"      # valid
            " WHEN 1 THEN concat('evt.', event_type)"  # too few tokens
            " WHEN 2 THEN concat('evt.', event_type, ' ',"
            "   cast(value as string), ' not_a_ts')"   # bad timestamp
            " ELSE concat('evt.', event_type, ';baretag ',"
            "   cast(value as string), ' ',"
            "   cast(unix_millis(ts) as string)) END"  # tag without '='
        ).alias("line")
    )
    for _ in range(4):
        bad_lines = bad_lines.unionAll(bad_lines)
    bad_lines = bad_lines.repartition(cpus).persist()
    n_bad = bad_lines.count()
    err_s, err_min, err_max = _timed(parse_graphite(bad_lines))
    bad_lines.unpersist()

    _taxonomy_bodies = [
        "io.warp10.script.WarpScriptException: Invalid token",
        "io.warp10.script.WarpScriptException: Token Expired",
        "io.warp10.script.WarpScriptException: Token revoked",
        "You exceed your Monthly Active Data Streams limit for"
        " application 'app' (100). (Geo Time Series",
        "Daily Data Points limit being already exceeded,"
        " Current maximum rate is (1000) datapoints/s",
        "Application suspended or closed",
        "<html><pre> Parse error at 'xyz'</pre></html>",
        "net/http: request canceled (Client.Timeout exceeded)",
        "dial tcp: connection refused",
        "some entirely novel failure nobody classified",
    ]
    bodies = events.select(
        F.expr(
            "element_at(array("
            + ",".join("'" + b.replace("'", "''") + "'"
                       for b in _taxonomy_bodies)
            + "), cast(user_id as int) % 10 + 1)"
        ).alias("body")
    )
    for _ in range(4):
        bodies = bodies.unionAll(bodies)
    bodies = bodies.repartition(cpus).persist()
    n_bodies = bodies.count()
    cls = classify_error_col(F.col("body")).alias("error_type")
    cls_s, cls_min, cls_max = _timed(
        bodies.select(cls).select(
            "error_type", http_status_col(F.col("error_type")).alias("status"))
    )
    bodies.unpersist()

    # SRP-LSH pruning evidence: candidate pairs vs all-pairs (the
    # sub-quadratic claim, measured not asserted)
    from catalyst_spark.queries.pipeline import _srp_planes

    emb = load_table2(spark, sf_dir, "embeddings")
    v = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
    planes_df = spark.createDataFrame(
        _srp_planes(), "t INT, k INT, signs ARRAY<DOUBLE>"
    )
    buckets = (
        v.crossJoin(F.broadcast(planes_df))
        .select("vec_id", "t", "k", F.expr(
            "aggregate(zip_with(e, signs, (x, s) -> x * s),"
            " cast(0 as double), (a, x) -> a + x)").alias("dot"))
        .groupBy("vec_id", "t")
        .agg(F.sum(F.expr(
            "CASE WHEN dot > 0 THEN shiftleft(cast(1 as bigint), k)"
            " ELSE cast(0 as bigint) END")).alias("bucket"))
    )
    n_vec = emb.count()
    lsh_cand = (
        buckets.alias("l")
        .join(buckets.alias("r"),
              (F.col("l.t") == F.col("r.t"))
              & (F.col("l.bucket") == F.col("r.bucket"))
              & (F.col("l.vec_id") < F.col("r.vec_id")))
        .select("l.vec_id", "r.vec_id").distinct().count()
    )

    # value stays the full end-to-end cost (builds + queries): previous
    # rounds timed the shared builds inside their owner queries' slots,
    # so excluding them now would fake a round-over-round speedup
    total = round(sum(timings.values()) + sum(shared_builds.values()), 3)
    payload = {
        "metric": "catalyst_spark_all_queries_runtime",
        "value": total,
        "queries_total": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "spread": spread,
        "shared_builds": shared_builds,
        "shared_builds_total": round(sum(shared_builds.values()), 3),
        "bench_runs": runs,
        "sf": sf,
        "ingest_rows_per_sec": round(n_lines / parse_s),
        "ingest_rows": n_lines,
        "ingest_runs": ingest_runs,
        "ingest_rows_per_sec_range": [
            round(n_lines / parse_max), round(n_lines / parse_min)],
        "influx_lines_per_sec": round(n_influx / influx_s),
        "influx_lines": n_influx,
        "influx_lines_per_sec_range": [
            round(n_influx / influx_max), round(n_influx / influx_min)],
        "opentsdb_bodies_per_sec": round(n_tsdb / tsdb_s),
        "opentsdb_bodies": n_tsdb,
        "opentsdb_bodies_per_sec_range": [
            round(n_tsdb / tsdb_max), round(n_tsdb / tsdb_min)],
        "prom_lines_per_sec": round(n_prom / prom_s),
        "prom_lines": n_prom,
        "prom_lines_per_sec_range": [
            round(n_prom / prom_max), round(n_prom / prom_min)],
        "remote_write_samples_per_sec": round(n_rw / rw_s),
        "remote_write_samples": n_rw,
        "remote_write_samples_per_sec_range": [
            round(n_rw / rw_max), round(n_rw / rw_min)],
        "error_path_lines_per_sec": round(n_bad / err_s),
        "error_path_lines": n_bad,
        "error_path_lines_per_sec_range": [
            round(n_bad / err_max), round(n_bad / err_min)],
        "error_classify_bodies_per_sec": round(n_bodies / cls_s),
        "error_classify_bodies": n_bodies,
        "error_classify_bodies_per_sec_range": [
            round(n_bodies / cls_max), round(n_bodies / cls_min)],
        "lsh_candidate_pairs": lsh_cand,
        "lsh_all_pairs": n_vec * (n_vec - 1) // 2,
    }
    if scale is not None:
        payload["scale"] = scale
    if rek64 is not None:
        payload["rek64"] = rek64
    if sf5 is not None:
        payload["sf5"] = sf5
    if stream_scale is not None:
        payload["stream_scale"] = stream_scale
    if stream_scale_kmv is not None:
        payload["stream_scale_kmv"] = stream_scale_kmv

    # machine-checked regression tracking: ratio vs the previous run's
    # committed summary (only at the same sf — cross-sf ratios are noise)
    summary_path = REPO / "bench_summary.json"
    try:
        prev = json.loads(summary_path.read_text())
    except (OSError, ValueError):
        prev = None
    if sf5 is None and prev and prev.get("sf5"):
        # VERDICT r12 item 7: the headline artifact must always carry
        # the three-point scale curve. The sf5 tier is gated (builder
        # runs measure it; per-round driver runs keep 10x only), so a
        # run without it CARRIES the previous snapshot's measured
        # section forward, labeled with its provenance — the curve
        # never again lives only in a superseded commit.
        payload["sf5"] = prev["sf5"]
        payload["sf5_provenance"] = prev.get(
            "sf5_provenance",
            "carried forward from the prior committed snapshot "
            "(gated tier not re-run; SPARK_GRAFT_SF5_BENCH=1 "
            "re-measures)",
        )
    if stream_scale is None and prev and prev.get("stream_scale"):
        # same carry-forward for the ingest-side 50x tier (r13)
        payload["stream_scale"] = prev["stream_scale"]
        payload["stream_scale_provenance"] = prev.get(
            "stream_scale_provenance",
            "carried forward from the prior committed snapshot "
            "(gated tier not re-run; SPARK_GRAFT_STREAM_SCALE_BENCH=1 "
            "re-measures)",
        )
    if stream_scale_kmv is None and prev and prev.get("stream_scale_kmv"):
        # and for the r14 bounded-state family
        payload["stream_scale_kmv"] = prev["stream_scale_kmv"]
        payload["stream_scale_kmv_provenance"] = prev.get(
            "stream_scale_kmv_provenance",
            "carried forward from the prior committed snapshot "
            "(gated tier not re-run; SPARK_GRAFT_STREAM_SCALE_BENCH=1 "
            "re-measures)",
        )
    # r14: the 10x sweep and the rek64 tier get the same carry-forward
    # (they default ON, but a SPARK_GRAFT_SCALE_BENCH=0 /
    # SPARK_GRAFT_REK64_BENCH=0 refresh run used to silently drop the
    # scale curve from the headline artifact)
    if scale is None and prev and prev.get("scale"):
        payload["scale"] = prev["scale"]
        payload["scale_provenance"] = prev.get(
            "scale_provenance",
            "carried forward from the prior committed snapshot "
            "(gated tier not re-run; SPARK_GRAFT_SCALE_BENCH=1 "
            "re-measures)",
        )
    if rek64 is None and prev and prev.get("rek64"):
        payload["rek64"] = prev["rek64"]
        payload["rek64_provenance"] = prev.get(
            "rek64_provenance",
            "carried forward from the prior committed snapshot "
            "(gated tier not re-run; SPARK_GRAFT_REK64_BENCH=1 "
            "re-measures)",
        )
    if prev and prev.get("sf") == sf and prev.get("queries"):
        pq = prev["queries"]
        payload["prev_value"] = prev.get("value")
        if "shared_builds" not in prev:
            payload["methodology_note"] = (
                "shared builds (window table, signatures, pair caches, "
                "ANN artifacts) are now timed under their own names; "
                "per-query values are build-free marginal costs, so "
                "former build owners drop vs prev by their build cost "
                "— an attribution change, not a speedup claim (value "
                "still includes shared_builds_total)"
            )
        payload["vs_prev"] = {
            n: round(t / pq[n], 2) for n, t in timings.items()
            if pq.get(n)
        }
        # flag only material regressions (>1.3x AND >0.3 s absolute —
        # sub-second timings swing with ambient load), and only against
        # a same-methodology summary: cold-state medians vs the old
        # warm single-pass numbers mislabel honest attribution shifts
        # (e.g. a query now paying for a build a cache-mate used to
        # cover) as slowdowns
        if prev.get("bench_runs") == runs:
            payload["regressions"] = sorted(
                n for n, r in payload["vs_prev"].items()
                if r > 1.3 and timings[n] - pq[n] > 0.3
            )
            if payload["regressions"]:
                # r13: the per-round driver-window reorder changes
                # which registry member touches a session cache FIRST
                # (the shared builds: pair tables, k-means models,
                # persisted top-k scans), so a flagged query may simply
                # have inherited a cache-mate's scan this round —
                # cross-check `value`/`queries_total` (whole-registry
                # cost) before reading a flag as a code regression.
                payload["regressions_note"] = (
                    "flags are per-name medians; registry reorders "
                    "shift first-toucher attribution for session-"
                    "cached families — whole-registry value/"
                    "queries_total is the regression ground truth"
                )
        else:
            payload["methodology_change"] = (
                "per-query values are now cold-state medians of "
                f"{runs} passes; prev summary predates this, so "
                "regression flags are suppressed this round"
            )

    # cross-round attribution diff (VERDICT r13 item 4): per-query
    # ratios vs the last ROUND-COMMITTED snapshot, normalized by the
    # whole-registry median so ambient machine drift (every name
    # moving together — the documented r13 phenomenon) doesn't flag,
    # while a single name moving far off the registry trend (a real
    # regression OR a first-toucher attribution shift) does
    committed = _committed_round_summary()
    if committed:
        rnum, rprev = committed
        rq = rprev.get("queries") or {}
        if rprev.get("sf") == sf and rq:
            ratios = {n: t / rq[n] for n, t in timings.items()
                      if rq.get(n)}
            srt = sorted(ratios.values())
            med = srt[len(srt) // 2] if srt else 1.0
            flags = {
                n: {"prev": rq[n], "now": timings[n],
                    "ratio": round(r, 2)}
                for n, r in ratios.items()
                if r > 1.3 and r > 2 * med and timings[n] - rq[n] > 0.3
            }
            payload["vs_committed_prev_round"] = {
                "round": rnum,
                "common_keys": len(ratios),
                "median_ratio": round(med, 3),
                "flags": flags,
                "note": (
                    "flags exceed 2x the registry-median ratio vs the "
                    f"round-{rnum} committed snapshot (so uniform "
                    "ambient drift never flags); attribution shifts "
                    "between session-cache mates show up here as a "
                    "riser paired with a faller"
                ),
            }

    # the driver keeps only a bounded stdout TAIL, which can truncate
    # this (long) line — the durable copy lives in bench_summary.json
    summary_path.write_text(json.dumps(payload, indent=1) + "\n")
    print(json.dumps(payload), flush=True)
    # compact trailer (no per-query map) small enough to always fit in a
    # truncated tail window
    print(json.dumps({k: v for k, v in payload.items()
                      if k not in ("queries", "vs_prev", "spread")}),
          flush=True)


if __name__ == "__main__":
    main()
