#!/usr/bin/env python
"""r15 diagnostics: (a) per-round cost of the CC convergence loops,
(b) jobs-triggered-during-build for the build-heavy registry keys (to
split pure py4j/analysis construction from eager driver-loop actions).

    python plans/r15/diag_builds.py cc
    python plans/r15/diag_builds.py builds name1 name2 ...

Measurement tooling only.
"""

from __future__ import annotations

import os
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(REPO))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    mode = sys.argv[1]
    from catalyst_spark.session import get_spark
    from catalyst_spark.queries import ALL_QUERIES
    from catalyst_spark.queries.pipeline import reset_session_caches

    spark = get_spark("diag_r15", cpus=int(
        os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4))
    spark.range(1_000_000).selectExpr("sum(id)").collect()
    from catalyst_spark.tables import TABLES, load as load_table
    for t in TABLES:
        load_table(spark, SF_DIR, t).limit(1).collect()

    if mode == "cc":
        from pyspark.sql import functions as F
        import catalyst_spark.queries.pipeline as pl

        reset_session_caches(spark)
        pairs = pl.dedup_prefix_filter(spark, SF_DIR)
        n = pairs.count()
        print(f"prefix pairs: {n}")
        # round-by-round trace of _cc_labels on the dedup pair set
        p = pairs.where(F.col("a_id") != F.col("b_id"))
        sym = p.select("a_id", "b_id").union(
            p.select(F.col("b_id").alias("a_id"), F.col("a_id").alias("b_id")))
        edges = sym.union(
            sym.select("a_id").distinct()
            .select("a_id", F.col("a_id").alias("b_id"))).persist()
        t0 = time.perf_counter()
        labels = (
            edges.where(F.col("a_id") == F.col("b_id"))
            .select(F.col("a_id").alias("doc_id"), F.col("a_id").alias("label"))
            .localCheckpoint())
        prev = labels.agg(F.sum("label")).first()[0]
        print(f"  init: {time.perf_counter()-t0:.3f}s  n_nodes={labels.count()}")
        for i in range(20):
            t0 = time.perf_counter()
            labels = (
                edges.join(labels, edges["b_id"] == labels["doc_id"])
                .groupBy("a_id").agg(F.min("label").alias("label"))
                .select(F.col("a_id").alias("doc_id"), "label")
                .localCheckpoint())
            t1 = time.perf_counter()
            new = labels.agg(F.sum("label")).first()[0]
            t2 = time.perf_counter()
            print(f"  round {i}: ckpt={t1-t0:.3f}s sum={t2-t1:.3f}s "
                  f"labelsum={new}")
            if new == prev:
                break
            prev = new
        edges.unpersist()

        # threshold sensitivity keyed CC
        reset_session_caches(spark)
        pl.dedup_prefix_filter(spark, SF_DIR)  # warm shared pairs
        t0 = time.perf_counter()
        ALL_QUERIES["dedup_threshold_sensitivity"](spark, SF_DIR) \
            .write.format("noop").mode("overwrite").save()
        print(f"threshold_sensitivity total (pairs warm): "
              f"{time.perf_counter()-t0:.2f}s")
        return 0

    if mode == "builds":
        names = sys.argv[2:]
        sc = spark.sparkContext
        reset_session_caches(spark)
        import bench
        bench._time_shared_builds(spark, SF_DIR)
        print(f"{'key':34s} {'build':>6s} {'bjobs':>5s} {'exec':>6s}")
        for name in names:
            fn = ALL_QUERIES[name]
            tracker = sc.statusTracker()
            j0 = set(tracker.getJobIdsForGroup(None) or [])
            t0 = time.perf_counter()
            df = fn(spark, SF_DIR)
            t1 = time.perf_counter()
            j1 = set(tracker.getJobIdsForGroup(None) or [])
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            print(f"{name:34s} {t1-t0:6.2f} {len(j1-j0):5d} {t2-t1:6.2f}",
                  flush=True)
        return 0

    raise SystemExit(f"unknown mode {mode}")


if __name__ == "__main__":
    raise SystemExit(main())
