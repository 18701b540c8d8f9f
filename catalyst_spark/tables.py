"""Loaders for the driver's synthetic tables (TESTDATA.md).

Parquet-backed; Catalyst gets predicate pushdown + column pruning for
free. At 100 TB the same code path works against a partitioned table —
`spark.read.parquet` on a date-partitioned directory prunes partitions
from the same declarative plan.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Dimension tables small enough to broadcast at any realistic scale factor:
# nation is 25 rows and region 5 rows at every TPC-H SF; broadcasting them
# removes the shuffle on the fact side of Q7/Q8 entirely.
BROADCAST_TABLES = frozenset({"region", "nation"})

# Content tables whose downstream projections do the heavy per-row work
# (tokenize + per-shingle md5 for documents, vectorized numpy batches
# for embeddings). At bench SFs each is ONE parquet file -> ONE scan
# task, so that work serializes on a single core no matter the cluster
# width (opt guide §2.5: unsplittable input -> repartition immediately
# after the read). _SPREAD_KEYS names the deterministic hash key (never
# round-robin: re-run tasks must reproduce the same row placement,
# SPARK-38388). The repartition is GATED on the scan having fewer
# partitions than the session's parallelism — a production-scale table
# has thousands of splits, so the gate self-disables and no corpus
# shuffle is ever added at 100 TB.
#
# The spread is per-CONSUMER (r14): an interleaved A/B over 62 registry
# keys measured the split — shingle/window/md5 explodes win 2-5x from
# the 32-way spread, while scan-then-aggregate ops pay the exchange +
# task overhead with nothing to parallelize (0.1-1.0 s each, ~10 s per
# bench pass across the registry). Such call sites pass spread=False
# and read the raw single-task scan; both variants share one cached
# relation per flag, and results are identical either way (hash
# repartition only moves rows; every checked output is row-order-free).
_SPREAD_KEYS = {"documents": "doc_id", "embeddings": "vec_id"}

# (applicationId, sf_dir, name) -> the UNRESOLVED lazy scan DataFrame.
# `spark.read.parquet` re-lists the directory and re-reads the footer
# schema on the DRIVER every call (~0.13 s each, measured r14); with
# every query calling load() 1-4 times that was ~20% of the whole bench
# pass spent re-deriving an identical relation. The cached object is a
# LAZY PLAN NODE — no rows are cached and every execution still scans
# the parquet files (bench/oracle runs keep computing from the inputs);
# this is plan reuse, the in-code equivalent of the guide's file-listing
# cache (opt guide §6). Keyed by applicationId so a new session (new
# JVM, possibly changed files) never sees a stale relation.
_RELATION_MEMO: dict = {}


def load(spark: SparkSession, sf_dir: str, name: str,
         spread: bool = True) -> DataFrame:
    want_spread = spread and name in _SPREAD_KEYS
    key = (spark.sparkContext.applicationId, sf_dir, name, want_spread)
    hit = _RELATION_MEMO.get(key)
    if hit is not None:
        return hit
    if want_spread:
        # derive from the cached raw relation so both variants share
        # one scan node (and the raw build below runs once per table)
        df = load(spark, sf_dir, name, spread=False)
        par = spark.sparkContext.defaultParallelism
        if df.rdd.getNumPartitions() < par:
            df = df.repartition(par, _SPREAD_KEYS[name])
        _RELATION_MEMO[key] = df
        return df
    path = os.path.join(sf_dir, f"{name}.parquet")
    df = spark.read.parquet(path)
    if name == "events":
        # events.ts arrives in one of two parquet physical forms depending
        # on the generator: TIMESTAMP(NANOS) — readable only as a raw
        # nanosecond LONG (spark.sql.legacy.parquet.nanosAsLong, set in
        # session.py) — or TIMESTAMP(MICROS) with isAdjustedToUTC=false,
        # which Spark 4 surfaces as TIMESTAMP_NTZ. Normalize both to the
        # session-local TIMESTAMP (session tz pinned to UTC, so the NTZ
        # cast is value-preserving and matches DuckDB's naive reading).
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            df = df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
        elif ts_type == "timestamp_ntz":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    _RELATION_MEMO[key] = df
    return df


def load_all(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {t: load(spark, sf_dir, t) for t in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    dfs = load_all(spark, sf_dir)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
