"""Canonical GTS record schema (SURVEY §1.4).

The reference's single data abstraction is the Geo Time Series datapoint
(ref core/warp.go:40-45): ``{Ts float64-µs, Name, Labels map, Value
interface{}}``. Spark has no variant column, so the Go ``interface{}``
value splits into typed columns plus a type tag — this preserves the
encoder's type-directed behavior exactly (ref core/warp.go:447-474).

``value_type`` is one of 'double' | 'long' | 'boolean' | 'string' |
'opaque' | 'null' ('null' ≙ Go nil interface, e.g. an OpenTSDB point
whose JSON value is null — encoded as ``%v`` of nil; 'opaque' ≙ a Go
non-scalar interface value, e.g. an OpenTSDB JSON object/array —
value_s carries its JSON text, encoded unquoted-escaped like Go's
default ``%v`` branch; see encode.py).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

GTS_FIELDS = (
    "ts",
    "name",
    "labels",
    "value_d",
    "value_l",
    "value_b",
    "value_s",
    "value_type",
)

GTS_SCHEMA = T.StructType(
    [
        # µs since epoch; NULL ≙ Go NaN "unset" (ref core/warp.go:429-431)
        T.StructField("ts", T.LongType(), True),
        T.StructField("name", T.StringType(), True),
        T.StructField("labels", T.MapType(T.StringType(), T.StringType()), True),
        T.StructField("value_d", T.DoubleType(), True),
        T.StructField("value_l", T.LongType(), True),
        T.StructField("value_b", T.BooleanType(), True),
        T.StructField("value_s", T.StringType(), True),
        T.StructField("value_type", T.StringType(), True),
    ]
)

# Parsers append a per-row error column: null on success, else the
# reference's error message (the reference aborts whole requests on
# first error for Influx / Graphite-HTTP and skips bad lines on
# Graphite-TCP — callers pick the policy; see failfast()/permissive()).
PARSE_ERROR_COL = "parse_error"

GTS_WITH_ERROR_SCHEMA = T.StructType(
    list(GTS_SCHEMA.fields) + [T.StructField(PARSE_ERROR_COL, T.StringType(), True)]
)


def gts_columns(
    ts: Column,
    name: Column,
    labels: Column,
    value_d: Column | None = None,
    value_l: Column | None = None,
    value_b: Column | None = None,
    value_s: Column | None = None,
    value_type: Column | None = None,
    parse_error: Column | None = None,
) -> list[Column]:
    """Assemble the canonical projection, nulling absent value variants."""
    null = F.lit(None)
    return [
        ts.cast("long").alias("ts"),
        name.cast("string").alias("name"),
        labels.cast("map<string,string>").alias("labels"),
        (value_d if value_d is not None else null.cast("double")).alias("value_d"),
        (value_l if value_l is not None else null.cast("long")).alias("value_l"),
        (value_b if value_b is not None else null.cast("boolean")).alias("value_b"),
        (value_s if value_s is not None else null.cast("string")).alias("value_s"),
        (value_type if value_type is not None else null.cast("string")).alias("value_type"),
        (parse_error if parse_error is not None else null.cast("string")).alias(
            PARSE_ERROR_COL
        ),
    ]


def failfast(df: DataFrame) -> DataFrame:
    """Reference semantics for Influx / Graphite-HTTP: first parse error
    aborts the request (ref catalyser/influxdb.go:36, graphite.go:55).
    Raises if any row failed; returns the clean rows otherwise."""
    bad = df.where(F.col(PARSE_ERROR_COL).isNotNull()).select(PARSE_ERROR_COL).take(1)
    if bad:
        raise ValueError(f"parse error: {bad[0][PARSE_ERROR_COL]}")
    return df.drop(PARSE_ERROR_COL)


def permissive(df: DataFrame) -> DataFrame:
    """Reference semantics for Graphite-TCP: bad lines are counted and
    skipped (ref catalyser/graphite.go:276-283)."""
    return df.where(F.col(PARSE_ERROR_COL).isNull()).drop(PARSE_ERROR_COL)
