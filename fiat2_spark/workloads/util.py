"""Shared helpers for workload definitions.

Float discipline for oracle comparison: double summation is
order-dependent, and Spark's partial aggregation order differs from
DuckDB's sequential scan. Any aggregate over a double column therefore
runs in DECIMAL (exact, associative) and casts the *result* to double —
both engines produce bit-identical values. The inputs here are prices
with 2-digit cents, so DECIMAL(18,2) is lossless.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # events.ts has shipped as both TIMESTAMP(NANOS) (older testdata,
        # which Spark's vectorized reader rejects unless surfaced as long
        # nanos) and TIMESTAMP(MICROS). Adapt to what's on disk: when the
        # column arrives as long nanos, truncate to micros — exactly what
        # DuckDB does when it surfaces the column as (microsecond)
        # TIMESTAMP, so the oracle sees identical values.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = spark.read.parquet(path)
        if dict(df.dtypes).get("ts") == "bigint":
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
            )
        elif dict(df.dtypes).get("ts") == "timestamp_ntz":
            # Newer testdata ships TIMESTAMP(MICROS) (isAdjustedToUTC=false),
            # which Spark surfaces as TIMESTAMP_NTZ — a type watermarks and
            # epoch casts reject. Cast to TIMESTAMP: the wall-clock rendering
            # (what the oracle compares) is invariant under the session tz.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def dec2(c: Column) -> Column:
    """Lossless decimal view of a 2-digit-cents double column."""
    return c.cast("decimal(18,2)")


def dsum(c: Column) -> Column:
    """Exact sum of a cents column, rendered back as double."""
    return F.sum(dec2(c)).cast("double")


# SQL fragment mirrors of the above (DuckDB side)
def sql_dsum(col: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


def registry():
    """A workload module's registry: ``QUERIES, ORACLES, q = registry()``.
    ``@q(name, oracle)`` records the decorated fn under ``name`` in
    QUERIES and, when given, its DuckDB SQL in ORACLES."""
    queries, oracles = {}, {}

    def q(name: str, oracle: str | None = None):
        def reg(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn
        return reg

    return queries, oracles, q
