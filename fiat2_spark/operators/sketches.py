"""Mergeable sketches over a value column — Count-Min for approximate
frequency, HyperLogLog for approximate distinct counts at scale.

The reference maintains exact materialized aggregates (SumAgg.v,
MinAgg.v); a CMS is the sublinear cousin for frequency queries over
unbounded key domains (token counts over 100 TB of text): a
depth × width grid of counters where every value increments one cell
per hash row, and a point estimate reads the minimum of its cells —
a one-sided (over-counting) bound.

Scale design: the sketch is *distributive* — per-partition sub-sketches
merge by cell-wise addition, which is exactly Spark's partial
aggregation. Building over any input shuffles at most depth × width
counter rows per partition, independent of data size; point queries are
a broadcast join against the tiny sketch. Hashes are md5-derived (no
RNG), so a SQL oracle recomputes the identical sketch — the approximate
operator is differentially tested exactly, like the LSH family.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

CMS_DEPTH = 4
CMS_WIDTH = 64


def cms_cell(val: Column, d: int) -> Column:
    """Row-d cell index: first 8 hex digits of md5('d#' ‖ value) mod CMS_WIDTH.
    32-bit base hash, always positive — identical in any md5-capable
    engine."""
    h = F.conv(F.substring(F.md5(F.concat(F.lit(f"{d}#"), val)), 1, 8), 16, 10).cast("long")
    return h % CMS_WIDTH


def cms_build(
    df: DataFrame,
    val_col: str,
    weight_col: str | None = None,
) -> DataFrame:
    """Sketch table (d, cell, cnt), ≤ CMS_DEPTH × CMS_WIDTH rows. One explode +
    partial/final aggregate — the shuffle carries sub-sketches, never
    data. Prefer building from a pre-aggregated (value, count) table
    with ``weight_col``: the cell hashing then runs over the distinct
    values (vocabulary), not every occurrence — the value-count groupBy
    is a plain word-count whose shuffle is already |vocab|-sized."""
    cells = df.select(
        F.col(weight_col).alias("__w") if weight_col else F.lit(1).cast("long").alias("__w"),
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("d"), cms_cell(F.col(val_col), d).alias("cell"))
                for d in range(CMS_DEPTH)
            ])
        ).alias("dc"),
    )
    return cells.groupBy(F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell")).agg(
        F.sum("__w").alias("cnt")
    )


def cms_estimate(sketch: DataFrame, queries: DataFrame) -> DataFrame:
    """Point estimates per ``queries.tok``: est(q) = min_d
    sketch[d][cell_d(q)] ≥ true count.
    A value the sketch never saw may still land in occupied cells — the
    estimate is then the (deterministic) CMS over-count, never an error.
    Broadcast-joins the tiny sketch; no shuffle of the query set."""
    qcells = queries.select(
        "tok",
        F.explode(
            F.array(*[
                F.struct(F.lit(d).alias("d"), cms_cell(F.col("tok"), d).alias("cell"))
                for d in range(CMS_DEPTH)
            ])
        ).alias("dc"),
    ).select("tok", F.col("dc.d").alias("d"), F.col("dc.cell").alias("cell"))
    joined = qcells.join(F.broadcast(sketch), ["d", "cell"], "left")
    return joined.groupBy("tok").agg(
        F.min(F.coalesce(F.col("cnt"), F.lit(0).cast("long"))).alias("est")
    )


# -- HyperLogLog ------------------------------------------------------------

HLL_M = 64          # 2^6 buckets
HLL_ALPHA = 0.709   # alpha_64 from the original HLL paper (Flajolet 2007)


def hll_bucket_rho(val: Column) -> tuple[Column, Column]:
    """(bucket, rho) for one value: bucket = first hex byte of md5 mod m;
    rho = 1 + leading zeros of the next 32 bits, computed as
    33 - bit_length(w) with bit_length as a chain of exact integer
    comparisons — no floating-point log, so any md5-capable engine
    reproduces it bit-for-bit."""
    h = F.md5(val)
    bucket = F.conv(F.substring(h, 1, 2), 16, 10).cast("long") % HLL_M
    w = F.conv(F.substring(h, 3, 8), 16, 10).cast("long")
    bit_length = sum((w >= F.lit(1 << i)).cast("int") for i in range(32))
    rho = (F.lit(33) - bit_length).cast("long")
    return bucket, rho


def hll_build(df: DataFrame, val_col: str) -> DataFrame:
    """Sketch table (bucket, mj): max rho per bucket, ≤ m rows. The
    aggregate is max — distributive, so partial (map-side) aggregation
    merges per-partition sub-sketches for free and the shuffle carries
    ≤ m rows per partition regardless of input size. Two HLL sketches
    over different inputs merge by the same bucket-wise max (union
    semantics) — the mergeable-summary property that matters at 100 TB."""
    bucket, rho = hll_bucket_rho(F.col(val_col).cast("string"))
    return (
        df.select(bucket.alias("bucket"), rho.alias("rho"))
        .groupBy("bucket")
        .agg(F.max("rho").alias("mj"))
    )


def hll_estimate(sketch: DataFrame) -> DataFrame:
    """Raw HLL estimate alpha_m · m² / Σ_j 2^(-M_j) (empty buckets
    contribute 2⁰ = 1). Every 2^(-M_j) term is an exact dyadic double
    (computed as 1.0 / (1 << M_j), no pow()), the sum of ≤ m exact terms
    is exact in any order, and the final multiply/divide are IEEE
    correctly-rounded — the estimate is deterministic and engine-
    portable. Bias corrections that need ln() are deliberately omitted
    (floating-point log is not reproducible across engines)."""
    return sketch.agg(
        F.round(
            F.lit(HLL_ALPHA * HLL_M * HLL_M)
            / (
                (F.lit(HLL_M) - F.count(F.lit(1))).cast("double")
                + F.sum(F.expr("1.0 / CAST(shiftleft(CAST(1 AS BIGINT), CAST(mj AS INT)) AS DOUBLE)"))
            ),
            6,
        ).alias("est_distinct")
    )
