"""Structured Streaming surface.

The reference has no streaming operators (SURVEY §2.10); its
query-in-a-loop + insert pattern (Ex_Sum.v:30) is incremental view
maintenance, which maps to update-mode stateful aggregation. This
module provides the streaming realizations; `maintenance.py` provides
the batch/driver realization of the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def windowed_agg(events: DataFrame) -> DataFrame:
    """5-minute tumbling-window count/sum per event_type. Works
    identically on a batch DataFrame (F.window is a plain expression)
    and a streaming one (where a 10-minute watermark bounds state for
    late data)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", "10 minutes")
    return (
        src.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            "n",
            "total",
        )
    )


def keyed_agg(events: DataFrame) -> DataFrame:
    """Per-key SUM/MIN/COUNT — the reference's SumAgg/MinAgg/DictIdx
    materialized aggregates (SumAgg.v:17-18, MinAgg.v:16-17,
    DictIndexImpl.v:25-33) realized as one stateful aggregation: in
    update mode, Structured Streaming maintains exactly the per-insert
    O(1) aggregate updates the reference's cons_to_add_head /
    cons_to_min_head rewrites prove correct. Runs identically on a
    batch frame (full recompute) — the differential check."""
    return events.groupBy("event_type").agg(
        F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        F.min(F.col("value").cast("decimal(18,2)")).cast("double").alias("vmin"),
        F.count(F.lit(1)).alias("n"),
    )


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
) -> DataFrame:
    """Stream-stream inner join with an event-time bound: pair each left
    row with the right rows sharing ``key`` whose ``ts`` falls in
    (left.ts, left.ts + 10 minutes] — e.g. click→purchase
    attribution. The same plan runs batch and streaming: on streams,
    both sides carry 30-minute watermarks and the two-sided time bound lets Spark
    expire join state (the canonical bounded stream-stream join; without
    the bound, state grows forever). Batch planning is a hash join on
    the key with the range as a post-join conjunct — one shuffle per
    side, no nested loop. Column names are prefixed l_/r_ to keep the
    self-join unambiguous.
    Output: (key, l_event_id, r_event_id, l_ts, r_ts, gap_sec)."""
    l = left.select(
        F.col(key).alias("k"),
        F.col("event_id").alias("l_event_id"),
        F.col("ts").alias("l_ts"),
    )
    r = right.select(
        F.col(key).alias("rk"),
        F.col("event_id").alias("r_event_id"),
        F.col("ts").alias("r_ts"),
    )
    # each watermark is gated on ITS OWN side's isStreaming: an
    # asymmetric call (stream ⋈ batch) must still watermark the
    # streaming side — gating both on the left would leave a streaming
    # right side unwatermarked, so Spark either rejects the plan or
    # keeps its join state forever
    if left.isStreaming:
        l = l.withWatermark("l_ts", "30 minutes")
    if right.isStreaming:
        r = r.withWatermark("r_ts", "30 minutes")
    joined = l.join(
        r,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr("INTERVAL 10 MINUTES")),
    )
    return joined.select(
        F.col("k").alias(key),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).alias("gap_sec"),
    )


def sessionize(events: DataFrame) -> DataFrame:
    """Sessionization: per-user session ids via 30-minute gap detection — lag(ts)
    + cumulative sum over the gap indicator (the batch analog of
    streaming session_window). Returns per-session bounds and counts."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long"), 1, None).over(w)
    )
    new_sess = F.when(gap.isNull() | (gap > 30 * 60), 1).otherwise(0)
    with_id = events.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return with_id.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
