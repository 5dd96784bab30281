"""Structured Streaming surface.

The reference has no streaming operators (SURVEY §2.10); its
query-in-a-loop + insert pattern (Ex_Sum.v:30) is incremental view
maintenance, which maps to update-mode stateful aggregation. This
module provides the streaming realizations; `maintenance.py` provides
the batch/driver realization of the same semantics.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiat2_spark.catalog import normalize_ts, table_meta


def windowed_agg(events: DataFrame, window: str = "5 minutes", watermark: str = "10 minutes") -> DataFrame:
    """Tumbling-window count/sum per event_type. Works identically on a
    batch DataFrame (F.window is a plain expression) and a streaming one
    (where the watermark bounds state for late data)."""
    src = events
    if events.isStreaming:
        src = events.withWatermark("ts", watermark)
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
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


def stream_from_parquet(spark: SparkSession, path: str, schema) -> DataFrame:
    """File-source stream over a parquet directory — the local smoke
    harness for streaming queries (prod: Kafka/Kinesis source, same
    downstream plan)."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def run_streaming_window_smoke(spark: SparkSession, parquet_path: str) -> list:
    """Drive the windowed aggregation as a real streaming query against
    the events parquet via the memory sink; returns the collected rows.
    `processAllAvailable` makes it synchronous for tests."""
    return run_streaming_smoke(spark, parquet_path, windowed_agg, "fiat2_stream_smoke", mode="complete")


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


def streaming_dedup(events: DataFrame, id_cols: list[str], watermark: str = "1 hour") -> DataFrame:
    """Exactly-once-per-key stream: dropDuplicates keyed on id_cols with
    watermark-bounded state (late duplicates beyond the watermark age
    out of the dedup map — the scale knob)."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return src.dropDuplicates(id_cols)


RUNNING_STATE_SCHEMA = "total double, n bigint"
RUNNING_OUT_SCHEMA = "event_type string, total double, n bigint"


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    max_gap_minutes: int = 10,
    watermark: str = "30 minutes",
) -> DataFrame:
    """Stream-stream inner join with an event-time bound: pair each left
    row with the right rows sharing ``key`` whose ``ts`` falls in
    (left.ts, left.ts + max_gap_minutes] — e.g. click→purchase
    attribution. The same plan runs batch and streaming: on streams,
    both sides carry watermarks and the two-sided time bound lets Spark
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
        l = l.withWatermark("l_ts", watermark)
    if right.isStreaming:
        r = r.withWatermark("r_ts", watermark)
    joined = l.join(
        r,
        (F.col("k") == F.col("rk"))
        & (F.col("r_ts") > F.col("l_ts"))
        & (F.col("r_ts") <= F.col("l_ts") + F.expr(f"INTERVAL {max_gap_minutes} MINUTES")),
    )
    return joined.select(
        F.col("k").alias(key),
        "l_event_id",
        "r_event_id",
        "l_ts",
        "r_ts",
        (F.unix_timestamp("r_ts") - F.unix_timestamp("l_ts")).alias("gap_sec"),
    )


def _running_totals_fn(key, pdf_iter, state):
    """applyInPandasWithState body: fold each micro-batch's rows into
    (total, n) state; emit the updated running totals per key."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    if state.exists:
        total, n = state.get
    else:
        total, n = 0.0, 0
    for pdf in pdf_iter:
        total += float(pdf["value"].sum())
        n += int(len(pdf))
    state.update((total, n))
    yield pd.DataFrame({"event_type": [key[0]], "total": [total], "n": [n]})


def stateful_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-key
    running (total, count) carried across micro-batches in GroupState —
    the engine escape hatch for operators update-mode aggregation can't
    express (arbitrary Python state transitions, Arrow-batched). State
    is partitioned by key → scales horizontally; no timeout so state is
    unbounded (add GroupStateTimeout for production eviction)."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("event_type").applyInPandasWithState(
        _running_totals_fn,
        outputStructType=RUNNING_OUT_SCHEMA,
        stateStructType=RUNNING_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


EWMA_STATE_SCHEMA = "s double, n bigint"
EWMA_OUT_SCHEMA = "user_id bigint, n bigint, ewma double"


def _ewma_fn(key, pdf_iter, state):
    """applyInPandasWithState body for the incremental EWMA: state is
    the pair (smoothed value, count); each micro-batch's rows fold in
    (ts, event_id) order via s' = 0.5·(s + x) — the identical exact
    halving the batch `ewma_user_value` fold performs, so CPython and
    JVM doubles agree bitwise."""
    import pandas as pd  # noqa: PLC0415 — runs on executors

    if state.exists:
        s, n = state.get
    else:
        s, n = 0.0, 0
    pdf = pd.concat(list(pdf_iter)).sort_values(["ts", "event_id"])
    for v in pdf["value"]:
        s = float(v) if n == 0 else 0.5 * (s + float(v))
        n += 1
    state.update((s, n))
    # raw final double — the fold is bit-exact across engines, rounding
    # renderings are not (see ewma_user_value)
    yield pd.DataFrame({"user_id": [key[0]], "n": [n], "ewma": [s]})


def stateful_ewma(events: DataFrame) -> DataFrame:
    """Streaming twin of the batch `ewma_user_value` query: per-user
    EWMA carried incrementally in GroupState — the unbounded-history
    form the batch docstring points to (s ← αs + (1−α)x per event, α =
    1/2, O(1) state per entity instead of a growing collected
    sequence). Ordering contract: rows are folded in (ts, event_id)
    order WITHIN each micro-batch; cross-batch order is the source's
    arrival order, as for any streaming fold — with an in-order source
    the final state equals the batch fold exactly (agreement-tested).
    Keyed by high-cardinality user_id → horizontal scale."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return events.groupBy("user_id").applyInPandasWithState(
        _ewma_fn,
        outputStructType=EWMA_OUT_SCHEMA,
        stateStructType=EWMA_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def _staged_stream(spark: SparkSession, parquet_path: str):
    """File-source stream over a single parquet file (staged via symlink
    into a temp dir), with the cached static schema and the events
    timestamp normalization of every batch read."""
    import os
    import tempfile

    meta = table_meta(spark, parquet_path)
    stage = tempfile.mkdtemp(prefix="fiat2_stream_")
    os.symlink(os.path.abspath(parquet_path), os.path.join(stage, "part-0.parquet"))
    return normalize_ts(stream_from_parquet(spark, stage, meta.schema), meta, event_time="ts")


def run_streaming_smoke(spark: SparkSession, parquet_path: str, plan, name: str, mode: str = "update") -> list:
    """Drive `plan(stream_df)` as a real streaming query into a memory
    sink; synchronous via processAllAvailable. Returns collected rows."""
    q = (
        plan(_staged_stream(spark, parquet_path))
        .writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


def sessionize(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Sessionization: per-user session ids via gap detection — lag(ts)
    + cumulative sum over the gap indicator (the batch analog of
    streaming session_window). Returns per-session bounds and counts."""
    from pyspark.sql import Window as W

    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gap = (
        F.col("ts").cast("long")
        - F.lag(F.col("ts").cast("long"), 1, None).over(w)
    )
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    with_id = events.withColumn(
        "session_id", F.sum(new_sess).over(w.rowsBetween(W.unboundedPreceding, 0))
    )
    return with_id.groupBy("user_id", "session_id").agg(
        F.min("ts").alias("session_start"),
        F.max("ts").alias("session_end"),
        F.count(F.lit(1)).alias("n_events"),
    )
