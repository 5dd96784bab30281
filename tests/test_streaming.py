"""Structured Streaming smoke: the windowed aggregation runs as a real
streaming query (file source → watermark → memory sink) and agrees with
its own batch execution — same plan, two runtimes."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fiat2_spark.catalog import normalize_ts, table_meta
from fiat2_spark.streaming.stream_agg import keyed_agg, windowed_agg
from fiat2_spark.workloads.util import tbl
from tests.conftest import SF_SMOKE, run_streaming_smoke, stream_from_parquet


def test_streaming_window_matches_batch(spark):
    batch = windowed_agg(tbl(spark, SF_SMOKE, "events")).collect()
    stream_rows = run_streaming_smoke(
        spark, f"{SF_SMOKE}/events.parquet", windowed_agg, "fiat2_stream_smoke", mode="complete"
    )
    key = lambda r: (r["window_start"], r["event_type"])  # noqa: E731
    b = {key(r): (r["n"], r["total"]) for r in batch}
    s = {key(r): (r["n"], r["total"]) for r in stream_rows}
    assert b == s and len(b) > 0


def test_streaming_keyed_agg_matches_batch(spark):
    """Update-mode stateful agg (the SumAgg/MinAgg maintenance analog):
    the stream's final per-key state equals the batch recompute."""
    batch = {r["event_type"]: (r["total"], r["vmin"], r["n"])
             for r in keyed_agg(tbl(spark, SF_SMOKE, "events")).collect()}
    rows = run_streaming_smoke(spark, f"{SF_SMOKE}/events.parquet", keyed_agg, "keyed_agg_smoke")
    # update mode emits one row per key per batch; last emission wins
    stream = {r["event_type"]: (r["total"], r["vmin"], r["n"]) for r in rows}
    assert stream == batch and len(batch) > 0


def test_streaming_interval_join_matches_batch(spark):
    """Stream-stream interval join (click→purchase attribution): the
    watermarked two-stream join emits exactly the batch join's pairs."""
    from fiat2_spark.streaming.stream_agg import interval_join

    ev = tbl(spark, SF_SMOKE, "events")
    clicks = ev.filter(F.col("event_type") == "click")
    purchases = ev.filter(F.col("event_type") == "purchase")
    batch = {
        (r["user_id"], r["l_event_id"], r["r_event_id"])
        for r in interval_join(clicks, purchases, "user_id").collect()
    }

    import os
    import tempfile

    src = f"{SF_SMOKE}/events.parquet"
    meta = table_meta(spark, src)
    stage = tempfile.mkdtemp(prefix="fiat2_ssj_")
    os.symlink(os.path.abspath(src), os.path.join(stage, "a.parquet"))

    def staged():
        return normalize_ts(stream_from_parquet(spark, stage, meta.schema), meta, "ts")

    joined = interval_join(
        staged().filter(F.col("event_type") == "click"),
        staged().filter(F.col("event_type") == "purchase"),
        "user_id",
    )
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("ssj_smoke")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM ssj_smoke").collect()
    finally:
        q.stop()
    stream = {(r["user_id"], r["l_event_id"], r["r_event_id"]) for r in rows}
    assert stream == batch and len(batch) > 0


def test_join_agg_view_matches_scratch(spark):
    """JoinAggView: interleaved two-sided inserts must equal the
    from-scratch join-aggregate over the final state (delta-join
    bilinearity — each pair counted exactly once)."""
    from fiat2_spark.streaming.maintenance import GroupIndex, JoinAggView

    dim = spark.createDataFrame(
        [(k, k % 3) for k in range(10)], "k long, g long"
    )
    fact = spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(40)], "i long, k long, v double"
    )
    d0, d1 = [dim.filter((F.col("k") % 2) == p) for p in range(2)]
    fb = [fact.filter((F.col("i") % 4) == p) for p in range(4)]
    view = JoinAggView(
        d0, fb[0], ["k"],
        GroupIndex(["g"], {"n": ("count", F.lit(1)), "s": ("sum", F.col("v"))}),
    )
    view.insert_right(fb[1])
    view.insert_left(d1)
    view.insert_right(fb[2])
    view.insert_right(fb[3])
    got = {r["g"]: (r["n"], r["s"]) for r in view.read().collect()}
    want = {
        r["g"]: (r["n"], r["s"])
        for r in dim.join(fact, "k")
        .groupBy("g")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("v").alias("s"))
        .collect()
    }
    assert got == want and len(want) == 3


def test_sessionize_matches_native_session_window(spark):
    """Our gap+lag sessionization must agree with Spark's native
    session_window (window merging) on session starts, event counts,
    and last-event times — two algorithms, one semantics."""
    from fiat2_spark.streaming.stream_agg import sessionize

    ev = tbl(spark, SF_SMOKE, "events")
    ours = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["session_end"])
        for r in sessionize(ev).collect()
    }
    native = {
        (r["user_id"], r["first_ts"]): (r["n"], r["last_ts"])
        for r in ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.min("ts").alias("first_ts"),
            F.max("ts").alias("last_ts"),
            F.count(F.lit(1)).alias("n"),
        )
        .collect()
    }
    assert ours == native and len(ours) > 0


def test_streaming_static_enrichment_matches_batch(spark):
    """Stream-static join (dimension enrichment): a streaming fact side
    joined to a static broadcast dim emits exactly the batch join's
    rows — the enrichment shape every production pipeline runs."""
    import os
    import tempfile

    dim = spark.createDataFrame(
        [(i, f"u{i % 4}") for i in range(50)], "user_id long, cohort string"
    )
    src = f"{SF_SMOKE}/events.parquet"
    stage = tempfile.mkdtemp(prefix="fiat2_enrich_")
    os.symlink(os.path.abspath(src), os.path.join(stage, "a.parquet"))

    stream = stream_from_parquet(spark, stage, table_meta(spark, src).schema)
    joined = stream.select("event_id", "user_id").join(F.broadcast(dim), "user_id")
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName("enrich_smoke")
        .start()
    )
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM enrich_smoke").collect()
    finally:
        q.stop()
    got = {(r["event_id"], r["cohort"]) for r in rows}
    want = {
        (r["event_id"], r["cohort"])
        for r in tbl(spark, SF_SMOKE, "events").select("event_id", "user_id").join(dim, "user_id").collect()
    }
    assert got == want and len(want) > 0


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_watermark_drops_late_rows_in_append_mode(spark):
    """Late-data semantics made observable: batch 1 advances the
    watermark far past an old window; batch 2 delivers an event INSIDE
    that closed window. In append mode with a watermark, the closed
    window's result must emit once (count from batch 1 only) and the
    late event must not reopen it — the bounded-state contract that
    lets a 100 TB stream age out aggregation state."""
    import datetime
    import os
    import tempfile

    b = datetime.datetime(2024, 1, 1)

    def rows(*offs_min):
        return [(b + datetime.timedelta(minutes=m), "e", 1.0) for m in offs_min]

    schema = "ts timestamp, event_type string, value double"
    stage = tempfile.mkdtemp(prefix="fiat2_late_")
    # batch 0: two events in window [0,5) + one at +60min (watermark -> +50)
    spark.createDataFrame(rows(1, 2, 60), schema).coalesce(1).write.parquet(
        os.path.join(stage, "b0")
    )
    from fiat2_spark.streaming.stream_agg import windowed_agg

    stream = (
        spark.readStream.schema(schema)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    sink = f"late_sink_{id(stage)}"
    q = (
        windowed_agg(stream)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(sink)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 1, written only after batch 0 fully processed (so the
        # watermark is already at +50): a LATE event back inside [0,5)
        spark.createDataFrame(rows(3), schema).coalesce(1).write.parquet(
            os.path.join(stage, "b1")
        )
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        (r["window_start"].minute, r["n"])
        for r in spark.sql(f"SELECT * FROM {sink}").collect()
    }
    # the [0,5) window closed with n=2; the late 3rd event was dropped.
    assert (0, 2) in got
    assert (0, 3) not in got
