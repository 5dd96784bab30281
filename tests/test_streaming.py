"""Structured Streaming smoke: the windowed aggregation runs as a real
streaming query (file source → watermark → memory sink) and agrees with
its own batch execution — same plan, two runtimes."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from fiat2_spark.catalog import normalize_ts, table_meta
from fiat2_spark.streaming.stream_agg import (
    keyed_agg,
    run_streaming_smoke,
    run_streaming_window_smoke,
    stateful_running_totals,
    streaming_dedup,
    windowed_agg,
)
from fiat2_spark.workloads.util import tbl
from tests.conftest import SF_SMOKE


def test_streaming_window_matches_batch(spark):
    batch = windowed_agg(tbl(spark, SF_SMOKE, "events")).collect()
    stream_rows = run_streaming_window_smoke(spark, f"{SF_SMOKE}/events.parquet")
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


def test_streaming_stateful_running_totals(spark):
    """applyInPandasWithState custom operator: per-key running totals
    carried in GroupState equal the batch sum/count."""
    ev = tbl(spark, SF_SMOKE, "events")
    batch = {
        r["event_type"]: (round(r["total"], 6), r["n"])
        for r in ev.groupBy("event_type")
        .agg(F.sum("value").alias("total"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    rows = run_streaming_smoke(
        spark, f"{SF_SMOKE}/events.parquet", stateful_running_totals, "running_totals_smoke"
    )
    stream = {r["event_type"]: (round(r["total"], 6), r["n"]) for r in rows}
    assert stream == batch and len(batch) > 0


def test_streaming_dedup(spark):
    """Watermarked dropDuplicates: each event_id survives exactly once
    even when the source replays the batch twice."""
    import os
    import tempfile

    src = f"{SF_SMOKE}/events.parquet"
    meta = table_meta(spark, src)
    stage = tempfile.mkdtemp(prefix="fiat2_dedup_")
    os.symlink(os.path.abspath(src), os.path.join(stage, "a.parquet"))
    os.symlink(os.path.abspath(src), os.path.join(stage, "b.parquet"))  # replay

    from fiat2_spark.streaming.stream_agg import stream_from_parquet

    stream = normalize_ts(stream_from_parquet(spark, stage, meta.schema), meta, "ts")
    q = (
        streaming_dedup(stream, ["event_id"])
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("dedup_smoke")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT count(*) AS n, count(DISTINCT event_id) AS d FROM dedup_smoke").collect()[0]
    finally:
        q.stop()
    assert got["n"] == got["d"] == tbl(spark, SF_SMOKE, "events").select("event_id").distinct().count()


def test_streaming_interval_join_matches_batch(spark):
    """Stream-stream interval join (click→purchase attribution): the
    watermarked two-stream join emits exactly the batch join's pairs."""
    from fiat2_spark.streaming.stream_agg import interval_join, stream_from_parquet

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


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_join_agg_view_streaming_matches_scratch(spark):
    """JoinAggView driven by a REAL streaming source: fact batches
    arrive as files through readStream + foreachBatch, each micro-batch
    applied via the delta-join insert path; the final maintained
    aggregate equals the from-scratch join-aggregate."""
    import os
    import tempfile

    from fiat2_spark.streaming.maintenance import (
        GroupIndex, JoinAggView, join_agg_foreach_batch,
    )

    dim = spark.createDataFrame([(k, k % 3) for k in range(10)], "k long, g long")
    fact = spark.createDataFrame(
        [(i, i % 10, float(i)) for i in range(40)], "i long, k long, v double"
    )
    stage = tempfile.mkdtemp(prefix="fiat2_javstream_")
    for p in range(4):
        fact.filter((F.col("i") % 4) == p).coalesce(1).write.parquet(
            os.path.join(stage, f"b{p}")
        )
    view = JoinAggView(
        dim,
        spark.createDataFrame([], fact.schema),
        ["k"],
        GroupIndex(["g"], {"n": ("count", F.lit(1)), "s": ("sum", F.col("v"))}),
    )
    stream = (
        spark.readStream.schema(fact.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = join_agg_foreach_batch(stream, view, side="right")
    try:
        q.processAllAvailable()
    finally:
        q.stop()
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
        for r in sessionize(ev, gap_minutes=30).collect()
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

    from fiat2_spark.streaming.stream_agg import stream_from_parquet

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
def test_dedup_corpus_streaming_matches_batch(spark):
    """Corpus-growth dedup driven by a real file stream: batches of
    documents (with duplicate fingerprints within AND across batches,
    and collisions with the pre-existing corpus) ingest one micro-batch
    at a time; the accumulated novel set must equal the one-shot batch
    dedup of everything against the original corpus."""
    import os
    import tempfile

    from fiat2_spark.streaming.maintenance import (
        DedupCorpus, dedup_corpus_foreach_batch,
    )

    # fingerprint = id % 7 → plenty of collisions everywhere
    base = spark.createDataFrame(
        [(i, f"fp{i % 7}") for i in range(3)], "doc_id long, fp string"
    )
    arriving = spark.createDataFrame(
        [(i, f"fp{i % 7}") for i in range(10, 30)], "doc_id long, fp string"
    )
    stage = tempfile.mkdtemp(prefix="fiat2_dedupstream_")
    for p in range(4):
        arriving.filter((F.col("doc_id") % 4) == p).coalesce(1).write.parquet(
            os.path.join(stage, f"b{p}")
        )
    corpus = DedupCorpus(base, "fp", "doc_id")
    sink: list = []
    stream = (
        spark.readStream.schema(arriving.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = dedup_corpus_foreach_batch(stream, corpus, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["fp"]: True for r in sink}
    # one-shot model: novel fingerprints = arriving minus base's set
    base_fps = {f"fp{i % 7}" for i in range(3)}
    want = {f"fp{i % 7}" for i in range(10, 30)} - base_fps
    assert set(got) == want
    # every novel fingerprint surfaced exactly once across all batches
    assert len(sink) == len(want)
    # and the seen set now swallows everything: re-ingesting yields nothing
    assert corpus.ingest(arriving).count() == 0


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
        windowed_agg(stream, window="5 minutes", watermark="10 minutes")
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


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_span_dedup_corpus_streaming_matches_batch(spark):
    """Span-level corpus-growth dedup driven by a real file stream:
    doc-id-ordered batches (duplicate segments within docs, across
    docs, and across batches) ingest one micro-batch at a time; the
    accumulated per-doc kept stats must equal the one-shot
    span_dedup_stats over the whole corpus (restricted to docs that
    kept at least one segment)."""
    import os
    import tempfile

    from fiat2_spark.operators.dedup import span_dedup_stats
    from fiat2_spark.streaming.maintenance import (
        SpanDedupCorpus, span_dedup_corpus_foreach_batch,
    )

    words = ["aa", "bb", "cc"]
    docs = [
        (i, " ".join(words[(i + j) % 3] for j in range(5 + i % 4)))
        for i in range(12)
    ]
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    stage = tempfile.mkdtemp(prefix="fiat2_spanstream_")
    # doc-id-ordered batches: batch b holds docs [3b, 3b+3)
    for b in range(4):
        sdf.filter((F.col("doc_id") >= 3 * b) & (F.col("doc_id") < 3 * (b + 1))) \
            .coalesce(1).write.parquet(os.path.join(stage, f"b{b}"))
    corpus = SpanDedupCorpus(spark, seg_len=2)
    sink: list = []
    stream = (
        spark.readStream.schema(sdf.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = span_dedup_corpus_foreach_batch(stream, corpus, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {r["doc"]: (r["n_kept"], r["n_kept_tokens"]) for r in sink}
    oneshot = {
        r["doc"]: (r["n_kept"], r["n_kept_tokens"])
        for r in span_dedup_stats(sdf, "doc_id", "text", seg_len=2).collect()
        if r["n_kept"] > 0
    }
    assert got == oneshot


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_moments_view_streaming_prequential(spark):
    """Running-moments anomaly scoring through a real file stream: the
    final state must equal the one-shot moments of everything ingested
    (decimal adds are order-insensitive), and each batch's flags must
    match scoring that batch against the moments of all PRIOR batches
    (prequential order) — verified against a Python model."""
    import os
    import tempfile

    from decimal import Decimal

    from fiat2_spark.streaming.maintenance import (
        MomentsView, moments_foreach_batch,
    )

    rows = [
        # key 'a': tight cluster with one wild outlier in a later batch
        *[(i, "a", 10.0 + (i % 3)) for i in range(12)],
        (103, "a", 500.0),  # 103 % 4 == 3: arrives in the LAST batch
        # key 'b': all identical (zero variance — epsilon floor path)
        *[(200 + i, "b", 7.0) for i in range(6)],
    ]
    df = spark.createDataFrame(rows, "event_id long, k string, value double")
    stage = tempfile.mkdtemp(prefix="fiat2_moments_")
    for b in range(4):
        df.filter((F.col("event_id") % 4) == b).coalesce(1).write.parquet(
            os.path.join(stage, f"b{b}")
        )
    view = MomentsView(spark, "k", "value")
    sink: list = []
    stream = (
        spark.readStream.schema(df.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = moments_foreach_batch(stream, view, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    # final state equals the one-shot moments
    got_state = {
        r["k"]: (r["n"], r["s"], r["s2"]) for r in view.state.collect()
    }
    model_state: dict = {}
    for _, k, v in rows:
        n, s, s2 = model_state.get(k, (0, Decimal(0), Decimal(0)))
        dv = Decimal(f"{v:.2f}")
        model_state[k] = (n + 1, s + dv, s2 + dv * dv)
    assert got_state == model_state

    # the outlier was flagged (it arrived after enough 'a' mass), and
    # nothing from the zero-variance key was
    flagged = {(r["k"], r["value"]) for r in sink}
    assert ("a", 500.0) in flagged
    assert not any(k == "b" for k, _ in flagged)


def test_streaming_ewma_matches_batch_fold(spark):
    """stateful_ewma's final GroupState equals the batch
    `ewma_user_value` fold — same alpha=1/2 exact-halving recurrence,
    same (ts, event_id) order, CPython vs JVM doubles bit-identical."""
    from fiat2_spark.streaming.stream_agg import stateful_ewma
    from fiat2_spark.workloads import QUERIES

    batch = {
        (r["user_id"], r["n"]): r["ewma"]
        for r in QUERIES["ewma_user_value"](spark, SF_SMOKE).collect()
    }
    rows = run_streaming_smoke(
        spark,
        f"{SF_SMOKE}/events.parquet",
        lambda s: stateful_ewma(s.filter(F.col("event_type") == "view")),
        "ewma_smoke",
    )
    stream = {(r["user_id"], r["n"]): r["ewma"] for r in rows}
    assert stream == batch and len(batch) > 0


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_substring_dedup_corpus_streaming_matches_batch(spark):
    """Arbitrary-offset substring dedup driven by a real file stream:
    doc-id-ordered batches (passages repeated at SHIFTED offsets within
    docs, across docs, and across batches) ingest one micro-batch at a
    time; the accumulated per-doc removal stats must equal the one-shot
    substring_dedup_stats over the whole corpus (restricted to docs
    with at least one marked span)."""
    import os
    import tempfile

    from fiat2_spark.operators.dedup import substring_dedup_stats
    from fiat2_spark.streaming.maintenance import (
        SubstringDedupCorpus, substring_dedup_corpus_foreach_batch,
    )

    passage = "red green blue cyan magenta"
    docs = []
    for i in range(12):
        filler = " ".join(f"w{i}x{j}" for j in range(i % 3))
        # shifted embeddings of the shared passage + unique tail
        docs.append((i, f"{filler} {passage} tail{i} end{i}".strip()))
    sdf = spark.createDataFrame(docs, "doc_id long, text string")
    stage = tempfile.mkdtemp(prefix="fiat2_substrstream_")
    for b in range(4):
        sdf.filter((F.col("doc_id") >= 3 * b) & (F.col("doc_id") < 3 * (b + 1))) \
            .coalesce(1).write.parquet(os.path.join(stage, f"b{b}"))
    corpus = SubstringDedupCorpus(spark, k=3)
    sink: list = []
    stream = (
        spark.readStream.schema(sdf.schema)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", "true")
        .parquet(stage)
    )
    q = substring_dedup_corpus_foreach_batch(stream, corpus, sink)
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = {
        r["doc"]: (r["n_spans"], r["n_removed_tokens"], r["n_dup_grams"])
        for r in sink
    }
    oneshot = {
        r["doc"]: (r["n_spans"], r["n_removed_tokens"], r["n_dup_grams"])
        for r in substring_dedup_stats(sdf, "doc_id", "text", k=3).collect()
        if r["n_spans"] > 0
    }
    assert got == oneshot and len(got) >= 10, (got, oneshot)


def test_corpus_ingest_outputs_tracked_and_retired(spark):
    """Each corpus class must track its per-batch output checkpoint
    blocks and retire the previous batch's output on the next ingest —
    a long-lived stream must never need the global checkpoint sweep
    (unsafe while the index is live: it would free the truncated-lineage
    state blocks). close() frees the final state + last output."""
    from fiat2_spark.streaming.maintenance import (
        DedupCorpus,
        SpanDedupCorpus,
        SubstringDedupCorpus,
    )

    def live_ids():
        return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())

    base = spark.createDataFrame([("a", 1)], "fp string, doc_id long")
    corpus = DedupCorpus(base, "fp", "doc_id")
    out1 = corpus.ingest(spark.createDataFrame([("b", 2)], "fp string, doc_id long"))
    assert out1.count() == 1
    blocks1 = corpus._out_blocks
    assert blocks1, "ingest output must be block-tracked"
    out2 = corpus.ingest(spark.createDataFrame([("c", 3)], "fp string, doc_id long"))
    assert out2.count() == 1
    assert not (blocks1 & live_ids()), "batch-1 output blocks must be retired"
    # the index stays fully usable after retirement — no sweep involved
    out3 = corpus.ingest(spark.createDataFrame([("b", 9)], "fp string, doc_id long"))
    assert out3.count() == 0
    final = corpus._blocks | corpus._out_blocks
    corpus.close()
    assert not (final & live_ids()), "close() must free state + last output"

    docs = "doc_id long, text string"
    span = SpanDedupCorpus(spark, seg_len=2)
    span.ingest(spark.createDataFrame([(1, "a b c d")], docs), "doc_id", "text")
    sb1 = span._out_blocks
    span.ingest(spark.createDataFrame([(2, "a b x y")], docs), "doc_id", "text")
    assert sb1 and not (sb1 & live_ids())
    sfinal = span._blocks | span._out_blocks
    span.close()
    assert not (sfinal & live_ids())

    sub = SubstringDedupCorpus(spark, k=3)
    sub.ingest(spark.createDataFrame([(1, "a b c d e")], docs), "doc_id", "text")
    ub1 = sub._out_blocks
    sub.ingest(spark.createDataFrame([(2, "a b c d z")], docs), "doc_id", "text")
    assert ub1 and not (ub1 & live_ids())
    ufinal = sub._blocks | sub._out_blocks
    sub.close()
    assert not (ufinal & live_ids())


def test_semantic_dedup_corpus_agrees_with_one_shot(spark):
    """SemanticDedupCorpus over id-ordered batches (frozen centroids)
    must accumulate EXACTLY the one-shot semantic_dedup's (id, cid,
    is_dup) rows: witnesses for "some smaller-id same-cluster member is
    cosine-near" come from the state plus the batch's own earlier rows,
    which with id-ordered arrival is precisely the one-shot's
    smaller-id set. Also checks the corpus-class block discipline
    (previous output retired on next ingest; close() frees state)."""
    from fiat2_spark.operators.dedup import (
        lloyd_centroids, quantize_embeddings, semantic_dedup,
    )
    from fiat2_spark.streaming.maintenance import SemanticDedupCorpus

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    one_shot = {
        r["vec_id"]: (r["cid"], r["is_dup"])
        for r in semantic_dedup(e, "vec_id", "embedding", k=8, iters=2).collect()
    }

    cent = lloyd_centroids(quantize_embeddings(e, "vec_id", "embedding"), 8, 2)
    corpus = SemanticDedupCorpus(spark, cent)
    got = {}
    bounds = [(0, 150), (150, 320), (320, 10_000_000)]
    prev_out = frozenset()
    for lo, hi in bounds:
        batch = e.filter((F.col("vec_id") >= lo) & (F.col("vec_id") < hi))
        out = corpus.ingest(batch, "vec_id", "embedding")
        got.update({r["vid"]: (r["cid"], r["is_dup"]) for r in out.collect()})
        live = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
        assert not (prev_out & live), "previous batch's output blocks must retire"
        prev_out = corpus._out_blocks
    final = corpus._blocks | corpus._out_blocks | corpus._cent_blocks
    corpus.close()
    live = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    assert not (final & live)
    assert got == one_shot


def test_semantic_dedup_corpus_recluster_boundary(spark):
    """recluster(k') must leave the corpus in EXACTLY the state a fresh
    one-shot clustering of the accumulated corpus at k' would produce —
    (vid, cid) equal to lloyd_assign over lloyd_centroids at k' — and a
    subsequent ingest must prune against the REFRESHED clusters:
    its (vid, cid, is_dup) rows equal semantic_dedup_members evaluated
    on the post-recluster membership plus the batch (the incremental
    contract, restated across the recluster boundary). Superseded
    snapshot + centroid blocks retire."""
    from fiat2_spark.operators.dedup import (
        lloyd_assign, lloyd_centroids, quantize_embeddings,
        semantic_dedup_members,
    )
    from fiat2_spark.streaming.maintenance import SemanticDedupCorpus

    e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    first = e.filter(F.col("vec_id") < 300)
    later = e.filter((F.col("vec_id") >= 300) & (F.col("vec_id") < 380))

    cent0 = lloyd_centroids(quantize_embeddings(first, "vec_id", "embedding"), 4, 2)
    corpus = SemanticDedupCorpus(spark, cent0)
    corpus.ingest(first, "vec_id", "embedding")

    pre_blocks = corpus._blocks | corpus._cent_blocks
    corpus.recluster(k=8, iters=2)
    live = set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())
    assert not (pre_blocks & live), "superseded snapshot/centroids must retire"

    # state == one-shot clustering of the accumulated corpus at k'=8
    qe = quantize_embeddings(first, "vec_id", "embedding")
    want_cent = lloyd_centroids(qe, 8, 2)
    want_assign = {
        r["vid"]: r["cid"] for r in lloyd_assign(qe, want_cent).collect()
    }
    got_assign = {
        r["vid"]: r["cid"] for r in corpus.members.select("vid", "cid").collect()
    }
    assert got_assign == want_assign
    ks = {r["cid"] for r in corpus.cluster_sizes().collect()}
    assert ks == set(got_assign.values())

    # next ingest prunes within the refreshed clusters
    out = corpus.ingest(later, "vec_id", "embedding")
    got = {r["vid"]: (r["cid"], r["is_dup"]) for r in out.collect()}
    qe_new = quantize_embeddings(later, "vec_id", "embedding")
    new_members = qe_new.join(
        lloyd_assign(qe_new, corpus.cent), "vid"
    ).select("vid", "cid", "qv", "n2")
    acc = qe.join(lloyd_assign(qe, want_cent), "vid").select(
        "vid", "cid", "qv", "n2"
    ).unionByName(new_members)
    want = {
        r["vid"]: (r["cid"], r["is_dup"])
        for r in semantic_dedup_members(acc, new_members).collect()
    }
    corpus.close()
    assert got == want


def test_nb_classifier_corpus_split_agreement(spark):
    """NBClassifierCorpus trained in 3 uneven batches must score a pool
    bitwise-equal to the one-shot nb_classifier_scores over the
    concatenated training set — naive-Bayes counts are additive and
    the weight table is a pure function of the counts. Also pins the
    untrained state: zero bias, empty weights, pred False everywhere."""
    from fiat2_spark.operators.text import nb_classifier_scores
    from fiat2_spark.streaming.maintenance import NBClassifierCorpus

    train_rows = [
        (i, t, lab)
        for i, (t, lab) in enumerate(
            [
                ("the spark engine runs the query plan", True),
                ("spark shuffles partitions with hash joins", True),
                ("the catalyst optimizer prunes columns", True),
                ("buy cheap pills now best price deal", False),
                ("click here win money now now now", False),
                ("cheap cheap deal click buy now", False),
                ("query plans broadcast small tables", True),
                ("win best cheap price click pills", False),
            ]
        )
    ]
    pool_rows = [
        (100, "the spark optimizer runs hash joins"),
        (101, "cheap pills click now best deal"),
        (102, "plan the query broadcast tables"),
        (103, ""),
    ]
    train = spark.createDataFrame(train_rows, "doc_id long, text string, label boolean")
    pool = spark.createDataFrame(pool_rows, "doc_id long, text string")

    corpus = NBClassifierCorpus(spark, buckets=64)
    untrained = {
        r["doc_id"]: (r["logit_q"], r["pred"])
        for r in corpus.score(pool, "doc_id", "text").collect()
    }
    assert untrained == {i: (0, False) for i, _ in pool_rows}, untrained

    for pred in (F.col("doc_id") < 2, (F.col("doc_id") >= 2) & (F.col("doc_id") < 7),
                 F.col("doc_id") >= 7):
        corpus.ingest(train.filter(pred), "doc_id", "text", "label")
    got = {
        r["doc_id"]: (r["logit_q"], r["pred"])
        for r in corpus.score(pool, "doc_id", "text").collect()
    }
    corpus.close()
    want = {
        r["doc_id"]: (r["logit_q"], r["pred"])
        for r in nb_classifier_scores(
            train, pool, "doc_id", "text", "label", buckets=64
        ).collect()
    }
    assert got == want, f"\ngot={got}\nwant={want}"
    assert got[100][1] and got[102][1] and not got[101][1], got


def test_nb_classifier_corpus_empty_batch_is_identity(spark):
    """Folding an EMPTY labeled batch into a live NBClassifierCorpus
    must not perturb the model: Spark's SUM over zero rows is NULL,
    and uncoalesced totals would poison the state (and the bias) to
    NULL. Scores before and after the empty ingest are identical, and
    an UNTRAINED corpus ingesting only an empty batch still scores the
    zero bias."""
    from fiat2_spark.streaming.maintenance import NBClassifierCorpus

    train = spark.createDataFrame(
        [(0, "the spark engine runs", True), (1, "buy cheap pills now", False)],
        "doc_id long, text string, label boolean",
    )
    empty = train.filter(F.lit(False))
    pool = spark.createDataFrame(
        [(100, "the spark engine"), (101, "cheap pills")],
        "doc_id long, text string",
    )

    fresh = NBClassifierCorpus(spark, buckets=64)
    fresh.ingest(empty, "doc_id", "text", "label")
    got0 = {r["doc_id"]: (r["logit_q"], r["pred"])
            for r in fresh.score(pool, "doc_id", "text").collect()}
    fresh.close()
    assert got0 == {100: (0, False), 101: (0, False)}, got0

    corpus = NBClassifierCorpus(spark, buckets=64)
    corpus.ingest(train, "doc_id", "text", "label")
    before = {r["doc_id"]: (r["logit_q"], r["pred"])
              for r in corpus.score(pool, "doc_id", "text").collect()}
    corpus.ingest(empty, "doc_id", "text", "label")
    after = {r["doc_id"]: (r["logit_q"], r["pred"])
             for r in corpus.score(pool, "doc_id", "text").collect()}
    corpus.close()
    assert None not in {v[0] for v in after.values()}, after
    assert before == after, f"\nbefore={before}\nafter={after}"


def test_nb_classifier_corpus_retract_agreement(spark):
    """retract(B) after ingest(A); ingest(B) must leave the model in
    EXACTLY the ingest(A)-only state — additive sufficient statistics
    make unlearning exact subtraction. Checked at both granularities:
    the state relations themselves (counts rows equal, with no
    lingering (0,0) bucket rows that would re-enter the weight table;
    totals equal) and the scores (bitwise vs a corpus that only ever
    saw A)."""
    from fiat2_spark.streaming.maintenance import NBClassifierCorpus

    rows = [
        (0, "the spark engine runs the query plan", True),
        (1, "spark shuffles partitions with hash joins", True),
        (2, "buy cheap pills now best price deal", False),
        (3, "click here win money now now now", False),
        (4, "query plans broadcast small tables", True),
        (5, "win best cheap price click pills", False),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    a, b = df.filter(F.col("doc_id") < 3), df.filter(F.col("doc_id") >= 3)
    pool = spark.createDataFrame(
        [(100, "the spark optimizer runs hash joins"),
         (101, "cheap pills click now best deal"), (102, "")],
        "doc_id long, text string",
    )

    both = NBClassifierCorpus(spark, buckets=64)
    both.ingest(a, "doc_id", "text", "label")
    both.ingest(b, "doc_id", "text", "label")
    both.retract(b, "doc_id", "text", "label")

    only_a = NBClassifierCorpus(spark, buckets=64)
    only_a.ingest(a, "doc_id", "text", "label")

    state = lambda c: (
        sorted(map(tuple, c.counts.collect())),
        sorted(map(tuple, c.totals.collect())),
    )
    assert state(both) == state(only_a)
    scores = lambda c: {
        r["doc_id"]: (r["logit_q"], r["pred"])
        for r in c.score(pool, "doc_id", "text").collect()
    }
    got, want = scores(both), scores(only_a)
    # retract everything -> back to the untrained zero-bias state
    both.retract(a, "doc_id", "text", "label")
    empty_counts = both.counts.count()
    zeroed = scores(both)
    both.close(); only_a.close()
    assert got == want, f"\ngot={got}\nwant={want}"
    assert empty_counts == 0
    assert zeroed == {100: (0, False), 101: (0, False), 102: (0, False)}


def test_nb_classifier_corpus_zero_block_residency(spark):
    """ADVICE r9: ingest() and score() must leave ZERO untracked
    resident localCheckpoint blocks — the featurize pass's checkpoint
    is tracked and retired with the superseded state, and the score
    path skips its checkpoint entirely. Scoped to CHECKPOINT blocks
    (the leak class; `_is_checkpoint_block` is the session's own
    classifier) with per-cycle deltas, so unrelated persisted RDDs
    left by earlier suite tests can't perturb the assertion."""
    from fiat2_spark.session import _is_checkpoint_block
    from fiat2_spark.streaming.maintenance import NBClassifierCorpus

    def ckpt_ids():
        return {
            rid
            for rid, rdd in dict(
                spark.sparkContext._jsc.getPersistentRDDs()
            ).items()
            if _is_checkpoint_block(rdd)
        }

    train = spark.createDataFrame(
        [(0, "the spark engine runs", True), (1, "buy cheap pills now", False),
         (2, "query plans broadcast tables", True)],
        "doc_id long, text string, label boolean",
    )
    pool = spark.createDataFrame(
        [(100, "the spark engine"), (101, "cheap pills")],
        "doc_id long, text string",
    )
    corpus = NBClassifierCorpus(spark, buckets=64)
    for i in range(3):
        pre = ckpt_ids()
        corpus.ingest(train.filter(F.col("doc_id") == i), "doc_id", "text", "label")
        corpus.score(pool, "doc_id", "text").collect()
        tracked = corpus._blocks | corpus._tot_blocks
        leaked = ckpt_ids() - pre - set(tracked)
        assert not leaked, f"cycle {i}: untracked checkpoint blocks {leaked}"
    tracked = corpus._blocks | corpus._tot_blocks
    corpus.close()
    assert not (set(tracked) & ckpt_ids()), "close() must free the state blocks"


def test_bpe_vocab_corpus_split_agreement(spark):
    """BpeVocabCorpus trained in 3 uneven batches must learn EXACTLY
    the one-shot bpe_learn merge list over the concatenated corpus —
    word counts are additive and the merge argmax is a pure function
    of the counts. Also pins interleaving: learn() between ingests is
    read-only (the state keeps accumulating correctly after it)."""
    from fiat2_spark.operators.text import bpe_learn
    from fiat2_spark.streaming.maintenance import BpeVocabCorpus

    rows = [
        (0, "low lower lowest"),
        (1, "new newer newest"),
        (2, "low low new wider"),
        (3, "lowest newest wide wide"),
        (4, "er er est est low"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = BpeVocabCorpus(spark)
    corpus.ingest(df.filter(F.col("doc_id") < 1), "text")
    corpus.learn(2)  # read-only mid-stream refresh
    corpus.ingest(df.filter((F.col("doc_id") >= 1) & (F.col("doc_id") < 4)), "text")
    corpus.ingest(df.filter(F.col("doc_id") >= 4), "text")
    got = [tuple(r) for r in corpus.learn(6).orderBy("step").collect()]
    corpus.close()
    _, mdf = bpe_learn(df, "text", n_merges=6)
    want = [tuple(r) for r in mdf.orderBy("step").collect()]
    assert got == want, f"\ngot={got}\nwant={want}"


def test_bpe_vocab_corpus_retract_agreement(spark):
    """retract(B) after ingest(A); ingest(B) leaves the vocabulary in
    EXACTLY the ingest(A)-only state (zero-count words dropped so they
    can never re-enter a pair table), and the refreshed merge list
    equals a corpus that only ever saw A. Retracting everything learns
    the empty merge list."""
    from fiat2_spark.streaming.maintenance import BpeVocabCorpus

    df = spark.createDataFrame(
        [(0, "low lower low"), (1, "newest newer"), (2, "wide wider widest")],
        "doc_id long, text string",
    )
    a, b = df.filter(F.col("doc_id") < 2), df.filter(F.col("doc_id") >= 2)
    both = BpeVocabCorpus(spark)
    both.ingest(a, "text")
    both.ingest(b, "text")
    both.retract(b, "text")
    only_a = BpeVocabCorpus(spark)
    only_a.ingest(a, "text")
    state = lambda c: sorted(map(tuple, c.words.collect()))
    got_state, want_state = state(both), state(only_a)
    got = [tuple(r) for r in both.learn(4).collect()]
    want = [tuple(r) for r in only_a.learn(4).collect()]
    both.retract(a, "text")
    empty_words = both.words.count()
    empty_merges = both.learn(4).count()
    both.close(); only_a.close()
    assert got_state == want_state
    assert got == want, f"\ngot={got}\nwant={want}"
    assert empty_words == 0 and empty_merges == 0


def test_bpe_vocab_corpus_zero_block_residency(spark):
    """Live-index block contract: each fold retires the superseded
    vocabulary snapshot, learn() releases every loop checkpoint before
    returning (its result is driver-local rows), and close() frees the
    state — zero untracked checkpoint blocks at every step."""
    from fiat2_spark.session import _is_checkpoint_block
    from fiat2_spark.streaming.maintenance import BpeVocabCorpus

    def ckpt_ids():
        return {
            rid
            for rid, rdd in dict(
                spark.sparkContext._jsc.getPersistentRDDs()
            ).items()
            if _is_checkpoint_block(rdd)
        }

    df = spark.createDataFrame(
        [(0, "low lower lowest"), (1, "new newer newest"), (2, "wide wider")],
        "doc_id long, text string",
    )
    corpus = BpeVocabCorpus(spark)
    for i in range(3):
        pre = ckpt_ids()
        corpus.ingest(df.filter(F.col("doc_id") == i), "text")
        corpus.learn(3)
        leaked = ckpt_ids() - pre - set(corpus._blocks)
        assert not leaked, f"cycle {i}: untracked checkpoint blocks {leaked}"
    tracked = set(corpus._blocks)
    corpus.close()
    assert not (tracked & ckpt_ids()), "close() must free the state blocks"


def test_dsir_corpus_split_agreement(spark):
    """DsirCorpus fed target and raw in interleaved uneven batches must
    score the pool bitwise-equal to the one-shot dsir_scores over the
    concatenated corpora — per-bucket n-gram counts and totals are
    additive, and the lr table is a pure function of the counts. This
    is also the drift tripwire for the class's deliberately-duplicated
    featurize expression (see the class docstring)."""
    from fiat2_spark.operators.text import dsir_scores
    from fiat2_spark.streaming.maintenance import DsirCorpus

    target = spark.createDataFrame(
        [(100 + i, "spark scala catalyst tungsten shuffle partition")
         for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "spark scala catalyst tungsten"),
            (2, "llama alpaca vicuna gnu"),
            (3, "spark scala catalyst tungsten shuffle partition"),
            (4, "spark llama"),
            (5, ""),
        ],
        "doc_id long, text string",
    )
    corpus = DsirCorpus(spark, buckets=64)
    corpus.ingest_target(target.filter(F.col("doc_id") < 102), "doc_id", "text")
    corpus.ingest_raw(raw.filter(F.col("doc_id") <= 2), "doc_id", "text")
    corpus.ingest_target(target.filter(F.col("doc_id") >= 102), "doc_id", "text")
    corpus.ingest_raw(raw.filter(F.col("doc_id") > 2), "doc_id", "text")
    got = {
        r["doc_id"]: r["score"]
        for r in corpus.score(raw, "doc_id", "text").collect()
    }
    corpus.close()
    want = {
        r["doc_id"]: r["score"]
        for r in dsir_scores(raw, target, "doc_id", "text", buckets=64).collect()
    }
    assert got == want and set(got) == {1, 2, 3, 4}, f"\ngot={got}\nwant={want}"


def test_dsir_corpus_retract_agreement(spark):
    """retract on either side after extra ingests leaves the model in
    EXACTLY the never-ingested state — counts relations equal (zero
    rows dropped), totals equal, scores bitwise equal."""
    from fiat2_spark.streaming.maintenance import DsirCorpus

    target = spark.createDataFrame(
        [(100, "spark scala catalyst"), (101, "shuffle partition plan")],
        "doc_id long, text string",
    )
    extra_t = spark.createDataFrame(
        [(102, "llama alpaca vicuna")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(1, "spark scala"), (2, "llama gnu")], "doc_id long, text string"
    )
    extra_r = spark.createDataFrame(
        [(3, "catalyst shuffle plan spark")], "doc_id long, text string"
    )

    both = DsirCorpus(spark, buckets=64)
    both.ingest_target(target, "doc_id", "text")
    both.ingest_target(extra_t, "doc_id", "text")
    both.ingest_raw(raw, "doc_id", "text")
    both.ingest_raw(extra_r, "doc_id", "text")
    both.retract_target(extra_t, "doc_id", "text")
    both.retract_raw(extra_r, "doc_id", "text")

    clean = DsirCorpus(spark, buckets=64)
    clean.ingest_target(target, "doc_id", "text")
    clean.ingest_raw(raw, "doc_id", "text")

    state = lambda c: (
        sorted(map(tuple, c.tcounts.collect())),
        sorted(map(tuple, c.rcounts.collect())),
        sorted(map(tuple, c.totals.collect())),
    )
    assert state(both) == state(clean)
    scores = lambda c: {
        r["doc_id"]: r["score"] for r in c.score(raw, "doc_id", "text").collect()
    }
    got, want = scores(both), scores(clean)
    both.close(); clean.close()
    assert got == want, f"\ngot={got}\nwant={want}"


def test_dsir_corpus_zero_block_residency(spark):
    """Live-index block contract: each fold (either side) retires the
    superseded snapshots plus its featurize checkpoint, score() runs
    un-checkpointed, close() frees the state — zero untracked
    checkpoint blocks at every step."""
    from fiat2_spark.session import _is_checkpoint_block
    from fiat2_spark.streaming.maintenance import DsirCorpus

    def ckpt_ids():
        return {
            rid
            for rid, rdd in dict(
                spark.sparkContext._jsc.getPersistentRDDs()
            ).items()
            if _is_checkpoint_block(rdd)
        }

    target = spark.createDataFrame(
        [(100, "spark scala catalyst")], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(1, "spark scala"), (2, "llama gnu")], "doc_id long, text string"
    )
    corpus = DsirCorpus(spark, buckets=64)
    for i in range(3):
        pre = ckpt_ids()
        corpus.ingest_target(target, "doc_id", "text")
        corpus.ingest_raw(raw, "doc_id", "text")
        corpus.score(raw, "doc_id", "text").collect()
        tracked = corpus._t_blocks | corpus._r_blocks | corpus._tot_blocks
        leaked = ckpt_ids() - pre - set(tracked)
        assert not leaked, f"cycle {i}: untracked checkpoint blocks {leaked}"
    tracked = corpus._t_blocks | corpus._r_blocks | corpus._tot_blocks
    corpus.close()
    assert not (set(tracked) & ckpt_ids()), "close() must free the state blocks"


def test_dsir_corpus_coverage_tripwire(spark):
    """The score() bucket-coverage contract made measurable (VERDICT
    r10 task 7): coverage() on a batch with never-ingested n-grams
    reads < 1.0 (score would silently skip those buckets), rises to
    exactly 1.0 once the batch itself is ingested (the one-shot-parity
    precondition), and an empty batch is vacuously covered."""
    from fiat2_spark.streaming.maintenance import DsirCorpus

    target = spark.createDataFrame(
        [(100 + i, "spark scala catalyst tungsten") for i in range(3)],
        "doc_id long, text string",
    )
    # novel vocabulary: with 4096 buckets its n-grams can't all collide
    # into target-observed buckets
    pool = spark.createDataFrame(
        [(1, "llama alpaca vicuna guanaco"), (2, "spark scala")],
        "doc_id long, text string",
    )
    corpus = DsirCorpus(spark, buckets=4096)
    corpus.ingest_target(target, "doc_id", "text")
    before = corpus.coverage(pool, "doc_id", "text").collect()[0]
    assert before["n_feat"] > before["n_covered"] > 0, dict(before.asDict())
    assert 0 < before["coverage"] < 1.0
    corpus.ingest_raw(pool, "doc_id", "text")
    after = corpus.coverage(pool, "doc_id", "text").collect()[0]
    assert after["coverage"] == 1.0 and after["n_feat"] == after["n_covered"]
    empty = corpus.coverage(
        pool.filter(F.col("doc_id") < 0), "doc_id", "text"
    ).collect()[0]
    corpus.close()
    assert empty["n_feat"] == 0 and empty["coverage"] == 1.0


def _bpe_apply_py(word: str, merges: list[tuple[str, str]]) -> list[str]:
    """Python reference BPE apply: per-char symbols + '</w>', each merge
    applied left-to-right non-overlapping in learned order — the exact
    semantics of the engine's wrapped-string replace."""
    syms = list(word) + ["</w>"]
    for lhs, rhs in merges:
        out, i = [], 0
        while i < len(syms):
            if i + 1 < len(syms) and syms[i] == lhs and syms[i + 1] == rhs:
                out.append(lhs + rhs)
                i += 2
            else:
                out.append(syms[i])
                i += 1
        syms = out
    return syms


def test_bpe_vocab_corpus_reencode_across_vocab_growth(spark):
    """The incremental tokenizer composed end-to-end (VERDICT r10
    missing #3): learn merges at t0, ingest more corpus, learn at t1,
    and RE-ENCODE the same documents with each vocabulary.  Both
    encodes must match the Python model exactly (symbol streams +
    dense-rank ids over each encode's own symbol vocabulary), and the
    t0→t1 diff must be exactly the documents containing a word whose
    symbolization changed — vocab growth may not perturb unrelated
    documents' token streams."""
    from fiat2_spark.operators.text import bpe_encode_ids, tokens
    from fiat2_spark.streaming.maintenance import BpeVocabCorpus

    batch_a = spark.createDataFrame(
        [(0, "low lower lowest low low"), (1, "low wide wider")],
        "doc_id long, text string",
    )
    batch_b = spark.createDataFrame(
        [(2, "newest newest newest newer new")],
        "doc_id long, text string",
    )
    docs = batch_a.unionByName(batch_b)
    corpus = BpeVocabCorpus(spark)
    corpus.ingest(batch_a, "text")
    merges_t0 = [
        (r["lhs"], r["rhs"]) for r in corpus.learn(4).orderBy("step").collect()
    ]
    corpus.ingest(batch_b, "text")
    merges_t1 = [
        (r["lhs"], r["rhs"]) for r in corpus.learn(4).orderBy("step").collect()
    ]
    corpus.close()
    assert merges_t0 != merges_t1  # batch B shifts the pair argmax

    doc_words = {
        r["doc_id"]: r["text"].split() for r in docs.collect()
    }

    def model(merges):
        streams = {}
        for doc, words in doc_words.items():
            syms = [s for w in words for s in _bpe_apply_py(w, merges)]
            streams[doc] = syms
        vocab = sorted({s for syms in streams.values() for s in syms})
        ids = {s: i + 1 for i, s in enumerate(vocab)}
        return {
            doc: [(p + 1, ids[s]) for p, s in enumerate(syms)]
            for doc, syms in streams.items()
        }, streams

    for merges in (merges_t0, merges_t1):
        want, _ = model(merges)
        got: dict[int, list[tuple[int, int]]] = {}
        for r in bpe_encode_ids(docs, "doc_id", "text", merges, tokens).collect():
            got.setdefault(r["doc_id"], []).append((r["pos"], r["token_id"]))
        got = {d: sorted(v) for d, v in got.items()}
        assert got == want, f"\nmerges={merges}\ngot={got}\nwant={want}"

    # the t0→t1 symbol-stream diff is exactly the docs whose words
    # re-symbolize differently — nothing else moved
    _, s0 = model(merges_t0)
    _, s1 = model(merges_t1)
    changed_words = {
        w
        for words in doc_words.values()
        for w in words
        if _bpe_apply_py(w, merges_t0) != _bpe_apply_py(w, merges_t1)
    }
    for doc, words in doc_words.items():
        if changed_words & set(words):
            assert s0[doc] != s1[doc], doc
        else:
            assert s0[doc] == s1[doc], doc
    assert changed_words, "fixture must actually exercise a vocab change"
