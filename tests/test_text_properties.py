"""Property-based verification of the repetition-signal formulas
against a direct Python model — a THIRD implementation independent of
both the Spark plan and the DuckDB oracle (those two share the tagged-
union formulation; this one counts n-grams with dicts), so a shared
misreading of the definitions can't pass. Drives duplicate-saturated,
single-token, and empty documents."""

from __future__ import annotations

import pytest

import math

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fiat2_spark.operators.text import CASE_SKEW_SRC as _SKEW
from fiat2_spark.operators.text import repetition_stats

_SETTINGS = dict(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_DOCS = st.lists(
    st.lists(st.sampled_from(["aa", "bb", "cc"]), max_size=12), min_size=1, max_size=6
)


def _model(toks):
    def grams(n):
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]

    def counts(gs):
        c = {}
        for g in gs:
            c[g] = c.get(g, 0) + 1
        return c

    ttr = round(len(set(toks)) / max(len(toks), 1), 6)
    bg = counts(grams(2)) if len(toks) >= 2 else {}
    top_bg = round(max(bg.values()) / sum(bg.values()), 6) if bg else 0.0
    tg = counts(grams(3)) if len(toks) >= 3 else {}
    dup_tg = (
        round(sum(v for v in tg.values() if v > 1) / sum(tg.values()), 6) if tg else 0.0
    )
    ug = counts(toks)
    if ug:
        n = sum(ug.values())
        ent = round(math.log(n) - sum(c * math.log(c) for c in ug.values()) / n, 6)
    else:
        ent = 0.0
    return (ttr, top_bg, dup_tg, ent)


@settings(**_SETTINGS)
@given(docs=_DOCS)
def test_repetition_stats_match_python_model(spark, docs):
    df = spark.createDataFrame(
        [(i, toks) for i, toks in enumerate(docs)], "doc_id long, toks array<string>"
    )
    got = {
        r["doc_id"]: (
            r["ttr"], r["top_bigram_frac"], r["dup_trigram_frac"], r["unigram_entropy"]
        )
        for r in repetition_stats(df, "toks", "doc_id").collect()
    }
    want = {i: _model(toks) for i, toks in enumerate(docs)}
    for i in want:
        for a, b in zip(got[i], want[i]):
            assert abs(a - b) < 1e-9, (i, got[i], want[i])


def test_dsir_scores_rank_target_like_docs_first(spark):
    """DSIR property (Xie et al. 2023): a pool document written in the
    target corpus vocabulary must outscore one written in vocabulary
    the target never uses — the importance log-ratio is positive for
    target-heavy buckets and negative for pool-only buckets. Also pins
    the bag-of-ngrams semantics: MORE in-distribution n-grams add up
    (counts, not presence) — while repeating a short phrase does NOT
    help, because the repetition wrap-around bigram ('scala spark') is
    pool-only and the doc's own occurrences inflate the pool counts
    (DSIR raw-side smoothing is self-penalizing for spam)."""
    from fiat2_spark.operators.text import dsir_importance

    target = spark.createDataFrame(
        [(100 + i, "spark scala catalyst tungsten shuffle partition") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "spark scala catalyst tungsten"),                   # in-distribution
            (2, "llama alpaca vicuna gnu"),                          # out-of-distribution
            (3, "spark scala catalyst tungsten shuffle partition"),  # fully in-distribution, longer
            (4, "spark llama"),                                      # mixed
            (5, "spark scala spark scala spark scala"),              # phrase spam
        ],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: r["score"]
        for r in dsir_importance(raw, target, "doc_id", "text", buckets=64, k=10).collect()
    }
    assert set(got) == {1, 2, 3, 4, 5}
    assert got[1] > got[2], got
    assert got[3] > got[1], "more in-distribution n-grams add up"
    assert got[1] > got[4] > got[2], got
    assert got[5] < got[1], "phrase spam must not outrank clean in-distribution text"


def _py_dsir_scores(raw: dict[int, str], target: dict[int, str],
                    buckets: int = 64, quant: int = 10_000) -> dict[int, int]:
    """Exact Python mirror of `dsir_scores`: same tokenizer, same
    unigram+bigram features, same md5 buckets, add-1 smoothing, and the
    log-ratio quantized with ROUND_HALF_UP (Spark's F.round mode)."""
    import hashlib
    import math
    import re
    from decimal import ROUND_HALF_UP, Decimal

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def feats(text):
        ts = toks(text)
        return ts + [f"{a} {b}" for a, b in zip(ts, ts[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % buckets

    def counts(docs):
        out: dict[int, int] = {}
        total = 0
        for text in docs.values():
            for f in feats(text):
                out[bucket(f)] = out.get(bucket(f), 0) + 1
                total += 1
        return out, total

    nt, Nt = counts(target)
    nr, Nr = counts(raw)
    lr = {}
    for b in set(nt) | set(nr):
        ratio = ((nt.get(b, 0) + 1) * (Nr + buckets)) / (
            (nr.get(b, 0) + 1) * (Nt + buckets)
        )
        lr[b] = int(
            Decimal(math.log(ratio) * quant).quantize(Decimal(1), ROUND_HALF_UP)
        )
    return {
        doc: sum(lr[bucket(f)] for f in feats(text))
        for doc, text in raw.items()
        if feats(text)
    }


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    raw=st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta eps zeta".split()),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=6,
    ),
    target=st.lists(
        st.lists(st.sampled_from("alpha beta kappa mu nu xi".split()),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=4,
    ),
)
def test_dsir_scores_match_python_model(spark, raw, target):
    """dsir_scores ≡ the exact Python model on random small corpora —
    the third independent realization next to the Spark plan and the
    DuckDB oracle (tokenizer, feature hashing, smoothing, quantized
    log-ratio, and bag-of-ngrams scoring all at once)."""
    from fiat2_spark.operators.text import dsir_scores

    raw_t = {i: t for i, t in enumerate(raw)}
    target_t = {100 + i: t for i, t in enumerate(target)}
    rdf = spark.createDataFrame(list(raw_t.items()), "doc_id long, text string")
    tdf = spark.createDataFrame(list(target_t.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: r["score"]
        for r in dsir_scores(rdf, tdf, "doc_id", "text", buckets=64).collect()
    }
    want = _py_dsir_scores(raw_t, target_t, buckets=64)
    assert got == want, f"\nraw={raw_t}\ntarget={target_t}\ngot={got}\nwant={want}"


# -- CCNet-style perplexity vs an exact Python model -------------------------

def _py_lm_perplexity(raw: dict[int, str], ref: dict[int, str],
                      vocab_size: int = 4, quant: int = 10_000,
                      alpha_num: int = 2, alpha_den: int = 5):
    """Exact Python mirror of `lm_perplexity`: same tokenizer, top-V
    vocab by (count desc, word), OOV→<unk>, bigram MLE with stupid
    backoff to the add-1 vocab-closed unigram, per-transition NLL
    quantized with ROUND_HALF_UP (Spark's F.round mode)."""
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def q_round(x: float) -> int:
        return int(Decimal(x * quant).quantize(Decimal(1), ROUND_HALF_UP))

    ref_toks = [w for t in ref.values() for w in toks(t)]
    cnt = Counter(ref_toks)
    vocab = {
        w for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    }

    def m(w):
        return w if w in vocab else "<unk>"

    c1 = Counter(m(w) for w in ref_toks)
    n_tot = len(ref_toks)
    c2: Counter = Counter()
    for t in ref.values():
        ts = [m(w) for w in toks(t)]
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] += 1

    def q_of(prev, w):
        if (prev, w) in c2:
            return q_round(-math.log(c2[(prev, w)] / c1[prev]))
        return q_round(
            -math.log(
                ((c1.get(w, 0) + 1) * alpha_num)
                / ((n_tot + vocab_size + 1) * alpha_den)
            )
        )

    out = {}
    for doc, t in raw.items():
        ts = [m(w) for w in toks(t)]
        pairs = list(zip(ts, ts[1:]))
        out[doc] = (len(pairs), sum(q_of(a, b) for a, b in pairs))
    return out


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    raw=st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta eps zeta".split()),
                 min_size=0, max_size=6).map(" ".join),
        min_size=1, max_size=6,
    ),
    ref=st.lists(
        st.lists(st.sampled_from("alpha beta kappa mu nu xi".split()),
                 min_size=1, max_size=8).map(" ".join),
        min_size=1, max_size=4,
    ),
)
def test_lm_perplexity_matches_python_model(spark, raw, ref):
    """lm_perplexity ≡ the exact Python model on random small corpora —
    tokenizer, vocab ranking (count desc, word ties), OOV mapping,
    bigram MLE, stupid backoff, and quantization all at once, with
    empty/one-token docs pinned to (0, 0). The third independent
    realization next to the Spark plan and the DuckDB oracle."""
    from fiat2_spark.operators.text import lm_perplexity

    raw_t = {i: t for i, t in enumerate(raw)}
    ref_t = {100 + i: t for i, t in enumerate(ref)}
    rdf = spark.createDataFrame(list(raw_t.items()), "doc_id long, text string")
    tdf = spark.createDataFrame(list(ref_t.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_trans"], r["nll_q"])
        for r in lm_perplexity(rdf, tdf, "doc_id", "text", vocab_size=4).collect()
    }
    want = _py_lm_perplexity(raw_t, ref_t, vocab_size=4)
    assert got == want, f"\nraw={raw_t}\nref={ref_t}\ngot={got}\nwant={want}"


def test_perplexity_filter_ranks_fluent_text_first(spark):
    """Directional CCNet property: a pool document whose transitions the
    reference LM has seen scores lower mean NLL than word salad over
    the same vocabulary (every transition backs off), which in turn
    beats out-of-vocabulary text (backoff at the <unk>/rare floor) —
    and the keep flag splits exactly at the integer threshold."""
    from fiat2_spark.operators.text import perplexity_filter

    ref = spark.createDataFrame(
        [(100 + i, "the spark engine runs the query plan") for i in range(4)],
        "doc_id long, text string",
    )
    raw = spark.createDataFrame(
        [
            (1, "the spark engine runs the query plan"),   # fluent (all seen)
            (2, "plan the runs query spark engine the"),   # salad, in-vocab
            (3, "llama alpaca vicuna gnu emu okapi heron"),  # out-of-vocab
        ],
        "doc_id long, text string",
    )
    rows = {
        r["doc_id"]: r
        for r in perplexity_filter(
            raw, ref, "doc_id", "text", threshold_q=20_000, vocab_size=16
        ).collect()
    }
    mean = {i: rows[i]["nll_q"] / rows[i]["n_trans"] for i in rows}
    assert mean[1] < mean[2] < mean[3], mean
    assert rows[1]["keep"] and not rows[3]["keep"], rows
    for i, r in rows.items():
        assert r["keep"] == (r["nll_q"] <= 20_000 * r["n_trans"])


# -- fastText-style NB classifier vs an exact Python model --------------------

def _py_nb_classifier(train: dict[int, tuple[str, bool]],
                      score: dict[int, str],
                      buckets: int = 64, quant: int = 10_000):
    """Exact Python mirror of `nb_classifier_scores`: same tokenizer,
    unigram∪bigram features, md5 bucketing, add-1 NB log-odds weights,
    doc-prior bias, ROUND_HALF_UP quantization (Spark's F.round)."""
    import hashlib
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def feats(text):
        t = toks(text)
        return t + [f"{a} {b}" for a, b in zip(t, t[1:])]

    def bucket(f):
        return int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % buckets

    def q_round(x: float) -> int:
        return int(Decimal(x * quant).quantize(Decimal(1), ROUND_HALF_UP))

    pos = Counter(bucket(f) for _, (t, y) in train.items() if y for f in feats(t))
    neg = Counter(bucket(f) for _, (t, y) in train.items() if not y for f in feats(t))
    tot_p, tot_n = sum(pos.values()), sum(neg.values())
    w = {
        b: q_round(math.log((pos[b] + 1) * (tot_n + buckets))
                   - math.log((neg[b] + 1) * (tot_p + buckets)))
        for b in set(pos) | set(neg)
    }
    n_posdoc = sum(1 for _, (_, y) in train.items() if y)
    n_negdoc = len(train) - n_posdoc
    bias = q_round(math.log((n_posdoc + 1) / (n_negdoc + 1)))
    out = {}
    for doc, text in score.items():
        fsum = sum(w[bucket(f)] for f in feats(text) if bucket(f) in w)
        out[doc] = (fsum + bias, fsum + bias > 0)
    return out


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    pos=st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta".split()),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=4,
    ),
    neg=st.lists(
        st.lists(st.sampled_from("mu nu xi omicron".split()),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=4,
    ),
    pool=st.lists(
        st.lists(st.sampled_from("alpha beta mu nu kappa".split()),
                 min_size=0, max_size=6).map(" ".join),
        min_size=1, max_size=5,
    ),
)
def test_nb_classifier_match_python_model(spark, pos, neg, pool):
    """nb_classifier_scores ≡ the exact Python model on random small
    corpora — third independent realization next to the Spark plan and
    the DuckDB oracle (tokenizer, hashing, NB smoothing, bias, and the
    zero-feature bare-bias path all at once)."""
    from fiat2_spark.operators.text import nb_classifier_scores

    train = {i: (t, True) for i, t in enumerate(pos)}
    train.update({100 + i: (t, False) for i, t in enumerate(neg)})
    score = {200 + i: t for i, t in enumerate(pool)}
    tdf = spark.createDataFrame(
        [(d, t, y) for d, (t, y) in train.items()],
        "doc_id long, text string, label boolean",
    )
    sdf = spark.createDataFrame(list(score.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["logit_q"], r["pred"])
        for r in nb_classifier_scores(
            tdf, sdf, "doc_id", "text", buckets=64
        ).collect()
    }
    want = _py_nb_classifier(train, score, buckets=64)
    assert got == want, f"\ntrain={train}\nscore={score}\ngot={got}\nwant={want}"


# -- Gopher rules: one crafted doc per rule ----------------------------------

def test_gopher_rules_each_rule_fires(spark):
    """One crafted document per Gopher rule violation (plus a clean
    pass): word count, mean length, symbol ratio, bullet lines,
    ellipsis lines, alpha fraction, stop words — each failing doc fails
    EXACTLY its targeted rule, and the integer cross-multiplication
    boundaries (90% bullets, 30% ellipses, 10% symbols, 80% alpha) land
    on the strict side."""
    from fiat2_spark.operators.text import gopher_rules

    good = "the quick brown fox and the lazy dog have fun with all of that " * 5
    docs = [
        (0, good),                                     # passes everything
        (1, "the and of that have with be to"),        # too few words
        (2, " ".join(["a"] * 30) + " " + good),        # mean len < 3
        (3, good + " " + "#" * 40),                    # symbol ratio (40 '#')
        (4, "\n".join(["- bullet line"] * 9 + [good])),   # 90% bullets
        (5, "\n".join(["ends here..."] * 3 + [good] * 7)),  # 30% ellipses
        (6, good + " " + " ".join(["12345"] * 60)),    # alpha ≤ 80%
        (7, "alpha beta gamma delta " * 15),           # no stop words
    ]
    rows = {
        r["doc_id"]: r.asDict()
        for r in gopher_rules(
            spark.createDataFrame(docs, "doc_id long, text string"),
            "doc_id", "text", min_words=10,
        ).collect()
    }
    assert rows[0]["keep"], rows[0]
    expected_fail = {
        1: "r_word_count", 2: "r_mean_len", 3: "r_symbol", 4: "r_bullet",
        5: "r_ellipsis", 6: "r_alpha", 7: "r_stopword",
    }
    rule_names = ["r_word_count", "r_mean_len", "r_symbol", "r_bullet",
                  "r_ellipsis", "r_alpha", "r_stopword"]
    for doc, bad_rule in expected_fail.items():
        r = rows[doc]
        assert not r[bad_rule] and not r["keep"], (doc, r)
        for other in rule_names:
            if other != bad_rule:
                assert r[other], (doc, other, r)


def test_token_budget_select_matches_plain_window(spark):
    """token_budget_select's bucketed global prefix sum ≡ the plain
    SUM() OVER (ORDER BY priority DESC, id) cut, including duplicate
    priorities straddling bucket boundaries and a budget that lands
    mid-tie-group."""
    from pyspark.sql import Window as W

    from fiat2_spark.operators.text import token_budget_select

    rows = [(i, (i * 7) % 5, 10 + (i % 3)) for i in range(200)]
    df = spark.createDataFrame(rows, "doc_id long, prio long, ntok long")
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in token_budget_select(
            df, "doc_id", "ntok", "prio", budget=700, n_buckets=8
        ).collect()
    }
    w = W.orderBy(F.desc("prio"), "doc_id").rowsBetween(W.unboundedPreceding, 0)
    want = {
        r["doc_id"]: r["cum"]
        for r in df.withColumn("cum", F.sum("ntok").over(w))
        .filter(F.col("cum") <= 700)
        .collect()
    }
    assert got == want and 0 < len(want) < 200


# -- BPE merge learning vs an exact Python model ------------------------------

def _py_bpe(words: list[str], n_merges: int):
    """Exact Python mirror of `bpe_learn` (Sennrich et al. 2016
    learn_bpe): per-word symbol lists, highest-frequency adjacent pair
    with (freq desc, lhs, rhs) tie-break, merged left-to-right
    non-overlapping — the third independent realization next to the
    Spark loop (string replace over wrapped symbols) and the DuckDB
    unrolled-CTE oracle."""
    from collections import Counter

    wf = Counter(words)
    vocab = {w: [*w, "</w>"] for w in wf}
    merges = []
    for step in range(1, n_merges + 1):
        pc: Counter = Counter()
        for w, syms in vocab.items():
            for a, b in zip(syms, syms[1:]):
                pc[(a, b)] += wf[w]
        if not pc:
            break
        (l, r), f = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        merges.append((step, l, r, f))
        for w, syms in vocab.items():
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
                    out.append(l + r)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            vocab[w] = out
    return merges, {w: (vocab[w], wf[w]) for w in vocab}


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    words=st.lists(
        # a 2-letter alphabet forces overlapping runs (aaa, abab) and
        # freq ties — the regimes where left-to-right non-overlap and
        # the lexicographic tie-break actually decide the answer
        st.text(alphabet="ab", min_size=1, max_size=5),
        min_size=1, max_size=12,
    ),
)
def test_bpe_learn_matches_python_model(spark, words):
    """bpe_learn ≡ the exact Python model: the merge LIST (order, pair,
    frequency) and the final per-word symbolization both match — the
    wrapped-string replace implements the same left-to-right
    non-overlapping merge as the symbol-list walk."""
    from fiat2_spark.operators.text import bpe_learn, bpe_symbols

    df = spark.createDataFrame([(w,) for w in words], "text string")
    wdf, mdf = bpe_learn(df, "text", n_merges=6)
    got_merges = [(r["step"], r["lhs"], r["rhs"], r["freq"]) for r in
                  mdf.orderBy("step").collect()]
    got_vocab = {
        # merges may absorb the end marker (e.g. a+</w> → 'a</w>'), so
        # the word key is the concatenation minus the trailing marker
        "".join(r["syms"]).removesuffix("</w>"): (r["syms"], r["freq"])
        for r in wdf.select(bpe_symbols(F.col("wrapped")).alias("syms"),
                            "freq").collect()
    }
    want_merges, want_vocab = _py_bpe(words, 6)
    assert got_merges == want_merges, f"\nwords={words}\ngot={got_merges}\nwant={want_merges}"
    assert got_vocab == want_vocab, f"\nwords={words}\ngot={got_vocab}\nwant={want_vocab}"


def test_bpe_merges_left_to_right_non_overlapping(spark):
    """The overlap pin: merging (a,a) over 'aaaa' yields [aa, aa], over
    'aaa' yields [aa, a] — never the overlapped [a, aa] / [aa, aa|a]."""
    from fiat2_spark.operators.text import bpe_learn, bpe_symbols

    df = spark.createDataFrame([("aaaa aaa",)], "text string")
    wdf, mdf = bpe_learn(df, "text", n_merges=1)
    assert [(r["lhs"], r["rhs"]) for r in mdf.collect()] == [("a", "a")]
    got = {
        "".join(s for s in r["syms"] if s != "</w>"): r["syms"]
        for r in wdf.select(bpe_symbols(F.col("wrapped")).alias("syms")).collect()
    }
    assert got == {"aaaa": ["aa", "aa", "</w>"], "aaa": ["aa", "a", "</w>"]}, got


# -- DoReMi domain reweighting vs an exact Python model -----------------------

def _py_doremi(pool: dict[int, tuple[str, str]], ref: dict[int, str],
               vocab_size: int = 4, quant: int = 10_000,
               alpha_num: int = 2, alpha_den: int = 5,
               smooth_num: int = 1, smooth_den: int = 100,
               escale: int = 10**9):
    """Exact Python mirror of `doremi_weights`: the `_py_lm_perplexity`
    fit (same vocab ranking, OOV mapping, bigram MLE, stupid backoff),
    plus the add-1 unigram baseline, per-domain integer excess sums,
    one quantized exp per domain, and the smoothed normalized weight."""
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def q_round(x: float, scale: int) -> int:
        return int(Decimal(x * scale).quantize(Decimal(1), ROUND_HALF_UP))

    ref_toks = [w for t in ref.values() for w in toks(t)]
    cnt = Counter(ref_toks)
    vocab = {
        w for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    }

    def m(w):
        return w if w in vocab else "<unk>"

    c1 = Counter(m(w) for w in ref_toks)
    n_tot = len(ref_toks)
    c2: Counter = Counter()
    for t in ref.values():
        ts = [m(w) for w in toks(t)]
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] += 1

    def q_bi(prev, w):
        if (prev, w) in c2:
            return q_round(-math.log(c2[(prev, w)] / c1[prev]), quant)
        return q_round(
            -math.log(((c1.get(w, 0) + 1) * alpha_num)
                      / ((n_tot + vocab_size + 1) * alpha_den)), quant)

    def q_uni(w):
        return q_round(
            -math.log((c1.get(w, 0) + 1) / (n_tot + vocab_size + 1)), quant)

    agg: dict[str, list[int]] = {}
    for _doc, (domain, t) in pool.items():
        st_ = agg.setdefault(domain, [0, 0, 0])  # n_docs, n_trans, excess_q
        st_[0] += 1
        ts = [m(w) for w in toks(t)]
        for a, b in zip(ts, ts[1:]):
            st_[1] += 1
            st_[2] += max(0, q_uni(b) - q_bi(a, b))
    lamq = {
        d: (q_round(x[2] / x[1], 1) if x[1] > 0 else 0) for d, x in agg.items()
    }
    lam_max = max(lamq.values())
    e = {
        d: q_round(math.exp((lamq[d] - lam_max) / quant), escale) for d in agg
    }
    e_sum, k = sum(e.values()), len(agg)
    return {
        d: (x[0], x[1], x[2],
            (e[d] * (smooth_den - smooth_num)) / (e_sum * smooth_den)
            + smooth_num / (k * smooth_den))
        for d, x in agg.items()
    }


def _py_doremi_trajectory(pool, ref, rounds: int = 3,
                          vocab_size: int = 4, quant: int = 10_000,
                          smooth_num: int = 1, smooth_den: int = 100,
                          escale: int = 10**6, ascale: int = 10**9):
    """Exact Python mirror of `doremi_weights_trajectory`: the shared
    `_py_doremi` stats + fixed quantized e, then T integer-fixed-point
    multiplicative-weights rounds with the SAME pinned-order float
    division pair the engines evaluate, trajectory-averaged."""
    import math
    from decimal import ROUND_HALF_UP, Decimal

    def q_round(x: float, scale: int = 1) -> int:
        return int(Decimal(x * scale).quantize(Decimal(1), ROUND_HALF_UP))

    stats = _py_doremi(pool, ref, vocab_size=vocab_size, quant=quant,
                       smooth_num=smooth_num, smooth_den=smooth_den)
    # recompute lamq/e at the trajectory's escale from the returned
    # integer stats (bit-equal to the engine's by the _py_doremi test)
    lamq = {d: (q_round(x[2] / x[1]) if x[1] > 0 else 0)
            for d, x in stats.items()}
    lam_max = max(lamq.values())
    e = {d: q_round(math.exp((lamq[d] - lam_max) / quant), escale)
         for d in stats}
    k = len(stats)
    w1 = ascale * (smooth_den - smooth_num) // smooth_den
    w2 = ascale * smooth_num
    a = {d: q_round(float(ascale) / k) for d in stats}
    asum = {d: 0 for d in stats}
    for _t in range(rounds):
        m = {d: a[d] * e[d] for d in stats}
        m_sum = sum(m.values())
        a = {d: q_round(float(m[d]) * float(w1) / float(m_sum)
                        + float(w2) / float(k * smooth_den))
             for d in stats}
        for d in stats:
            asum[d] += a[d]
    return {
        d: (x[0], x[1], x[2],
            q_round(float(asum[d]) / float(rounds * ascale), 10**6) / 10**6)
        for d, x in stats.items()
    }


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    pool=st.lists(
        st.tuples(
            st.sampled_from(["news", "web", "code"]),
            st.lists(st.sampled_from("alpha beta gamma delta eps zeta".split()),
                     min_size=0, max_size=6).map(" ".join),
        ),
        min_size=1, max_size=8,
    ),
    ref=st.lists(
        st.lists(st.sampled_from("alpha beta kappa mu nu xi".split()),
                 min_size=1, max_size=8).map(" ".join),
        min_size=1, max_size=4,
    ),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_doremi_weights_match_python_model(spark, pool, ref):
    """doremi_weights ≡ the exact Python model: integer columns
    (n_docs, n_trans, excess_q) bit-equal, weights within 1e-6 of the
    unrounded model (the one float the operator rounds), Σ weights ≈ 1
    — covering empty-transition domains (λ = 0, so e =
    round(exp(-λ_max/quant)·escale), the softmax minimum; e = escale
    only when λ_max = 0) and the OOV/backoff floor."""
    from fiat2_spark.operators.text import doremi_weights

    pool_t = {i: dt for i, dt in enumerate(pool)}
    ref_t = {100 + i: t for i, t in enumerate(ref)}
    pdf = spark.createDataFrame(
        [(i, d, t) for i, (d, t) in pool_t.items()],
        "doc_id long, source string, text string",
    )
    rdf = spark.createDataFrame(
        [(i, "ref", t) for i, t in ref_t.items()],
        "doc_id long, source string, text string",
    )
    got = {
        r["domain"]: (r["n_docs"], r["n_trans"], r["excess_q"], r["weight"])
        for r in doremi_weights(
            pdf, rdf, "doc_id", "text", "source", vocab_size=4
        ).collect()
    }
    want = _py_doremi(pool_t, ref_t, vocab_size=4)
    assert set(got) == set(want)
    for d in want:
        assert got[d][:3] == want[d][:3], f"\n{d}\ngot={got[d]}\nwant={want[d]}"
        assert abs(got[d][3] - want[d][3]) <= 1e-6, f"\n{d}\ngot={got[d]}\nwant={want[d]}"
    assert abs(sum(v[3] for v in got.values()) - 1.0) <= 1e-5 * max(len(got), 1)


def test_doremi_upweights_learnable_domains(spark):
    """Directional DoReMi property: a domain whose bigrams the
    reference LM knows (large unigram→bigram improvement = high excess
    loss on the learnability axis) outweighs a same-vocabulary salad
    domain whose transitions all back off (zero excess)."""
    from fiat2_spark.operators.text import doremi_weights

    ref = spark.createDataFrame(
        [(100 + i, "the spark engine runs the query plan") for i in range(4)],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(
        [
            (1, "seen", "the spark engine runs the query plan"),
            (2, "salad", "plan runs the spark query engine plan the runs"),
        ],
        "doc_id long, dom string, text string",
    )
    rows = {
        r["domain"]: r
        for r in doremi_weights(pool, ref, "doc_id", "text", "dom",
                                vocab_size=16).collect()
    }
    assert rows["seen"]["excess_q"] > rows["salad"]["excess_q"], rows
    assert rows["seen"]["weight"] > rows["salad"]["weight"], rows


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(st.text(alphabet="ab", min_size=1, max_size=5),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=6,
    ),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_bpe_encode_matches_python_model(spark, docs):
    """bpe_encode ≡ learn-then-apply in the exact Python model: per-doc
    word and BPE-symbol counts after 8 learned merges applied in order,
    left-to-right non-overlapping (the chained-replace projection
    agrees with the symbol-list walk on overlap runs and tie merges)."""
    from fiat2_spark.operators.text import bpe_encode, bpe_learn

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    _, mdf = bpe_learn(df, "text", n_merges=8)
    merges = [(r["lhs"], r["rhs"]) for r in mdf.orderBy("step").collect()]
    got = {
        r["doc_id"]: (r["n_words"], r["n_bpe_tokens"])
        for r in bpe_encode(df, "doc_id", "text", merges).collect()
    }
    words = [w for t in docs for w in t.split()]
    want_merges, want_vocab = _py_bpe(words, 8)
    assert merges == [(l, r) for _, l, r, _ in want_merges]
    n_sym = {w: len(syms) for w, (syms, _) in want_vocab.items()}
    want = {}
    for i, t in enumerate(docs):
        ws = t.split()
        if ws:
            want[i] = (len(ws), sum(n_sym[w] for w in ws))
    assert got == want, f"\ndocs={docs}\nmerges={merges}\ngot={got}\nwant={want}"


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    docs=st.lists(
        st.lists(st.text(alphabet="ab", min_size=1, max_size=5),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=6,
    ),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_bpe_encode_ids_matches_python_model(spark, docs):
    """bpe_encode_ids ≡ the exact Python model at SEQUENCE granularity:
    every document's full ordered token-ID stream matches — positions
    are the arithmetic word-prefix + in-word symbol index, ids are
    dense lexicographic ranks over the encoded vocab's distinct
    symbols. The 2-letter alphabet forces overlap runs and tie merges,
    the regimes where ordering actually decides the answer."""
    from fiat2_spark.operators.text import bpe_encode_ids, bpe_learn

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs)], "doc_id long, text string"
    )
    _, mdf = bpe_learn(df, "text", n_merges=8)
    merges = [(r["lhs"], r["rhs"]) for r in mdf.orderBy("step").collect()]
    got: dict[int, list[int]] = {}
    for r in bpe_encode_ids(df, "doc_id", "text", merges).collect():
        got.setdefault(r["doc_id"], []).append((r["pos"], r["token_id"]))
    got = {d: [tid for _, tid in sorted(v)] for d, v in got.items()}
    # positions must be exactly 1..n per doc (the sorted() above hides
    # gaps/dups unless asserted)
    for r in bpe_encode_ids(df, "doc_id", "text", merges) \
            .groupBy("doc_id") \
            .agg(F.count(F.lit(1)).alias("n"), F.min("pos").alias("lo"),
                 F.max("pos").alias("hi"),
                 F.countDistinct("pos").alias("d")).collect():
        assert (r["lo"], r["hi"], r["d"]) == (1, r["n"], r["n"]), r

    _, want_vocab = _py_bpe([w for t in docs for w in t.split()], 8)
    syms_of = {w: syms for w, (syms, _) in want_vocab.items()}
    all_syms = sorted({s for syms in syms_of.values() for s in syms})
    sym_id = {s: i + 1 for i, s in enumerate(all_syms)}
    want = {}
    for i, t in enumerate(docs):
        ws = t.split()
        if ws:
            want[i] = [sym_id[s] for w in ws for s in syms_of[w]]
    assert got == want, f"\ndocs={docs}\nmerges={merges}\ngot={got}\nwant={want}"


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    pool=st.lists(
        st.tuples(
            st.sampled_from(["news", "web", "code"]),
            st.lists(st.sampled_from("alpha beta gamma delta eps zeta".split()),
                     min_size=0, max_size=6).map(" ".join),
        ),
        min_size=1, max_size=8,
    ),
    ref=st.lists(
        st.lists(st.sampled_from("alpha beta kappa mu nu xi".split()),
                 min_size=1, max_size=8).map(" ".join),
        min_size=1, max_size=4,
    ),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_doremi_trajectory_matches_python_model(spark, pool, ref):
    """doremi_weights_trajectory ≡ the exact Python model over 3
    rounds: integer stats bit-equal, trajectory-averaged weights within
    1e-6 (one quantized exp per domain is the only libm site; every
    round's fixed-point update mirrors bit-for-bit), Σ weights ≈ 1."""
    from fiat2_spark.operators.text import doremi_weights_trajectory

    pool_t = {i: dt for i, dt in enumerate(pool)}
    ref_t = {100 + i: t for i, t in enumerate(ref)}
    pdf = spark.createDataFrame(
        [(i, d, t) for i, (d, t) in pool_t.items()],
        "doc_id long, source string, text string",
    )
    rdf = spark.createDataFrame(
        [(i, "ref", t) for i, t in ref_t.items()],
        "doc_id long, source string, text string",
    )
    got = {
        r["domain"]: (r["n_docs"], r["n_trans"], r["excess_q"], r["weight"])
        for r in doremi_weights_trajectory(
            pdf, rdf, "doc_id", "text", "source", rounds=3, vocab_size=4
        ).collect()
    }
    want = _py_doremi_trajectory(pool_t, ref_t, rounds=3, vocab_size=4)
    assert set(got) == set(want)
    for d in want:
        assert got[d][:3] == want[d][:3], f"\n{d}\ngot={got[d]}\nwant={want[d]}"
        assert abs(got[d][3] - want[d][3]) <= 1e-6, f"\n{d}\ngot={got[d]}\nwant={want[d]}"
    assert abs(sum(v[3] for v in got.values()) - 1.0) <= 1e-5 * max(len(got), 1)


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_doremi_trajectory_single_round_reduces_to_one_step(spark):
    """With T=1 the trajectory average IS the single update from
    uniform — directionally identical to `doremi_weights` (the learnable
    domain outweighs the salad domain), and repeated rounds sharpen
    monotonically: weight_seen(T=4) ≥ weight_seen(T=1)."""
    from fiat2_spark.operators.text import doremi_weights_trajectory

    ref = spark.createDataFrame(
        [(100 + i, "ref", "the spark engine runs the query plan") for i in range(4)],
        "doc_id long, dom string, text string",
    )
    pool = spark.createDataFrame(
        [
            (1, "seen", "the spark engine runs the query plan"),
            (2, "salad", "plan runs the spark query engine plan the runs"),
        ],
        "doc_id long, dom string, text string",
    )
    w = {}
    for t in (1, 4):
        rows = {
            r["domain"]: r["weight"]
            for r in doremi_weights_trajectory(
                pool, ref, "doc_id", "text", "dom", rounds=t, vocab_size=16
            ).collect()
        }
        assert rows["seen"] > rows["salad"], (t, rows)
        w[t] = rows["seen"]
    assert w[4] >= w[1], w


def test_tokens_unicode_contract(spark):
    r"""The tokenizer-contract pins: \p{L}\p{N} keeps accented and
    non-Latin words whole where the ASCII contract shreds or drops
    them; Unicode lower() applies; digits stay; BMP punctuation of any
    script separates; and the BPE family composes through
    tokenizer=tokens_unicode (merges over non-ASCII symbols)."""
    from fiat2_spark.operators.text import bpe_learn, tokens, tokens_unicode

    df = spark.createDataFrame(
        [(1, "Früh—ÉTÉ 42 привет…мир"), (2, "ééé ééé")],
        "doc_id long, text string",
    )
    got = {
        r["doc_id"]: (r["u"], r["a"])
        for r in df.select(
            "doc_id",
            tokens_unicode(F.col("text")).alias("u"),
            tokens(F.col("text")).alias("a"),
        ).collect()
    }
    assert got[1] == (
        ["früh", "été", "42", "привет", "мир"],
        ["fr", "h", "t", "42"],
    ), got[1]
    # 8 merges on 'ééé</w>' x2: (é,é) f=4 → [éé, é, </w>]; then the
    # f=2 tie (éé,é) vs (é,</w>) resolves lexicographically to
    # (é,</w>) → [éé, é</w>]; then (éé,é</w>); pairs run dry at 3
    _, mdf = bpe_learn(
        df.filter(F.col("doc_id") == 2), "text", n_merges=8,
        tokenizer=tokens_unicode,
    )
    merges = [(r["lhs"], r["rhs"]) for r in mdf.orderBy("step").collect()]
    assert merges == [("é", "é"), ("é", "</w>"), ("éé", "é</w>")], merges


@settings(max_examples=20, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(
            # curated BMP alphabet: Latin w/ diacritics, German sharp s,
            # Cyrillic, Greek INCLUDING capital and final sigma (this
            # fuzz found Java's contextual final-sigma lowercase vs
            # utf8proc's simple mapping — fixed by the tokenizer's
            # ς → σ case-folding, so Σ/ς stay in the alphabet as the
            # regression driver), CJK (caseless), digits, ASCII +
            # non-ASCII punctuation/space separators. Deliberately
            # excludes dotted capital I and ligatures — outside the
            # documented tokenizer contract, not silently asserted equal.
            alphabet="aZéÉüÜßñçøÅ приветМИР αβΣς 汉字 019 .,;!?—…«»'\"()-_/\t",
            min_size=0, max_size=40,
        ),
        min_size=1, max_size=8,
    ),
)
def test_tokens_unicode_differential_fuzz(spark, texts):
    """Differential fuzz of the unicode tokenizer contract: on random
    mixed-script BMP text, Spark's lower+\\p{L}\\p{N} split must equal
    DuckDB's exactly, token for token — the parity the registered
    oracle relies on, exercised far beyond the crafted rows."""
    import duckdb

    from fiat2_spark.operators.text import (
        CASE_SKEW_DST, CASE_SKEW_SRC, tokens_unicode,
    )

    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r["i"]: r["toks"]
        for r in df.select("i", tokens_unicode(F.col("text")).alias("toks")).collect()
    }
    con = duckdb.connect()
    try:
        want = {}
        for i, t in enumerate(texts):
            (row,) = con.execute(
                r"""SELECT list_filter(
                       string_split_regex(
                           replace(lower(translate(?, ?, ?)), 'ς', 'σ'),
                           '[^\p{L}\p{N}]+'),
                       x -> x <> '')""",
                [t, CASE_SKEW_SRC, CASE_SKEW_DST],
            ).fetchall()
            want[i] = row[0]
    finally:
        con.close()
    assert got == want, f"\ntexts={texts!r}\ngot={got}\nwant={want}"


def test_nb_classifier_unicode_fit_score_pairing(spark):
    r"""The tokenizer= threading through the NB classifier (VERDICT r10
    task 2): trained AND scored under tokens_unicode, a Cyrillic
    positive/negative split separates (the features exist); under the
    ASCII tokenizer the same corpus is featureless — every doc scores
    the bare bias — which is exactly the silent degradation the
    threading removes."""
    from fiat2_spark.operators.text import (
        nb_classifier_scores, tokens, tokens_unicode,
    )

    rows = [
        (1, "хорошие данные чистый текст", True),
        (2, "хорошие данные полный текст", True),
        (3, "спам мусор реклама спам", False),
        (4, "мусор реклама спам мусор", False),
    ]
    train = spark.createDataFrame(rows, "doc_id long, text string, label boolean")
    uni = {
        r["doc_id"]: (r["logit_q"], r["pred"])
        for r in nb_classifier_scores(
            train, train, "doc_id", "text", tokenizer=tokens_unicode
        ).collect()
    }
    assert uni[1][1] and uni[2][1] and not uni[3][1] and not uni[4][1], uni
    ascii_scores = {
        r["doc_id"]: r["logit_q"]
        for r in nb_classifier_scores(
            train, train, "doc_id", "text", tokenizer=tokens
        ).collect()
    }
    # ASCII tokenizer: zero features per doc → everyone gets the bias
    assert len(set(ascii_scores.values())) == 1, ascii_scores


def test_gopher_rules_unicode_alpha_pairing(spark):
    r"""gopher_rules' multilingual pairing (tokenizer=tokens_unicode,
    alpha_pattern=\p{L}): a Cyrillic document's words count as
    alphabetic under the paired pattern and fail under the default
    [a-z] — the alpha rule must recognize the tokenizer's alphabet."""
    from fiat2_spark.operators.text import gopher_rules, tokens_unicode

    text = " ".join(["слово текст данные пример" ] * 15)
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    paired = gopher_rules(
        df, "doc_id", "text", min_words=10,
        tokenizer=tokens_unicode, alpha_pattern=r"\p{L}",
    ).collect()[0]
    assert paired["r_alpha"] and paired["r_word_count"], paired.asDict()
    mismatched = gopher_rules(
        df, "doc_id", "text", min_words=10, tokenizer=tokens_unicode
    ).collect()[0]
    assert not mismatched["r_alpha"], mismatched.asDict()


def test_ccnet_buckets_tercile_sizes_and_order(spark):
    """CCNet head/middle/tail invariants on a crafted 2-language corpus:
    per language the bucket sizes are exactly the rank-tercile cuts
    (|head| = ⌊n/3⌋, |middle| = ⌊2n/3⌋−⌊n/3⌋, rest tail), every head
    doc's mq is ≤ every tail doc's mq within its language, and sub-2-
    token documents are excluded."""
    from fiat2_spark.operators.text import ccnet_buckets

    ref = spark.createDataFrame(
        [(100 + i, "the cat sat on the mat and the dog ran", "en")
         for i in range(3)],
        "doc_id long, text string, lang string",
    )
    rows = []
    for i in range(7):  # en: 7 docs, increasingly OOV
        rows.append((i, "the cat sat on the mat " + "zq " * i, "en"))
    for i in range(10, 15):  # xx: 5 docs
        rows.append((i, "blork flem grup snee " + "wub " * (i - 10), "xx"))
    rows.append((99, "one", "en"))  # single token: no transition
    pool = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    got = ccnet_buckets(pool, ref, "doc_id", "text", "lang").collect()
    assert all(r["doc_id"] != 99 for r in got)
    by_lang: dict[str, list] = {}
    for r in got:
        by_lang.setdefault(r["lang"], []).append(r)
    assert {(l, len(v)) for l, v in by_lang.items()} == {("en", 7), ("xx", 5)}
    for lang, docs in by_lang.items():
        n = len(docs)
        sizes = {"head": 0, "middle": 0, "tail": 0}
        for r in docs:
            sizes[r["bucket"]] += 1
        assert sizes["head"] == n // 3, (lang, sizes)
        assert sizes["middle"] == (2 * n) // 3 - n // 3, (lang, sizes)
        heads = [r["mq"] for r in docs if r["bucket"] == "head"]
        tails = [r["mq"] for r in docs if r["bucket"] == "tail"]
        assert max(heads) <= min(tails), (lang, heads, tails)


@settings(max_examples=30, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    texts=st.lists(
        st.text(
            # exclude the engines' known lower() divergences: the 14
            # Unicode-version skew capitals (CASE_SKEW_SRC) and the
            # contextual final-sigma 'Σ' — the fixture applies a BARE
            # lower() (its contract input is the ASCII documents
            # table, where these can't occur); tokenizer-level parity
            # for them is the TOKENIZER's fold, fuzzed separately
            # with no exclusions
            alphabet=st.characters(
                codec="utf-8",
                categories=("Lu", "Ll", "Nd", "Po", "Zs"),
                max_codepoint=0xFFFF,
                exclude_characters=_SKEW + "Σ",
            ),
            max_size=40,
        ),
        min_size=1, max_size=8,
    ),
    pick=st.integers(min_value=0, max_value=3),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_translate_fixture_differential_fuzz(spark, texts, pick):
    """Differential fuzz of the multilingual-fixture derivation: the
    per-char transliteration (lower + translate against each of the
    three 26-letter target alphabets) must produce byte-identical
    strings in Spark and DuckDB on arbitrary BMP text — the parity
    every query built on `multilingual_documents` relies on. `pick`
    rotates which alphabet the example exercises."""
    import duckdb

    from fiat2_spark.workloads.pipeline import (
        _XLIT_ACC, _XLIT_CYR, _XLIT_GRK, _XLIT_SRC,
    )

    tgt = [_XLIT_SRC, _XLIT_CYR, _XLIT_GRK, _XLIT_ACC][pick]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "i long, text string"
    )
    got = {
        r["i"]: r["x"]
        for r in df.select(
            "i", F.translate(F.lower(F.col("text")), _XLIT_SRC, tgt).alias("x")
        ).collect()
    }
    con = duckdb.connect()
    try:
        want = {
            i: con.execute(
                "SELECT translate(lower(?), ?, ?)", [t, _XLIT_SRC, tgt]
            ).fetchone()[0]
            for i, t in enumerate(texts)
        }
    finally:
        con.close()
    assert got == want, f"\ntexts={texts!r}\ngot={got}\nwant={want}"


def test_doremi_trajectory_loop_checkpoints_release(spark):
    """The shared corpus pass leaves exactly its own K-row stats block
    resident (the bigram fit's checkpoints are released once the stats
    are materialized). doremi_weights_trajectory's loop materializes 2
    more checkpoints for rounds=3 (initial state + final; interior
    checkpoints land every 4th round) and releases each one the next
    replaces, stats included, so only the final state stays resident,
    and targeted release leaves none of them resident."""
    from fiat2_spark.operators.text import (
        _doremi_domain_stats,
        doremi_weights_trajectory,
    )
    from fiat2_spark.session import _resident, block_ids, release_blocks

    def ckpt_ids():
        return {rid for rid, (is_block, _) in _resident(spark).items() if is_block}

    def new_blocks(fn):
        before = ckpt_ids()
        out = fn()
        return out, ckpt_ids() - before

    ref = spark.createDataFrame(
        [(100, "the cat sat on the mat the cat ran")],
        "doc_id long, text string",
    )
    pool = spark.createDataFrame(
        [(1, "the cat sat on the mat", "seen"),
         (2, "blork flem grup snee wub", "salad")],
        "doc_id long, text string, dom string",
    )
    stats, stats_blocks = new_blocks(lambda: _doremi_domain_stats(
        pool, ref, "text", "dom", 16,
    ))
    assert stats_blocks == block_ids(stats)
    rows, traj_blocks = new_blocks(lambda: {
        r["domain"]: r["weight"]
        for r in doremi_weights_trajectory(
            pool, ref, "doc_id", "text", "dom", rounds=3, vocab_size=16,
        ).collect()
    })
    assert len(traj_blocks) == 1
    assert set(rows) == {"seen", "salad"}
    assert abs(sum(rows.values()) - 1.0) < 1e-5
    released = stats_blocks | traj_blocks
    release_blocks(spark, frozenset(released))
    assert not (released & ckpt_ids()), "loop blocks must release"


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(
    raw=st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta eps zeta".split()),
                 min_size=1, max_size=6).map(" ".join),
        min_size=1, max_size=5,
    ),
    ref=st.lists(
        st.lists(st.sampled_from("alpha beta kappa mu nu xi".split()),
                 min_size=2, max_size=6).map(" ".join),
        min_size=1, max_size=4,
    ),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_lm_perplexity_transliteration_invariance(spark, raw, ref):
    """lm_perplexity under tokens_unicode on a per-char transliterated
    corpus must score bitwise-equal to the ASCII run on the original:
    a character bijection preserves every unigram/bigram count, and all
    NLLs are quantized functions of exact count ratios. (vocab_size is
    set above the distinct-word count so the top-V cutoff's
    lexicographic tiebreak — which a transliteration does NOT preserve
    — never engages.) This pins that the tokenizer= threading changes
    WHICH tokens are seen and nothing else about the model."""
    from fiat2_spark.operators.text import lm_perplexity, tokens_unicode
    from fiat2_spark.workloads.pipeline import _XLIT_CYR, _XLIT_SRC

    def mk(rows, base):
        return spark.createDataFrame(
            [(base + i, t) for i, t in enumerate(rows)],
            "doc_id long, text string",
        )

    rdf, tdf = mk(raw, 0), mk(ref, 100)
    ascii_scores = {
        (r["doc_id"]): (r["n_trans"], r["nll_q"])
        for r in lm_perplexity(rdf, tdf, "doc_id", "text",
                               vocab_size=64).collect()
    }
    xl = lambda df: df.withColumn(
        "text", F.translate(F.col("text"), _XLIT_SRC, _XLIT_CYR)
    )
    uni_scores = {
        (r["doc_id"]): (r["n_trans"], r["nll_q"])
        for r in lm_perplexity(xl(rdf), xl(tdf), "doc_id", "text",
                               vocab_size=64,
                               tokenizer=tokens_unicode).collect()
    }
    assert ascii_scores == uni_scores, f"\nascii={ascii_scores}\nuni={uni_scores}"


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_case_skew_set_pins_all_bmp_lower_divergence(spark):
    """EXHAUSTIVE BMP sweep: the engines' lower() must agree on every
    BMP codepoint outside the pinned CASE_SKEW_SRC set — the tripwire
    that turns a JVM or DuckDB Unicode-table upgrade into a test
    failure instead of a silent oracle break (this is how both the
    final-sigma and the Unicode-12-16 skew were caught). Also pins
    that the tokenizer's pre-lower translate makes the two engines
    agree ON the skew set."""
    import duckdb

    from fiat2_spark.operators.text import CASE_SKEW_DST, CASE_SKEW_SRC

    cps = [c for c in range(1, 0x10000) if not (0xD800 <= c <= 0xDFFF)]
    df = spark.createDataFrame([(c, chr(c)) for c in cps], "cp int, ch string")
    sp = {
        r["cp"]: r["lo"]
        for r in df.select("cp", F.lower(F.col("ch")).alias("lo")).collect()
    }
    con = duckdb.connect()
    try:
        con.execute("create table t(cp int, ch varchar)")
        con.executemany(
            "insert into t values (?, ?)", [(c, chr(c)) for c in cps]
        )
        du = dict(con.execute("select cp, lower(ch) from t").fetchall())
        divergent = sorted(c for c in cps if sp[c] != du[c])
        assert divergent == sorted(ord(c) for c in CASE_SKEW_SRC), [
            hex(c) for c in divergent
        ]
        # after the tokenizer's fold, the skew set itself agrees too
        folded = con.execute(
            "select lower(translate(?, ?, ?))",
            [CASE_SKEW_SRC, CASE_SKEW_SRC, CASE_SKEW_DST],
        ).fetchone()[0]
    finally:
        con.close()
    sp_folded = (
        df.sparkSession.range(1)
        .select(
            F.lower(
                F.translate(F.lit(CASE_SKEW_SRC), CASE_SKEW_SRC, CASE_SKEW_DST)
            ).alias("x")
        )
        .collect()[0]["x"]
    )
    assert sp_folded == folded == CASE_SKEW_DST


# -- r12: script ID + multiscript language ID ---------------------------------

def test_script_id_crafted_rows(spark):
    """script_id's character-majority rule on crafted rows: pure-script
    rows classify to their script, a mixed row goes to the majority,
    an exact tie goes to the earlier SCRIPT_CLASSES entry, and a row
    with no classified letter (digits/punct/unlisted scripts) is
    'und'."""
    from fiat2_spark.operators.text import script_id

    rows = [
        (1, "hello world"),                       # latin
        (2, "привет мир"),                        # cyrillic
        (3, "γεια σου κόσμε"),                    # greek
        (4, "café déjà vu naïve"),                # ascii 6 < accented? no:
                                                  # c,a,f,d,j,v,u,n,a,v,e latin
        (5, "ééé zz"),                            # latin_ext 3 > latin 2
        (6, "аб ab"),                             # tie 2-2 → latin (priority)
        (7, "12345 .,!?"),                        # und
        (8, "日本語のテキスト"),                    # unlisted script → und
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    from pyspark.sql import functions as F

    out = {r["i"]: r["s"] for r in df.select("i", script_id(F.col("t")).alias("s")).collect()}
    assert out[1] == "latin"
    assert out[2] == "cyrillic"
    assert out[3] == "greek"
    assert out[4] == "latin"      # 11 ascii letters vs 4 accented
    assert out[5] == "latin_ext"
    assert out[6] == "latin"      # tie → first priority
    assert out[7] == "und"
    assert out[8] == "und"


def test_langid_multiscript_matches_ascii_langid(spark):
    """Transliteration invariance (the property the multiscript
    stopword table is built on): stopword language ID over the multilingual
    fixture under tokens_unicode predicts EXACTLY what the plain ASCII
    lang_id predicts on the original documents — per-char
    transliteration commutes with tokenization and stopword matching.
    Also: every fixture row's script prediction matches the doc_id % 4
    ground truth (script_ok all true)."""
    from pyspark.sql import functions as F

    from fiat2_spark.operators.text import lang_id, tokens
    from fiat2_spark.workloads.pipeline import langid_multiscript
    from fiat2_spark.workloads.util import tbl

    sf = "/root/testdata/sf0.001"
    out = langid_multiscript(spark, sf).collect()
    assert out
    assert all(r["script_ok"] for r in out), [
        (r["doc_id"], r["script"]) for r in out if not r["script_ok"]
    ][:5]
    base = {
        r["doc_id"]: r["p"]
        for r in tbl(spark, sf, "documents")
        .select("doc_id", lang_id(tokens(F.col("text"))).alias("p"))
        .collect()
    }
    mism = [(r["doc_id"], r["lang_pred"], base[r["doc_id"]]) for r in out
            if r["lang_pred"] != base[r["doc_id"]]]
    assert not mism, mism[:5]


def test_cjk_nospace_contract_crafted_rows(spark):
    """The no-space-script CONTRACT, pinned in BOTH engines on crafted
    rows: plain tokens_unicode returns one token per unsegmented
    Han/kana RUN (a whole sentence = one token — the documented
    limitation), while tokens_unicode_cjk falls back to per-codepoint
    tokens inside the fixed CJK_CLASS ranges and is byte-identical to
    tokens_unicode everywhere else."""
    import duckdb
    from pyspark.sql import functions as F

    from fiat2_spark.operators.text import (
        CJK_CLASS,
        tokens_unicode,
        tokens_unicode_cjk,
    )
    from fiat2_spark.workloads.pipeline import _uni_split_sql_over

    rows = [
        (1, "hello 世界です ok"),          # mixed: run stays one token
        (2, "日本語のテキストです"),         # pure unsegmented sentence
        (3, "the quick brown fox"),        # no CJK: fallback == plain
        (4, "привет κόσμε 漢字 mixed"),    # three scripts + CJK
        (5, "ひらがなとカタカナ12と漢字"),    # kana + digits inside a run
    ]
    df = spark.createDataFrame(rows, "i long, t string")
    got = {
        r["i"]: (r["u"], r["c"])
        for r in df.select(
            "i",
            tokens_unicode(F.col("t")).alias("u"),
            tokens_unicode_cjk(F.col("t")).alias("c"),
        ).collect()
    }
    # the contract, literally:
    assert got[1] == (
        ["hello", "世界です", "ok"],
        ["hello", "世", "界", "で", "す", "ok"],
    )
    assert got[2][0] == ["日本語のテキストです"]          # ONE token
    assert got[2][1] == list("日本語のテキストです")      # per codepoint
    assert got[3][0] == got[3][1] == ["the", "quick", "brown", "fox"]
    assert got[4] == (
        ["привет", "κόσμε", "漢字", "mixed"],
        ["привет", "κόσμε", "漢", "字", "mixed"],
    )
    # digits split a run under BOTH (12 is \p{N}, kept as its own token
    # by the splitter either way)
    assert got[5][1] == list("ひらがなとカタカナ") + ["12", "と", "漢", "字"]

    # DuckDB mirrors agree bitwise on every crafted row
    con = duckdb.connect()
    try:
        pad = "regexp_replace(t, '(" + CJK_CLASS + r")', ' \1 ', 'g')"
        for i, t in rows:
            u, c = con.execute(
                f"select {_uni_split_sql_over('t')}, {_uni_split_sql_over(pad)} "
                "from (select ? as t)",
                [t],
            ).fetchone()
            assert (u, c) == got[i], (i, u, c, got[i])
    finally:
        con.close()


def _py_lm_perplexity_trigram(raw: dict[int, str], ref: dict[int, str],
                       vocab_size: int = 4, quant: int = 10_000,
                       alpha_num: int = 2, alpha_den: int = 5):
    """Exact Python mirror of `lm_perplexity(order=3)`: trigram MLE, then
    α·bigram, then α²·add-1 unigram (Brants et al. 2007 full stupid
    backoff) — the third independent realization next to the Spark
    plan and the DuckDB oracle."""
    import math
    import re
    from collections import Counter
    from decimal import ROUND_HALF_UP, Decimal

    def toks(text):
        return [t for t in re.split(r"[^a-z0-9]+", text.lower()) if t]

    def q_round(x: float) -> int:
        return int(Decimal(x * quant).quantize(Decimal(1), ROUND_HALF_UP))

    ref_toks = [w for t in ref.values() for w in toks(t)]
    cnt = Counter(ref_toks)
    vocab = {
        w for w, _ in sorted(cnt.items(), key=lambda kv: (-kv[1], kv[0]))[:vocab_size]
    }

    def m(w):
        return w if w in vocab else "<unk>"

    c1 = Counter(m(w) for w in ref_toks)
    n_tot = len(ref_toks)
    c2: Counter = Counter()
    c3: Counter = Counter()
    for t in ref.values():
        ts = [m(w) for w in toks(t)]
        for a, b in zip(ts, ts[1:]):
            c2[(a, b)] += 1
        for a, b, c in zip(ts, ts[1:], ts[2:]):
            c3[(a, b, c)] += 1

    def q_of(p2, p1, w):
        if (p2, p1, w) in c3:
            return q_round(-math.log(c3[(p2, p1, w)] / c2[(p2, p1)]))
        if (p1, w) in c2:
            return q_round(-math.log((c2[(p1, w)] * alpha_num) / (c1[p1] * alpha_den)))
        return q_round(
            -math.log(
                ((c1.get(w, 0) + 1) * alpha_num * alpha_num)
                / ((n_tot + vocab_size + 1) * alpha_den * alpha_den)
            )
        )

    out = {}
    for doc, t in raw.items():
        ts = [m(w) for w in toks(t)]
        tris = list(zip(ts, ts[1:], ts[2:]))
        out[doc] = (len(tris), sum(q_of(a, b, c) for a, b, c in tris))
    return out


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    raw=st.lists(
        st.lists(st.sampled_from("alpha beta gamma delta eps zeta".split()),
                 min_size=0, max_size=7).map(" ".join),
        min_size=1, max_size=6,
    ),
    ref=st.lists(
        st.lists(st.sampled_from("alpha beta kappa mu nu xi".split()),
                 min_size=1, max_size=9).map(" ".join),
        min_size=1, max_size=4,
    ),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_lm_perplexity_trigram_matches_python_model(spark, raw, ref):
    """lm_perplexity(order=3) ≡ the exact Python model on random small corpora —
    all three backoff levels exercised (seen trigram, seen-bigram-only,
    unigram floor), with <3-token docs pinned to (0, 0)."""
    from fiat2_spark.operators.text import lm_perplexity

    raw_t = {i: t for i, t in enumerate(raw)}
    ref_t = {100 + i: t for i, t in enumerate(ref)}
    rdf = spark.createDataFrame(list(raw_t.items()), "doc_id long, text string")
    tdf = spark.createDataFrame(list(ref_t.items()), "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_trans"], r["nll_q"])
        for r in lm_perplexity(
            rdf, tdf, "doc_id", "text", vocab_size=4, order=3
        ).collect()
    }
    want = _py_lm_perplexity_trigram(raw_t, ref_t, vocab_size=4)
    assert got == want, f"\nraw={raw_t}\nref={ref_t}\ngot={got}\nwant={want}"


def test_stopword_scores_table_matches_python_model(spark):
    """The relational stopword scorer (broadcast profile join) plus
    `argmax_label` equals a Python model of stopword language ID over
    the same table: per-label hit counts with multiplicity, argmax in
    sorted-label order, earliest label on ties, 'und' when nothing
    fires — including a token-less document (explode_outer)."""
    import re

    from pyspark.sql import functions as F

    from fiat2_spark.operators.text import (
        argmax_label,
        stopword_scores_table,
        tokens_unicode,
    )

    table = {
        "en": ["the", "and", "of"],
        "ru": ["и", "не", "на"],
        "el": ["και", "το", "να"],
    }
    rows = [
        (1, "the cat and the dog"),
        (2, "и вот не только на столе"),
        (3, "και εδώ το φως να δεις"),
        (4, "xyzzy plugh"),          # no hits → und
        (5, ""),                      # token-less → und (explode_outer)
        (6, "the и"),                 # tie → earliest sorted label (el < en < ru)
    ]

    def model(text):
        toks = [t for t in re.split(r"[^\w]+|_", text.lower()) if t]
        labels = sorted(table)
        scores = [sum(t in table[k] for t in toks) for k in labels]
        best = max(scores)
        return "und" if best == 0 else labels[scores.index(best)]

    df = spark.createDataFrame(rows, "doc_id long, text string")
    sv = stopword_scores_table(df, tokens_unicode(F.col("text")), ["doc_id"], table)
    rel = {
        r["doc_id"]: r["p"]
        for r in sv.select(
            "doc_id", argmax_label(F.col("__sv"), sorted(table)).alias("p")
        ).collect()
    }
    assert rel == {i: model(t) for i, t in rows}
    assert rel[1] == "en" and rel[2] == "ru" and rel[3] == "el"
    assert rel[4] == "und" and rel[5] == "und" and rel[6] == "en"


_CJK_FRAGS = [
    "hello", "fox", "мир", "κόσμος", "世界", "の", "テキスト", "漢字景",
    "ひらが", "123", "a1b", " ", ", ", "。", "、", "す", "中",
]


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(docs=st.lists(
    st.lists(st.sampled_from(_CJK_FRAGS), min_size=0, max_size=12).map("".join),
    min_size=1, max_size=6,
))
def test_cjk_tokenizer_differential_fuzz(spark, docs):
    """Differential fuzz of the CJK fallback: on arbitrary
    mixed-script concatenations (Latin/Cyrillic/Greek words, Han/kana
    runs, digits, ASCII and IDEOGRAPHIC punctuation — U+3002/U+3001 sit
    outside CJK_CLASS and must behave as separators), both
    `tokens_unicode` and `tokens_unicode_cjk` produce byte-identical
    token streams in Spark and DuckDB. Extends the crafted-row contract
    pins to the composition space."""
    import duckdb

    from fiat2_spark.operators.text import CJK_CLASS, tokens_unicode, tokens_unicode_cjk
    from fiat2_spark.workloads.pipeline import _uni_split_sql_over

    df = spark.createDataFrame(list(enumerate(docs)), "i long, t string")
    got = {
        r["i"]: (r["u"], r["c"])
        for r in df.select(
            "i",
            tokens_unicode(F.col("t")).alias("u"),
            tokens_unicode_cjk(F.col("t")).alias("c"),
        ).collect()
    }
    pad = "regexp_replace(t, '(" + CJK_CLASS + r")', ' \1 ', 'g')"
    con = duckdb.connect()
    try:
        for i, t in enumerate(docs):
            u, c = con.execute(
                f"select {_uni_split_sql_over('t')}, {_uni_split_sql_over(pad)} "
                "from (select ? as t)",
                [t],
            ).fetchone()
            assert (u, c) == got[i], (i, t, u, c, got[i])
    finally:
        con.close()


@settings(max_examples=12, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture,
                                 HealthCheck.too_slow])
@given(texts=st.lists(
    st.text(
        alphabet=st.characters(
            codec="utf-8",
            categories=("Lu", "Ll", "Nd", "Po", "Zs", "So"),
            max_codepoint=0xFFFF,
        ),
        max_size=40,
    ),
    min_size=1, max_size=8,
))
def test_script_counts_differential_fuzz(spark, texts):
    """Differential fuzz of `script_counts`: the per-class character
    counts (fixed BMP ranges, regexp_replace-delete counting) agree
    with DuckDB on arbitrary BMP text — including characters in NO
    class (symbols, other scripts), which both engines must simply not
    count. The argmax on top is deterministic Spark-side arithmetic
    pinned by the crafted-row test."""
    import duckdb

    from fiat2_spark.operators.text import SCRIPT_CLASSES, script_counts

    df = spark.createDataFrame(list(enumerate(texts)), "i long, t string")
    got = {
        r["i"]: list(r["v"])
        for r in df.select("i", script_counts(F.col("t")).alias("v")).collect()
    }
    con = duckdb.connect()
    try:
        exprs = ", ".join(
            f"length(t) - length(regexp_replace(t, '{cls}', '', 'g'))"
            for _, cls in SCRIPT_CLASSES
        )
        for i, t in enumerate(texts):
            want = list(con.execute(f"select {exprs} from (select ? as t)", [t]).fetchone())
            assert got[i] == want, (i, t, got[i], want)
    finally:
        con.close()


def test_lm_perplexity_trigram_unicode_fit_score_pairing(spark):
    """lm_perplexity(order=3) under tokenizer=tokens_unicode on a Cyrillic
    corpus: the fluent document (every trigram seen in the reference)
    scores strictly lower mean NLL than reversed word salad over the
    same vocabulary (forced down the backoff chain), and the ASCII
    default scores the same corpus as empty (0, 0) — the fit/score
    pairing contract one order up from the registered bigram gate."""
    from fiat2_spark.operators.text import lm_perplexity, tokens_unicode

    sent = "быстрая лиса прыгает через ленивую собаку"
    ref = spark.createDataFrame(
        [(100 + i, sent) for i in range(4)], "doc_id long, text string"
    )
    raw = spark.createDataFrame(
        [(1, sent), (2, " ".join(reversed(sent.split())))],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["n_trans"], r["nll_q"])
        for r in lm_perplexity(
            raw, ref, "doc_id", "text", vocab_size=16, tokenizer=tokens_unicode,
            order=3,
        ).collect()
    }
    assert out[1][0] == out[2][0] == 4
    assert out[1][1] < out[2][1], out
    ascii_out = {
        r["doc_id"]: (r["n_trans"], r["nll_q"])
        for r in lm_perplexity(
            raw, ref, "doc_id", "text", vocab_size=16, order=3
        ).collect()
    }
    assert ascii_out == {1: (0, 0), 2: (0, 0)}, ascii_out


@pytest.mark.parametrize("order", [2, 3])
def test_lm_perplexity_every_doc_contract(spark, order):
    """Docs with < order tokens — including empty and NULL text, and a
    duplicate id split across rows — still score exactly one row each,
    (0, 0) when nothing is scorable. The (0, 0) row rides the scoring
    explode itself (explode_outer + a pre-mapping flag), not a
    distinct() + join-back."""
    from fiat2_spark.operators.text import lm_perplexity

    rows = [
        (1, "the cat sat on the mat"),
        (2, "single"),
        (3, ""),
        (4, None),
        (5, "two tokens"),
        (5, "the cat"),  # duplicate id: transitions aggregate per id
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    ref = df.filter(F.col("doc_id") == 1)

    out = {r["doc_id"]: (r["n_trans"], r["nll_q"])
           for r in lm_perplexity(df, ref, "doc_id", "text", order=order).collect()}
    assert set(out) == {1, 2, 3, 4, 5}
    assert out[2] == (0, 0) and out[3] == (0, 0) and out[4] == (0, 0)
    if order == 2:
        assert out[1][0] == 5          # 6 tokens -> 5 transitions
        assert out[5][0] == 2          # 1 + 1 transitions across the two rows
        assert out[1][1] > 0
    else:
        assert out[5] == (0, 0)        # each duplicate row has only 2 tokens
        assert out[1] == (4, out[1][1])


def test_lm_fit_eager_jobs(spark):
    """`lm_fit` is eager by exactly its materializations: the unigram
    pass and the vocab, plus each context count c_k (2 ≤ k < order) —
    3 jobs for a bigram fit, 6 for a trigram fit on a tiny corpus. A
    fit that materializes more (or re-runs the unigram pass per order)
    shows up here before it shows up as a slower query."""
    from fiat2_spark.operators.text import lm_fit
    from tests.conftest import jobs_in_group

    ref = spark.createDataFrame(
        [(1, "the cat sat on the mat"), (2, "the dog sat"), (3, "a cat")],
        "doc_id long, text string",
    )

    def jobs(order: int) -> int:
        return jobs_in_group(spark, f"lm_fit_eager_jobs_{order}", lambda: lm_fit(ref, "text", order=order))[1]

    assert jobs(2) == 3
    assert jobs(3) == 6


def test_bpe_encode_words_reuse_matches_replay(spark):
    """bpe_encode/bpe_encode_ids with the learner's words= relation are
    row-identical to the generic merge-replay path on the same corpus."""
    from fiat2_spark.operators.text import bpe_encode, bpe_encode_ids, bpe_learn

    def rows(df, *cols):
        return sorted(tuple(r[c] for c in cols) for r in df.collect())

    docs = [(1, "low lower lowest"), (2, "new newer lowest low"),
            (3, "low low newer"), (4, "")]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    words, mdf = bpe_learn(df, "text", n_merges=5)
    merges = [(r["lhs"], r["rhs"]) for r in mdf.orderBy("step").collect()]

    fast = rows(bpe_encode(df, "doc_id", "text", merges, words=words),
                "doc_id", "n_words", "n_bpe_tokens")
    slow = rows(bpe_encode(df, "doc_id", "text", merges),
                "doc_id", "n_words", "n_bpe_tokens")
    assert fast == slow and fast  # non-empty, doc 4 absent from both

    fast_ids = rows(bpe_encode_ids(df, "doc_id", "text", merges, words=words),
                    "doc_id", "pos", "token_id")
    slow_ids = rows(bpe_encode_ids(df, "doc_id", "text", merges),
                    "doc_id", "pos", "token_id")
    assert fast_ids == slow_ids and fast_ids


def test_bpe_merge_list_is_one_job(spark):
    """The learned merges reach the driver in one job, in learned order:
    the orderBy("step") form's range sort costs 3 on the same table."""
    from fiat2_spark.operators.text import bpe_learn, bpe_merge_list
    from tests.conftest import jobs_in_group

    docs = ["low lower lowest", "new newer newest lowest low", "wide wider widest"]
    df = spark.createDataFrame([(t,) for t in docs], "text string")
    _, mdf = bpe_learn(df, "text", n_merges=8)
    assert mdf.count() == 8
    merges, jobs = jobs_in_group(spark, "bpe_merge_list", lambda: bpe_merge_list(mdf))
    ranged, range_jobs = jobs_in_group(
        spark, "bpe_merges_order_by", lambda: mdf.orderBy("step").collect()
    )
    assert merges == [(r["lhs"], r["rhs"]) for r in ranged]
    assert (jobs, range_jobs) == (1, 3)


def _learn_both_paths(spark, monkeypatch, texts, n_merges, tokenizer=None):
    """(driver, distributed) results of bpe_learn on the same corpus:
    each is (sorted words rows, merge list). Below
    BPE_DRIVER_VOCAB_LIMIT the merge loop runs on collected rows; a
    limit of 0 forces the distributed argmax loop."""
    import fiat2_spark.operators.text as TX

    df = spark.createDataFrame([(t,) for t in texts], "text string")
    kw = {"tokenizer": tokenizer} if tokenizer is not None else {}
    out = []
    for limit in (TX.BPE_DRIVER_VOCAB_LIMIT, 0):
        monkeypatch.setattr(TX, "BPE_DRIVER_VOCAB_LIMIT", limit)
        wdf, mdf = TX.bpe_learn(df, "text", n_merges=n_merges, **kw)
        words = sorted(
            (r["word"], r["wrapped"], r["freq"]) for r in wdf.collect()
        )
        merges = [
            (r["step"], r["lhs"], r["rhs"], r["freq"])
            for r in mdf.orderBy("step").collect()
        ]
        out.append((words, merges))
    return out


def test_bpe_learn_driver_matches_distributed(spark, monkeypatch):
    """The driver-side merge loop is bit-identical to the distributed
    argmax loop: same merge list (order, pair, freq — the
    (freq desc, lhs, rhs) tie-break decides several steps here) and
    same final wrapped vocabulary, exercised on overlapping runs
    (aaaa/aaa), alternations (abab) and frequency ties."""
    texts = [
        "aaaa aaa abab abab baba",
        "the cat sat on the mat the cat",
        "aa ab ba bb aa ab",
    ]
    (d_words, d_merges), (x_words, x_merges) = _learn_both_paths(
        spark, monkeypatch, texts, n_merges=8
    )
    assert d_merges == x_merges
    assert d_words == x_words
    assert len(d_merges) == 8


def test_bpe_learn_driver_matches_distributed_unicode(spark, monkeypatch):
    """Same bit-identity under tokens_unicode with non-ASCII symbols —
    the argmax tie-break compares symbol strings, and Python's
    code-point order must agree with UTF8String's byte order on
    multi-byte characters."""
    from fiat2_spark.operators.text import tokens_unicode

    texts = [
        "été étage été étage über übel",
        "мама мыла раму мама мыла",
        "日本 日本語 語学 日本",
    ]
    (d_words, d_merges), (x_words, x_merges) = _learn_both_paths(
        spark, monkeypatch, texts, n_merges=6, tokenizer=tokens_unicode
    )
    assert d_merges == x_merges
    assert d_words == x_words
    assert len(d_merges) == 6


def test_bpe_learn_driver_early_break_and_empty(spark, monkeypatch):
    """Degenerate corpora take the same early exits on both paths: a
    vocabulary of single-symbol words merges only with the end marker
    and then runs out of pairs before n_merges; an empty corpus yields
    zero merges and an empty vocabulary."""
    import fiat2_spark.operators.text as TX

    (d_words, d_merges), (x_words, x_merges) = _learn_both_paths(
        spark, monkeypatch, ["a b a", "b a"], n_merges=8
    )
    assert d_merges == x_merges and d_words == x_words
    assert 0 < len(d_merges) < 8

    empty = spark.createDataFrame([], "text string")
    wdf, mdf = TX.bpe_learn(empty, "text", n_merges=4)
    assert mdf.count() == 0 and wdf.count() == 0


def test_bpe_learn_driver_path_runs_no_jobs_per_merge(spark):
    """The driver path's job count is independent of n_merges: learning
    2 vs 10 merges on the same tiny vocabulary costs the same number of
    Spark jobs (the checkpoint materialization + the bounded probe) —
    the per-merge argmax jobs are gone. Counted under a job group of
    its own: the session's ungrouped job list is trimmed by 10% each
    time the status store passes spark.ui.retainedJobs, which a long
    test session does mid-measurement."""
    from fiat2_spark.operators.text import bpe_learn
    from tests.conftest import jobs_in_group

    df = spark.createDataFrame(
        [("aaaa aaa abab the cat sat on the mat",)], "text string"
    )

    def jobs(n_merges: int) -> int:
        return jobs_in_group(
            spark, f"bpe_learn_{n_merges}", lambda: bpe_learn(df, "text", n_merges=n_merges)
        )[1]

    assert jobs(10) == jobs(2)
