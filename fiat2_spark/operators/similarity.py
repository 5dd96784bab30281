"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k is the exact baseline; random-hyperplane LSH
is the scale path (bucketed candidate generation → exact rerank inside
buckets). Hyperplanes are derived from md5 — no RNG, so the DuckDB
oracle can recompute identical buckets.

All vector math is sequential-left-fold double arithmetic
(``F.aggregate`` over the array), which both engines reproduce
bit-for-bit; outputs are rounded to 6 decimals at the boundary anyway.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W


def dot(a: Column, b: Column) -> Column:
    """Sequential double dot product: fold over zip_with products."""
    prods = F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double"))
    return F.aggregate(prods, F.lit(0.0), lambda acc, x: acc + x)


def norm(a: Column) -> Column:
    sq = F.transform(a, lambda x: x.cast("double") * x.cast("double"))
    return F.sqrt(F.aggregate(sq, F.lit(0.0), lambda acc, x: acc + x))


def cosine_pre(a: Column, b: Column, na: Column, nb: Column) -> Column:
    """Cosine with per-row precomputed norms. The pair-join operators
    below hoist ``norm()`` to a per-vector projection BEFORE the join:
    the fold runs n times instead of once per candidate pair (~3× less
    per-pair work at n²/buckets pairs), and the double result is
    bit-identical — same expression, same evaluation order, just
    computed once."""
    return dot(a, b) / (na * nb)


# -- brute-force top-k ------------------------------------------------------

def cosine_topk(
    emb: DataFrame,
    queries: DataFrame,
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query: broadcast the (small) query set
    against the embedding table — the fact side streams, no shuffle of
    the corpus. The per-query ranking is written as the canonical
    ``row_number() ≤ k`` shape (rank column + filter DIRECTLY above the
    window) so Spark's grouped-limit rewrite plans a **partial
    WindowGroupLimit below the Exchange**: each input partition keeps
    only its local top-k per query before anything shuffles, so the
    exchange carries ≤ k × partitions rows per query — never the full
    n_queries × corpus scored set (plan-asserted in
    tests/test_plans.py). Don't interpose a projection between the
    filter and the window: the rewrite pattern-matches that exact shape.
    Input columns: emb (vec_id, embedding), queries (query_id, qvec).
    Output: (query_id, vec_id, cos, rank)."""
    corpus = emb.select(
        "vec_id",
        F.col("embedding").alias("__v"),
        norm(F.col("embedding")).alias("__nv"),
    )
    qs = queries.select(
        "query_id",
        F.col("qvec").alias("__qv"),
        norm(F.col("qvec")).alias("__nq"),
    )
    scored = corpus.crossJoin(F.broadcast(qs)).select(
        "query_id",
        "vec_id",
        F.round(
            cosine_pre(F.col("__v"), F.col("__qv"), F.col("__nv"), F.col("__nq")), 6
        ).alias("cos"),
    ).filter(F.col("vec_id") != F.col("query_id"))
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


# -- random-hyperplane LSH --------------------------------------------------

def lsh_planes(dims: int, n_planes: int) -> list[list[int]]:
    """Deterministic ±1 hyperplanes from md5 parity: plane[p][d] = +1 if
    the low bit of the first hex digit of md5('p#d') is 0 else -1.
    Public-knowledge construction (sign-random-projection LSH, Charikar
    2002); md5 stands in for the RNG so any engine can recompute it."""
    planes = []
    for p in range(n_planes):
        row = []
        for d in range(dims):
            h = hashlib.md5(f"{p}#{d}".encode()).hexdigest()
            row.append(1 if int(h[0], 16) % 2 == 0 else -1)
        planes.append(row)
    return planes


def lsh_bucket(vec: Column, planes: list[list[int]]) -> Column:
    """Bucket id = integer of sign bits of ⟨vec, plane_p⟩. ±1 planes make
    the dot product a signed sum — pure Catalyst arithmetic."""
    bucket = F.lit(0).cast("long")
    for p, row in enumerate(planes):
        s = F.aggregate(
            F.zip_with(
                vec,
                F.array(*[F.lit(v) for v in row]),
                lambda x, sgn: x.cast("double") * sgn,
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        bucket = bucket + F.when(s > 0, F.lit(1 << p)).otherwise(0)
    return bucket


def ann_ivf_topk(
    emb: DataFrame,
    queries: DataFrame,
    centroids: DataFrame,
) -> DataFrame:
    """IVF (inverted-file) ANN: a small centroid set coarse-quantizes the
    corpus — every vector joins the inverted list of its nearest
    centroid — and a query probes only its 2 nearest lists,
    reranking exactly inside them. The data-adaptive counterpart of
    ``ann_lsh_topk``: buckets follow the corpus distribution, so a
    skewed embedding space can't collapse into one hash bucket.

    Both assignment and probing are broadcast joins against the tiny
    centroid table followed by per-vector argmax windows (partitioned —
    fully parallel). At 100 TB the assignment is a write-time partition
    column (`PARTITIONED BY (cent_id)`): probing 2 lists becomes
    partition pruning and the rerank never touches the other
    ``n_centroids - 2`` shards of the corpus. Centroids are
    caller-supplied (production: k-means over a sample; any fixed choice
    keeps the operator deterministic and oracle-checkable).
    Input columns: emb (vec_id, embedding), queries (query_id, qvec),
    centroids (cent_id, cvec). Output: (query_id, vec_id, cos, rank),
    top 5 per query."""
    cents = F.broadcast(
        centroids.select("cent_id", "cvec", norm(F.col("cvec")).alias("__nc"))
    )

    def nearest(df: DataFrame, ident: str, vcol: str, nvcol: str, keep: int) -> DataFrame:
        scored = df.crossJoin(cents).select(
            df["*"],
            F.col("cent_id"),
            cosine_pre(
                F.col(vcol), F.col("cvec"), F.col(nvcol), F.col("__nc")
            ).alias("__ccos"),
        )
        w = W.partitionBy(ident).orderBy(F.col("__ccos").desc(), F.col("cent_id"))
        return (
            scored.withColumn("__r", F.row_number().over(w))
            .filter(F.col("__r") <= keep)
            .drop("__ccos", "__r", "cvec", "__nc")
        )

    lists = nearest(
        emb.select(
            "vec_id",
            F.col("embedding").alias("v"),
            norm(F.col("embedding")).alias("__nv"),
        ),
        "vec_id", "v", "__nv", 1,
    )
    probes = nearest(
        queries.select(
            "query_id",
            F.col("qvec").alias("qv"),
            norm(F.col("qvec")).alias("__nq"),
        ),
        "query_id", "qv", "__nq", 2,
    )
    scored = (
        lists.join(F.broadcast(probes), "cent_id")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_pre(F.col("v"), F.col("qv"), F.col("__nv"), F.col("__nq")), 6
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


# hyperplanes of `ann_lsh_topk` over the 64-dim embeddings (16 buckets)
LSH_PLANES = 4
LSH_DIMS = 64


def ann_lsh_topk(emb: DataFrame, queries: DataFrame) -> DataFrame:
    """Approximate top-5: candidates = same LSH bucket as the query, then
    exact cosine rerank inside the bucket. With LSH_PLANES=4 each bucket
    holds ~1/16 of the corpus — the self-join cost drops 16× and recall
    is whatever the planes give (an *approximate* operator by contract).
    At 100 TB: partition the corpus by bucket once (write-time), and
    queries probe only their bucket's partitions — partition pruning
    does the candidate generation for free. Input columns as
    `cosine_topk`."""
    planes = lsh_planes(LSH_DIMS, LSH_PLANES)
    e = emb.select(
        "vec_id",
        F.col("embedding").alias("v"),
        norm(F.col("embedding")).alias("__nv"),
        lsh_bucket(F.col("embedding"), planes).alias("bucket"),
    )
    qs = queries.select(
        "query_id",
        F.col("qvec").alias("qv"),
        norm(F.col("qvec")).alias("__nq"),
        lsh_bucket(F.col("qvec"), planes).alias("qbucket"),
    )
    scored = (
        e.join(F.broadcast(qs), F.col("bucket") == F.col("qbucket"))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(
                cosine_pre(F.col("v"), F.col("qv"), F.col("__nv"), F.col("__nq")), 6
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("vec_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


# -- lexical retrieval (BM25) -----------------------------------------------

def _term_scores(
    docs: DataFrame,
    id_col: str,
    toks_col: "Column",
    terms: list[str],
    stats,
    contrib: "Column",
    out: str,
) -> DataFrame:
    """The term-statistics skeleton BM25 and TF-IDF share: (doc, ``out``)
    = Σ over the query terms a document hits of ``contrib``, a column
    over the per-(doc, term) ``tf``, the document length ``dl``, the
    term's document frequency ``df`` and the columns of
    ``stats(base)``, the one-row corpus statistics over
    base = (doc, toks, dl).

    Spark shape: the token array is filtered to the query terms BEFORE
    the explode, so the shuffle to the (doc, term) tf aggregate carries
    only query-term hits — at 100 TB with a handful of terms that is a
    vanishing fraction of the corpus. The df and corpus stats are
    `|terms|`-row/one-row aggregates joined back by BROADCAST; the
    corpus never re-shuffles. The contributions are summed in DECIMAL
    so partial-agg order cannot change the result; the score is
    rounded to 6dp."""
    base = docs.select(F.col(id_col).alias("doc"), toks_col.alias("toks"))
    base = base.select("doc", "toks", F.size("toks").cast("double").alias("dl"))
    hits = base.select(
        "doc",
        "dl",
        F.explode(F.filter("toks", lambda t: t.isin(*terms))).alias("term"),
    )
    tf = hits.groupBy("doc", "dl", "term").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    )
    df_t = tf.groupBy("term").agg(F.count(F.lit(1)).cast("double").alias("df"))
    scored = tf.join(F.broadcast(df_t), "term").join(F.broadcast(stats(base)))
    return (
        scored.select("doc", contrib.cast("decimal(20,9)").alias("c"))
        .groupBy("doc")
        .agg(F.round(F.sum("c").cast("double"), 6).alias(out))
    )


def bm25_scores(
    docs: DataFrame,
    id_col: str,
    toks_col: "Column",
    terms: list[str],
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Okapi BM25 (Robertson & Walker 1994) of every document against a
    fixed bag of query terms — the lexical-retrieval half of a
    training-data search stack. Returns (doc, bm25) for every document
    with at least one hit; the corpus stats are N and avgdl, and the
    Spark shape is `_term_scores`'.

    Float discipline: idf = ln((N - df + 0.5)/(df + 0.5) + 1) is
    rounded to 9 decimals (libm ln may differ in the last ulp between
    engines); every remaining op is IEEE-deterministic on identical
    inputs, and the per-term contributions are summed in DECIMAL so
    partial-agg order cannot change the result."""
    idf = F.round(
        F.log((F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0), 9
    )
    denom = F.col("tf") + k1 * (1.0 - b + b * F.col("dl") / F.col("avgdl"))
    return _term_scores(
        docs, id_col, toks_col, terms,
        lambda base: base.agg(
            F.count(F.lit(1)).cast("double").alias("n_docs"),
            F.sum("dl").alias("tot_dl"),
        ).select("n_docs", (F.col("tot_dl") / F.col("n_docs")).alias("avgdl")),
        F.round(idf * (F.col("tf") * (k1 + 1.0)) / denom, 9),
        "bm25",
    )


def tfidf_scores(
    docs: DataFrame,
    id_col: str,
    toks_col: "Column",
    terms: list[str],
) -> DataFrame:
    """Length-normalized TF-IDF (Salton & Buckley 1988's ntc weighting,
    simplified to the query-side-constant case) of every document
    against a fixed bag of query terms — BM25's classical sibling, kept
    because corpus pipelines often want BOTH (BM25 for retrieval,
    TF-IDF for salience/feature vectors). Returns (doc, tfidf) for
    documents with at least one hit, through the same `_term_scores`
    skeleton as `bm25_scores` with N the only corpus stat. Float
    discipline: idf = ln(N/df) rounded at the libm boundary,
    contribution = idf · tf/dl rounded to 9dp, summed in DECIMAL, final
    score rounded to 6dp — bitwise oracle agreement."""
    idf = F.round(F.log(F.col("n_docs") / F.col("df")), 9)
    return _term_scores(
        docs, id_col, toks_col, terms,
        lambda base: base.agg(F.count(F.lit(1)).cast("double").alias("n_docs")),
        F.round(idf * F.col("tf") / F.col("dl"), 9),
        "tfidf",
    )


def hard_negatives(
    emb: DataFrame,
    anchors: DataFrame,
) -> DataFrame:
    """Hard-negative mining for retrieval/contrastive training: per
    anchor, the top-5 most-similar corpus vectors whose LABEL differs —
    near-but-wrong examples, the standard negatives a dual-encoder is
    trained against. Same plan shape as `cosine_topk` (broadcast
    anchors, corpus streams, canonical row_number ≤ k so the grouped-
    limit rewrite keeps a partial WindowGroupLimit below the exchange);
    the label-mismatch filter sits BELOW the window, so the per-anchor
    candidate set is already negatives-only when ranked. Input columns:
    emb (vec_id, embedding, label), anchors (query_id, qvec, qlabel).
    Output: (query_id, neg_id, cos, rank)."""
    corpus = emb.select(
        F.col("vec_id").alias("neg_id"),
        F.col("label").alias("__lbl"),
        F.col("embedding").alias("__v"),
        norm(F.col("embedding")).alias("__nv"),
    )
    qs = anchors.select(
        "query_id",
        F.col("qlabel").alias("__qlbl"),
        F.col("qvec").alias("__qv"),
        norm(F.col("qvec")).alias("__nq"),
    )
    scored = (
        corpus.crossJoin(F.broadcast(qs))
        .filter(F.col("__lbl") != F.col("__qlbl"))
        .select(
            "query_id",
            "neg_id",
            F.round(
                cosine_pre(F.col("__v"), F.col("__qv"), F.col("__nv"), F.col("__nq")),
                6,
            ).alias("cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.col("cos").desc(), F.col("neg_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= 5)


def decontaminate_semantic(
    corpus: DataFrame,
    eval_set: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Embedding-space benchmark decontamination: flag every corpus
    document whose embedding is cosine-near ANY held-out evaluation
    example — the semantic complement of the n-gram `decontaminate`
    (surface rewrites and paraphrases evade n-gram overlap; embedding
    similarity catches them, the check modern model reports run next
    to the lexical one).

    EXACT brute force against the eval relation, which is model-sized
    by construction (an eval benchmark is thousands of rows, not a
    corpus): the quantized eval vectors collapse into ONE broadcast row
    carrying array<struct<qv, n2>>, the corpus cross-joins that single
    row (scan-side — no corpus exchange anywhere in the plan) and
    F.exists evaluates the exact-integer cosine predicate
    (`dedup.cosine_near_pred`'s DECIMAL(38,0) comparison — bitwise
    oracle parity, no sqrt) per eval entry with early exit on the first
    hit; vectors quantize at 10⁶ and the threshold is t=0.4 (t²=4/25).
    Per-row work is ≤ |eval|·dims integer ops; for an eval set too
    large to broadcast, the LSH-bucketed candidate path the
    `dedup_embedding` family uses is the swap-in. Returns
    (id, contaminated)."""
    from fiat2_spark.operators.dedup import COS_T2_DEN, COS_T2_NUM, quantize_embeddings

    dec = "decimal(38,0)"
    qe_c = quantize_embeddings(corpus, id_col, vec_col)
    qe_e = quantize_embeddings(eval_set, id_col, vec_col)
    evals = qe_e.agg(F.collect_list(F.struct("qv", "n2")).alias("evs"))
    dots = F.transform(
        F.col("evs"),
        lambda e: F.struct(
            F.aggregate(
                F.zip_with(F.col("qv"), e["qv"], lambda x, y: x * y),
                F.lit(0).cast("long"),
                lambda acc, z: acc + z,
            ).alias("dot"),
            e["n2"].alias("n2e"),
        ),
    )
    near = F.exists(
        "__dots",
        lambda s: (
            F.lit(COS_T2_DEN).cast(dec) * s["dot"].cast(dec) * s["dot"].cast(dec)
            > F.lit(COS_T2_NUM).cast(dec) * F.col("n2").cast(dec) * s["n2e"].cast(dec)
        )
        & (s["dot"] > 0),
    )
    return (
        qe_c.crossJoin(F.broadcast(evals))
        .withColumn("__dots", dots)
        .select(F.col("vid").alias(id_col), near.alias("contaminated"))
    )
