"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard,
embedding-cosine — the standard near-dup stack for training-data
pipelines, built Spark-first.

Scale design (the part that matters at 100 TB):

* Exact dedup is a hash aggregate — partial dedup map-side, then one
  shuffle of distinct keys.
* MinHash/LSH shuffles **band buckets** (a few short strings per doc),
  never document pairs: candidate generation is a self-equi-join on
  (band_idx, band_hash), so cost tracks the number of *colliding* pairs,
  not n². Signatures are md5-based and engine-portable (the DuckDB
  oracle computes the identical signature).
* SimHash banding splits the 16-bit signature into 4 nibbles; by
  pigeonhole any pair within Hamming distance 3 shares ≥ 1 intact
  nibble, so the banded join is **lossless** for distance ≤ 3 — the
  oracle brute-forces all pairs and must agree exactly.
* Embedding near-dup: pairs are compared only inside random-hyperplane
  LSH buckets (similarity.py), an equi self-join on the bucket id.

No Python UDFs anywhere — signatures, bands, and verification are
Catalyst expressions (md5 / transform / aggregate / array ops).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fiat2_spark.operators.text import tokens
from fiat2_spark.session import block_ids, release_blocks


def cpu_partitions(df: DataFrame, rows_per_task: int = 500) -> int:
    """Partition count for CPU-bound per-row stages, sized to the data:
    ~``rows_per_task`` rows per task, at least 1, at most 4 tasks per
    core. A fixed ``defaultParallelism`` spread a 5k-doc input over 32
    tasks of ~150 rows where per-task overhead dominated (measured:
    2.6 s → 1.8 s by right-sizing); at 100 TB the same formula saturates
    the cap and behaves like a plain repartition. The count() on a
    parquet scan is answered from footer metadata — no data pass."""
    n = df.count()
    cap = 4 * df.sparkSession.sparkContext.defaultParallelism
    return max(1, min(cap, (n + rows_per_task - 1) // rows_per_task))


# -- exact ------------------------------------------------------------------

def exact_dedup(df: DataFrame, key: Column, id_col: str) -> DataFrame:
    """Keep the lowest-id row per content key (hash-groupBy dedup)."""
    return (
        df.select(key.alias("dedup_key"), F.col(id_col))
        .groupBy("dedup_key")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_copies"))
    )


# -- MinHash + LSH ----------------------------------------------------------

def shingles(toks: Column, n: int = 1) -> Column:
    """Word n-gram shingle *set* (distinct). n=1 → token set."""
    if n == 1:
        return F.array_distinct(toks)
    # zip the array with its n-1 shifts and join each tuple — one pass,
    # ~2.5× faster than per-index slice+array_join (which re-slices the
    # token array once per shingle position); < n tokens → zero-length
    # slices → empty result
    width = F.greatest(F.size(toks) - (n - 1), F.lit(0))
    shifted = [F.slice(toks, i + 1, width) for i in range(n)]
    z = F.arrays_zip(*shifted)
    grams = F.transform(z, lambda s: F.concat_ws(" ", *[s[str(i)] for i in range(n)]))
    return F.array_distinct(grams)


#: 8-hex-char (32-bit) signature lanes carved from one md5 digest: the
#: standard one-hash-many-functions trick — lane j of seed d is hash
#: function 4d+j, so n hashes cost ceil(n/4) md5 evaluations per shingle
#: instead of n (measured 4× less hashing on the minhash hot path).
#: Lexicographic min on a fixed-width hex substring == numeric min.
MINHASH_LANES = 4


def seeded_digests(sh: Column, seed: int) -> Column:
    """Array of md5(seed ‖ '#' ‖ shingle) digests."""
    return F.transform(sh, lambda s: F.md5(F.concat(F.lit(f"{seed}#"), s)))


def minhash_bands(sig: Column, n_bands: int, rows_per_band: int) -> Column:
    """Band digests: array of (band_idx, band_hash) structs. Docs agreeing
    on any band become candidates."""
    bands = []
    for b in range(n_bands):
        lo = b * rows_per_band
        segment = F.concat_ws("|", *[sig.getItem(lo + r) for r in range(rows_per_band)])
        bands.append(F.struct(F.lit(b).alias("band_idx"), F.md5(segment).alias("band_hash")))
    return F.array(*bands)


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard on two distinct-element arrays."""
    inter = F.size(F.array_intersect(a, b)).cast("double")
    union = F.size(F.array_union(a, b)).cast("double")
    return F.when(union == 0, 0.0).otherwise(inter / union)


def minhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_n: int = 1,
    tokenizer=None,
) -> tuple[DataFrame, DataFrame]:
    """The banded LSH candidate stage of `minhash_dedup_pairs`:
    returns (cand, sh) — the distinct (id_a, id_b) candidate pairs
    BEFORE exact Jaccard verification, plus the checkpointed shingle
    relation the verification re-joins. Exposed separately so the
    scaling probe can decompose a wall-time ratio into candidate-pair
    growth (true near-dup pairs the corpus actually contains) vs
    band-occupancy overhead (false candidates the banding fails to
    prune) — the two have opposite remedies.

    ``tokenizer`` (text Column → token-array Column) defaults to the
    ASCII `tokens`; pass ``text.tokens_unicode`` for multilingual
    corpora, where the ASCII contract would shred non-Latin scripts
    into unshinglable fragments (the r11 `minhash_candidates_tok` twin,
    folded back as this parameter — the banded-LSH plan is tokenizer-
    independent, only the shingle source changes)."""
    rows = n_hashes // n_bands
    toks = (tokenizer or tokens)(F.col(text_col))
    # signature hashing is CPU-bound (n_hashes md5s per shingle): spread
    # a small/single-row-group scan across rows-per-task-sized partitions
    sh = df.repartition(cpu_partitions(df)).select(
        F.col(id_col).alias("doc"),
        shingles(toks, shingle_n).alias("sh"),
    ).filter(F.size(F.col("sh")) > 0)
    # materialize NOW via localCheckpoint (eager): the downstream plan
    # reads it from three stages (band-left, band-right, verify) that
    # otherwise race to populate a lazy cache and each recompute the
    # shingle pass. Checkpoint blocks (not a CacheManager entry) that the
    # result reads, so they belong to it: the session owner's
    # `release_checkpoint_blocks` sweep reclaims them once results are
    # consumed — a DataFrame-level persist would pin it in the
    # CacheManager for the session's life (run_gate asserts none).
    sh = sh.localCheckpoint()

    # per-seed lane-min folds: ONE md5 transform + ONE aggregate per seed
    # computes all 4 lanes' minima as a struct (vs 4 transform+array_min
    # pairs per seed — 8 HOF expressions instead of 32; expression-tree
    # size is what drives the multi-second plan/codegen warmup that
    # dominated this operator's cold time). Each shingle is md5'd
    # ceil(n_hashes/4) times total.
    n_seeds = -(-n_hashes // MINHASH_LANES)

    def lane_mins(digests: Column) -> Column:
        init = F.struct(
            *[F.lit("zzzzzzzz").alias(f"m{j}") for j in range(MINHASH_LANES)]
        )  # 'z' > any hex char; shingle arrays are non-empty by filter above
        return F.aggregate(
            digests,
            init,
            lambda acc, h: F.struct(
                *[
                    F.least(acc[f"m{j}"], F.substring(h, 8 * j + 1, 8)).alias(f"m{j}")
                    for j in range(MINHASH_LANES)
                ]
            ),
        )

    hashed = sh.select(
        "doc",
        *[lane_mins(seeded_digests(F.col("sh"), d)).alias(f"s{d}") for d in range(n_seeds)],
    )
    sigs = [
        F.col(f"s{k // MINHASH_LANES}")[f"m{k % MINHASH_LANES}"] for k in range(n_hashes)
    ]
    banded = hashed.select(
        "doc",
        F.explode(minhash_bands(F.array(*sigs), n_bands, rows)).alias("b"),
    ).select("doc", F.col("b.band_idx").alias("band_idx"), F.col("b.band_hash").alias("band_hash"))
    # checkpoint the band digests: the self-join otherwise evaluates the
    # signature pass once per join side (the digests are tiny — a few
    # short strings per doc; blocks, not a CacheManager pin)
    banded = banded.localCheckpoint()

    left = banded.alias("l")
    right = banded.alias("r")
    cand = (
        left.join(
            right,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_hash") == F.col("r.band_hash"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(F.col("l.doc").alias("id_a"), F.col("r.doc").alias("id_b"))
        .distinct()
    )
    return cand, sh


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n_hashes: int = 8,
    n_bands: int = 4,
    shingle_n: int = 1,
    threshold: float = 0.7,
    tokenizer=None,
) -> DataFrame:
    """Near-dup pairs via MinHash banding + exact Jaccard verification.

    Returns (id_a, id_b, jac) with id_a < id_b, jac >= threshold, jac
    rounded to 6 decimals (the DuckDB oracle thresholds the identically
    rounded value, so the two sides agree even when an exact Jaccard
    lands within 5e-7 of the threshold). The banded candidate join
    shuffles n_bands short digests per doc; only colliding candidates
    pay the exact verification (which re-joins the shingle sets by id).
    ``tokenizer`` as in `minhash_candidates`.
    """
    cand, sh = minhash_candidates(
        df, id_col, text_col, n_hashes, n_bands, shingle_n, tokenizer
    )
    a = sh.select(F.col("doc").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("doc").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        cand.join(a, "id_a")
        .join(b, "id_b")
        .select("id_a", "id_b", F.round(jaccard(F.col("sh_a"), F.col("sh_b")), 6).alias("jac"))
        .filter(F.col("jac") >= threshold)
    )
    return verified


# -- duplicate clusters (connected components) ------------------------------

def dup_clusters(pairs: DataFrame, max_iter: int = 20) -> DataFrame:
    """Connected components over a near-dup pair list: every document in
    a component gets the component's minimum doc id as its cluster label
    — the "keep one canonical doc per duplicate cluster" step that
    follows pair generation in a training-data dedup pipeline.

    Min-label propagation, level-synchronous like ``workloads.graphs.bfs``:
    each iteration is one equi-join (neighbor labels) + one group-min +
    one left join (keep own label when no neighbor improves it), all
    distributed; the driver reads only a has-anything-changed boolean.
    ``localCheckpoint`` per iteration truncates lineage (plan depth would
    otherwise grow per round), and each superseded label snapshot's
    blocks are released as soon as the next round is materialized, so
    the result holds exactly one checkpoint. Iterations needed = component diameter; near-dup
    clusters are shallow (dozens of docs), so this converges in a few
    rounds. At 100 TB-scale graphs with long chains, switch to the
    large-star/small-star contraction (Kiveris et al. 2014), which runs
    in O(log²) rounds of the same join+min primitive.

    Input: (id_a, id_b) pairs (directionless). Output: (doc, cluster).
    """
    # materialize the pair list ONCE (r13): the symmetric union below
    # reads it from BOTH branches, so an un-materialized `pairs` plan —
    # e.g. minhash's candidate self-join + Jaccard verify joins —
    # executed twice under the union (the shingle/band checkpoints
    # inside minhash bounded the recompute, but the joins above them
    # still ran once per branch). One checkpoint of the edge-list-sized
    # projection, then both union branches are block reads.
    spark = pairs.sparkSession
    p = pairs.select("id_a", "id_b").localCheckpoint()
    e = p.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    edges = e.unionByName(
        e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).persist()
    # seed labels with the first propagation hop folded in:
    # lbl_0(x) = min(x, min neighbor). Near-dup components are mostly
    # 2-cliques, which are already converged here — the loop then runs a
    # single no-improvement verification round instead of hop + verify.
    labels = (
        edges.groupBy(F.col("src").alias("doc"))
        .agg(F.min("dst").alias("m"))
        .select("doc", F.least(F.col("doc"), F.col("m")).alias("lbl")).localCheckpoint()
    )
    converged = False
    for _ in range(max_iter):
        nbr = (
            edges.join(labels, edges.src == labels.doc)
            .groupBy("dst")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # the has-anything-improved flag rides the label row itself
        # (r12): the former separate new-vs-old join re-shuffled both
        # label snapshots every round just to compare a column the
        # update join already had side by side — here convergence is a
        # filter+isEmpty over the just-materialized checkpoint blocks,
        # one cheap scan instead of a join per round. `labels` is the
        # checkpoint itself (flag unread) so it releases by block id.
        new = (
            labels.join(nbr, labels.doc == nbr.dst, "left")
            .select(
                F.col("doc"),
                F.least(F.col("lbl"), F.coalesce(F.col("nlbl"), F.col("lbl"))).alias("lbl"),
                (F.col("nlbl") < F.col("lbl")).alias("__imp"),
            ).localCheckpoint()
        )
        converged = new.filter(F.col("__imp")).isEmpty()
        release_blocks(spark, block_ids(labels))
        labels = new
        if converged:
            break
    edges.unpersist()
    release_blocks(spark, block_ids(p))
    if not converged:
        # the "shallow clusters" assumption is data-dependent: a component
        # whose diameter exceeds max_iter would silently disagree with the
        # transitive-closure oracle — fail loudly instead
        raise RuntimeError(
            f"dup_clusters did not converge within max_iter={max_iter} "
            "iterations (a duplicate component's diameter exceeds the "
            "budget); raise max_iter or switch to large-star/small-star "
            "contraction (Kiveris et al. 2014) for long-chain graphs"
        )
    return labels.select("doc", F.col("lbl").alias("cluster"))


def dup_clusters_star(pairs: DataFrame) -> DataFrame:
    """Connected components by alternating large-star / small-star
    contraction (Kiveris et al. 2014, "Connected Components in
    MapReduce and Beyond") — the long-chain scale path `dup_clusters`'s
    docstring names: min-label propagation needs diameter rounds, star
    contraction converges in O(log² n) rounds of the same
    groupBy-min + join primitives, so a 100 TB graph with chain-shaped
    components (near-dup chains of successive edits) stays tractable.

    One round:
      large-star: every node v computes m = min(Γ(v) ∪ {v}) and
        re-points its STRICTLY LARGER neighbors at m — flattens tall
        subtrees without ever creating an upward edge;
      small-star: v re-points its ≤ neighbors and itself at m —
        collapses the remaining short hops.
    Both are one symmetric-neighbor expansion, one groupBy-min, one
    join — all distributed, no driver-side state beyond the converged
    flag. Convergence = the edge set reaches the fixpoint where every
    edge is (node → component-min); checked with exceptAll/isEmpty,
    within 50 rounds. ``localCheckpoint`` per round truncates lineage
    and superseded rounds release their blocks exactly as in
    `dup_clusters`; the result holds the node and final edge
    checkpoints.

    Input: (id_a, id_b) pairs (directionless). Output: (doc, cluster),
    identical to `dup_clusters` — the same transitive-closure oracle
    checks both.
    """
    # one materialization of the pair list (r13): `nodes` and `edges`
    # each re-evaluated the full `pairs` plan (minhash candidate +
    # verify joins) in their own checkpoint job — now both derive from
    # the same blocks.
    spark = pairs.sparkSession
    p = pairs.select("id_a", "id_b").localCheckpoint()
    nodes = (
        p.select(F.col("id_a").alias("doc"))
        .unionByName(p.select(F.col("id_b").alias("doc")))
        .distinct()
        .localCheckpoint()
    )
    edges = (
        p.select(F.col("id_a").alias("u"), F.col("id_b").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct().localCheckpoint()
    )
    release_blocks(spark, block_ids(p))

    def star(e: DataFrame, large: bool) -> DataFrame:
        sym = e.select(F.col("u").alias("c"), F.col("v").alias("n")).unionByName(
            e.select(F.col("v").alias("c"), F.col("u").alias("n"))
        )
        mins = sym.groupBy("c").agg(F.min("n").alias("mn"))
        m = F.least(F.col("c"), F.col("mn"))
        joined = sym.join(mins, "c")
        if large:
            out = joined.filter(F.col("n") > F.col("c")).select(
                F.col("n").alias("u"), m.alias("v")
            )
        else:
            out = joined.filter(F.col("n") < F.col("c")).select(
                F.col("n").alias("u"), m.alias("v")
            ).unionByName(
                mins.select(
                    F.col("c").alias("u"), F.least(F.col("c"), F.col("mn")).alias("v")
                )
            )
        return out.filter(F.col("u") != F.col("v")).distinct()

    converged = False
    n_edges = edges.count()
    for _ in range(50):
        new = star(star(edges, large=True), large=False).localCheckpoint()
        # both sides are distinct sets, so equal counts + empty one-way
        # difference ⇒ set equality (count is a cheap metadata-ish job;
        # saves the second exceptAll scan per round)
        n_new = new.count()
        converged = n_new == n_edges and new.exceptAll(edges).isEmpty()
        release_blocks(spark, block_ids(edges))
        edges, n_edges = new, n_new
        if converged:
            break
    if not converged:
        raise RuntimeError(
            "dup_clusters_star did not converge within 50 rounds — "
            "pathological for an O(log²)-round algorithm; check the "
            "input for self-loops"
        )
    return nodes.join(
        edges.select(F.col("u").alias("doc"), F.col("v").alias("lbl")), "doc", "left"
    ).select("doc", F.coalesce(F.col("lbl"), F.col("doc")).alias("cluster"))


# -- SimHash ----------------------------------------------------------------

SIMHASH_BITS = 60     # 15 hex digits × 4 bits; stays clear of the sign bit
SIMHASH_BANDS = 4     # 15-bit bands → pigeonhole-lossless for dist ≤ 3
_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS


def simhash60_table(df: DataFrame, id_col: str, text_col: str, tokenizer=None) -> DataFrame:
    """(doc, sh): 60-bit SimHash per document, computed as a
    shuffle-aggregate — explode tokens, hash each ONCE, sum ±1 votes for
    each of 60 bits (bit b = bit b%4 of hex digit b//4 of md5(token)),
    then assemble the signature. Fully codegen'd (no higher-order
    functions in the hot path); partial aggregation means the shuffle
    carries 60 longs per doc. Docs with zero tokens drop out (explode),
    matching the oracle's unnest. Token multiplicity counts (weighted
    vote); vote == 0 → bit 0. ``tokenizer`` (text → token array)
    defaults to the ASCII `tokens`; the signature arithmetic is
    tokenizer-independent."""
    t = df.repartition(cpu_partitions(df)).select(
        F.col(id_col).alias("doc"),
        F.explode((tokenizer or tokens)(F.col(text_col))).alias("tok"),
    )
    h = t.select("doc", F.md5(F.col("tok")).alias("h"))
    # one packed aggregate per hex digit instead of one per bit: the 4
    # one-bit counts ride in 16-bit lanes of a single long (codegen for
    # 60 separate sums took seconds to Janino-compile). Lane capacity
    # caps documents at 65535 tokens — split longer docs upstream.
    # ONE conv of the 15-digit prefix (60 bits < 2^63) replaces 15
    # per-digit convs; digits re-derived with exact integer shifts, so
    # the oracle's per-digit view is unchanged.
    ndig = SIMHASH_BITS // 4
    hv = h.select(
        "doc", F.conv(F.substring(F.col("h"), 1, ndig), 16, 10).cast("long").alias("hv")
    )
    digs = hv.select(
        "doc",
        *[
            F.shiftright(F.col("hv"), 4 * (ndig - 1 - d))
            .bitwiseAND(F.lit(15))
            .alias(f"v{d}")
            for d in range(ndig)
        ],
    )

    def packed(d: int):
        v = F.col(f"v{d}")
        lanes = sum(
            (F.shiftright(v, bit).bitwiseAND(F.lit(1)) * F.lit(1 << (16 * bit)))
            for bit in range(4)
        )
        return F.sum(lanes).alias(f"p{d}")

    votes = digs.groupBy("doc").agg(
        F.count(F.lit(1)).alias("ntok"),
        *[packed(d) for d in range(SIMHASH_BITS // 4)],
    )
    # bit b set ⟺ ones-count strictly exceeds half: 2·c1 > n (vote > 0)
    sh = F.lit(0).cast("long")
    for b in range(SIMHASH_BITS):
        c1 = F.shiftright(F.col(f"p{b // 4}"), 16 * (b % 4)).bitwiseAND(F.lit(0xFFFF))
        sh = sh + F.when(c1 * 2 > F.col("ntok"), F.lit(1 << b).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
    return votes.select("doc", sh.alias("sh"))


def simhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, tokenizer=None
) -> DataFrame:
    """Near-dup pairs with Hamming(simhash) <= 3, found via
    banding: 60 bits → 4 bands of 15; distance ≤ 3 pairs share ≥ 1
    intact band (pigeonhole) so the banded equi-join is lossless.
    Returns (id_a, id_b, dist). ``tokenizer`` as in `simhash60_table`.

    Scale note: band values range over 2^15, so random collisions are
    ~n²/2^16 per band — a 16-bit signature (2^4-value nibble bands) made
    the join quadratic at 5k docs (measured 6M+ candidate rows)."""
    sh = simhash60_table(df, id_col, text_col, tokenizer).localCheckpoint()
    band = sh.select(
        "doc",
        "sh",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(i).alias("band_idx"),
                    F.shiftright(F.col("sh"), _BAND_BITS * i)
                    .bitwiseAND(F.lit((1 << _BAND_BITS) - 1))
                    .alias("band_val"),
                )
                for i in range(SIMHASH_BANDS)
            ])
        ).alias("nb"),
    ).select("doc", "sh", F.col("nb.band_idx").alias("band_idx"), F.col("nb.band_val").alias("band_val"))

    l, r = band.alias("l"), band.alias("r")
    cand = (
        l.join(
            r,
            (F.col("l.band_idx") == F.col("r.band_idx"))
            & (F.col("l.band_val") == F.col("r.band_val"))
            & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            F.bit_count(F.col("l.sh").bitwiseXOR(F.col("r.sh"))).alias("dist"),
        )
        .filter(F.col("dist") <= 3)
        .distinct()
    )
    return cand


# -- n-gram Jaccard (direct) ------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    block_col: str | None = None,
    tokenizer=None,
) -> DataFrame:
    """All-pairs token-set Jaccard >= 0.9, blocked on an optional
    column (language) AND a **lossless length bucket** that is part of
    the equi-join key — within-bucket cost is bounded by the bucket
    width, never by the block's row count, so the plan survives a
    100× scale-up where a lang-only block is still ~n²/|langs|.

    The bucket (t = 0.9): jac(A,B) >= t forces max(|A|,|B|)/min(|A|,|B|) <= 1/t,
    so with bucket = floor(ln|sh| / ln(1/t)) a qualifying pair lands in
    the same or an adjacent bucket. The left side probes {bkt, bkt+1}
    (a 2× explode, not a widened join), the hash-join key is
    (block, bucket), and an orientation conjunct — bucket order, doc
    order within a bucket — keeps each unordered pair exactly once;
    output ids are re-canonicalized with least/greatest. ``tokenizer``
    (text → token array) defaults to the ASCII `tokens`; the length
    bucket and size-ratio prefilter are tokenizer-independent (they
    bound the SHINGLE-set sizes, whatever produced the tokens)."""
    import math

    toks = (tokenizer or tokens)(F.col(text_col))
    # num/den: the threshold as exact integer arithmetic (truncation keeps
    # num/den <= threshold, so both the ratio prefilter and the bucket base
    # derived from it are never stricter than the exact bound — lossless)
    threshold = 0.9
    num, den = int(threshold * 1_000_000), 1_000_000
    # bucket base = the size-ratio bound 1/t exactly (tightest lossless
    # width); the +1e-9 widens buckets a hair so a ratio of exactly 1/t
    # can never straddle two bucket boundaries through fp rounding
    ln_base = math.log(den / num) + 1e-9
    # all-pairs parallelism = left-side partition count; a single-row-group
    # scan would put every comparison on one core (O(n) rows per task here,
    # so size tasks smaller than the linear-pass operators)
    base = df.repartition(cpu_partitions(df, rows_per_task=200)).select(
        F.col(id_col).alias("doc"),
        shingles(toks, 1).alias("sh"),
        *( [F.col(block_col).alias("blk")] if block_col else [] ),
    ).withColumn("sz", F.size(F.col("sh")).cast("long"))
    base = base.withColumn(
        "bkt",
        F.floor(F.log(F.greatest(F.col("sz"), F.lit(1)).cast("double")) / F.lit(ln_base)),
    )
    # checkpoint (eager): both join sides read the shingle pass;
    # blocks are sweep-reclaimable, not CacheManager-pinned
    base = base.localCheckpoint()
    r = base.alias("r")
    l = base.withColumn(
        "probe", F.explode(F.array(F.col("bkt"), F.col("bkt") + F.lit(1)))
    ).alias("l")
    # equi-key: (block,) bucket — drives the hash join; the orientation
    # conjunct admits each unordered pair once (lower bucket as build
    # side, doc order inside a bucket)
    cond = (F.col("l.probe") == F.col("r.bkt")) & (
        (F.col("l.bkt") < F.col("r.bkt"))
        | ((F.col("l.bkt") == F.col("r.bkt")) & (F.col("l.doc") < F.col("r.doc")))
    )
    if block_col:
        cond = cond & (F.col("l.blk") == F.col("r.blk"))
    # lossless size-ratio prefilter: jac(A,B) <= min(|A|,|B|)/max(|A|,|B|),
    # so jac >= t forces the set sizes within a factor t of each other.
    # Stated as exact integer arithmetic (den*min >= num*max) and applied
    # as a join conjunct, it prunes size-incompatible pairs BEFORE the
    # per-pair intersect/union — the expensive part of the verify.
    # Magnitudes stay far from long overflow (1e6 · |shingles|).
    cond = cond & (
        den * F.least(F.col("l.sz"), F.col("r.sz"))
        >= num * F.greatest(F.col("l.sz"), F.col("r.sz"))
    )
    return (
        l.join(r, cond)
        .select(
            F.least(F.col("l.doc"), F.col("r.doc")).alias("id_a"),
            F.greatest(F.col("l.doc"), F.col("r.doc")).alias("id_b"),
            F.round(jaccard(F.col("l.sh"), F.col("r.sh")), 6).alias("jac"),
        )
        .filter(F.col("jac") >= threshold)
    )


# -- embedding cosine near-dup ---------------------------------------------

def embedding_dedup_pairs_lsh(
    df: DataFrame,
    id_col: str,
    vec_col: str,
) -> DataFrame:
    """Embedding near-dup pairs (cosine >= 0.4) bounded to
    random-hyperplane LSH buckets (Charikar 2002 sign-random-projection,
    `similarity.ann_lsh_topk`'s planes): each vector hashes to one of
    2^LSH_PLANES buckets, pairs are compared only inside a bucket — the
    self-join is an *equi*-join on the bucket id (hash join, never a
    nested-loop), so comparisons scale as Σ|bucket|² ≈ n²/2^LSH_PLANES
    instead of n². Recall is bounded by construction (a near-dup pair
    split across buckets is missed — the standard LSH trade; raise
    recall with more plane sets, i.e. band the buckets like MinHash).
    The DuckDB oracle recomputes the identical md5-derived planes, so
    the approximate operator is still checked exactly.

    At 100 TB: the bucket id becomes a write-time partition column and
    the self-join runs per-partition with no cross-bucket shuffle."""
    from fiat2_spark.operators.similarity import (
        LSH_DIMS, LSH_PLANES, cosine_pre, lsh_bucket, lsh_planes, norm,
    )

    planes = lsh_planes(LSH_DIMS, LSH_PLANES)
    base = df.repartition(cpu_partitions(df, rows_per_task=200)).select(
        F.col(id_col).alias("doc"),
        F.col(vec_col).alias("v"),
        norm(F.col(vec_col)).alias("nv"),
        lsh_bucket(F.col(vec_col), planes).alias("bucket"),
    )
    # checkpoint (eager): both join sides and the verify read this —
    # without it the planes×dims bucket fold (and the hoisted norm) is
    # recomputed per side (and racing stages each recompute a lazy
    # cache); blocks are sweep-reclaimable, not CacheManager-pinned
    base = base.localCheckpoint()
    l, r = base.alias("l"), base.alias("r")
    return (
        l.join(
            r,
            (F.col("l.bucket") == F.col("r.bucket")) & (F.col("l.doc") < F.col("r.doc")),
        )
        .select(
            F.col("l.doc").alias("id_a"),
            F.col("r.doc").alias("id_b"),
            F.round(
                cosine_pre(F.col("l.v"), F.col("r.v"), F.col("l.nv"), F.col("r.nv")), 6
            ).alias("cos"),
        )
        .filter(F.col("cos") >= 0.4)
    )


# -- span-level (C4-style) dedup --------------------------------------------


def _segmented(
    df: DataFrame, id_col: str, text_col: str, seg_len: int, tokenizer=None
) -> DataFrame:
    """(doc, segs) — fixed-width token segments of each document. The
    repartition spreads ONLY the projected (doc, text) pair for the
    CPU-bound tokenize/digest stage. ``tokenizer`` defaults to the
    ASCII `tokens` (the segmenter is tokenizer-independent)."""
    from fiat2_spark.operators.text import token_segments, tokens as toks_of

    # tokenize into a REAL column before segmenting: token_segments
    # slices its argument inside a transform lambda, and an embedded
    # tokens() expression there re-runs the regex split per SEGMENT
    # (interpreted HOFs get no subexpression caching) — measured 4.6×
    # on the segment stage at sf0.1. A multiply-referenced non-trivial
    # projection survives CollapseProject, so the lambda captures a
    # cheap bound reference.
    slim = df.select(
        F.col(id_col).alias("doc"),
        (tokenizer or toks_of)(F.col(text_col)).alias("__toks"),
    )
    return slim.repartition(cpu_partitions(df, rows_per_task=200)).select(
        "doc", token_segments(F.col("__toks"), seg_len).alias("segs")
    )


def segment_digests(base: DataFrame) -> DataFrame:
    """(doc, seg_idx, seg_key, seg_tok) from a (doc, segs) relation —
    THE segment-digest definition (md5 over space-joined tokens),
    used by `span_dedup_stats`."""
    return base.select("doc", F.explode("segs").alias("s")).select(
        "doc",
        F.col("s.seg_idx").alias("seg_idx"),
        F.md5(F.concat_ws(" ", F.col("s.seg"))).alias("seg_key"),
        F.size("s.seg").cast("long").alias("seg_tok"),
    )


def span_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, seg_len: int = 8, tokenizer=None
) -> DataFrame:
    """C4-style duplicated-span removal, summarized per document: each
    document's token stream is cut into consecutive ``seg_len``-token
    segments; a segment survives iff it is the corpus-wide FIRST
    occurrence of its text (ordered by doc id, then position) — the
    analog of C4's "discard any three-sentence span seen before"
    (Raffel et al. 2020, §2.2) on the synthetic corpus, where fixed
    token windows stand in for sentences.

    Returns one row per document: ``n_segs`` (total segments),
    ``n_kept`` (surviving segments), ``n_kept_tokens``.

    Spark shape — two hash aggregates, NO join and NO window over the
    high-cardinality segment key: the min(struct(doc, idx, len)) per
    segment text IS the keeper (partial-agg friendly, map-side
    combinable), and regrouping keepers by doc yields the kept counts;
    doc totals come from the pre-explode side and the two per-doc
    relations merge with one small outer join on doc id. The only WIDE
    (hash) exchange carries (seg_hash, 3 ints) — segment text is
    md5-collapsed before it; the round-robin spread that sizes the
    tokenize/digest stage carries just the projected (doc, text) pair
    (never the caller's other columns), and on a cluster whose scan is
    already parallel it is a cheap local rebalance, not a corpus
    shuffle."""
    base = _segmented(df, id_col, text_col, seg_len, tokenizer)
    totals = base.select(
        "doc", F.size("segs").cast("long").alias("n_segs")
    )
    segs = segment_digests(base)
    keepers = segs.groupBy("seg_key").agg(
        F.min(F.struct("doc", "seg_idx", "seg_tok")).alias("k")
    )
    kept = keepers.groupBy(F.col("k.doc").alias("doc")).agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("k.seg_tok").cast("long").alias("n_kept_tokens"),
    )
    return (
        totals.join(kept, "doc", "left")
        .select(
            F.col("doc"),
            "n_segs",
            F.coalesce("n_kept", F.lit(0)).cast("long").alias("n_kept"),
            F.coalesce("n_kept_tokens", F.lit(0)).cast("long").alias("n_kept_tokens"),
        )
    )


def _substring_dup_spans(df: DataFrame, id_col: str, text_col: str, k: int, tokenizer=None):
    """(base, spans) shared by stats and apply: base = (doc, n_tokens,
    toks); spans = (doc, island, s, e, n_g) — the maximal merged
    removal intervals of non-first k-gram occurrences (see
    substring_dedup_stats for the algorithm and scale notes).
    ``tokenizer`` defaults to the ASCII `tokens`."""
    from pyspark.sql import Window

    from fiat2_spark.operators.text import tokens as toks_of

    slim = df.select(F.col(id_col).alias("doc"), F.col(text_col).alias("__t"))
    base = slim.repartition(cpu_partitions(df, rows_per_task=500)).select(
        "doc", (tokenizer or toks_of)(F.col("__t")).alias("toks")
    ).select("doc", F.size("toks").cast("long").alias("n_tokens"), "toks")

    grams = base.filter(F.size("toks") >= k).select(
        "doc",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(1), F.size("toks") - k + 1),
                lambda i: F.md5(F.concat_ws(" ", F.slice("toks", i, k))),
            )
        ).alias("pos", "gram"),
    )
    firsts = grams.groupBy("gram").agg(F.min(F.struct("doc", "pos")).alias("f"))
    dups = (
        grams.join(firsts, "gram")
        .filter((F.col("doc") != F.col("f.doc")) | (F.col("pos") != F.col("f.pos")))
        .select("doc", "pos")
    )
    wdoc = Window.partitionBy("doc").orderBy("pos")
    run_end = F.max(F.col("pos") + k).over(
        wdoc.rowsBetween(Window.unboundedPreceding, -1)
    )
    marked = dups.withColumn(
        "new_isl",
        F.when(run_end.isNull() | (F.col("pos") > run_end), 1).otherwise(0),
    ).withColumn(
        "island",
        F.sum("new_isl").over(wdoc.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = marked.groupBy("doc", "island").agg(
        F.min("pos").alias("s"),
        F.max(F.col("pos") + k).alias("e"),
        F.count(F.lit(1)).alias("n_g"),
    )
    return base, spans


def substring_dedup_stats(
    df: DataFrame, id_col: str, text_col: str, k: int = 8, tokenizer=None
) -> DataFrame:
    """EXACT-substring dedup at arbitrary offsets, summarized per
    document — the k-gram-anchored realization of suffix-array
    deduplication (Lee et al. 2022, "Deduplicating Training Data Makes
    Language Models Better": remove verbatim token spans of length ≥ k
    that occur elsewhere in the corpus). `span_dedup_stats` cuts FIXED
    segments (C4's sentence-window analog); this marks EVERY k-token
    window, so a duplicated passage is caught at any alignment.

    Algorithm (deterministic):
      1. every k-token window of every document is digested (md5 over
         the space-joined tokens) — (doc, pos, gram) rows, text never
         leaves the scan stage;
      2. the corpus-wide FIRST occurrence of each gram (min by
         (doc, pos)) survives; every other occurrence marks the
         interval [pos, pos+k) — same-document self-repetition is
         removed too, as in the paper;
      3. per document, marked intervals merge into maximal spans
         (gaps-and-islands over a doc-keyed window) — the union's size
         is the removed-token count.

    Returns (doc, n_tokens, n_spans, n_removed_tokens, n_dup_grams).

    Scale: the wide shuffles carry only (gram-digest, doc, pos). First
    occurrences are computed by group-by + join-back on the digest —
    NOT a per-gram row_number window — so a pathological gram (a
    corpus-wide filler phrase) is handled by AQE's skew-join split
    rather than serializing one window partition. The island merge
    partitions by doc (bounded by document length). ``tokenizer`` as in
    `_substring_dup_spans`."""
    base, spans = _substring_dup_spans(df, id_col, text_col, k, tokenizer)
    per_doc = spans.groupBy("doc").agg(
        F.count(F.lit(1)).cast("long").alias("n_spans"),
        F.sum(F.col("e") - F.col("s")).cast("long").alias("n_removed_tokens"),
        F.sum("n_g").cast("long").alias("n_dup_grams"),
    )
    return (
        base.select("doc", "n_tokens")
        .join(per_doc, "doc", "left")
        .select(
            "doc",
            "n_tokens",
            F.coalesce("n_spans", F.lit(0)).cast("long").alias("n_spans"),
            F.coalesce("n_removed_tokens", F.lit(0)).cast("long").alias("n_removed_tokens"),
            F.coalesce("n_dup_grams", F.lit(0)).cast("long").alias("n_dup_grams"),
        )
    )


def substring_dedup_apply(
    df: DataFrame, id_col: str, text_col: str, k: int = 8,
    chunk_tokens: int = 4096,
) -> DataFrame:
    """APPLY the arbitrary-offset substring dedup: return each document
    with its duplicated spans REMOVED (Lee et al. 2022's actual output
    — a cleaned corpus, not just stats). Tokens covered by a marked
    interval (see `substring_dedup_stats`) are dropped; the survivors
    rejoin in original order.

    Realization: explode (doc, pos, tok), anti-join the span ranges
    per doc (a doc-keyed range join against the doc's own bounded span
    list), then re-assemble order-preservingly in TWO LEVELS: tokens
    group into ``chunk_tokens``-sized chunks keyed (doc, pos div C) —
    each chunk's aggregation buffer holds ≤ C (pos, tok) structs — and
    the doc level concatenates the ordered chunk STRINGS. A
    pathological 100M-token document therefore never materializes a
    100M-entry struct buffer in one task: chunk buffers are
    C-struct-bounded hash-agg groups (spillable across groups) and the
    doc stage buffers |doc|/C compact strings (the output row itself
    is doc-sized — inherent to emitting cleaned text). No window
    anywhere.

    BOTH levels ride ONE exchange: the kept tokens repartition by doc,
    which satisfies the (doc, chunk) clustered distribution (a subset
    of the keys), so Catalyst plans the chunk agg AND the doc agg with
    no further shuffle — measured at sf0.1 this recovers the r8
    two-exchange regression (2.05 s → ~1.4 s) with the length-axis
    probe unchanged (the per-doc serial floor was always the doc-level
    concat, which is one group regardless of partitioning). Scale: the
    explode carries one (doc, pos, tok) row per token but the span
    side is |spans| rows per doc (result-bounded); the anti-join and
    both re-assembly aggregations key on doc(, chunk) — one
    partitioning family, one exchange. Tokens are the ASCII `tokens`."""
    base, spans = _substring_dup_spans(df, id_col, text_col, k)
    toks_pos = base.select(
        "doc", "n_tokens", F.posexplode("toks").alias("pos", "tok")
    )
    span_list = spans.groupBy("doc").agg(
        F.collect_list(F.struct("s", "e")).alias("spans")
    )
    joined = toks_pos.join(span_list, "doc", "left")
    keep = F.col("spans").isNull() | ~F.exists(
        "spans", lambda sp: (F.col("pos") >= sp["s"]) & (F.col("pos") < sp["e"])
    )
    chunks = (
        joined.filter(keep)
        .repartition("doc")
        .withColumn("chunk", (F.col("pos") / chunk_tokens).cast("long"))
        .groupBy("doc", "chunk")
        .agg(
            F.first("n_tokens").alias("n_tokens"),
            F.count(F.lit(1)).cast("long").alias("n_in_chunk"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("chunk_text"),
        )
    )
    kept = chunks.groupBy("doc").agg(
        F.first("n_tokens").alias("n_tokens"),
        F.sum("n_in_chunk").cast("long").alias("n_kept_tokens"),
        F.concat_ws(
            " ",
            F.transform(
                F.sort_array(F.collect_list(F.struct("chunk", "chunk_text"))),
                lambda s: s["chunk_text"],
            ),
        ).alias("kept_text"),
    )
    # docs whose every token was removed still appear (empty text)
    return (
        base.select("doc", "n_tokens")
        .join(kept.drop("n_tokens"), "doc", "left")
        .select(
            "doc",
            "n_tokens",
            F.coalesce("n_kept_tokens", F.lit(0)).cast("long").alias("n_kept_tokens"),
            F.coalesce("kept_text", F.lit("")).alias("kept_text"),
        )
    )


# -- semantic dedup (SemDeDup) ----------------------------------------------

def quantize_embeddings(
    emb: DataFrame, id_col: str, vec_col: str, q: int = 1_000_000
) -> DataFrame:
    """(vid, qv, n2): BIGINT-quantized vector components (×q) plus the
    exact squared norm (|qv|² ≤ dims·q² ≪ 2⁶³). Quantizing up front
    makes every downstream distance/dot an exact integer sum — the
    engine-parity discipline the kmeans/SemDeDup oracles rely on."""
    return emb.select(
        F.col(id_col).alias("vid"),
        F.expr(
            f"transform({vec_col}, x -> cast(round(cast(x as double) * {q}) as bigint))"
        ).alias("qv"),
    ).withColumn(
        "n2",
        F.expr("aggregate(zip_with(qv, qv, (x, y) -> x * y), 0L, (acc, z) -> acc + z)"),
    )


def lloyd_assign(qe: DataFrame, cent: DataFrame) -> DataFrame:
    """Nearest-centroid assignment (vid, cid): exploded vectors joined
    to the broadcast centroid relation, exact integer distance sums,
    argmin via a row_number window on the HIGH-cardinality vid, ties on
    cid (kmeans_lloyd's construction)."""
    from pyspark.sql import Window as W

    qx = qe.select("vid", F.posexplode("qv").alias("dim", "v"))
    d = (
        qx.join(F.broadcast(cent), "dim")
        .groupBy("vid", "cid")
        .agg(F.sum((F.col("v") - F.col("qc")) * (F.col("v") - F.col("qc"))).alias("d"))
    )
    return (
        d.withColumn(
            "rn", F.row_number().over(W.partitionBy("vid").orderBy("d", "cid"))
        )
        .filter(F.col("rn") == 1)
        .select("vid", "cid")
    )


def lloyd_centroids(qe: DataFrame, k: int, iters: int) -> DataFrame:
    """Exact-integer Lloyd over quantized vectors: init = the k
    SMALLEST actual vids' vectors (TakeOrderedAndProject + broadcast
    semi-join — NOT ``vid < k``, which silently yields fewer/zero
    centroids on sparse, offset, or negative id spaces), ``iters``
    assignment+update rounds, centroid update floor(exact-int /
    count). Returns (cid, dim, qc); cid = the seed row's vid.

    The k×dims centroid relation is checkpoint-truncated per round
    (r12): un-materialized, round t's plan nested every previous
    round's assign→argmin-window→update chain under the next round's
    broadcast, and the consumer's one action re-planned and re-executed
    a t-deep tree. Each round releases the checkpoint it replaces; the
    last one belongs to the returned result (session owner's sweep)."""
    qx = qe.select("vid", F.posexplode("qv").alias("dim", "v"))
    seeds = qe.select("vid").orderBy("vid").limit(k)
    cent = qx.join(F.broadcast(seeds), "vid").select(
        F.col("vid").alias("cid"), "dim", F.col("v").alias("qc")
    )
    for i in range(iters):
        a = lloyd_assign(qe, cent)
        new = (
            qx.join(a, "vid")
            .groupBy("cid", "dim")
            .agg(
                F.floor(F.sum("v").cast("double") / F.count(F.lit(1)))
                .cast("long")
                .alias("qc")
            )
            .localCheckpoint()
        )
        if i:  # the seed relation is a projection, not a checkpoint
            release_blocks(qe.sparkSession, block_ids(cent))
        cent = new
    return cent


# The embedding near-duplicate threshold t = 0.4 as t² = 4/25.
COS_T2_NUM, COS_T2_DEN = 4, 25
# Lloyd rounds of `semantic_dedup`'s k-means.
SEMDEDUP_ITERS = 2


def cosine_near_pred(
    dot: Column, n2_l: Column, n2_r: Column, t2_num: int, t2_den: int
) -> Column:
    """cos(a,b) > t with t² = t2_num/t2_den, as the EXACT integer
    comparison ``t2_den·dot² > t2_num·|a|²·|b|² AND dot > 0`` in
    DECIMAL(38,0) — no sqrt, no float tie risk (the oracle computes
    the identical comparison in HUGEINT)."""
    dec = "decimal(38,0)"
    return (
        F.lit(t2_den).cast(dec) * dot.cast(dec) * dot.cast(dec)
        > F.lit(t2_num).cast(dec) * n2_l.cast(dec) * n2_r.cast(dec)
    ) & (dot > 0)


def semantic_dedup_members(members: DataFrame, pair_salt: int = 16) -> DataFrame:
    """The SemDeDup prune over a clustered membership relation
    (vid, cid, qv, n2): mark vid duplicate iff SOME same-cluster member
    with a smaller vid is cosine-near (t² = COS_T2_NUM/COS_T2_DEN).

    Salted pair join: the MEMBERS (witness) side keys
    (cid, pmod(vid, pair_salt)), the SCORED side replicates
    ×pair_salt via explode — with few clusters (small k) a plain cid
    join caps parallelism at k tasks while the interpreted zip_with
    dot products serialize (measured 3× on local[32] at k=8). pmod,
    not %: Spark's % keeps the dividend's sign, so a negative-vid
    witness would get a salt the explode over 0..pair_salt-1 never
    matches and its pairs would be silently missed. At 100 TB-scale
    k ∝ n the parallelism is natural and replication is pure cost:
    pass pair_salt=1 there."""
    dot = F.expr(
        "aggregate(zip_with(l.qv, r.qv, (x, y) -> x * y), 0L, (acc, z) -> acc + z)"
    )
    near = cosine_near_pred(dot, F.col("l.n2"), F.col("r.n2"), COS_T2_NUM, COS_T2_DEN)
    l = members.withColumn(
        "salt", F.pmod(F.col("vid"), F.lit(pair_salt)).cast("int")
    ).alias("l")
    r = members.withColumn(
        "salt", F.explode(F.sequence(F.lit(0), F.lit(pair_salt - 1)))
    ).alias("r")
    dup_ids = (
        l.join(
            r,
            (F.col("l.cid") == F.col("r.cid"))
            & (F.col("l.salt") == F.col("r.salt"))
            & (F.col("l.vid") < F.col("r.vid")),
        )
        .filter(near)
        .select(F.col("r.vid").alias("vid"))
        .distinct()
    )
    return members.join(
        dup_ids.withColumn("is_dup", F.lit(True)), "vid", "left"
    ).select("vid", "cid", F.coalesce("is_dup", F.lit(False)).alias("is_dup"))


def semantic_dedup(
    emb: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 8,
    q: int = 1_000_000,
    pair_salt: int = 16,
) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): cluster the
    embedding corpus with SEMDEDUP_ITERS rounds of k-means, then prune within-cluster
    cosine-near-duplicates keeping one representative — a doc is marked
    duplicate iff SOME same-cluster doc with a smaller id has cosine
    similarity above the threshold (the deterministic keep-first rule).
    Returns (id, cid, is_dup).

    Candidate generation is PER-CLUSTER by construction: the pair join
    is equi-keyed on (cid, salt) (never an all-pairs cartesian —
    plan-asserted in tests), so cost is Σ|cluster|², the quantity
    SemDeDup's k is chosen to bound. At 100 TB: k scales with the
    corpus (the paper uses k ≈ √n · const) so cluster blocks stay
    bounded; each Lloyd iteration is one scan-join-agg pipeline with a
    broadcast k×dims centroid relation (kmeans_lloyd's design); the
    membership materializes ONCE (it feeds three plan legs) and the
    pair-stage dot products are exact quantized-BIGINT
    zip_with/aggregate sums.

    Engine-portable determinism (the oracle is bitwise-equal, not
    approximate): see `quantize_embeddings` / `cosine_near_pred` /
    `lloyd_centroids` — exact integer arithmetic end to end."""
    qe = quantize_embeddings(emb, id_col, vec_col, q)
    cent = lloyd_centroids(qe, k, SEMDEDUP_ITERS)
    af = lloyd_assign(qe, cent)
    # materialize the clustered membership once: it feeds THREE legs
    # (both pair-join sides and the final join-back), which would each
    # re-run the whole Lloyd chain; blocks, not a CacheManager pin
    # (the minhash-shingle discipline — swept by the session owner)
    members = qe.join(af, "vid").select("vid", "cid", "qv", "n2").localCheckpoint()
    out = semantic_dedup_members(members, pair_salt)
    return out.select(F.col("vid").alias(id_col), "cid", "is_dup")


# -- corpus-frequent segment (boilerplate) removal ---------------------------

def boilerplate_remove(
    df: DataFrame,
    id_col: str,
    text_col: str,
    seg_len: int = 4,
    min_docs: int = 2,
    tokenizer=None,
) -> DataFrame:
    """CCNet/RefinedWeb-style boilerplate removal (Wenzek et al. 2019
    arXiv:1911.00359 §3.1 paragraph-hash dedup; Penedo et al. 2023
    arXiv:2306.01116 line dedup): drop every text UNIT that recurs
    across >= ``min_docs`` DISTINCT documents, then reassemble each
    document from its surviving units in order. On real web text the
    unit is a line/paragraph; this corpus is single-line, so the unit
    is a fixed-width token segment (``token_segments``) — the
    distributed shape (explode -> corpus-wide distinct-doc count ->
    anti join -> ordered reassembly) is identical, and swapping the
    splitter expression swaps the unit.

    Returns (id, n_segs, n_removed, clean_text) for EVERY input row
    (a doc whose segments are ALL boilerplate comes back with
    clean_text = '' — the caller decides whether empty docs survive).

    Scale: the corpus text crosses the wire only as (id, seg_idx, seg)
    unit rows — the distinct-doc count is map-side partial on
    (seg, id) then (seg), and the frequent set is by construction a
    TINY relation (only units repeated across documents survive the
    HAVING), so the anti join broadcasts under AQE — no corpus-sized
    exchange for the drop decision (plan behavior asserted in
    tests/test_plans.py). The reassembly is ONE doc-keyed shuffle of
    surviving units. No incremental twin by design: the threshold is
    corpus-global, so a unit CROSSING it would have to retract
    already-emitted clean_text — CCNet likewise runs a dedicated
    corpus hash pass first; recompute is the honest semantics.

    Reference analog: composes the §2.2/§2.5 filter/agg surface
    (fiat2/src/fiat2/Interpret.v:369-404, :212-238)."""
    from fiat2_spark.operators.text import token_segments

    # tokens as a real column: see doc_segments — an embedded tokens()
    # inside token_segments' transform lambda re-tokenizes per segment;
    # tokenizer= swaps the unit splitter (the docstring's "swapping the
    # splitter expression swaps the unit") without touching the
    # distributed shape
    base = df.select(
        F.col(id_col).alias("__id"),
        (tokenizer or tokens)(F.col(text_col)).alias("__toks"),
    )
    segs = base.select(
        "__id",
        F.explode(token_segments(F.col("__toks"), seg_len)).alias("s"),
    ).select(
        "__id",
        F.col("s.seg_idx").alias("seg_idx"),
        F.concat_ws(" ", F.col("s.seg")).alias("seg"),
    )
    freq = (
        segs.select("seg", "__id")
        .distinct()
        .groupBy("seg")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= min_docs)
        .select("seg")
    )
    kept = segs.join(freq, "seg", "left_anti")
    per_doc_kept = kept.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_kept"),
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
        ).alias("clean_text"),
    )
    # n_segs needs no third pass over the unit stream: it is
    # ceil(n_tokens/seg_len), a scan-side expression on the base
    # relation — one explode pass and one join fewer than counting it
    # from ``segs``
    n_segs = F.ceil(F.size(F.col("__toks")) / float(seg_len)).cast("long")
    return (
        base.select("__id", n_segs.alias("n_segs"))
        .join(per_doc_kept, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_segs",
            (F.col("n_segs") - F.coalesce("n_kept", F.lit(0)))
            .cast("long")
            .alias("n_removed"),
            F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        )
    )
