"""Relational operators — the fiat2 expression surface on DataFrames.

Reference semantics: fiat2/src/fiat2/Interpret.v:259-499 (a big-step
interpreter doing O(n·m) nested loops over Coq lists). Here every
operator is a *declarative* DataFrame transformation: Catalyst performs
the rewrites the reference proves sound (filter pushdown
RelTransf.v:441-448, projection pruning Optimize.v:966/1034, join
reordering Optimize.v:1356/1385, filter fusion Optimize.v:1421), and
Tungsten supplies codegen'd physical execution — the design stance of
SURVEY.md §7: port the *logical surface*, not the interpreter.

Collection tags (Language.v:114): ``LikeBag`` is a DataFrame's native
multiset semantics; ``LikeSet`` adds ``.distinct()``; ``LikeList`` order
is only observable through ``ESort``, which we realize as a canonical
whole-row sort — so plans stay order-insensitive up to explicit sort
points, exactly like Spark.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fiat2_spark.plans.ast import LIKE_BAG, LIKE_SET


def retag(df: DataFrame, tag: str) -> DataFrame:
    """Apply a collection tag to a DataFrame: ``LikeSet`` dedups, the
    other tags keep the rows (Interpret.v's retag)."""
    return df.distinct() if tag == LIKE_SET else df


# -- EFilter (Language.v:141, Interpret.v:369-404) -------------------------

def filter_rows(df: DataFrame, pred: Column) -> DataFrame:
    """Keep rows satisfying ``pred``. Catalyst pushes the predicate to the
    parquet scan (PushedFilters) — the physical realization of the
    reference's ``filter_pushdown_head`` (RelTransf.v:441-448)."""
    return df.filter(pred)


# -- EProj (Language.v:143, Interpret.v:467-490) ---------------------------

def project(df: DataFrame, cols: dict[str, Column] | Sequence[str]) -> DataFrame:
    """Generalized projection: map each row to a new record. ``cols`` maps
    output field name → expression (fiat2 records are name-sorted, so we
    emit fields in sorted order — Value.v:518-556 canonical form)."""
    if isinstance(cols, dict):
        return df.select(*(expr.alias(name) for name, expr in sorted(cols.items())))
    return df.select(*cols)


# -- EJoin (Language.v:142, Interpret.v:405-466) ---------------------------

def theta_join(
    left: DataFrame,
    right: DataFrame,
    pred: Column,
    result: dict[str, Column] | None = None,
    broadcast_right: bool = False,
) -> DataFrame:
    """θ-join with fused projection, the reference's only join form.

    Catalyst extracts equi-conjuncts from ``pred`` and picks
    broadcast-hash / sort-merge; a pure inequality predicate falls back
    to BNLJ — same asymptotics as the reference interpreter, so only use
    non-equi predicates on small inputs (or pre-bucketed ranges).
    ``broadcast_right`` hints the dimension side for the 100 TB case where
    the statistics-based threshold can't see the future.
    """
    r = F.broadcast(right) if broadcast_right else right
    joined = left.join(r, on=pred, how="inner")
    if result is not None:
        joined = joined.select(*(e.alias(n) for n, e in sorted(result.items())))
    return joined


def salted_equi_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    salt: int = 16,
) -> DataFrame:
    """Skew-resistant inner equi-join: explode the left's hot keys across
    ``salt`` shuffle partitions by appending a random salt to the key,
    replicating each right row once per salt value. Use when one key
    holds a large share of the rows and the right side is too big to
    broadcast — AQE's skew-join split handles moderate skew at runtime,
    but a single pathological key within one partition still serializes;
    salting is the explicit fix. Cost: right side × salt, so keep salt
    small (8-32).
    """
    l_salted = left.withColumn("__salt", (F.rand(seed=42) * salt).cast("int"))
    r_salted = right.withColumn(
        "__salt", F.explode(F.array(*[F.lit(i) for i in range(salt)]))
    )
    joined = l_salted.join(
        r_salted,
        on=[
            l_salted[left_key] == r_salted[right_key],
            l_salted["__salt"] == r_salted["__salt"],
        ],
    )
    return joined.drop("__salt")


def asof_join(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    right_cols: Sequence[str],
) -> DataFrame:
    """As-of join (engine surface beyond the reference): for each left
    row, the right row with the greatest ``ts_col`` ≤ the left's, per
    key — left-join semantics (unmatched → nulls in ``right_cols``).

    Implementation is the union+window trick: tag the sides, union by
    name, and carry each right value forward with last(ignorenulls)
    over (keys ORDER BY ts, side) — right sorts before left on ties so
    equal timestamps match. ONE shuffle on the keys and a partition-local
    sort; never builds the range-join pair explosion, so it scales like
    a sort-merge join. Right rows must be unique per (keys, ts) —
    pre-aggregate ties — and ``right_cols`` must not collide with left
    column names.
    """
    from pyspark.sql import Window as W

    u = left.withColumn("__is_l", F.lit(1)).unionByName(
        right.withColumn("__is_l", F.lit(0)), allowMissingColumns=True
    )
    w = (
        W.partitionBy(*keys)
        .orderBy(F.col(ts_col), F.col("__is_l"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    filled = u.select(
        *left.columns,
        "__is_l",
        *[F.last(c, ignorenulls=True).over(w).alias(c) for c in right_cols],
    )
    return filled.filter(F.col("__is_l") == 1).drop("__is_l")


def range_join_binned(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    left_ts: str,
    right_ts: str,
    window_seconds: int,
) -> DataFrame:
    """Interval join: pairs where ``right_ts ∈ [left_ts - window, left_ts]``
    per key, built scale-safe. A naive range predicate after an equi-join
    on a hot key degenerates to a per-key cross product; binning
    timestamps into window-width buckets and exploding the left row into
    the two covering buckets turns the range condition into an
    equi-join on (keys, bucket) — each pair is examined at most once and
    the shuffle keys are uniform. The exact range filter runs on the
    surviving candidates only.
    """
    lb = F.floor(F.unix_timestamp(F.col(left_ts)) / window_seconds)
    rb = F.floor(F.unix_timestamp(F.col(right_ts)) / window_seconds)
    assert left_ts != right_ts, "rename one timestamp column before joining"
    # alias both sides: left/right often derive from the SAME scan (e.g.
    # two filters of one events table), where bare l[k] == r[k] resolves
    # both to one attribute id — Spark logs 'trivially true equals
    # predicate' and has to self-disambiguate. Qualified names keep the
    # join condition unambiguous by construction.
    l_binned = left.withColumn("__bin", F.explode(F.array(lb - 1, lb))).alias("__rjl")
    r_binned = right.withColumn("__bin", rb).alias("__rjr")
    on = [F.col(f"__rjl.{k}") == F.col(f"__rjr.{k}") for k in keys] + [
        F.col("__rjl.__bin") == F.col("__rjr.__bin")
    ]
    joined = l_binned.join(r_binned, on=on)
    keep = [F.col(f"__rjl.{c}") for c in left.columns] + [
        F.col(f"__rjr.{c}") for c in right.columns if c not in keys
    ]
    joined = joined.select(*keep)
    in_range = (F.col(right_ts) <= F.col(left_ts)) & (
        F.col(right_ts) >= F.col(left_ts) - F.expr(f"INTERVAL {window_seconds} SECOND")
    )
    return joined.filter(in_range).drop("__bin")


def semi_join(left: DataFrame, right: DataFrame, pred: Column) -> DataFrame:
    """The reference's existence idiom — ``[y <- t, check p, ret ()] != []``
    (Ex_BFS.v:42) — as a real semi-join."""
    return left.join(right, on=pred, how="left_semi")


def anti_join(left: DataFrame, right: DataFrame, pred: Column) -> DataFrame:
    """Emptiness of a correlated subquery (``= []``) → anti-join."""
    return left.join(right, on=pred, how="left_anti")


# -- EFlatmap (Language.v:130, Interpret.v:273-299) ------------------------

def flatmap_explode(df: DataFrame, array_expr: Column, out_name: str, keep: Sequence[str] = ()) -> DataFrame:
    """Flatmap where the body builds a per-row collection: lateral explode.
    (The independent-body case is a crossJoin; the table-valued case is
    ``theta_join`` — the reference's ``to_join_head`` recognition,
    RelTransf.v:357-367, which our plan builder does by construction.)"""
    return df.select(*keep, F.explode(array_expr).alias(out_name))


def flatmap_cross(left: DataFrame, right: DataFrame) -> DataFrame:
    """Flatmap with an ``x``-independent table body = cross product."""
    return left.crossJoin(right)


# -- EFlatmap2 (Language.v:131, Interpret.v:7-11,300-312) ------------------

def flatmap2_zip(df: DataFrame, arr1: Column, arr2: Column, n1: str, n2: str, keep: Sequence[str] = ()) -> DataFrame:
    """Zip-flatmap: walk two arrays in lockstep, stopping at the shorter
    (flat_map2 truncates — Interpret.v:7-11). ``arrays_zip`` pads with
    null instead, so explode the zip and drop the padded tail by index.
    """
    n = F.least(F.size(arr1), F.size(arr2))
    zipped = F.slice(F.arrays_zip(arr1.alias("_1"), arr2.alias("_2")), 1, n)
    ex = df.select(*keep, F.explode(zipped).alias("_z"))
    return ex.select(*keep, F.col("_z._1").alias(n1), F.col("_z._2").alias(n2))


# -- ESort (Language.v:139, Interpret.v:351-367) ---------------------------

def sort_canonical(df: DataFrame, tag: str = LIKE_BAG) -> DataFrame:
    """Canonical whole-row sort by the total value order (Value.v:116-147):
    records compare field-by-field in sorted-name order, so ordering by
    all columns sorted by name reproduces ``value_sort`` (Value.v:499).
    This is the reference's deterministic-output mechanism; LikeSet sorts
    the deduplicated rows."""
    if tag == LIKE_SET:
        df = df.distinct()
    return df.orderBy(*sorted(df.columns))


# -- EBagOf / ESetOf (Language.v:145-146) ----------------------------------

def set_of(df: DataFrame) -> DataFrame:
    """ESetOf: canonical deduplication (Interpret.v:495-498)."""
    return df.distinct()


def bag_canonical(df: DataFrame) -> DataFrame:
    """Bag canonical form — sorted (value, count) pairs (Value.v:485-517).
    Materialized only at output/comparison boundaries (SURVEY §7 watch
    list); internally DataFrames *are* bags."""
    cnt = df.groupBy(*df.columns).agg(F.count(F.lit(1)).alias("bag_count"))
    return cnt.orderBy(*sorted(df.columns))


# -- OConcat / OCons / ORange (Language.v:95,101-103) ----------------------

def union_all(a: DataFrame, b: DataFrame) -> DataFrame:
    """OConcat: list append = UNION ALL (order only observable at sorts)."""
    return a.unionByName(b)


def cons_row(df: DataFrame, row: dict) -> DataFrame:
    """OCons: prepend one row — the reference's INSERT (Interpret.v:174-177)."""
    single = df.sparkSession.createDataFrame([row], schema=df.schema)
    return single.unionByName(df)


def int_range(spark, lo: int, hi: int) -> DataFrame:
    """ORange: [lo, hi) as a table (Interpret.v:80-90). ``spark.range`` is
    a parallel, partitioned source — no driver materialization."""
    return spark.range(lo, max(lo, hi)).toDF("n")


# -- global row numbering (pk-index id assignment, BitmapIndex.v:13-18) ----

def global_row_number(
    df: DataFrame,
    order_col: str,
    n_buckets: int | None = None,
) -> DataFrame:
    """Consecutive 1-based ids ``rn`` in the total order of ``order_col``,
    WITHOUT the single-partition global window: ``ROW_NUMBER() OVER
    (ORDER BY k)`` moves every row into one task — the one plan shape
    that cannot scale past a single executor core. This is the Spark
    realization of the reference's pk-index consecutive-id fold
    (BitmapIndex.v:13-18) for tables that outgrow a single machine.

    Two fully parallel passes (the classic zipWithIndex shape, kept in
    DataFrame land):

    1. collect ``n_buckets``-1 approximate quantile cut points of
       ``order_col`` (a tiny driver-side list) and range-bucket every
       row against the cut array with a pure expression — deterministic
       given the collected cuts, so no persist is needed between passes;
    2. count rows per bucket (an ``n_buckets``-row aggregate) and
       prefix-sum the counts into per-bucket offsets on the driver;
    3. ``row_number`` within each bucket — parallel, partition-local
       windows — plus the bucket's offset.

    ``order_col`` must be numeric and unique (equal keys straddling a
    cut point would make ranks depend on bucket placement; the
    reference numbers rows of a keyed table, so a unique key exists).
    Cut-point skew only affects bucket *sizes*, never correctness.
    """
    from pyspark.sql import Window as W

    bucketed = _value_buckets(df, order_col, False, n_buckets)
    counts = {
        r["__bucket"]: r["cnt"]
        for r in bucketed.groupBy("__bucket").agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    # buckets above the highest occupied one hold no row to offset
    offsets, acc = [], 0
    for i in range(max(counts, default=0) + 1):
        offsets.extend((F.lit(i), F.lit(acc)))
        acc += counts.get(i, 0)
    off_map = F.create_map(*offsets)
    w = W.partitionBy("__bucket").orderBy(order_col)
    return bucketed.withColumn(
        "rn",
        F.row_number().over(w).cast("long")
        + F.element_at(off_map, F.col("__bucket")).cast("long"),
    ).drop("__bucket")


def _value_buckets(
    df: DataFrame, order_col: str, descending: bool, n_buckets: int | None
) -> DataFrame:
    """Range-bucket rows on approximate quantile cut points of
    ``order_col`` (a tiny driver-side list). The bucket is a pure
    function of the VALUE — duplicate order values always share a
    bucket, so value-deterministic rank computations can never be
    split by a cut."""
    b = n_buckets or df.sparkSession.sparkContext.defaultParallelism
    probs = [i / b for i in range(1, b)]
    # b == 1 -> no cut points; Spark's approxQuantile NPEs on an empty
    # probability list, so skip the call (single-bucket degenerate case).
    # relativeError 0.01, not 0.001: cut points only affect bucket
    # BALANCE (value-pure bucketing is what correctness rests on), so a
    # 1%-of-n worst-case size skew buys a ~2.5x cheaper sketch pass —
    # the Greenwald-Khanna summary size scales with 1/eps (measured
    # 0.63s -> 0.25s per action at sf0.1)
    cuts = sorted(set(df.approxQuantile(order_col, probs, 0.01))) if probs else []
    if cuts:
        # plain when-sum over the (tiny, driver-side) cut list — NOT a
        # filter-HOF over an array literal: a lambda-variable bucket
        # expression inlined through the downstream aggregate into a
        # window's ORDER BY trips Catalyst reference binding
        # (INTERNAL_ERROR ATTRIBUTE_NOT_FOUND on Spark 4.1), and the
        # when-chain is whole-stage-codegen'd where the HOF body runs
        # interpreted per cut
        if descending:
            terms = [
                F.when(F.lit(c) > F.col(order_col), 1).otherwise(0) for c in cuts
            ]
        else:
            terms = [
                F.when(F.lit(c) < F.col(order_col), 1).otherwise(0) for c in cuts
            ]
        bucket = sum(terms[1:], terms[0])
    else:
        bucket = F.lit(0)
    return df.withColumn("__bucket", bucket)


def grouped_row_number(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    id_name: str = "rn",
    descending: bool = False,
    tiebreak: Sequence[Column] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-group consecutive 1-based row numbers in ``(order_col,
    *tiebreak)`` order WITHOUT partitioning the heavy window on the
    group key — the composite-key extension of ``global_row_number``
    for **low-cardinality groups**, where ``ROW_NUMBER() OVER
    (PARTITION BY grp ORDER BY k)`` plans |groups| tasks at any scale
    (5 order priorities = 5 tasks on a 1000-executor cluster).

    Scheme (three parallel passes + one tiny window):

    1. range-bucket every row on ``n_buckets``-1 approximate quantile
       cut points of ``order_col`` (group-agnostic cuts; the bucket is
       a pure function of the VALUE, so duplicate order values can
       never straddle a bucket — ties are resolved by ``tiebreak``
       inside a bucket, exactly as in the plain window);
    2. count rows per (group, bucket) — a |groups|×|buckets|-row
       aggregate — and prefix-sum counts into per-(group, bucket)
       offsets with a window over that tiny aggregate (the only
       group-partitioned window, trivially cheap);
    3. broadcast the offsets back onto the data and ``row_number``
       within each (group, bucket) partition — |groups|×|buckets|
       parallel partition-local windows — plus the bucket's offset.

    For high-cardinality groups the plain group-partitioned window is
    already parallel and cheaper — use this only when |groups| is far
    below the cluster's core count. The offset broadcast is
    |groups|×|buckets| rows; keep that product small."""
    from pyspark.sql import Window as W

    bucketed = _value_buckets(df, order_col, descending, n_buckets)
    counts = bucketed.groupBy(*group_cols, "__bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_off = (
        W.partitionBy(*group_cols)
        .orderBy("__bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    offsets = counts.withColumn(
        "__off", F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long")
    ).drop("__cnt")
    joined = bucketed.join(F.broadcast(offsets), [*group_cols, "__bucket"])
    ord0 = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w = W.partitionBy(*group_cols, "__bucket").orderBy(ord0, *tiebreak)
    return joined.withColumn(
        id_name, F.row_number().over(w).cast("long") + F.col("__off")
    ).drop("__bucket", "__off")


def grouped_rank_family(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    descending: bool = False,
    tiebreak: Sequence[Column] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """The ENTIRE ranking family — row_number, rank, dense_rank,
    percent_rank, ntile(k) — per group, without partitioning any heavy
    window on the low-cardinality group key (the `grouped_row_number`
    scheme extended with the tie- and total-dependent functions):

    The window order is (order_col, *tiebreak) — ``tiebreak`` is plain
    ascending columns, part of the RANKING ORDER itself, exactly as in
    ``... ORDER BY price DESC, orderkey``. Rank/dense_rank tie groups
    are rows equal on the WHOLE composite; since the bucket is a pure
    function of the leading order VALUE, a tie group can never straddle
    a bucket, so:

    * rank = bucket row-count offset + within-bucket rank over the
      composite order;
    * dense_rank = offset counting DISTINCT composite keys in earlier
      buckets (countDistinct rides the same tiny aggregate);
    * percent_rank: (rank−1)/(n−1) computed from the per-group total n
      (a window-free arithmetic rewrite of the same double division
      Spark and DuckDB evaluate — bit-identical);
    * ntile(k): Spark's remainder-to-first-tiles split, arithmetically
      from (row_number, n): the first n%k tiles get ⌈n/k⌉ rows;
    * cume_dist: (peers ≤ mine within bucket, via the inclusive RANGE
      frame) + bucket offset, over n — one double division, identical
      to the native function's arithmetic.

    Output: input columns + rn, rnk, drnk, prnk, quartile, cdist (long,
    long, long, double, int, double). Same low-cardinality-group
    contract as `grouped_row_number`."""
    from pyspark.sql import Window as W

    bucketed = _value_buckets(df, order_col, descending, n_buckets)
    counts = bucketed.groupBy(*group_cols, "__bucket").agg(
        F.count(F.lit(1)).alias("__cnt"),
        F.countDistinct(F.col(order_col), *tiebreak).alias("__dcnt"),
    )
    w_off = (
        W.partitionBy(*group_cols)
        .orderBy("__bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_tot = W.partitionBy(*group_cols)
    offsets = counts.select(
        *group_cols,
        "__bucket",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long").alias("__off"),
        F.coalesce(F.sum("__dcnt").over(w_off), F.lit(0)).cast("long").alias("__doff"),
        F.sum("__cnt").over(w_tot).cast("long").alias("__n"),
    )
    joined = bucketed.join(F.broadcast(offsets), [*group_cols, "__bucket"])
    ord0 = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w_ord = W.partitionBy(*group_cols, "__bucket").orderBy(
        ord0, *[c.asc() for c in tiebreak]
    )
    rn = F.row_number().over(w_ord).cast("long") + F.col("__off")
    rnk = F.rank().over(w_ord).cast("long") + F.col("__off")
    drnk = F.dense_rank().over(w_ord).cast("long") + F.col("__doff")
    n = F.col("__n")
    prnk = F.when(
        n > 1, (rnk - 1).cast("double") / (n - 1).cast("double")
    ).otherwise(F.lit(0.0))
    k = F.lit(4).cast("long")
    # floor(double) division is exact while counts stay below 2^53 —
    # far beyond any per-group row count
    q, r = F.floor(n / k).cast("long"), n % k
    # guard q=0 (n < k): the when-branch covers every row (rn <= r), so
    # the otherwise-branch's divisor never evaluates on those groups —
    # greatest(q, 1) keeps ANSI division happy anyway
    q1 = F.greatest(q, F.lit(1))
    tile = F.when(
        rn <= r * (q + 1), F.floor((rn + q) / (q + 1)).cast("long")
    ).otherwise(r + F.floor((rn - r * (q + 1) + q1 - 1) / q1).cast("long"))
    # cume_dist = (rows with composite <= mine in the group) / n: the
    # default RANGE frame counts all peers of the current composite
    # inclusively within the bucket; earlier buckets contribute __off.
    # Integer count then ONE double division — matches the engines'
    # native cume_dist arithmetic exactly.
    w_peers = w_ord.rangeBetween(W.unboundedPreceding, W.currentRow)
    cdist = (
        (F.count(F.lit(1)).over(w_peers).cast("long") + F.col("__off")).cast("double")
        / n.cast("double")
    )
    out = joined.withColumn("rn", rn).withColumn("rnk", rnk)
    out = out.withColumn("drnk", drnk).withColumn("prnk", prnk)
    out = out.withColumn("quartile", tile.cast("int"))
    out = out.withColumn("cdist", cdist)
    return out.drop("__bucket", "__off", "__doff", "__n")


def grouped_running_sum(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: Column,
    out_name: str = "cum",
    descending: bool = False,
    tiebreak: Sequence[Column] = (),
    n_buckets: int | None = None,
) -> DataFrame:
    """Per-group INCLUSIVE running sum of ``value_col`` in
    ``(order_col, *tiebreak)`` order, without a |groups|-task window —
    the prefix-sum member of the quantile-bucket family
    (`grouped_row_number` / `grouped_rank_family`): bucket rows on the
    order value, aggregate per-(group, bucket) value sums on a tiny
    relation, prefix-sum those into bucket offsets, then run the heavy
    cumulative window inside each (group, bucket) partition and add the
    offset. Associativity of + is what makes the split exact; for
    doubles, pass a DECIMAL-cast ``value_col`` so bucket-order
    re-association cannot change the result (the repo's standard float
    discipline)."""
    from pyspark.sql import Window as W

    bucketed = _value_buckets(df, order_col, descending, n_buckets)
    vals = bucketed.withColumn("__v", value_col)
    counts = vals.groupBy(*group_cols, "__bucket").agg(F.sum("__v").alias("__bsum"))
    w_off = (
        W.partitionBy(*group_cols)
        .orderBy("__bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    zero = F.lit(0).cast(dict(vals.select(F.col("__v")).dtypes)["__v"])
    offsets = counts.select(
        *group_cols,
        "__bucket",
        F.coalesce(F.sum("__bsum").over(w_off), zero).alias("__off"),
    )
    joined = vals.join(F.broadcast(offsets), [*group_cols, "__bucket"])
    ord0 = F.col(order_col).desc() if descending else F.col(order_col).asc()
    w_cum = (
        W.partitionBy(*group_cols, "__bucket")
        .orderBy(ord0, *[c.asc() for c in tiebreak])
        .rowsBetween(W.unboundedPreceding, 0)
    )
    return joined.withColumn(
        out_name, F.sum("__v").over(w_cum) + F.col("__off")
    ).drop("__bucket", "__v", "__off")


def grouped_listagg(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    value_col: Column,
    out_name: str = "listagg",
    n_buckets: int | None = None,
) -> DataFrame:
    """Ordered LISTAGG per group without any window at all — the
    string-concat member of the quantile-bucket family, for
    **low-cardinality groups** where `collect_list` over a 5-partition
    shuffle would serialize on 5 tasks:

    1. range-bucket rows on the order value (`_value_buckets`; pure
       function of the value, so equal order keys share a bucket);
    2. per (group, bucket): sort-and-join that bucket's values — the
       collect_list materializes ONE BUCKET, not the whole group, and
       the |groups|×|buckets| tasks run in parallel;
    3. per group: join the bucket strings in bucket order (an
       n_buckets-element list — tiny).

    String concatenation is associative, so the bucket split is exact:
    the result equals ``string_agg(value, ',' ORDER BY order_col, value)``.
    Also emits the per-group row count ``n`` (summed from the
    per-bucket partials). Per-group output strings still materialize
    on one row — LISTAGG's inherent contract — but no single task ever
    holds more than a bucket's rows as a list."""
    bucketed = _value_buckets(df, order_col, False, n_buckets)
    per_bucket = bucketed.groupBy(*group_cols, "__bucket").agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col(order_col).alias("o"), value_col.alias("v"))
                    )
                ),
                lambda x: x["v"],
            ),
            ",",
        ).alias("__s"),
        F.count(F.lit(1)).alias("__cnt"),
    )
    return per_bucket.groupBy(*group_cols).agg(
        F.array_join(
            F.transform(
                F.array_sort(
                    F.collect_list(
                        F.struct(F.col("__bucket").alias("b"), F.col("__s").alias("s"))
                    )
                ),
                lambda x: x["s"],
            ),
            ",",
        ).alias(out_name),
        F.sum("__cnt").alias("n"),
    )


def grouped_percentiles(
    df: DataFrame,
    group_cols: Sequence[str],
    order_col: str,
    qs: dict[str, float],
    n_buckets: int | None = None,
) -> DataFrame:
    """Exact interpolated percentiles per group WITHOUT per-group value
    arrays: rank every row with the quantile-bucket scheme
    (`grouped_row_number`), keep only the two bracketing order
    statistics per requested quantile, and interpolate with
    v_lo + (h−⌊h⌋)·(v_hi−v_lo), h = q·(n−1) — SQL PERCENTILE_CONT
    semantics. The heavy pass is a distributed ranking; the final
    aggregate sees ~2·|qs| rows per group, so group size is unbounded.

    Ties in ``order_col`` are safe without a tiebreak: equal values
    share a bucket (value-pure bucketing), and whichever tie member
    lands on a bracketing rank contributes the same VALUE.

    The ranking scheme is inlined rather than delegated to
    `grouped_row_number`, for two wins the delegated form can't see
    (the mad_scalable r9 regression, VERDICT r9 #1):

    * the per-group total ``n`` rides the SAME tiny (group, bucket)
      count aggregate that produces the rank offsets (a
      `grouped_rank_family`-style w_tot window over it) — no second
      full scan + broadcast join just to recover ``n``;
    * only buckets that can CONTAIN a bracketing rank survive to the
      ranking join: a percentile query needs 2 ranks per quantile, so
      at most 2·|qs| of the ~n_buckets buckets per group hold rows
      that matter — the needed-(group, bucket) set is computed on the
      tiny offsets aggregate and inner-broadcast-joined, so the sort
      window and the final aggregate see ~2·|qs|/n_buckets of the
      data instead of ranking every row.

    Output: group_cols + one double column per ``qs`` name + ``n``."""
    from pyspark.sql import Window as W

    bucketed = _value_buckets(df, order_col, False, n_buckets)
    counts = bucketed.groupBy(*group_cols, "__bucket").agg(
        F.count(F.lit(1)).alias("__cnt")
    )
    w_off = (
        W.partitionBy(*group_cols)
        .orderBy("__bucket")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    w_tot = W.partitionBy(*group_cols)
    offsets = counts.select(
        *group_cols,
        "__bucket",
        "__cnt",
        F.coalesce(F.sum("__cnt").over(w_off), F.lit(0)).cast("long").alias("__off"),
        F.sum("__cnt").over(w_tot).cast("long").alias("__n"),
    )
    # bucket pruning: keep a (group, bucket) pair only if one of the
    # 2·|qs| bracketing ranks lands inside it (__off < r ≤ __off+__cnt).
    # Plain OR-chain over the quantile list, NOT an exists-HOF — the
    # relation is tiny and the chain codegens (same rationale as
    # _value_buckets' when-sum)
    needed = F.lit(False)
    for q in qs.values():
        h = F.lit(q) * (F.col("__n") - 1).cast("double")
        lo = F.floor(h).cast("long")
        for r in (lo + 1, F.least(lo + 2, F.col("__n"))):
            needed = needed | (
                (r > F.col("__off")) & (r <= F.col("__off") + F.col("__cnt"))
            )
    need = offsets.filter(needed).drop("__cnt")
    w_rn = W.partitionBy(*group_cols, "__bucket").orderBy(F.col(order_col).asc())
    j = (
        bucketed.join(F.broadcast(need), [*group_cols, "__bucket"])
        .withColumn("__rn", F.row_number().over(w_rn).cast("long") + F.col("__off"))
    )
    sel = F.lit(False)
    aggs = []
    for name, q in qs.items():
        h = F.lit(q) * (F.col("__n") - 1).cast("double")
        lo = F.floor(h).cast("long")
        is_lo = F.col("__rn") == lo + 1
        is_hi = F.col("__rn") == F.least(lo + 2, F.col("__n"))
        sel = sel | is_lo | is_hi
        aggs.append(F.max(F.when(is_lo, F.col(order_col))).alias(f"__lo_{name}"))
        aggs.append(F.max(F.when(is_hi, F.col(order_col))).alias(f"__hi_{name}"))
    picked = j.filter(sel).groupBy(*group_cols, "__n").agg(*aggs)
    cols = []
    for name, q in qs.items():
        h = F.lit(q) * (F.col("__n") - 1).cast("double")
        cols.append(
            (
                F.col(f"__lo_{name}")
                + (h - F.floor(h)) * (F.col(f"__hi_{name}") - F.col(f"__lo_{name}"))
            ).alias(name)
        )
    return picked.select(*group_cols, *cols, F.col("__n").alias("n"))


# -- limit / top-k (absent in reference; engine surface) -------------------

def top_k(df: DataFrame, k: int, order: Sequence[Column]) -> DataFrame:
    """ORDER BY + LIMIT: Spark plans TakeOrderedAndProject — per-partition
    heaps + driver merge, no global sort. The scale-safe top-k."""
    return df.orderBy(*order).limit(k)


#: Row bound of `sort_small`: above any fixed key domain the registry
#: sorts (priorities, nations, years, segments, count histograms).
SMALL_SORT_ROWS = 10_000


def sort_small(df: DataFrame, order: Sequence[Column | str]) -> DataFrame:
    """Total ORDER BY for an input of at most ``SMALL_SORT_ROWS`` rows:
    ``top_k`` with one row to spare, plus an in-plan guard that fails the
    action, naming ``SMALL_SORT_ROWS``, when that spare row exists.

    Spark plans TakeOrderedAndProject: per-partition heaps merged in one
    task of the result job — no RangePartitioner sampling job and no
    range-shuffle stage, which ``orderBy`` costs (2 jobs under AQE). The
    input itself (typically a final aggregate) still runs in parallel,
    unlike ``coalesce(1)``. TakeOrderedAndProject emits one partition,
    so ``monotonically_increasing_id`` is each row's position in the
    sorted output; a row in any other partition has an id ≥ 2³³, so the
    guard can only over-fire, never let the spare row through."""
    bound = SMALL_SORT_ROWS
    too_many = F.raise_error(F.lit(
        f"sort_small: input has more than SMALL_SORT_ROWS ({bound}) rows; "
        "sort it with orderBy"
    ))
    pos = F.monotonically_increasing_id()
    return top_k(df, bound + 1, order).filter(
        F.when(pos < bound, F.lit(True)).otherwise(too_many)
    )
