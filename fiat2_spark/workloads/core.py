"""Core relational / scalar / aggregate workloads — the SURVEY §2
operator inventory (§2.1-§2.8), one named query per operator, each with
a DuckDB oracle.

Naming note (driver contract): every computed column is aliased
identically in the Spark plan and the oracle SQL — the driver's compare
sorts columns by name before hashing.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from fiat2_spark.functions import scalars as S
from fiat2_spark.functions import collections as C
from fiat2_spark.operators import aggregates as A
from fiat2_spark.operators import relational as R
from fiat2_spark.workloads.util import dec2, dsum, registry, sql_dsum, tbl

QUERIES, ORACLES, q = registry()


# ---------------------------------------------------------------------------
# §2.2 filters / projections
# ---------------------------------------------------------------------------

@q(
    "filter_scan",
    """
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
    FROM lineitem
    WHERE l_quantity > 45 AND l_shipdate < TIMESTAMP '1998-01-01'
    """,
)
def filter_scan(spark, sf_dir):
    """EFilter (Interpret.v:369-404): predicate pushed to the parquet scan
    (PushedFilters in explain) — filter_pushdown_head realized by Catalyst.
    Thresholds chosen so the result is non-empty at every sf (an empty
    result would hash-match trivially)."""
    li = tbl(spark, sf_dir, "lineitem")
    out = R.filter_rows(
        li,
        (F.col("l_quantity") > 45)
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp")),
    )
    return out.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")


@q(
    "proj_compute",
    """
    SELECT l_orderkey, l_linenumber,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           CAST(CAST(l_extendedprice AS DECIMAL(18,2))
                * (1 + CAST(l_tax AS DECIMAL(18,2))) AS DOUBLE) AS charged
    FROM lineitem
    """,
)
def proj_compute(spark, sf_dir):
    """EProj (Interpret.v:467-490): generalized projection with computed
    record fields; arithmetic in DECIMAL so the oracle matches bit-for-bit."""
    li = tbl(spark, sf_dir, "lineitem")
    return R.project(
        li,
        {
            "l_orderkey": F.col("l_orderkey"),
            "l_linenumber": F.col("l_linenumber"),
            "revenue": (dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))).cast("double"),
            "charged": (dec2(F.col("l_extendedprice")) * (F.lit(1) + dec2(F.col("l_tax")))).cast("double"),
        },
    )


@q(
    "if_then_else",
    """
    SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'debtor'
                WHEN c_mktsegment = 'BUILDING' THEN 'builder'
                ELSE 'regular' END AS class
    FROM customer
    """,
)
def if_then_else(spark, sf_dir):
    """EIf (Interpret.v:268-271) as an expression: CASE WHEN chain."""
    c = tbl(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.when(F.col("c_acctbal") < 0, "debtor")
        .when(F.col("c_mktsegment") == "BUILDING", "builder")
        .otherwise("regular")
        .alias("class"),
    )


# ---------------------------------------------------------------------------
# §2.4 joins
# ---------------------------------------------------------------------------

@q(
    "join_fk",
    """
    SELECT c_name AS cust_name, n_name AS nation_name
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def join_fk(spark, sf_dir):
    """The flagship Ex_Employee FK join (Ex_Employee.v:35):
    ``sort [ d <- departments, e <- employees, check(e.dept_id = d.id),
    ret {name, dept} ]`` on customer⋈nation. Dimension side broadcast —
    at 100 TB the fact side never shuffles."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    return R.theta_join(
        c,
        n,
        F.col("c_nationkey") == F.col("n_nationkey"),
        {"cust_name": F.col("c_name"), "nation_name": F.col("n_name")},
        broadcast_right=True,
    )


@q(
    "theta_join_nonequi",
    """
    SELECT a.n_name AS n1, b.n_name AS n2
    FROM nation a JOIN nation b
      ON a.n_regionkey = b.n_regionkey AND a.n_nationkey < b.n_nationkey
    """,
)
def theta_join_nonequi(spark, sf_dir):
    """EJoin with a mixed θ-predicate (Interpret.v:405-466): Catalyst
    extracts the equi-conjunct (region) for the hash join and applies the
    inequality as a residual filter — the reference's swap_conjuncts +
    filter_pushdown story, done by the optimizer."""
    a = tbl(spark, sf_dir, "nation").alias("a")
    b = tbl(spark, sf_dir, "nation").alias("b")
    return R.theta_join(
        a,
        b,
        (F.col("a.n_regionkey") == F.col("b.n_regionkey"))
        & (F.col("a.n_nationkey") < F.col("b.n_nationkey")),
        {"n1": F.col("a.n_name"), "n2": F.col("b.n_name")},
    )


@q(
    "semi_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def semi_join(spark, sf_dir):
    """The reference's existence idiom (Ex_BFS.v:42 anti/semi pattern):
    correlated-subquery non-emptiness → left_semi join. The price
    condition makes the semi-join selective — every customer has SOME
    order, so the unconditioned form kept all rows (trivial)."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return R.semi_join(c, o, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_custkey", "c_name"
    )


@q(
    "anti_join",
    """
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """,
)
def anti_join(spark, sf_dir):
    """`[... ] = []` emptiness test (CollectionTransf.v:19-20 bag-emptiness
    annotation) → left_anti join. Conditioned on price so the complement
    is non-empty at every sf — the unconditioned form returned zero rows
    (all customers have orders), which hash-matches trivially."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_totalprice") > 400000)
    return R.anti_join(c, o, F.col("c_custkey") == F.col("o_custkey")).select(
        "c_custkey", "c_name"
    )


@q(
    "join_three_way",
    """
    SELECT r_name AS region_name, n_name AS nation_name,
           s_name AS supplier_name
    FROM supplier
    JOIN nation ON s_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE r_name IN ('ASIA', 'EUROPE')
    """,
)
def join_three_way(spark, sf_dir):
    """Join associativity/commutativity (Optimize.v:1356,1385) left to
    Catalyst; the region filter pushes below both joins (RelTransf.v:441)."""
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name").isin("ASIA", "EUROPE"))
    return (
        s.join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            F.col("s_name").alias("supplier_name"),
        )
    )


# ---------------------------------------------------------------------------
# §2.4 flatmaps
# ---------------------------------------------------------------------------

@q(
    "flatmap_explode",
    """
    SELECT n_name, CAST(g AS BIGINT) AS n
    FROM nation, unnest(generate_series(1, n_nationkey % 5 + 1)) AS t(g)
    """,
)
def flatmap_explode(spark, sf_dir):
    """EFlatmap with a row-dependent collection body (Interpret.v:273-299):
    lateral explode, fully parallel (no driver loop)."""
    n = tbl(spark, sf_dir, "nation")
    return R.flatmap_explode(
        n,
        F.sequence(F.lit(1).cast("long"), (F.col("n_nationkey") % 5 + 1).cast("long")),
        "n",
        keep=["n_name"],
    )


@q(
    "flatmap2_zip",
    """
    SELECT n_name, CAST(i AS BIGINT) AS x,
           CAST(n_nationkey + i - 1 AS BIGINT) AS y
    FROM nation, unnest(generate_series(1, 3)) AS t(i)
    """,
)
def flatmap2_zip(spark, sf_dir):
    """EFlatmap2 (Interpret.v:7-11,300-312): lockstep zip of two
    collections, truncating at the shorter — arrays_zip + slice. The
    oracle states the same rows arithmetically (zip of [1..4] with
    [k..k+2] truncates to 3 pairs)."""
    n = tbl(spark, sf_dir, "nation")
    return R.flatmap2_zip(
        n,
        F.sequence(F.lit(1).cast("long"), F.lit(4).cast("long")),
        F.sequence(F.col("n_nationkey").cast("long"), F.col("n_nationkey").cast("long") + 2),
        "x",
        "y",
        keep=["n_name"],
    )


@q(
    "flatmap_cross",
    """
    SELECT r_name, n_name,
           CAST(r_regionkey = n_regionkey AS BOOLEAN) AS in_region
    FROM region, nation
    """,
)
def flatmap_cross(spark, sf_dir):
    """EFlatmap whose body is independent of the binder
    (Interpret.v:273-299, the x-independent case) = cross product.
    Spark plans BroadcastNestedLoopJoin when one side is tiny; at scale
    a deliberate cross keeps the small side broadcast so the big side
    never shuffles."""
    r = tbl(spark, sf_dir, "region")
    n = tbl(spark, sf_dir, "nation")
    return R.flatmap_cross(r.select("r_name", "r_regionkey"), n.select("n_name", "n_regionkey")).select(
        "r_name",
        "n_name",
        (F.col("r_regionkey") == F.col("n_regionkey")).alias("in_region"),
    )


@q(
    "pivot_wide",
    """
    SELECT c_mktsegment,
           COUNT(CASE WHEN n_name = 'ALGERIA' THEN 1 END) AS "ALGERIA",
           COUNT(CASE WHEN n_name = 'BRAZIL' THEN 1 END) AS "BRAZIL",
           COUNT(CASE WHEN n_name = 'CANADA' THEN 1 END) AS "CANADA"
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY c_mktsegment
    """,
)
def pivot_wide(spark, sf_dir):
    """Pivot (engine surface beyond the reference): long→wide with an
    explicit value list — the list keeps the schema static and skips the
    extra distinct-values job Spark otherwise runs; the plan is a single
    partial+final aggregate, one shuffle of |groups| rows. Missing
    (group, value) combos are 0, matching the oracle's conditional
    counts."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    joined = c.join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
    return (
        joined.groupBy("c_mktsegment")
        .pivot("n_name", ["ALGERIA", "BRAZIL", "CANADA"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@q(
    "window_rank_family",
    """
    SELECT o_orderkey,
           o_orderpriority AS prio,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS prnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def window_rank_family(spark, sf_dir):
    """The ranking-function family beyond row_number: rank (gaps),
    dense_rank (no gaps), percent_rank ((rank−1)/(n−1), identical
    double formula in both engines), and ntile(4) quartile assignment —
    all over one window, one shuffle on the partition key, evaluated in
    a single Window node. The o_orderkey tiebreak keeps the frame order
    total so every rank value is deterministic.

    Scale note: the partition key has 5 values, so at 100 TB this exact
    ask runs 5 tasks — inherent to per-priority ranking with Spark's
    Window (a partition must be co-resident). When only row numbers or
    quantiles are needed per low-cardinality group, use the
    quantile-bucketed two-pass scheme (`relational.global_row_number`)
    per group instead of a Window."""
    from pyspark.sql import Window as W

    o = tbl(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    return o.select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.ntile(4).over(w).alias("quartile"),
    )


@q(
    "grouped_rank_family_scalable",
    """
    SELECT o_orderkey,
           o_orderpriority AS prio,
           CAST(rank() OVER w AS BIGINT) AS rnk,
           CAST(dense_rank() OVER w AS BIGINT) AS drnk,
           percent_rank() OVER w AS prnk,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           cume_dist() OVER w AS cdist
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def grouped_rank_family_scalable(spark, sf_dir):
    """`window_rank_family`'s EXACT output — rank, dense_rank,
    percent_rank, ntile(4), cume_dist per priority — via the quantile-bucketed
    scheme (`relational.grouped_rank_family`), so the whole ranking
    family has a plan that runs |groups|×|buckets| tasks instead of 5.
    The oracle is the plain PARTITION BY window: two plans, one
    semantics, driver-checked."""
    o = tbl(spark, sf_dir, "orders")
    return R.grouped_rank_family(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
        descending=True,
        tiebreak=[F.col("o_orderkey")],
    ).select(
        "o_orderkey",
        F.col("o_orderpriority").alias("prio"),
        "rnk", "drnk", "prnk", "quartile", "cdist",
    )


@q(
    "grouped_rownum_scalable",
    """
    SELECT o_orderkey, o_orderpriority AS prio,
           CAST(row_number() OVER (PARTITION BY o_orderpriority
                                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
    FROM orders
    """,
)
def grouped_rownum_scalable(spark, sf_dir):
    """Per-priority row numbering WITHOUT the 5-task window: the
    scalable alternative `window_rank_family`'s scale note promises.
    `relational.grouped_row_number` quantile-buckets on o_totalprice,
    prefix-sums per-(group, bucket) counts over a tiny aggregate, and
    runs the heavy window partitioned by (group, bucket) — ~|groups|×
    |buckets| parallel tasks instead of |groups|. Same answer as the
    plain PARTITION BY window (the oracle IS that window)."""
    o = tbl(spark, sf_dir, "orders")
    return R.grouped_row_number(
        o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
        ["o_orderpriority"],
        "o_totalprice",
        descending=True,
        tiebreak=[F.col("o_orderkey").asc()],
    ).select(
        "o_orderkey", F.col("o_orderpriority").alias("prio"), "rn"
    )


@q(
    "group_concat",
    """
    SELECT r_name,
           string_agg(n_name, ',' ORDER BY n_name) AS nations,
           COUNT(*) AS n
    FROM nation JOIN region ON n_regionkey = r_regionkey
    GROUP BY r_name
    """,
)
def group_concat(spark, sf_dir):
    """Ordered grouped string aggregation (LISTAGG): nations per region,
    comma-joined in name order. Spark realization is
    array_join(array_sort(collect_list(...))) — the collect_list is a
    partial-aggregated shuffle of the group's values and the sort makes
    the output order-deterministic, matching string_agg's ORDER BY.
    Bounded group sizes only (the list materializes per group)."""
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region")
    return (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations"),
            F.count(F.lit(1)).alias("n"),
        )
    )


@q(
    "upsert_keyed",
    """
    WITH upd AS (
      SELECT c_custkey, 'upd-' || c_name AS c_name,
             round(c_acctbal + 100.0, 2) AS c_acctbal
      FROM customer WHERE c_mktsegment = 'AUTOMOBILE'
      UNION ALL
      SELECT c_custkey + 10000000, 'new-' || c_name, 0.0
      FROM customer WHERE c_custkey <= 5
    )
    SELECT COALESCE(u.c_custkey, b.c_custkey) AS c_custkey,
           COALESCE(u.c_name, b.c_name) AS c_name,
           COALESCE(u.c_acctbal, b.c_acctbal) AS c_acctbal
    FROM customer b FULL OUTER JOIN upd u ON b.c_custkey = u.c_custkey
    """,
)
def upsert_keyed(spark, sf_dir):
    """Keyed table upsert (MERGE): the table-scale analog of the
    reference's dict upsert `OInsert d k v` (Language.v:110,
    Interpret.v:204-210 — insert-or-replace under the key order) —
    updates override matching keys, unmatched updates insert, unmatched
    base rows persist. Realized as one full outer join on the key with
    per-column COALESCE; at scale both sides shuffle once on the key
    (or the delta broadcasts when small), which is exactly the
    copy-on-write MERGE a lakehouse table format executes."""
    b = tbl(spark, sf_dir, "customer").select("c_custkey", "c_name", "c_acctbal")
    c = tbl(spark, sf_dir, "customer")
    upd = (
        c.filter(F.col("c_mktsegment") == "AUTOMOBILE")
        .select(
            "c_custkey",
            F.concat(F.lit("upd-"), F.col("c_name")).alias("c_name"),
            F.round(F.col("c_acctbal") + 100.0, 2).alias("c_acctbal"),
        )
        .unionAll(
            c.filter(F.col("c_custkey") <= 5).select(
                (F.col("c_custkey") + 10000000).alias("c_custkey"),
                F.concat(F.lit("new-"), F.col("c_name")).alias("c_name"),
                F.lit(0.0).alias("c_acctbal"),
            )
        )
    )
    bb, uu = b.alias("b"), upd.alias("u")
    j = bb.join(uu, F.col("b.c_custkey") == F.col("u.c_custkey"), "full")
    return j.select(
        F.coalesce(F.col("u.c_custkey"), F.col("b.c_custkey")).alias("c_custkey"),
        F.coalesce(F.col("u.c_name"), F.col("b.c_name")).alias("c_name"),
        F.coalesce(F.col("u.c_acctbal"), F.col("b.c_acctbal")).alias("c_acctbal"),
    )


@q(
    "mode_per_group",
    """
    SELECT c_mktsegment, c_nationkey AS modal_nation, CAST(cnt AS BIGINT) AS cnt
    FROM (
      SELECT c_mktsegment, c_nationkey, COUNT(*) AS cnt,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY COUNT(*) DESC, c_nationkey) AS rn
      FROM customer GROUP BY 1, 2
    ) WHERE rn = 1
    """,
)
def mode_per_group(spark, sf_dir):
    """Per-group mode (most frequent value, min-value tie-break) as a
    WINDOWLESS two-phase aggregation — the scalable argmax pattern:
    count per (group, value) with map-side partial aggregation, then
    reduce each group to max(struct(count, -value)) so the comparison
    carries the tie-break inside the aggregate. No window, no sort, two
    shuffles both keyed on the group — the shape that replaces
    rank-and-filter argmax at any cardinality. (Spark's max_by breaks
    ties arbitrarily; the struct max is the deterministic form.)"""
    c = tbl(spark, sf_dir, "customer")
    cnt = c.groupBy("c_mktsegment", "c_nationkey").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    best = cnt.groupBy("c_mktsegment").agg(
        F.max(
            F.struct(
                F.col("cnt"), (-F.col("c_nationkey")).alias("__negk")
            )
        ).alias("__b")
    )
    return best.select(
        "c_mktsegment",
        (-F.col("__b.__negk")).cast("long").alias("modal_nation"),
        F.col("__b.cnt").cast("long").alias("cnt"),
    )


@q(
    "group_concat_scalable",
    """
    SELECT o_orderpriority,
           string_agg(CAST(o_orderkey AS VARCHAR), ',' ORDER BY o_orderkey) AS keys_concat,
           COUNT(*) AS n
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def group_concat_scalable(spark, sf_dir):
    """Ordered LISTAGG over LOW-cardinality groups (5 order priorities)
    through `relational.grouped_listagg` — the quantile-bucket scheme:
    per-(group, bucket) sorted concats in |groups|×|buckets| parallel
    tasks, bucket strings joined in bucket order, NO window and no
    5-task collect_list shuffle. Same oracle family as `group_concat`;
    this is the usable scalable alternative the plain form's docstring
    promises (closes the r3 low-cardinality-window weak flag)."""
    o = tbl(spark, sf_dir, "orders")
    return R.grouped_listagg(
        o,
        ["o_orderpriority"],
        "o_orderkey",
        F.col("o_orderkey").cast("string"),
        out_name="keys_concat",
    ).select("o_orderpriority", "keys_concat", F.col("n").cast("long").alias("n"))


@q(
    "unpivot_long",
    """
    SELECT l_orderkey, l_linenumber, metric, value FROM (
      SELECT l_orderkey, l_linenumber, 'l_quantity' AS metric, l_quantity AS value FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem WHERE l_orderkey < 100
      UNION ALL
      SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem WHERE l_orderkey < 100
    )
    """,
)
def unpivot_long(spark, sf_dir):
    """Unpivot (wide→long, the inverse of `pivot_wide`): four measure
    columns melt into (metric, value) rows via the native `unpivot` —
    one Expand node, a 4× row fan-out with NO shuffle and no join (the
    UNION-ALL oracle re-reads the table four times; Expand reads it
    once, the difference that matters when the table is 100 TB). Values
    pass through untouched, so doubles stay bit-identical."""
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 100)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "metric",
        "value",
    )


# ---------------------------------------------------------------------------
# §2.7 sorts / set-bag / union / cons / range / top-k
# ---------------------------------------------------------------------------

@q("sort_canonical", "SELECT n_name, n_nationkey, n_regionkey FROM nation")
def sort_canonical(spark, sf_dir):
    """ESort LikeList (Interpret.v:351-357): canonical whole-row order via
    the total value order — order-insensitive to the hash oracle but the
    sort is the reference's determinism mechanism."""
    n = tbl(spark, sf_dir, "nation")
    return R.sort_canonical(n.select("n_name", "n_nationkey", "n_regionkey"))


@q("set_of_distinct", "SELECT DISTINCT c_mktsegment, c_nationkey FROM customer")
def set_of_distinct(spark, sf_dir):
    """ESetOf (Interpret.v:495-498): canonical dedup. Catalyst rewrites to
    a hash aggregate (ReplaceDistinctWithAggregate) — partial dedup
    map-side, tiny shuffle."""
    c = tbl(spark, sf_dir, "customer")
    return R.set_of(c.select("c_mktsegment", "c_nationkey"))


@q(
    "bag_canonical",
    """
    SELECT c_nationkey, COUNT(*) AS bag_count
    FROM customer GROUP BY c_nationkey
    """,
)
def bag_canonical(spark, sf_dir):
    """Bag canonical form — sorted (value, count) pairs (Value.v:485-517),
    materialized at the output boundary as groupBy+count."""
    c = tbl(spark, sf_dir, "customer")
    return R.bag_canonical(c.select("c_nationkey"))


@q(
    "union_all_concat",
    """
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderstatus = 'O'
    UNION ALL
    SELECT o_orderkey, o_totalprice FROM orders WHERE o_totalprice > 200000
    """,
)
def union_all_concat(spark, sf_dir):
    """OConcat (Interpret.v:153-156): list append keeps duplicates —
    genuine multiset union (rows matching both filters appear twice)."""
    o = tbl(spark, sf_dir, "orders")
    return R.union_all(
        o.filter(F.col("o_orderstatus") == "O").select("o_orderkey", "o_totalprice"),
        o.filter(F.col("o_totalprice") > 200000).select("o_orderkey", "o_totalprice"),
    )


@q(
    "cons_insert",
    """
    SELECT CAST(99 AS INTEGER) AS r_regionkey, 'ATLANTIS' AS r_name
    UNION ALL
    SELECT r_regionkey, r_name FROM region
    """,
)
def cons_insert(spark, sf_dir):
    """OCons (Interpret.v:174-177): single-row prepend — the reference's
    INSERT primitive (Ex_Orders.v insert loop)."""
    r = tbl(spark, sf_dir, "region")
    return R.cons_row(r, {"r_regionkey": 99, "r_name": "ATLANTIS"})


@q("int_range", "SELECT CAST(r AS BIGINT) AS n FROM range(0, 1000) t(r)")
def int_range(spark, sf_dir):
    """ORange (Interpret.v:178-185): [lo,hi) as a partitioned source."""
    return R.int_range(spark, 0, 1000)


@q(
    "word_range",
    """
    SELECT CAST(r AS BIGINT) AS n,
           CAST(CASE WHEN (r & 255) >= 128 THEN (r & 255) - 256
                     ELSE r & 255 END AS BIGINT) AS w8
    FROM range(200, 300) t(r)
    """,
)
def word_range(spark, sf_dir):
    """OWRange (Interpret.v:80-90,183-185): word range [lo,hi) at width
    8 — values wrap through the sign boundary (200..255 are negative in
    the signed representative, 256+ wrap to 0)."""
    r = R.int_range(spark, 200, 300)
    return r.select(F.col("n"), S.word_add(F.col("n"), F.lit(0), 8).alias("w8"))


@q(
    "bag_set_insert",
    """
    WITH b AS (SELECT n_regionkey AS v FROM nation UNION ALL SELECT 2)
    SELECT v, COUNT(*) AS cnt FROM b GROUP BY v
    """,
)
def bag_set_insert(spark, sf_dir):
    """OBagInsert/OSetInsert (Interpret.v:186-193): insert into a bag =
    append + recanonicalize to sorted (value,count); the set after the
    same insert is exactly the bag's key column (sorted dedup) — one
    result proves both canonical forms."""
    n = tbl(spark, sf_dir, "nation")
    bag = n.select(F.col("n_regionkey").alias("v"))
    inserted = R.cons_row(bag, {"v": 2})
    return inserted.groupBy("v").agg(F.count(F.lit(1)).alias("cnt"))


@q(
    "top_k",
    """
    SELECT o_orderkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def top_k(spark, sf_dir):
    """ORDER BY + LIMIT → TakeOrderedAndProject: per-partition heaps, no
    global sort (engine surface beyond the reference, SURVEY §2.7)."""
    o = tbl(spark, sf_dir, "orders")
    return R.top_k(
        o.select("o_orderkey", "o_totalprice"),
        10,
        [F.col("o_totalprice").desc(), F.col("o_orderkey")],
    )


# ---------------------------------------------------------------------------
# §2.8 scalar semantics
# ---------------------------------------------------------------------------

@q(
    "coq_div_mod",
    """
    WITH t AS (
      SELECT o_orderkey,
             o_orderkey - 3000 AS a,
             (o_custkey % 7) - 3 AS b
      FROM orders
    ), m AS (
      SELECT o_orderkey, a, b, a % b AS m0 FROM t WHERE b <> 0
    ), f AS (
      SELECT o_orderkey, a, b,
             CASE WHEN m0 <> 0 AND ((m0 < 0) <> (b < 0)) THEN m0 + b ELSE m0 END AS mm
      FROM m
    )
    SELECT o_orderkey,
           CAST((a - mm) / b AS BIGINT) AS q,
           mm AS r
    FROM f
    UNION ALL
    SELECT o_orderkey, CAST(0 AS BIGINT) AS q, a AS r FROM t WHERE b = 0
    """,
)
def coq_div_mod(spark, sf_dir):
    """ODiv/OMod Coq semantics (Interpret.v:147,150): floor division, mod
    sign follows divisor, x/0=0, x mod 0=x — exercised on mixed-sign
    operands including b=0."""
    o = tbl(spark, sf_dir, "orders")
    a = (F.col("o_orderkey") - 3000).cast("long")
    b = ((F.col("o_custkey") % 7) - 3).cast("long")
    return o.select(
        "o_orderkey",
        S.coq_div(a, b).alias("q"),
        S.coq_mod(a, b).alias("r"),
    )


@q(
    "word_arith",
    """
    WITH t AS (
      SELECT o_orderkey,
             (o_orderkey * 69069 + 12345) & 4294967295 AS ua,
             (o_custkey * 1103515245 + 12345) & 4294967295 AS ub
      FROM orders
    )
    SELECT o_orderkey,
           CASE WHEN ((ua + ub) & 4294967295) >= 2147483648
                THEN ((ua + ub) & 4294967295) - 4294967296
                ELSE (ua + ub) & 4294967295 END AS wadd,
           CASE WHEN ((ua * 3) & 4294967295) >= 2147483648
                THEN ((ua * 3) & 4294967295) - 4294967296
                ELSE (ua * 3) & 4294967295 END AS wmul,
           CASE WHEN ub = 0 THEN -1
                WHEN (ua // ub) >= 2147483648 THEN (ua // ub) - 4294967296
                ELSE ua // ub END AS wdivu,
           ua < ub AS wltu
    FROM t
    """,
)
def word_arith(spark, sf_dir):
    """OW* word ops at width 32 (Interpret.v:139-150): wrap-around
    add/mul, unsigned division and comparison. Values stored as the
    signed 32-bit interpretation (two's complement in a long)."""
    o = tbl(spark, sf_dir, "orders")
    ua = (F.col("o_orderkey") * 69069 + 12345).bitwiseAND(F.lit(4294967295))
    ub = (F.col("o_custkey") * 1103515245 + 12345).bitwiseAND(F.lit(4294967295))
    return o.select(
        "o_orderkey",
        S.word_add(ua, ub, 32).alias("wadd"),
        S.word_mul(ua, F.lit(3), 32).alias("wmul"),
        # ua/ub are already the unsigned-32 value; divu output is nonneg < 2^32
        S.word_divu(ua, ub, 32).alias("wdivu"),
        S.word_ltu(ua, ub, 32).alias("wltu"),
    )


@q(
    "string_ops",
    """
    SELECT c_custkey,
           c_name || '#' || CAST(c_custkey AS VARCHAR) AS tagged,
           CAST(length(c_name) AS INTEGER) AS name_len
    FROM customer
    """,
)
def string_ops(spark, sf_dir):
    """OConcatString / OLengthString / OIntToString (Interpret.v:51-60,165)."""
    c = tbl(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.concat(F.col("c_name"), F.lit("#"), S.int_to_string(F.col("c_custkey"))).alias("tagged"),
        F.length(F.col("c_name")).alias("name_len"),
    )


@q(
    "eq_nullsafe",
    """
    SELECT o_orderkey,
           (NULLIF(o_orderstatus, 'O') IS NOT DISTINCT FROM NULLIF(o_orderpriority, '1-URGENT'))
             AS both_none,
           (o_orderstatus IS NOT DISTINCT FROM o_linestatus_fake) AS eq_opt
    FROM (SELECT *, NULLIF(o_orderstatus, 'F') AS o_linestatus_fake FROM orders)
    """,
)
def eq_nullsafe(spark, sf_dir):
    """OEq on options (Interpret.v:173, Value.v:126-130): None == None is
    true → null-safe equality, including the nested-null case."""
    o = tbl(spark, sf_dir, "orders")
    opt1 = F.nullif(F.col("o_orderstatus"), F.lit("O"))
    opt2 = F.nullif(F.col("o_orderpriority"), F.lit("1-URGENT"))
    fake = F.nullif(F.col("o_orderstatus"), F.lit("F"))
    return o.select(
        "o_orderkey",
        S.eq_value(opt1, opt2).alias("both_none"),
        S.eq_value(F.col("o_orderstatus"), fake).alias("eq_opt"),
    )


@q(
    "opt_match_coalesce",
    """
    SELECT c.c_custkey,
           COALESCE(oc.n, 0) AS n_orders,
           CASE WHEN oc.n IS NULL THEN 'none' ELSE 'some' END AS tag
    FROM customer c
    LEFT JOIN (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY o_custkey) oc
      ON oc.o_custkey = c.c_custkey
    """,
)
def opt_match_coalesce(spark, sf_dir):
    """EOptMatch (Interpret.v:340-345): eliminate an option produced by a
    dict lookup — here the lookup is a left join against a grouped table
    (the DictIndex realization), matched with none/some branches."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    counts = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    j = c.join(counts, F.col("o_custkey") == F.col("c_custkey"), "left")
    return j.select(
        "c_custkey",
        S.opt_match(F.col("n"), F.lit(0).cast("long"), lambda x: x).alias("n_orders"),
        S.opt_match(F.col("n"), F.lit("none"), lambda _: F.lit("some")).alias("tag"),
    )


# ---------------------------------------------------------------------------
# §2.5 aggregates / folds / group-by
# ---------------------------------------------------------------------------

@q(
    "agg_sum_count",
    f"""
    SELECT {sql_dsum('l_quantity')} AS sum_qty,
           COUNT(*) AS n_rows
    FROM lineitem WHERE l_returnflag = 'A'
    """,
)
def agg_sum_count(spark, sf_dir):
    """EACFold AGSum/AGCount (Interpret.v:212-216,320-326): whole-table
    assoc-comm folds → partial+final aggregation (one row shuffles)."""
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "A")
    return li.agg(
        dsum(F.col("l_quantity")).alias("sum_qty"),
        F.count(F.lit(1)).alias("n_rows"),
    )


@q(
    "agg_min_max_option",
    """
    SELECT MIN(CASE WHEN l_quantity > 1000000 THEN l_extendedprice END) AS min_empty,
           MIN(l_extendedprice) AS min_price,
           MAX(l_extendedprice) AS max_price
    FROM lineitem
    """,
)
def agg_min_max_option(spark, sf_dir):
    """EACIFold AGMin/AGMax → TOption (Interpret.v:218-238): the empty-set
    fold yields None (SQL null) — exercised via an impossible predicate."""
    li = tbl(spark, sf_dir, "lineitem")
    return li.agg(
        F.min(F.when(F.col("l_quantity") > 1000000, F.col("l_extendedprice"))).alias("min_empty"),
        F.min("l_extendedprice").alias("min_price"),
        F.max("l_extendedprice").alias("max_price"),
    )


@q(
    "groupby_agg",
    f"""
    SELECT l_returnflag, l_linestatus,
           {sql_dsum('l_quantity')} AS sum_qty,
           {sql_dsum('l_extendedprice')} AS sum_base,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc,
           COUNT(*) AS n
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def groupby_agg(spark, sf_dir):
    """The generalized DictIndex group-by (DictIndexImpl.v:25-33) with
    AC-fold aggregates per group — TPC-H Q1 shape. Partial aggregation
    means the shuffle carries |groups| rows per partition, not the data."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    return A.group_agg(
        li,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.sum(dec2(F.col("l_quantity"))).cast("double"),
            "sum_base": F.sum(dec2(F.col("l_extendedprice"))).cast("double"),
            "sum_disc": F.sum(
                dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
            ).cast("double"),
            "n": F.count(F.lit(1)),
        },
    )


@q(
    "fold_right_concat",
    """
    SELECT r.r_name,
           string_agg(n.n_name, ':' ORDER BY n.n_name) || ':' AS folded
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def fold_right_concat(spark, sf_dir):
    """EFold — general *right* fold with a non-commutative body
    (Interpret.v:313-319): fold f [a,b,c] i = f(a, f(b, f(c, i))).
    Realized on a collected array column via F.aggregate (left fold over
    the reversed array); with step f(x,acc) = x ++ ':' ++ acc and init ''
    the result is 'a:b:c:'. The oracle states the same value via
    string_agg."""
    r = tbl(spark, sf_dir, "region")
    n = tbl(spark, sf_dir, "nation")
    per_region = (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.array_sort(F.collect_list("n_name")).alias("names"))
    )
    folded = A.fold_array(
        F.col("names"),
        F.lit(""),
        lambda x, acc: F.concat(x, F.lit(":"), acc),
    )
    return per_region.select("r_name", folded.alias("folded"))


@q(
    "dict_ops_lookup",
    """
    SELECT r.r_name, n.n_nationkey AS china_key
    FROM region r
    LEFT JOIN nation n
      ON n.n_regionkey = r.r_regionkey AND n.n_name = 'CHINA'
    """,
)
def dict_ops_lookup(spark, sf_dir):
    """Dict ops OLookup/OInsert/ODelete (Interpret.v:92-110,196-210) on a
    MapType column: build name→key dict per region, delete+reinsert a
    sentinel, look up 'CHINA' → option. Oracle states the equivalent
    join (the DictIndexImpl.v:374-390 lookup≡filter equivalence)."""
    r = tbl(spark, sf_dir, "region")
    n = tbl(spark, sf_dir, "nation")
    dicts = (
        n.groupBy("n_regionkey")
        .agg(
            F.map_from_entries(
                F.array_sort(F.collect_list(F.struct(F.col("n_name"), F.col("n_nationkey"))))
            ).alias("d")
        )
    )
    j = r.join(dicts, F.col("n_regionkey") == F.col("r_regionkey"), "left")
    # exercise insert+delete round-trip, then look up
    d2 = C.dict_delete(C.dict_insert(F.col("d"), "ZZ_SENTINEL", -1), "ZZ_SENTINEL")
    return j.select("r_name", C.dict_lookup(d2, "CHINA").alias("china_key"))


@q(
    "dict_fold",
    """
    SELECT r.r_name,
           '|' || string_agg(n.n_name || '=' || n.n_nationkey, ';' ORDER BY n.n_name) AS folded,
           CAST(SUM(n.n_nationkey) AS BIGINT) AS key_sum
    FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def dict_fold(spark, sf_dir):
    """EDictFold (Interpret.v:346-350): fold over dict entries in sorted
    key order. The dict's canonical form IS its sorted entry list
    (Value.v: dicts are sorted (k,v) pairs), so the fold runs as
    F.aggregate over array_sort(collect_list(struct(k,v))) — per region,
    a name→key dict folded to ('|'-seeded ';'-joined k=v string, value
    sum) — a non-commutative accumulator exercising entry order."""
    r = tbl(spark, sf_dir, "region")
    n = tbl(spark, sf_dir, "nation")
    dicts = (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(
            F.map_from_entries(
                F.array_sort(
                    F.collect_list(F.struct(F.col("n_name").alias("k"), F.col("n_nationkey").alias("v")))
                )
            ).alias("d")
        )
    )
    folded = A.dict_fold(
        F.col("d"),
        F.lit("|"),
        lambda k, v, acc: F.concat(
            acc,
            F.when(acc == F.lit("|"), F.lit("")).otherwise(F.lit(";")),
            k, F.lit("="), v.cast("string"),
        ),
    )
    key_sum = A.dict_fold(
        F.col("d"), F.lit(0).cast("long"), lambda k, v, acc: acc + v
    )
    return dicts.select("r_name", folded.alias("folded"), key_sum.alias("key_sum"))


@q(
    "survey_join",
    """
    SELECT c_name AS name, n_name AS department, c_mktsegment AS feedback
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    """,
)
def survey_join(spark, sf_dir):
    """The Ex_Survey workload (Ex_Survey.v:27-48): departments⋈responses
    on `department-id` with HYPHENATED field names (the reference's
    records allow arbitrary strings as field names), project
    {name, department, feedback}. The hyphenated intermediate columns
    exercise Spark's backtick-quoted identifier path end-to-end. The
    reference wraps this in range(0,10000) purely to make its rewrite
    observable in timing — one execution is semantics-complete."""
    c = tbl(spark, sf_dir, "customer")
    n = tbl(spark, sf_dir, "nation")
    responses = c.select(
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("department-id"),
        F.col("c_mktsegment").alias("feedback"),
    )
    departments = n.select(
        F.col("n_nationkey").alias("department-id"),
        F.col("n_name").alias("department-name"),
    )
    return R.theta_join(
        responses,
        departments,
        responses["department-id"] == departments["department-id"],
        {
            "name": F.col("name"),
            "department": F.col("`department-name`"),
            "feedback": F.col("feedback"),
        },
        broadcast_right=True,
    )


@q(
    "proj_feed_pipeline",
    """
    WITH shirts AS (
      SELECT p_brand AS color, p_name AS name, p_retailprice AS price
      FROM part
    )
    SELECT CAST(SUM(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           CAST(MIN(CAST(price AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
           COUNT(*) AS n
    FROM shirts WHERE color = 'Brand#13'
    """,
)
def proj_feed_pipeline(spark, sf_dir):
    """The PipelineEx outfits→shirts feed (PipelineEx.v:185-221):
    populate a derived table by projection, equality-filter it
    (color = 'white' ≈ p_brand = 'Brand#13'), then SUM + MIN the price —
    the composite the reference optimizes with DictIdx + SumAgg + MinAgg
    indexes. Here the projection collapses into the scan (ColumnPruning)
    and the filter pushes to parquet, so the 'index' is the row-group
    skip — the Spark-native realization of the same asymptotics."""
    p = tbl(spark, sf_dir, "part")
    shirts = R.project(
        p,
        {
            "color": F.col("p_brand"),
            "name": F.col("p_name"),
            "price": F.col("p_retailprice"),
        },
    )
    white = R.filter_rows(shirts, F.col("color") == "Brand#13")
    return white.agg(
        F.sum(dec2(F.col("price"))).cast("double").alias("sum_price"),
        F.min(dec2(F.col("price"))).cast("double").alias("min_price"),
        F.count(F.lit(1)).alias("n"),
    )


@q(
    "window_rownum",
    """
    SELECT o_orderkey,
           ROW_NUMBER() OVER (ORDER BY o_orderkey) AS rn,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (PARTITION BY o_custkey ORDER BY o_orderkey
                      ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
    FROM orders
    """,
)
def window_rownum(spark, sf_dir):
    """The primary-key index's consecutive-id fold (BitmapIndex.v:13-18)
    plus a running aggregate — the moral analog of the reference's
    incremental maintenance (§4.3) as a window. The global ids come from
    ``global_row_number`` (quantile-bucketed two-pass numbering) rather
    than a global ORDER BY window, so no stage ever collapses to a
    single partition; the running sum is an ordinary partitioned window.
    The oracle's ROW_NUMBER() OVER (ORDER BY …) checks the two-pass
    scheme produces the exact same total ordering."""
    from pyspark.sql import Window as W

    o = tbl(spark, sf_dir, "orders")
    numbered = R.global_row_number(o, "o_orderkey")
    return numbered.select(
        "o_orderkey",
        "rn",
        F.sum(dec2(F.col("o_totalprice")))
        .over(W.partitionBy("o_custkey").orderBy("o_orderkey").rowsBetween(W.unboundedPreceding, 0))
        .cast("double")
        .alias("running_spend"),
    )


_SQL_TEXT = """
    SELECT n_name,
           COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    GROUP BY n_name
    """


@q("sql_entrypoint", _SQL_TEXT)
def sql_entrypoint(spark, sf_dir):
    """The SQL entry point: the engine registers its store as temp views
    and runs ANSI SQL text through spark.sql() — the same string IS the
    oracle, executed by both engines (SURVEY §3: one logical surface,
    Catalyst supplies the plan exactly as for the DataFrame API)."""
    tbl(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    tbl(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_SQL_TEXT)


@q(
    "distinct_agg",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_custs
    FROM customer GROUP BY c_mktsegment
    """,
)
def distinct_agg(spark, sf_dir):
    """Distinct aggregation (engine surface beyond the reference,
    SURVEY §2.5 note): two-phase plan — partial dedup of (group, value)
    pairs before the count, so the shuffle carries distinct pairs."""
    c = tbl(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_custs"),
    )


_PROFILE_COLS = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]


def _profile_oracle() -> str:
    stats = ", ".join(
        f"COUNT({c}) AS n_{c}, COUNT(DISTINCT {c}) AS d_{c}, "
        f"MIN({c}) AS mn_{c}, MAX({c}) AS mx_{c}, "
        f"round({sql_dsum(c)} / COUNT({c}), 6) AS avg_{c}"
        for c in _PROFILE_COLS
    )
    rows = "\n    UNION ALL\n".join(
        f"    SELECT '{c}' AS col_name, n_{c} AS n_nonnull, d_{c} AS n_distinct, "
        f"mn_{c} AS min_v, mx_{c} AS max_v, avg_{c} AS mean_v FROM w"
        for c in _PROFILE_COLS
    )
    return f"WITH w AS (SELECT {stats} FROM lineitem)\n{rows}"


@q("profile_columns", _profile_oracle())
def profile_columns(spark, sf_dir):
    """Column profiling (ANALYZE-style statistics collection, engine
    surface): one scan computes non-null count, exact distinct count,
    min/max, and exact DECIMAL-summed mean for every profiled measure
    column, then a driver-free unpivot (explode over an array of
    structs on the single agg row) renders the long stats table. The
    multi-distinct agg plans through Catalyst's Expand (one scan
    multiplied by |cols|, partial-aggregated map-side) — and mixing it
    with the plain aggregates in ONE Aggregate made every Expand copy
    carry the plain-agg columns too (measured 3.8 s at sf0.1 vs 1.7 s
    split). The distinct and plain stats therefore run as two
    single-row aggregates cross-joined at the end: two pruned columnar
    scans instead of one scan multiplied ×|cols|+1 — the cheaper side
    of the trade at any scale, and the 1-row × 1-row join is free.
    Swap countDistinct for approx_count_distinct when ±2% suffices at
    100 TB. Mean runs in DECIMAL(18,2) then casts, so Spark/DuckDB
    summation order cannot break bit-equality."""
    l = tbl(spark, sf_dir, "lineitem")
    plain, dist = [], []
    for c in _PROFILE_COLS:
        plain += [
            F.count(F.col(c)).alias(f"n_{c}"),
            F.min(F.col(c)).alias(f"mn_{c}"),
            F.max(F.col(c)).alias(f"mx_{c}"),
            F.round(dsum(F.col(c)) / F.count(F.col(c)), 6).alias(f"avg_{c}"),
        ]
        dist.append(F.countDistinct(F.col(c)).alias(f"d_{c}"))
    wide = l.agg(*plain).crossJoin(l.agg(*dist))
    return wide.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("col_name"),
                        F.col(f"n_{c}").alias("n_nonnull"),
                        F.col(f"d_{c}").alias("n_distinct"),
                        F.col(f"mn_{c}").alias("min_v"),
                        F.col(f"mx_{c}").alias("max_v"),
                        F.col(f"avg_{c}").alias("mean_v"),
                    )
                    for c in _PROFILE_COLS
                ]
            )
        ).alias("s")
    ).select("s.*")


@q(
    "set_ops",
    """
    SELECT n_nationkey AS k FROM nation JOIN customer ON c_nationkey = n_nationkey
    INTERSECT
    SELECT n_nationkey FROM nation JOIN supplier ON s_nationkey = n_nationkey
    EXCEPT
    SELECT n_regionkey FROM nation
    """,
)
def set_ops(spark, sf_dir):
    """Set intersect/except (absent in the reference — SURVEY §2.7 notes
    sets exist without ∩/∖; Spark provides both): nations having
    customers AND suppliers, minus keys that are also region keys."""
    n = tbl(spark, sf_dir, "nation")
    c = tbl(spark, sf_dir, "customer")
    s = tbl(spark, sf_dir, "supplier")
    with_cust = n.join(c, F.col("c_nationkey") == F.col("n_nationkey")).select(
        F.col("n_nationkey").alias("k")
    )
    with_supp = n.join(s, F.col("s_nationkey") == F.col("n_nationkey")).select(
        F.col("n_nationkey").alias("k")
    )
    return with_cust.intersect(with_supp).exceptAll(
        n.select(F.col("n_regionkey").alias("k")).distinct()
    )


@q(
    "outer_join",
    """
    SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
    FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
    """,
)
def outer_join(spark, sf_dir):
    """Left outer join (engine surface — the reference has no outer
    joins, SURVEY §2.4): customers kept with null order columns when no
    order exists; null-extension semantics match the SQL oracle."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders")
    return c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left").select(
        "c_custkey", "c_name", "o_orderkey", "o_totalprice"
    )


_SCALAR_SUBQ_SQL = """
    SELECT o_orderkey, o_totalprice,
           (SELECT MAX(l_extendedprice) FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey) AS max_line_price
    FROM orders o
    WHERE o_orderpriority = '1-URGENT'
"""


@q("scalar_subquery", _SCALAR_SUBQ_SQL)
def scalar_subquery(spark, sf_dir):
    """Correlated scalar subquery through the SQL surface — SURVEY §4.2's
    decorrelation row made observable: Catalyst rewrites the per-row
    MAX subquery into a left outer aggregate join
    (RewriteCorrelatedScalarSubquery), so execution is one grouped agg
    plus one join, never a per-row rescan of lineitem. The SQL string
    IS the oracle; `test_plans.py` asserts the decorrelated plan."""
    tbl(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    tbl(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_SCALAR_SUBQ_SQL)


@q(
    "full_outer_join",
    """
    SELECT n.n_nationkey, n.n_name, r.r_regionkey, r.r_name
    FROM (SELECT * FROM nation WHERE n_nationkey < 15) n
    FULL OUTER JOIN (SELECT * FROM region) r
      ON n.n_regionkey = r.r_regionkey AND n.n_nationkey >= 5
    """,
)
def full_outer_join(spark, sf_dir):
    """Full outer join with a non-trivial ON clause (engine surface —
    the reference has no outer joins): null extension on BOTH sides,
    including nations whose region match is suppressed by the
    residual n_nationkey >= 5 conjunct."""
    n = tbl(spark, sf_dir, "nation").filter(F.col("n_nationkey") < 15)
    r = tbl(spark, sf_dir, "region")
    cond = (F.col("n_regionkey") == F.col("r_regionkey")) & (
        F.col("n_nationkey") >= 5
    )
    return n.join(r, cond, "full").select(
        "n_nationkey", "n_name", "r_regionkey", "r_name"
    )


@q(
    "topk_per_group",
    """
    SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rnk AS INTEGER) AS rnk
    FROM (
      SELECT c_mktsegment, c_custkey, c_acctbal,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal DESC, c_custkey) AS rnk
      FROM customer
    ) WHERE rnk <= 3
    """,
)
def topk_per_group(spark, sf_dir):
    """Top-k per group (engine surface): rank within partition + filter.
    Unlike global top-k (TakeOrderedAndProject), this shuffles once on
    the group key and sorts within partitions — no global sort."""
    from pyspark.sql import Window as W

    c = tbl(spark, sf_dir, "customer")
    w = W.partitionBy("c_mktsegment").orderBy(F.col("c_acctbal").desc(), F.col("c_custkey"))
    return (
        c.select(
            "c_mktsegment", "c_custkey", "c_acctbal",
            F.row_number().over(w).alias("rnk"),
        )
        .filter(F.col("rnk") <= 3)
    )


@q(
    "quantile_disc",
    """
    SELECT o_orderpriority AS prio,
           quantile_disc(o_totalprice, 0.5) AS p50,
           quantile_disc(o_totalprice, 0.9) AS p90,
           COUNT(*) AS n
    FROM orders GROUP BY o_orderpriority
    """,
)
def quantile_disc(spark, sf_dir):
    """Discrete quantiles per group — exact, engine-portable: the
    sorted-array realization picks element ceil(q*n) (the quantile_disc
    definition), so Spark and DuckDB agree bit-for-bit with no
    interpolation semantics to reconcile. At 100 TB prefer
    approx_percentile (t-digest sketch, one pass, mergeable); the exact
    form is the oracle-checkable baseline."""
    o = tbl(spark, sf_dir, "orders")
    grouped = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.sort_array(F.collect_list("o_totalprice")).alias("vals"),
        F.count(F.lit(1)).alias("n"),
    )
    def disc(q):
        idx = F.greatest(F.ceil(F.col("n") * q), F.lit(1)).cast("int")
        return F.element_at(F.col("vals"), idx)
    return grouped.select("prio", disc(0.5).alias("p50"), disc(0.9).alias("p90"), "n")


@q(
    "percentile_cont",
    """
    WITH g AS (
      SELECT o_orderpriority AS prio,
             list_sort(list(o_totalprice)) AS vals,
             COUNT(*) AS n
      FROM orders GROUP BY o_orderpriority
    ), h AS (
      SELECT prio, vals, n,
             0.5 * CAST(n - 1 AS DOUBLE) AS h50,
             0.9 * CAST(n - 1 AS DOUBLE) AS h90
      FROM g
    )
    SELECT prio,
           vals[CAST(floor(h50) AS BIGINT) + 1]
             + (h50 - floor(h50))
               * (vals[least(CAST(floor(h50) AS BIGINT) + 2, n)]
                  - vals[CAST(floor(h50) AS BIGINT) + 1]) AS p50,
           vals[CAST(floor(h90) AS BIGINT) + 1]
             + (h90 - floor(h90))
               * (vals[least(CAST(floor(h90) AS BIGINT) + 2, n)]
                  - vals[CAST(floor(h90) AS BIGINT) + 1]) AS p90,
           n
    FROM h
    """,
)
def percentile_cont(spark, sf_dir):
    """Continuous (interpolated) quantiles per group — percentile_cont
    semantics (index h = q·(n−1), linear interpolation between the two
    bracketing order statistics), spelled as the explicit sorted-array
    formula on BOTH engines so the double arithmetic runs in the same
    operation order and matches bit-for-bit (native `percentile` /
    `quantile_cont` implementations agree only up to last-ulp rounding;
    test_workloads asserts the explicit form ≈ Spark's native percentile).
    Complements `quantile_disc` (no interpolation). At 100 TB prefer
    approx_percentile (mergeable t-digest, one pass)."""
    o = tbl(spark, sf_dir, "orders")
    grouped = o.groupBy(F.col("o_orderpriority").alias("prio")).agg(
        F.sort_array(F.collect_list("o_totalprice")).alias("vals"),
        F.count(F.lit(1)).alias("n"),
    )

    def cont(qf):
        h = F.lit(qf) * (F.col("n") - 1).cast("double")
        lo = F.floor(h).cast("long")
        v_lo = F.element_at(F.col("vals"), (lo + 1).cast("int"))
        v_hi = F.element_at(
            F.col("vals"), F.least(lo + 2, F.col("n")).cast("int")
        )
        return v_lo + (h - F.floor(h)) * (v_hi - v_lo)

    return grouped.select("prio", cont(0.5).alias("p50"), cont(0.9).alias("p90"), "n")


@q(
    "percentile_cont_scalable",
    ORACLES["percentile_cont"],
)
def percentile_cont_scalable(spark, sf_dir):
    """`percentile_cont` WITHOUT collect_list: the sorted-array variant
    materializes each group's full value list in one aggregation buffer
    (bounded group sizes only); this one ranks every row with the
    quantile-bucket scheme (`grouped_row_number` — |groups|×|buckets|
    parallel windows, no per-group array), keeps ONLY the two bracketing
    order statistics per quantile, and interpolates with the identical
    double formula v_lo + (h−⌊h⌋)·(v_hi−v_lo). The heavy pass is a
    distributed ranking; the final aggregate sees ~4 rows per group —
    exact percentiles at any group size. Same oracle as
    `percentile_cont` (two plans, one semantics)."""
    o = tbl(spark, sf_dir, "orders").select("o_orderpriority", "o_totalprice")
    return R.grouped_percentiles(
        o, ["o_orderpriority"], "o_totalprice", {"p50": 0.5, "p90": 0.9}
    ).select(F.col("o_orderpriority").alias("prio"), "p50", "p90", "n")


@q(
    "window_frames",
    """
    SELECT o_orderkey,
           o_custkey,
           lag(o_totalprice) OVER w AS prev_price,
           lead(o_totalprice) OVER w AS next_price,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
             / COUNT(*) OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS ma3
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
)
def window_frames(spark, sf_dir):
    """Window frames beyond ranking: lag/lead offsets and a 3-row moving
    average over ROWS BETWEEN 2 PRECEDING AND CURRENT ROW, per customer
    in order-date order (total order via the o_orderkey tiebreak — frame
    contents are deterministic). The frame sum runs in DECIMAL then casts
    back, because sliding-frame double summation order differs between
    engines (Spark re-adds in frame order, DuckDB uses segment trees).
    One shuffle on the partition key; frames evaluate within partitions,
    no global sort."""
    from pyspark.sql import Window as W

    o = tbl(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    frame = w.rowsBetween(-2, W.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.lag("o_totalprice").over(w).alias("prev_price"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        (
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(frame).cast("double")
            / F.count(F.lit(1)).over(frame)
        ).alias("ma3"),
    )


@q(
    "window_range_frame",
    """
    SELECT o_orderkey, o_custkey, o_totalprice,
           CAST(COUNT(*) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS BIGINT) AS n_near,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER (
             PARTITION BY o_custkey ORDER BY o_totalprice
             RANGE BETWEEN 1000.0 PRECEDING AND CURRENT ROW) AS DOUBLE) AS sum_near
    FROM orders
    """,
)
def window_range_frame(spark, sf_dir):
    """Value-based RANGE frames — the window-frame member `window_frames`'
    ROWS form doesn't cover: for each order, count and sum the same
    customer's orders priced within 1000.0 BELOW it (frame membership
    decided by the ORDER-BY VALUE distance, so peers — equal prices —
    are always in or out together, which is why no tiebreak belongs in
    the ORDER BY). DECIMAL frame sum as everywhere. One shuffle on the
    partition key; the range frame is a partition-local two-pointer
    scan in both engines."""
    from pyspark.sql import Window as W

    o = tbl(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy("o_totalprice")
        .rangeBetween(-1000, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_totalprice",
        F.count(F.lit(1)).over(w).cast("long").alias("n_near"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).cast("double").alias("sum_near"),
    )


def _partitioned_events(spark, sf_dir):
    """Materialize (once per sf) the events table written partitioned by
    event_type under spark-warehouse, and return the partitioned-read
    DataFrame — the shared layout behind `partition_pruned_lookup`
    (static pruning) and `dpp_partitioned_join` (dynamic pruning)."""
    from fiat2_spark.sources.io import read_table, write_table

    out = os.path.normpath(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..", "..", "spark-warehouse",
            f"events_by_type_{os.path.basename(os.path.normpath(sf_dir))}",
        )
    )
    ev = tbl(spark, sf_dir, "events").select("event_id", "value", "event_type")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        write_table(ev, out, partition_by=("event_type",))
    return read_table(spark, out)


def _sorted_events(spark, sf_dir):
    """Materialize (once per sf) the (event_id, value) events written
    by `sources.io.write_sorted` on value under spark-warehouse, and
    return its read DataFrame — the layout behind `zonemap_range_scan`."""
    from fiat2_spark.sources.io import read_table, write_sorted

    out = os.path.normpath(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..", "..", "spark-warehouse",
            f"events_by_value_{os.path.basename(os.path.normpath(sf_dir))}",
        )
    )
    ev = tbl(spark, sf_dir, "events").select("event_id", "value")
    if not os.path.exists(os.path.join(out, "_SUCCESS")):
        write_sorted(ev, out, "value")
    return read_table(spark, out)


@q(
    "partition_pruned_lookup",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    WHERE event_type = 'purchase'
    GROUP BY event_type
    """,
)
def partition_pruned_lookup(spark, sf_dir):
    """The bitmap-index story (BitmapIndex.v:331-335,811-831) realized
    the Spark way: the 'index' is write-time layout. Events are written
    partitioned by ``event_type`` (sources.io.write_table partition_by),
    then a point query on one type reads ONLY that partition's directory
    — `.explain` shows a `PartitionFilters` entry and the scan never
    touches the other types' files. At 100 TB this is the difference
    between scanning one shard and scanning the corpus; the oracle
    recomputes the same aggregate from the unpartitioned table.
    tests/test_plans.py asserts the PartitionFilters plan shape."""
    part = _partitioned_events(spark, sf_dir)
    return (
        part.filter(F.col("event_type") == "purchase")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@q(
    "sink_roundtrip",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders GROUP BY o_orderpriority
    """,
)
def sink_roundtrip(spark, sf_dir):
    """The CAssign-sink / file-format surface under the driver gate
    (SURVEY §2.1: the reference's data leaves via CAssign + the server's
    JSON serialization, Extracted.hs:3035-3038): write orders as
    line-JSON records, read them back with an explicit schema (no
    inference pass — mandatory at 100 TB), and aggregate. The oracle
    aggregates the ORIGINAL parquet, so the round-trip must be exact —
    Spark's JSON writer emits shortest-round-trip doubles, which is the
    property this checks."""
    from fiat2_spark.sources.io import read_table, write_table

    tag = os.path.basename(os.path.normpath(sf_dir))
    out = os.path.normpath(
        os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "..", "..", "spark-warehouse", f"orders_json_{tag}",
        )
    )
    o = tbl(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority", "o_totalprice")
    write_table(o, out, fmt="json")
    back = read_table(
        spark, out, fmt="json",
        schema="o_orderkey bigint, o_orderpriority string, o_totalprice double",
    )
    return back.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
    )


@q(
    "csv_roundtrip",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
    FROM customer GROUP BY c_mktsegment
    """,
)
def csv_roundtrip(spark, sf_dir):
    """CSV leg of the file-format surface (SURVEY §2.1): write customer
    as headered CSV, read back with an explicit schema (no inference
    pass), aggregate; the oracle aggregates the ORIGINAL parquet so the
    text round-trip must preserve doubles exactly (shortest-round-trip
    rendering both ways). CSV is the interchange format the reference's
    Python benchmark backend consumes (ToPython.v extraction harness)."""
    import tempfile

    from fiat2_spark.sources.io import read_table, write_table

    # per-run temp dir: a fixed shared path would race under two
    # concurrent runs at the same scale factor (overwrite vs read)
    out = os.path.join(tempfile.mkdtemp(prefix="fiat2_csv_rt_"), "customer_csv")
    c = tbl(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
    write_table(c, out, fmt="csv")
    back = read_table(
        spark, out, fmt="csv",
        schema="c_custkey bigint, c_mktsegment string, c_acctbal double",
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double").alias("total_bal"),
    )


@q(
    "cube_agg",
    """
    SELECT o_orderpriority AS prio, o_orderstatus AS status,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(GROUPING(o_orderpriority) AS INTEGER)
             + 2 * CAST(GROUPING(o_orderstatus) AS INTEGER) AS gid
    FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def cube_agg(spark, sf_dir):
    """CUBE over (priority, status): all four grouping sets in one
    partial-aggregated pass (Expand feeds a single shuffle — one scan,
    not four). GROUPING() bits disambiguate the NULL-key subtotal rows
    from genuine NULL values, composed into a grouping id matching the
    oracle. Complements rollup_multires (hierarchical sets)."""
    o = tbl(spark, sf_dir, "orders")
    return (
        o.cube("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast("double").alias("total"),
            (
                F.grouping("o_orderpriority").cast("int")
                + F.lit(2) * F.grouping("o_orderstatus").cast("int")
            ).alias("gid"),
        )
        .select(
            F.col("o_orderpriority").alias("prio"),
            F.col("o_orderstatus").alias("status"),
            "n", "total", "gid",
        )
    )


@q(
    "tpch_q3_shape",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1995-03-15'
      AND l_shipdate > TIMESTAMP '1995-03-15'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shape(spark, sf_dir):
    """TPC-H Q3 shape — the composed-optimization flagship: segment and
    date filters push to all three scans, the customer side broadcasts,
    revenue aggregates partial-then-final in DECIMAL, and the top-10 is
    a TakeOrderedAndProject (no global sort). One query exercising
    pushdown + broadcast + partial agg + top-k together, the plan a
    1000-executor cluster wants for this ask."""
    c = tbl(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1995-03-15")
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1995-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("revenue")
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(10)
    )


@q(
    "tpch_q18_shape",
    """
    WITH big AS (
      SELECT l_orderkey, CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,2))) > 150
    )
    SELECT c_name, o_orderkey, o_totalprice, qty
    FROM big
    JOIN orders ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20
    """,
)
def tpch_q18_shape(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): a HAVING-filtered
    aggregate over the fact table feeds a join back to orders and
    customers, topped with a LIMIT. The aggregate runs partial →
    final in DECIMAL; the HAVING filter shrinks the agg output BEFORE
    any join (the selective side); the surviving handful of orderkeys
    joins orders/customer; the final top-20 is TakeOrderedAndProject.
    At 100 TB the only full-table work is the one partial-agg pass
    over lineitem — everything downstream is proportional to the
    HAVING survivors."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("__q"))
        .filter(F.col("__q") > 150)
        .select("l_orderkey", F.col("__q").cast("double").alias("qty"))
    )
    return (
        big.join(o, big.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .select("c_name", "o_orderkey", "o_totalprice", "qty")
        .orderBy(F.col("o_totalprice").desc(), "o_orderkey")
        .limit(20)
    )


@q(
    "tpch_q5_shape",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    ORDER BY revenue DESC, n_name
    """,
)
def tpch_q5_shape(spark, sf_dir):
    """TPC-H Q5 shape (local supplier volume) — the six-table join:
    region gates nation (broadcast), nation gates supplier AND customer
    (broadcast), the orders date filter pushes to its scan, and the
    only large-large join is lineitem⋈orders on the order key; the
    c_nationkey = s_nationkey residual rides the supplier join rather
    than forcing an extra exchange. Revenue aggregates partial→final
    in DECIMAL over a handful of nation groups. At 100 TB the fact
    table is touched once, all dimension sides broadcast, and the
    shuffle after the partial agg carries |nations| rows."""
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    n = tbl(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    )
    s = tbl(spark, sf_dir, "supplier").join(
        F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey")
    )
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = tbl(spark, sf_dir, "lineitem")
    rollup = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .groupBy("n_name")
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,2)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
            ).cast("double").alias("revenue")
        )
    )
    # one row per nation of one region: at most |nation| rows
    return R.sort_small(rollup, [F.col("revenue").desc(), "n_name"])


@q(
    "tpch_q14_shape",
    """
    SELECT CAST(round(100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(l_extendedprice AS DECIMAL(18,2))
                         * (1 - CAST(l_discount AS DECIMAL(18,2)))
                    ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
               / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6) AS DOUBLE)
           AS promo_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1996-02-01'
    """,
)
def tpch_q14_shape(spark, sf_dir):
    """TPC-H Q14 shape (promotion effect) — CONDITIONAL aggregation:
    one pass computes both the CASE-gated promo revenue and total
    revenue (no second scan, no self-join), both in DECIMAL so the
    ratio's operands are bit-exact before the one double division.
    The month filter pushes to the lineitem scan; part broadcasts. The
    output is a single ratio row — the aggregate everything upstream
    collapses into."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-02-01")
    )
    p = tbl(spark, sf_dir, "part")
    rev = F.col("l_extendedprice").cast("decimal(18,2)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(18,2)")
    )
    zero = F.lit(0).cast("decimal(18,2)")
    joined = li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
    return joined.agg(
        F.round(
            F.lit(100.0)
            * F.sum(F.when(F.col("p_type") == "PROMO", rev).otherwise(zero)).cast("double")
            / F.sum(rev).cast("double"),
            6,
        ).alias("promo_pct")
    )


@q(
    "agg_reuse",
    """
    WITH rev AS (
      SELECT c_nationkey AS nk,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS rev
      FROM orders JOIN customer ON o_custkey = c_custkey
      GROUP BY c_nationkey
    )
    SELECT r.nk, r.rev,
           round(r.rev / (SELECT AVG(rev) FROM rev), 6) AS rev_ratio
    FROM rev r
    """,
)
def agg_reuse(spark, sf_dir):
    """Per-nation revenue compared against the average across nations —
    ONE aggregation consumed twice (once as rows, once reduced to its
    mean). The |groups|-row aggregate is materialized eagerly
    (localCheckpoint — checkpoint blocks both consumers scan, NOT a
    CacheManager persist: a DataFrame-level cache would pin the entry
    for the session's life, while blocks belong to the result, freed by
    `session.release_checkpoint_blocks` once results are consumed;
    run_gate asserts zero CacheManager entries post-gate), so the
    orders⋈customer scan-join-aggregate runs exactly once — the
    engine-native 'pay the heavy pass once' that the reference gets by
    naming an index. (AQE does not canonically match the two aggregate
    subtrees into a ReusedExchange here — measured, not assumed — so
    the reuse is made explicit.) The 1-row average then broadcasts."""
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    rev = (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nk"))
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("rev")
        )
        .localCheckpoint()
    )
    avg = rev.agg(F.avg("rev").alias("__avg"))
    return rev.crossJoin(F.broadcast(avg)).select(
        "nk", "rev", F.round(F.col("rev") / F.col("__avg"), 6).alias("rev_ratio")
    )


@q(
    "salted_join",
    """
    SELECT o_orderpriority AS prio, COUNT(*) AS n
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY o_orderpriority
    """,
)
def salted_join(spark, sf_dir):
    """The skew knob through the gate: `relational.salted_equi_join`
    spreads each left key across `salt` shuffle partitions (right side
    replicated per salt value), so one pathological hot key cannot
    serialize a join the way it would inside a single hash partition —
    the explicit fix when AQE's runtime skew split isn't enough and the
    right side is too big to broadcast. Salting must be semantically
    invisible: the oracle is the PLAIN join aggregate."""
    from fiat2_spark.operators.relational import salted_equi_join

    o = tbl(spark, sf_dir, "orders").select("o_custkey", "o_orderpriority")
    c = tbl(spark, sf_dir, "customer").select("c_custkey")
    return (
        salted_equi_join(o, c, "o_custkey", "c_custkey", salt=8)
        .groupBy(F.col("o_orderpriority").alias("prio"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


@q(
    "bucketed_join",
    """
    SELECT o_orderkey, c_name
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def bucketed_join(spark, sf_dir):
    """The persisted-hash-index story (DictIndexImpl.v to_idx: build the
    keyed index once, every lookup after is O(1)) realized the Spark
    way: both tables are written BUCKETED by the join key
    (sources.io.write_bucketed), so the join reads pre-shuffled,
    pre-sorted buckets and the plan has **no Exchange at all** — the
    shuffle was paid once at write time and every subsequent join on
    the key is free. tests/test_plans.py asserts the no-Exchange shape.
    At 100 TB this is the difference between re-shuffling the fact
    table per query and never shuffling it again."""
    import shutil

    from fiat2_spark.sources.io import write_bucketed

    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    ot, ct = f"orders_bkt_{tag}", f"customer_bkt_{tag}"

    def ensure(name, df, col):
        if spark.catalog.tableExists(name):
            return
        # bucketing metadata lives in the (session-scoped, in-memory)
        # catalog; a stale warehouse directory from a previous session
        # has no catalog entry and blocks saveAsTable — rebuild it
        wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
        loc = os.path.join(wh.removeprefix("file:"), name.lower())
        if os.path.exists(loc):
            shutil.rmtree(loc)
        write_bucketed(df, name, col, n_buckets=16)

    ensure(ot, tbl(spark, sf_dir, "orders").select("o_orderkey", "o_custkey"), "o_custkey")
    ensure(ct, tbl(spark, sf_dir, "customer").select("c_custkey", "c_name"), "c_custkey")
    o, c = spark.table(ot), spark.table(ct)
    # hint('merge'): force the sort-merge path so the bucketed layout is
    # what serves the join (a broadcast join would mask the story)
    return (
        o.hint("merge")
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("o_orderkey", "c_name")
    )


@q(
    "nested_collections",
    """
    WITH per_region AS (
      SELECT r.r_name,
             list_sort(list(n.n_name)) AS names
      FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
      GROUP BY r.r_name
    )
    SELECT r_name,
           array_to_string(list_transform(list_filter(names, x -> length(x) > 5), x -> lower(x)), ',') AS long_names,
           len(names) AS n_names,
           list_contains(names, 'CHINA') AS has_china
    FROM per_region
    """,
)
def nested_collections(spark, sf_dir):
    """Nested TList columns (§1.4: TList t → ArrayType) manipulated with
    higher-order functions — filter/transform/exists INSIDE a row, the
    nested-collection half of the fiat2 data model (flatmap over nested
    lists without exploding). All JVM-side expressions. The nested array
    is rendered as a ','-joined string on BOTH sides so the driver's
    pandas canonicalizer (which hashes rendered cells and cannot sort
    list-valued columns) gets a stable scalar."""
    r = tbl(spark, sf_dir, "region")
    n = tbl(spark, sf_dir, "nation")
    per_region = (
        n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
        .groupBy("r_name")
        .agg(F.array_sort(F.collect_list("n_name")).alias("names"))
    )
    return per_region.select(
        "r_name",
        F.array_join(
            F.transform(
                F.filter(F.col("names"), lambda x: F.length(x) > 5), F.lower
            ),
            ",",
        ).alias("long_names"),
        F.size(F.col("names")).cast("long").alias("n_names"),
        F.array_contains(F.col("names"), "CHINA").alias("has_china"),
    )


# ---------------------------------------------------------------------------
# TPC-H shape suite (continued): scan-heavy aggregation, disjunctive
# pushdown, distinct-count, correlated-average anti-join
# ---------------------------------------------------------------------------

@q(
    "tpch_q1_shape",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(4,2))) AS DOUBLE)
             AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * CAST(1 - CAST(l_discount AS DECIMAL(3,2)) AS DECIMAL(4,2))
                    * CAST(1 + CAST(l_tax AS DECIMAL(3,2)) AS DECIMAL(4,2))) AS DOUBLE)
             AS sum_charge,
           round(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_qty,
           round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_price,
           round(CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*), 6) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_shape(spark, sf_dir):
    """TPC-H Q1 shape (pricing summary) — the canonical scan-heavy
    aggregate: one full pass over lineitem, eight aggregates over four
    tiny groups, everything map-side-combined before a |groups|-row
    shuffle. All money sums run in DECIMAL (associative → partial-agg
    safe and bit-identical to the oracle); the triple product for
    charge uses (12,2)x(4,2)x(4,2) operands so neither engine
    overflows 38 digits; averages are computed as exact-sum / count
    with one rounded double division at the boundary. At 100 TB this
    is the pure-throughput query: no join, no skew, shuffle carries
    4 rows x 8 numbers per map partition."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp")
    )
    one_minus_disc = (
        F.lit(1) - F.col("l_discount").cast("decimal(3,2)")
    ).cast("decimal(4,2)")
    one_plus_tax = (
        F.lit(1) + F.col("l_tax").cast("decimal(3,2)")
    ).cast("decimal(4,2)")
    disc_price = F.col("l_extendedprice").cast("decimal(12,2)") * one_minus_disc
    n = F.count(F.lit(1))
    return (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec2(F.col("l_quantity"))).cast("double").alias("sum_qty"),
            F.sum(dec2(F.col("l_extendedprice"))).cast("double").alias("sum_base_price"),
            F.sum(disc_price).cast("double").alias("sum_disc_price"),
            F.sum(disc_price * one_plus_tax).cast("double").alias("sum_charge"),
            F.round(F.sum(dec2(F.col("l_quantity"))).cast("double") / n, 6).alias("avg_qty"),
            F.round(F.sum(dec2(F.col("l_extendedprice"))).cast("double") / n, 6).alias("avg_price"),
            F.round(F.sum(dec2(F.col("l_discount"))).cast("double") / n, 6).alias("avg_disc"),
            n.cast("long").alias("count_order"),
        )
    )


@q(
    "tpch_q10_shape",
    """
    SELECT c_custkey, c_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           c_acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-07-01'
      AND o_orderdate <  TIMESTAMP '1996-10-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_shape(spark, sf_dir):
    """TPC-H Q10 shape (returned-item reporting): quarter-gated orders
    join returned lineitems (both filters pushed to their scans), the
    result joins customer on the order key's custkey, nation
    broadcasts, revenue partial-aggregates in DECIMAL per customer,
    and the top-20 is TakeOrderedAndProject. The group key is the
    customer primary key, so the aggregate's cardinality is bounded by
    |customers that returned|, and AQE sizes the orders⋈lineitem
    shuffle from runtime stats. The canonical 'find the bad actors'
    operational query at scale."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-07-01") & (F.col("o_orderdate") < "1996-10-01")
    )
    li = tbl(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = tbl(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.sum(
                dec2(F.col("l_extendedprice"))
                * (F.lit(1) - dec2(F.col("l_discount")))
            ).cast("double").alias("revenue")
        )
        .select("c_custkey", "c_name", "revenue", "c_acctbal", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@q(
    "tpch_q19_shape",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 15
           AND l_quantity >= 1 AND l_quantity <= 20)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 30
           AND l_quantity >= 10 AND l_quantity <= 35)
       OR (p_brand = 'Brand#5' AND p_size BETWEEN 20 AND 50
           AND l_quantity >= 20 AND l_quantity <= 50)
    """,
)
def tpch_q19_shape(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue) — DISJUNCTIVE predicate
    handling: three OR'd brand/size/quantity conjunctions across both
    join sides. Catalyst splits the OR into single-side implications:
    part gets (brand1 OR brand3 OR brand5) AND size <= 50 pushed to
    its scan, lineitem gets quantity BETWEEN 1 AND 50, and only the
    residual cross-table disjunction rides the join filter — the
    rewrite (CNF extraction of common single-table factors) that turns
    an unpushable OR into two pruned scans. Part broadcasts; the
    output is one aggregate row."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part")
    joined = li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
    qty, brand, size = F.col("l_quantity"), F.col("p_brand"), F.col("p_size")
    cond = (
        ((brand == "Brand#1") & size.between(1, 15) & qty.between(1, 20))
        | ((brand == "Brand#3") & size.between(10, 30) & qty.between(10, 35))
        | ((brand == "Brand#5") & size.between(20, 50) & qty.between(20, 50))
    )
    return joined.filter(cond).agg(
        F.sum(
            dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
        ).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("long").alias("n_lines"),
    )


@q(
    "tpch_q16_shape",
    """
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#3'
      AND p_type NOT LIKE 'PROMO%'
      AND p_size IN (1, 4, 7, 10, 13, 16, 19, 23)
      AND l_suppkey NOT IN (
            SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
      )
    GROUP BY p_brand, p_type, p_size
    ORDER BY supplier_cnt DESC, p_brand, p_type, p_size
    LIMIT 50
    """,
)
def tpch_q16_shape(spark, sf_dir):
    """TPC-H Q16 shape (supplier relationship, partsupp re-derived from
    lineitem): negated filters (<>, NOT LIKE, IN-list) push to the part
    scan; the NOT IN subquery over complaint suppliers becomes a
    broadcast ANTI join (null-safe by construction: s_suppkey is a
    key); COUNT(DISTINCT supplier) per (brand, type, size) runs as
    Spark's two-shuffle distinct-agg expansion — partial dedup of
    (group, suppkey) pairs before the count, never a per-group set in
    memory. Top-50 via TakeOrderedAndProject."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#3")
        & (~F.col("p_type").like("PROMO%"))
        & (F.col("p_size").isin(1, 4, 7, 10, 13, 16, 19, 23))
    )
    bad = tbl(spark, sf_dir, "supplier").filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(
            F.broadcast(bad),
            F.col("l_suppkey") == F.col("s_suppkey"),
            "left_anti",
        )
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("long").alias("supplier_cnt"))
        .orderBy(F.col("supplier_cnt").desc(), "p_brand", "p_type", "p_size")
        .limit(50)
    )


@q(
    "tpch_q22_shape",
    """
    WITH avg_bal AS (
      SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE)
             / COUNT(*) AS a
      FROM customer WHERE c_acctbal > 0
    )
    SELECT c_mktsegment,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS totacctbal
    FROM customer, avg_bal
    WHERE c_acctbal > a
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_mktsegment
    ORDER BY c_mktsegment
    """,
)
def tpch_q22_shape(spark, sf_dir):
    """TPC-H Q22 shape (global-sales opportunity): customers with
    above-average balance and no urgent orders (this testdata gives
    every customer at least one order, so the classic no-orders form
    would be the trivially-hash-matching empty set). The global average is a
    one-row aggregate broadcast as a cross-join factor (scalar
    subquery decorrelated by hand — same plan Catalyst produces for
    the SQL form); the NOT EXISTS is a shuffle ANTI join against the
    orders custkey projection (only the key column is read — column
    pruning reaches the scan); the surviving handful aggregates per
    segment in DECIMAL. The average divides the exact DECIMAL sum by
    the count once, on the driver-free broadcast path, so both
    engines compare against the bit-identical threshold."""
    c = tbl(spark, sf_dir, "customer")
    avg_bal = (
        c.filter(F.col("c_acctbal") > 0)
        .agg(
            (F.sum(dec2(F.col("c_acctbal"))).cast("double") / F.count(F.lit(1))).alias("a")
        )
    )
    o_keys = (
        tbl(spark, sf_dir, "orders")
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_custkey")
    )
    rollup = (
        c.join(F.broadcast(avg_bal))
        .filter(F.col("c_acctbal") > F.col("a"))
        .join(o_keys, F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).cast("long").alias("numcust"),
            F.sum(dec2(F.col("c_acctbal"))).cast("double").alias("totacctbal"),
        )
    )
    # one row per market segment: at most |segments| rows
    return R.sort_small(rollup, ["c_mktsegment"])


@q(
    "bloom_pruned_join",
    """
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
      AND o_orderdate >= TIMESTAMP '1997-01-01'
    GROUP BY o_orderpriority
    """,
)
def bloom_pruned_join(spark, sf_dir):
    """Runtime bloom-filter join pruning — Spark's answer to the
    semi-join reduction a 100 TB shuffle join needs: the selective
    orders side (priority + date filters) builds a bloom filter DURING
    execution, and Catalyst injects `might_contain(l_orderkey)` into
    the lineitem side BEFORE its shuffle (InjectRuntimeFilter), so the
    exchange carries only rows whose keys can survive the join. The
    merge hint keeps the join a shuffle join (the cluster case for
    fact⋈fact; a broadcast side would make the bloom redundant).
    Locally the 10 GB application-side gate is lowered to 1 MB in
    session.py — the rewrite itself is the thing under test, asserted
    in test_plans.py. Oracle: the same join unpruned."""
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderpriority") == "1-URGENT")
        & (F.col("o_orderdate") >= "1997-01-01")
    )
    return (
        li.join(o.hint("merge"), li.l_orderkey == o.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec2(F.col("l_extendedprice"))).cast("double").alias("total"),
        )
    )


@q(
    "dpp_partitioned_join",
    """
    SELECT e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events e
    JOIN (VALUES ('click', 'engagement'), ('view', 'engagement'),
                 ('purchase', 'revenue'), ('signup', 'growth'),
                 ('error', 'ops')) AS dim(event_type, category)
      ON e.event_type = dim.event_type
    WHERE dim.category = 'engagement'
    GROUP BY e.event_type
    """,
)
def dpp_partitioned_join(spark, sf_dir):
    """Dynamic partition pruning — the join-driven form of the
    bitmap-index story `partition_pruned_lookup` tells statically: the
    fact side is the events table written partitioned by event_type;
    the dimension (an event-type catalog with a category attribute)
    is filtered on `category`, a column the fact table doesn't have —
    so no static PartitionFilters can apply, and Catalyst instead
    plants a dynamicpruning subquery on the partitioned scan: the
    broadcast dim executes first and the fact scan reads ONLY the
    surviving types' directories. At 100 TB this is the difference
    between scanning every tenant/date partition and scanning the
    joined ones — free with declarative plans. DPP's trigger wants a
    LITERAL selective predicate on the dim (Catalyst's
    isLikelySelective; an attribute-to-attribute comparison doesn't
    qualify) and a dim the planner already broadcasts — both the
    natural star-schema shape. Plan-asserted in test_plans.py; the
    oracle recomputes from the unpartitioned table with an inline
    VALUES dim."""
    fact = _partitioned_events(spark, sf_dir)

    dim = spark.createDataFrame(
        [
            ("click", "engagement"), ("view", "engagement"),
            ("purchase", "revenue"), ("signup", "growth"), ("error", "ops"),
        ],
        "event_type string, category string",
    ).filter(F.col("category") == "engagement")
    return (
        fact.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum(dec2(F.col("value"))).cast("double").alias("total"),
        )
    )


@q(
    "bag_ops_all",
    """
    SELECT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'
    INTERSECT ALL
    SELECT o_custkey FROM orders WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')
    EXCEPT ALL
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    """,
)
def bag_ops_all(spark, sf_dir):
    """MULTISET intersect/except — the Bag-class collection semantics
    (§2.3: fiat2's Bag is a multiset; `set_ops` covers the
    distinct-set forms, these are the multiplicity-preserving ALL
    forms): a customer with 3 open orders and 2 urgent/high ones
    appears min(3,2)=2 times in the intersection, and EXCEPT ALL
    subtracts per-occurrence. Spark plans both as aggregate count
    pairs + generate (replicate min/difference counts) — partial-agg
    friendly, no row-by-row matching, exactly how a 100 TB engine
    should do bag algebra."""
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    open_orders = o.filter(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    )
    urgent = o.filter(
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    ).select(F.col("o_custkey").alias("k"))
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    return open_orders.intersectAll(urgent).exceptAll(building)


@q(
    "corr_moments",
    """
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           round((CAST(COUNT(*) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                               * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
                 / NULLIF(CAST(COUNT(*) AS DOUBLE) * (CAST(COUNT(*) AS DOUBLE) - 1), 0), 4)
             AS covar_samp,
           round((CAST(COUNT(*) AS DOUBLE)
                    * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                               * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                  - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                    * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))
                 / NULLIF(sqrt((CAST(COUNT(*) AS DOUBLE)
                           * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                                      * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                         - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                           * CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE))
                        * (CAST(COUNT(*) AS DOUBLE)
                           * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                                      * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                         - CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                           * CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE))), 0), 6)
             AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def corr_moments(spark, sf_dir):
    """Correlation / covariance per group WITHOUT Welford-style
    streaming variance (whose float accumulation order differs between
    engines): both statistics are derived from exact DECIMAL moments
    (n, Σx, Σy, Σxy, Σx², Σy²) — associative, partial-agg safe, and
    bit-identical across engines — with the float arithmetic deferred
    to one closed-form expression at the end, rounded at the output
    boundary. The same five sums ride ONE map-side-combined aggregate
    pass. Spark's native corr()/covar_samp() would give a
    statistically identical but bitwise-divergent answer; at 100 TB
    the moments form is also the one that composes with incremental
    maintenance (the five sums are additive). Zero divisors (single-row or
    zero-variance group) yield NULL in BOTH engines: Spark's non-ANSI
    division already returns NULL but DuckDB's IEEE division returns
    inf/NaN, so the guards here are mirrored by NULLIF in the oracle."""
    li = tbl(spark, sf_dir, "lineitem")
    x = dec2(F.col("l_quantity"))
    y = dec2(F.col("l_extendedprice"))
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum(x).cast("double")
    sy = F.sum(y).cast("double")
    sxy = F.sum(x * y).cast("double")
    sxx = F.sum(x * x).cast("double")
    syy = F.sum(y * y).cast("double")
    covar_den = n * (n - F.lit(1.0))
    corr_den = F.sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
    return li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.round(
            F.when(covar_den != 0, (n * sxy - sx * sy) / covar_den), 4
        ).alias("covar_samp"),
        F.round(
            F.when(corr_den != 0, (n * sxy - sx * sy) / corr_den), 6
        ).alias("corr_qty_price"),
    )


@q(
    "tpch_q4_shape",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1996-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey
                    AND l_shipdate > o_orderdate + INTERVAL 30 DAY)
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
)
def tpch_q4_shape(spark, sf_dir):
    """TPC-H Q4 shape (order-priority checking; this testdata carries
    no commitdate/receiptdate, so the violation predicate is 'some
    line shipped >30 days after order date'): a quarter-gated orders
    scan semi-joined against lineitem with the correlated date
    comparison riding the semi join as a NON-equi conjunct — the
    EXISTS never materializes matches (first hit wins), and only
    (orderkey, shipdate, orderdate) cross the shuffle. The tiny
    priority aggregate follows. The reference's emptiness-test idiom
    (Ex_BFS.v:42 check([...] = [])) is the same plan shape inverted."""
    o = tbl(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1996-04-01")
    )
    li = tbl(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    rollup = (
        o.join(
            li,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 30 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).cast("long").alias("order_count"))
    )
    # one row per order priority: at most |priorities| rows
    return R.sort_small(rollup, ["o_orderpriority"])


@q(
    "tpch_q21_shape",
    """
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    WHERE o_orderstatus = 'F'
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate > l1.l_shipdate)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 20
    """,
)
def tpch_q21_shape(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting — shipdate
    standing in for the missing receipt/commit dates): the classic
    EXISTS + NOT EXISTS pair of correlated self-joins on the fact
    table, planned as one semi and one anti join both keyed on
    l_orderkey — three passes over lineitem co-partitioned on the same
    key, so at cluster scale the two correlated probes reuse the
    first shuffle's partitioning rather than re-exchanging. The
    non-equi parts (supplier inequality, later-shipment comparison)
    ride the joins as residual conjuncts. Finished-order filter
    pushes to the orders scan; supplier broadcasts; top-20 via
    TakeOrderedAndProject."""
    s = tbl(spark, sf_dir, "supplier")
    li = tbl(spark, sf_dir, "lineitem")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    l1 = li.alias("l1")
    l2 = li.select("l_orderkey", "l_suppkey").alias("l2")
    l3 = li.select("l_orderkey", "l_suppkey", "l_shipdate").alias("l3")
    waiting = (
        l1.join(
            l2,
            (F.col("l2.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l2.l_suppkey") != F.col("l1.l_suppkey")),
            "left_semi",
        )
        .join(
            l3,
            (F.col("l3.l_orderkey") == F.col("l1.l_orderkey"))
            & (F.col("l3.l_suppkey") != F.col("l1.l_suppkey"))
            & (F.col("l3.l_shipdate") > F.col("l1.l_shipdate")),
            "left_anti",
        )
    )
    return (
        waiting.join(o, F.col("o_orderkey") == F.col("l1.l_orderkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l1.l_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("long").alias("numwait"))
        .orderBy(F.col("numwait").desc(), "s_name")
        .limit(20)
    )


@q(
    "window_nav",
    """
    SELECT o_orderkey, o_orderpriority,
           first_value(o_totalprice) OVER w AS first_price,
           last_value(o_totalprice)  OVER w AS last_price,
           nth_value(o_totalprice, 3) OVER w AS third_price,
           lag(o_totalprice, 2) OVER w AS lag2_price
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_nav(spark, sf_dir):
    """Window NAVIGATION functions — first/last/nth_value and lag over
    an explicit unbounded ROWS frame (last_value's default frame stops
    at CURRENT ROW; pinning the frame is the portable semantics both
    engines share). Unique order key ⇒ deterministic. Completes the
    window-function surface next to the frames (`window_frames`,
    `window_range_frame`) and ranking (`window_rank_family`)
    families. Low-cardinality partition caveat documented there; the
    scalable bucket scheme covers ranking, while navigation over an
    unbounded frame is a per-group broadcastable scalar at scale."""
    from pyspark.sql import Window as W

    o = tbl(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return o.select(
        "o_orderkey",
        "o_orderpriority",
        F.first("o_totalprice").over(w).alias("first_price"),
        F.last("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 3).over(w).alias("third_price"),
        F.lag("o_totalprice", 2).over(
            W.partitionBy("o_orderpriority").orderBy("o_orderkey")
        ).alias("lag2_price"),
    )


@q(
    "zonemap_range_scan",
    """
    SELECT CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    WHERE value >= 10.0 AND value < 11.0
    """,
)
def zonemap_range_scan(spark, sf_dir):
    """Range predicate over a SORTED layout — the zone-map story:
    events are rewritten once via `sources.io.write_sorted` (range
    repartition + in-partition sort on value, small parquet row
    groups), so the min/max footer statistics of each row group form
    disjoint value intervals and the pushed range filter skips whole
    row groups at the reader — the scan surfaces ~|matching interval|
    rows instead of the table (metric-asserted in test_plans.py: ≥3×
    fewer scan output rows than the unsorted layout at sf0.01 — the
    conservative bound the test enforces; observed skipping is
    typically far higher but depends on row-group alignment). At
    100 TB this is the difference between reading one value stripe
    and the corpus for every range query — write-once layout, free at
    read time, composing with partition (categorical) and bucket
    (equi-join) layout. The oracle recomputes from the unsorted
    original."""
    return _sorted_events(spark, sf_dir).filter(
        (F.col("value") >= 10.0) & (F.col("value") < 11.0)
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(dec2(F.col("value"))).cast("double").alias("total"),
    )


@q(
    "tpch_q9_shape",
    """
    SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS profit
    FROM lineitem
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_name LIKE '%red%'
    GROUP BY n_name, o_year
    ORDER BY n_name, o_year DESC
    """,
)
def tpch_q9_shape(spark, sf_dir):
    """TPC-H Q9 shape (product-type profit, sans partsupp): the widest
    grouping rollup in the suite — revenue per (nation, order year)
    over a five-table join. The part-name LIKE filter pushes to the
    part scan (StringContains) and gates the fact rows before any wide
    join; part/supplier/nation broadcast; lineitem⋈orders is the one
    large-large join, left to AQE; year() is evaluated post-join on
    the surviving rows; the aggregate partial-aggregates in DECIMAL
    over |nations|×|years| groups. The canonical 'fact table joined to
    its whole dimension star, rolled up small' plan."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_name").like("%red%"))
    s = tbl(spark, sf_dir, "supplier")
    o = tbl(spark, sf_dir, "orders")
    n = tbl(spark, sf_dir, "nation")
    rollup = (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(s), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name", F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.sum(
                dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
            ).cast("double").alias("profit")
        )
    )
    # one row per (nation, order year): at most |nation| x |years| rows
    return R.sort_small(rollup, ["n_name", F.col("o_year").desc()])


@q(
    "tpch_q8_shape",
    """
    SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
           round(CAST(SUM(CASE WHEN n_name = 'NATION_2'
                      THEN CAST(l_extendedprice AS DECIMAL(18,2))
                           * (1 - CAST(l_discount AS DECIMAL(18,2)))
                      ELSE CAST(0 AS DECIMAL(18,2)) END) AS DOUBLE)
                 / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE), 6)
             AS mkt_share
    FROM lineitem
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    JOIN orders   ON o_orderkey = l_orderkey
    WHERE r_name = 'ASIA'
    GROUP BY o_year
    ORDER BY o_year
    """,
)
def tpch_q8_shape(spark, sf_dir):
    """TPC-H Q8 shape (national market share): share-of-total per
    group — one nation's revenue over the region's revenue per order
    year (NATION_2 within ASIA — this testdata's synthetic names). Numerator and denominator ride the SAME aggregate pass as a
    CASE-gated and an ungated DECIMAL sum (no second scan, no
    self-join against the total — the one-pass conditional-agg idiom
    of `tpch_q14_shape` lifted to per-group ratios). The region gate
    broadcasts down the nation→supplier chain and prunes the fact
    rows before the orders join; the division happens once per year
    row, rounded at the boundary."""
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    n = tbl(spark, sf_dir, "nation")
    r = tbl(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    o = tbl(spark, sf_dir, "orders")
    rev = dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
    zero = F.lit(0).cast("decimal(18,2)")
    nat = n.join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    sup = s.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey"))
    rollup = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(F.year("o_orderdate").cast("long").alias("o_year"))
        .agg(
            F.round(
                F.sum(F.when(F.col("n_name") == "NATION_2", rev).otherwise(zero)).cast("double")
                / F.sum(rev).cast("double"),
                6,
            ).alias("mkt_share")
        )
    )
    # one row per order year: at most |years| rows
    return R.sort_small(rollup, ["o_year"])


@q(
    "tpch_q13_shape",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, CAST(COUNT(o_orderkey) AS BIGINT) AS c_count
      FROM customer LEFT JOIN orders
        ON o_custkey = c_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    )
    GROUP BY c_count
    ORDER BY custdist DESC, c_count DESC
    """,
)
def tpch_q13_shape(spark, sf_dir):
    """TPC-H Q13 shape (customer distribution) — the count-of-counts
    histogram: customers left-joined to their non-urgent orders (the
    filter lives in the JOIN condition, so order-less customers
    survive with count 0 — moving it to WHERE would silently drop
    them), counted per customer, then the counts themselves
    histogrammed. Two aggregate levels: the first shuffles on the
    customer key (high cardinality, parallel), the second on the tiny
    count domain — partial agg collapses it map-side. COUNT(col)'s
    null-skipping does the left-join bookkeeping."""
    c = tbl(spark, sf_dir, "customer")
    o = tbl(spark, sf_dir, "orders").filter(F.col("o_orderpriority") != "1-URGENT")
    per_cust = (
        c.join(o, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("long").alias("c_count"))
    )
    hist = per_cust.groupBy("c_count").agg(F.count(F.lit(1)).cast("long").alias("custdist"))
    # one row per distinct per-customer order count: k distinct counts
    # need at least 0 + 1 + ... + (k-1) orders, so k <= sqrt(2*|orders|) + 1
    # (a skew that breaks SMALL_SORT_ROWS fails the guard, not the rows)
    return R.sort_small(hist, [F.col("custdist").desc(), F.col("c_count").desc()])


@q(
    "tpch_q17_shape",
    """
    WITH pavg AS (
      SELECT l_partkey,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
               / COUNT(*) AS avg_qty
      FROM lineitem GROUP BY l_partkey
    )
    SELECT round(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / 7.0, 2)
             AS avg_yearly
    FROM lineitem
    JOIN part ON p_partkey = l_partkey
    JOIN pavg ON pavg.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#1'
      AND l_quantity < 0.2 * avg_qty
    """,
)
def tpch_q17_shape(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): filter rows
    BELOW A FRACTION OF THEIR GROUP'S AVERAGE — the correlated scalar
    subquery per part, decorrelated into one per-part aggregate joined
    back to the fact (exactly Catalyst's own rewrite for the SQL
    form). The per-part average divides an exact DECIMAL sum by the
    count once per part; the brand filter pushes to the part scan and
    gates the fact before the average join. One fact scan for the
    averages, one for the probe — the two-pass floor for this ask
    (and the same shuffle key, so the exchanges line up)."""
    li = tbl(spark, sf_dir, "lineitem")
    p = tbl(spark, sf_dir, "part").filter(F.col("p_brand") == "Brand#1")
    pavg = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        (F.sum(dec2(F.col("l_quantity"))).cast("double") / F.count(F.lit(1))).alias("avg_qty")
    )
    return (
        li.join(F.broadcast(p), F.col("p_partkey") == F.col("l_partkey"))
        .join(pavg, F.col("pk") == F.col("l_partkey"))
        .filter(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(dec2(F.col("l_extendedprice"))).cast("double") / F.lit(7.0), 2
            ).alias("avg_yearly")
        )
    )


@q(
    "tpch_q7_shape",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice, l_discount
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE (n1.n_name = 'NATION_18' AND n2.n_name = 'NATION_19')
         OR (n1.n_name = 'NATION_19' AND n2.n_name = 'NATION_18')
    )
    GROUP BY supp_nation, cust_nation, l_year
    ORDER BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_shape(spark, sf_dir):
    """TPC-H Q7 shape (volume shipping): revenue BETWEEN two specific
    nations, per direction per year — the nation-PAIR idiom: the same
    dimension table joins twice under different roles (supplier's
    nation, customer's nation), each pre-filtered to the two-nation
    set and broadcast, with the cross-pair disjunction evaluated after
    both joins (four candidate pairs, two survive). The supplier and
    customer chains both gate the fact early; the only large-large
    join is lineitem⋈orders. Group key (nation, nation, year) is
    tiny — partial agg collapses map-side."""
    li = tbl(spark, sf_dir, "lineitem")
    s = tbl(spark, sf_dir, "supplier")
    o = tbl(spark, sf_dir, "orders")
    c = tbl(spark, sf_dir, "customer")
    pair = ("NATION_18", "NATION_19")
    n1 = tbl(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("nk1"), F.col("n_name").alias("supp_nation")
    )
    n2 = tbl(spark, sf_dir, "nation").filter(F.col("n_name").isin(*pair)).select(
        F.col("n_nationkey").alias("nk2"), F.col("n_name").alias("cust_nation")
    )
    sup = s.join(F.broadcast(n1), F.col("s_nationkey") == F.col("nk1"))
    cust = c.join(F.broadcast(n2), F.col("c_nationkey") == F.col("nk2"))
    rollup = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(cust), F.col("c_custkey") == F.col("o_custkey"))
        .filter(F.col("supp_nation") != F.col("cust_nation"))
        .groupBy(
            "supp_nation", "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(
            F.sum(
                dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
            ).cast("double").alias("revenue")
        )
    )
    # one row per (nation pair direction, ship year): at most 2 x |years| rows
    return R.sort_small(rollup, ["supp_nation", "cust_nation", "l_year"])


@q(
    "tpch_q6_shape",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                    * CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1996-01-01'
      AND l_shipdate <  TIMESTAMP '1997-01-01'
      AND l_discount >= 0.05 AND l_discount <= 0.07
      AND l_quantity < 24
    """,
)
def tpch_q6_shape(spark, sf_dir):
    """TPC-H Q6 shape (forecasting revenue change) — the PUREST
    pushdown + vectorization probe in the suite: no join, no group
    key, one scan whose four predicates (year band, discount band,
    quantity cap) ALL reach the parquet reader as PushedFilters (row
    groups outside the bands never decompress), reading exactly four
    columns, feeding a map-side partial SUM whose exchange carries one
    DECIMAL per partition. Plan-asserted in test_plans.py: every
    predicate pushed, no Join, a single Exchange. At 100 TB this query
    IS the scan — anything beyond `stats-pruned scan → partial agg →
    one-row final` would be pure overhead. Revenue in DECIMAL per the
    repo's float discipline (util.py), cast to double at the edge."""
    li = tbl(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(dec2(F.col("l_extendedprice")) * dec2(F.col("l_discount")))
            .cast("double")
            .alias("revenue")
        )
    )


@q(
    "tpch_q15_shape",
    """
    WITH rev AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,2))
                 * (1 - CAST(l_discount AS DECIMAL(18,2)))) AS total_rev
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name, CAST(total_rev AS DOUBLE) AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = supplier_no
    WHERE total_rev = (SELECT MAX(total_rev) FROM rev)
    ORDER BY s_suppkey
    """,
)
def tpch_q15_shape(spark, sf_dir):
    """TPC-H Q15 shape (top supplier; the reference's CREATE VIEW is
    the named revenue aggregate here): ONE quarter-gated per-supplier
    revenue aggregate consumed TWICE — once reduced to its scalar MAX,
    once as rows equi-filtered against that max — so the heavy
    lineitem pass runs exactly once: the |suppliers|-row aggregate is
    materialized eagerly as CHECKPOINT BLOCKS (localCheckpoint — the
    `agg_reuse` pattern; blocks belong to the result and are reclaimed
    by `session.release_checkpoint_blocks` once results are consumed,
    unlike a CacheManager persist pinned for the session's life —
    run_gate asserts zero cache entries post-gate; AQE does not
    canonically match the two aggregate subtrees, measured not
    assumed). The 1-row max broadcasts onto the aggregate (a
    decorrelated scalar subquery, like `scalar_subquery`). The r6
    variant collected the winner set mid-plan to release a persist
    eagerly, trading a 1.5× slowdown for hygiene the checkpoint
    pattern gives for free (VERDICT r6 'what's wrong' #3). Revenue
    max-compared in exact DECIMAL — a double max-equality would be
    engine-dependent — and cast to double only at the output edge."""
    li = tbl(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= "1996-01-01") & (F.col("l_shipdate") < "1996-04-01")
    )
    s = tbl(spark, sf_dir, "supplier")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                dec2(F.col("l_extendedprice")) * (F.lit(1) - dec2(F.col("l_discount")))
            ).alias("total_rev")
        )
        .localCheckpoint()
    )
    mx = rev.agg(F.max("total_rev").alias("__max"))
    winners = rev.crossJoin(F.broadcast(mx)).filter(
        F.col("total_rev") == F.col("__max")
    ).select("supplier_no", "total_rev")
    return (
        s.join(F.broadcast(winners), s.s_suppkey == winners.supplier_no)
        .select(
            "s_suppkey",
            "s_name",
            F.col("total_rev").cast("double").alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


@q(
    "rolling_7day_revenue",
    """
    SELECT o_orderkey, o_custkey, o_orderdate,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_7d,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS rev_7d
    FROM orders
    WINDOW w AS (
      PARTITION BY o_custkey ORDER BY o_orderdate
      RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW)
    """,
)
def rolling_7day_revenue(spark, sf_dir):
    """TIME-interval rolling frame — the rolling-7-day-revenue idiom
    `window_range_frame`'s value-range form doesn't cover: for each
    order, the same customer's order count and revenue over the
    trailing week, frame membership decided by EVENT-TIME distance.
    Spark's RANGE frames need a numeric order key, so the date rides
    as epoch seconds with a 6-day offset in seconds — semantically
    identical to the oracle's INTERVAL frame (same-timestamp peers
    enter/leave together in both engines; no tiebreak belongs in the
    ORDER BY). DECIMAL frame sum as everywhere. One shuffle on the
    HIGH-cardinality customer key; the frame is a partition-local
    two-pointer scan — at 100 TB this beats a self-range-join by the
    candidate-window factor, the same argument as
    `asof_tolerance_join`."""
    from pyspark.sql import Window as W

    o = tbl(spark, sf_dir, "orders")
    w = (
        W.partitionBy("o_custkey")
        .orderBy(F.col("o_orderdate").cast("timestamp").cast("long"))
        .rangeBetween(-6 * 86400, W.currentRow)
    )
    return o.select(
        "o_orderkey",
        "o_custkey",
        "o_orderdate",
        F.count(F.lit(1)).over(w).cast("long").alias("n_7d"),
        F.sum(dec2(F.col("o_totalprice"))).over(w).cast("double").alias("rev_7d"),
    )
