"""Streaming / incremental-maintenance workloads.

The incremental_* queries drive the MaterializedView manager through
batched inserts (the reference's query-in-a-loop + OCons pattern,
Ex_Sum.v:30 / Ex_Orders.v:54) and must produce exactly the value a
from-scratch oracle computes over the final table state — the
observational-equivalence statement the reference proves for its
cons_to_add / cons_to_min / cons_to_insert rewrites (SumAgg.v:150-156,
MinAgg.v:150-162, DictIndexImpl.v:571-588).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fiat2_spark.streaming.maintenance import (
    CountIndex,
    GroupIndex,
    MaterializedView,
    MinIndex,
    SumIndex,
)
from fiat2_spark.streaming.stream_agg import sessionize, windowed_agg
from fiat2_spark.workloads.util import registry, tbl

QUERIES, ORACLES, q = registry()


def _batches(df, col):
    """Four insert batches: the rows with ``col % 4 == i``."""
    return [df.filter((F.col(col) % 4) == i) for i in range(4)]


@q(
    "incremental_sum",
    """
    SELECT CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value,
           COUNT(*) AS n_events
    FROM events
    """,
)
def incremental_sum(spark, sf_dir):
    """Ex_Sum.v: interleaved sum-reads and inserts — the maintained SUM
    must equal recomputation from scratch. Events arrive in 4 batches;
    only batch aggregates are folded into state."""
    ev = tbl(spark, sf_dir, "events")
    b0, b1, b2, b3 = _batches(ev, "event_id")
    view = (
        MaterializedView(b0)
        .with_index("total", SumIndex(F.col("value").cast("decimal(18,2)")))
        .with_index("n", CountIndex())
    )
    for batch in (b1, b2, b3):
        view.insert(batch)
        view.read("total")  # interleaved read, as in the reference loop
    return spark.createDataFrame(
        [(float(view.read("total")), view.read("n"))],
        "total_value double, n_events long",
    )


@q(
    "incremental_min_orders",
    """
    SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           MIN(o_totalprice) AS min_price,
           CASE WHEN MIN(o_totalprice) < 1000.0 THEN 'discount' ELSE 'full' END AS status
    FROM orders
    """,
)
def incremental_min_orders(spark, sf_dir):
    """Ex_Orders.v:54: point-insert loop with SUM + MIN reads and
    threshold logic. MIN is maintainable because inserts only shrink it
    (the monotone, streaming-safe case the reference exploits)."""
    o = tbl(spark, sf_dir, "orders")
    b0, b1, b2, b3 = _batches(o, "o_orderkey")
    view = (
        MaterializedView(b0)
        .with_index("sum", SumIndex(F.col("o_totalprice").cast("decimal(18,2)")))
        .with_index("min", MinIndex(F.col("o_totalprice")))
    )
    for batch in (b1, b2, b3):
        view.insert(batch)
    mn = view.read("min")
    return spark.createDataFrame(
        [(float(view.read("sum")), mn, "discount" if mn < 1000.0 else "full")],
        "sum_price double, min_price double, status string",
    )


@q(
    "incremental_groupby",
    """
    SELECT event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY event_type
    """,
)
def incremental_groupby(spark, sf_dir):
    """The DictIndex maintenance story at group granularity: per-key
    partial aggregates merged batch-by-batch (state is |groups| rows;
    the base is never re-aggregated)."""
    ev = tbl(spark, sf_dir, "events")
    b0, b1, b2, b3 = _batches(ev, "event_id")
    gi = GroupIndex(
        ["event_type"],
        {"n": ("count", F.lit(1)), "total": ("sum", F.col("value").cast("decimal(18,2)"))},
    )
    view = MaterializedView(b0).with_index("by_type", gi)
    for batch in (b1, b2, b3):
        view.insert(batch)
    return view.read("by_type").select(
        "event_type", "n", F.col("total").cast("double").alias("total")
    )


@q(
    "stream_window_agg",
    """
    SELECT time_bucket(INTERVAL '5 minutes', ts) AS window_start,
           time_bucket(INTERVAL '5 minutes', ts) + INTERVAL '5 minutes' AS window_end,
           event_type, COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events GROUP BY 1, 2, 3
    """,
)
def stream_window_agg(spark, sf_dir):
    """Tumbling-window aggregation (F.window) — the same plan runs on
    readStream with a watermark (tests/test_streaming.py drives that
    path); epoch-aligned buckets match DuckDB's time_bucket."""
    ev = tbl(spark, sf_dir, "events")
    return windowed_agg(ev)


@q(
    "sessionize",
    """
    WITH g AS (
      SELECT user_id, event_id, ts,
             CASE WHEN lag(ts) OVER w IS NULL
                       OR date_diff('second', lag(ts) OVER w, ts) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ), s AS (
      SELECT user_id, ts,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                 ROWS UNBOUNDED PRECEDING) AS session_id
      FROM g
    )
    SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
           MIN(ts) AS session_start, MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM s GROUP BY user_id, session_id
    """,
)
def sessionize_events(spark, sf_dir):
    """Sessionization via gap detection (lag + running sum) — the batch
    analog of streaming session_window, 30-minute gap."""
    ev = tbl(spark, sf_dir, "events")
    out = sessionize(ev)
    return out.select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        "session_start",
        "session_end",
        "n_events",
    )


@q(
    "asof_join",
    """
    WITH r AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    )
    SELECT l.event_id, l.user_id, l.ts, r.click_id, r.ts AS click_ts
    FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    """,
)
def asof_join(spark, sf_dir):
    """As-of join: each purchase matched to the user's latest
    prior-or-equal click (engine surface beyond the reference — the
    standard event-correlation primitive). Spark side is the
    union+window trick (one shuffle + partition-local sort, no range
    explosion); the oracle is DuckDB's native ASOF LEFT JOIN — two
    entirely different algorithms, same rows."""
    from fiat2_spark.operators.relational import asof_join as aj

    ev = tbl(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select("event_id", "user_id", "ts")
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    return aj(left, right, ["user_id"], "ts", ["click_id", "click_ts"])


@q(
    "asof_tolerance_join",
    """
    WITH r AS (
      SELECT user_id, ts, MAX(event_id) AS click_id
      FROM events WHERE event_type = 'click' GROUP BY user_id, ts
    ),
    l AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'purchase'
    ),
    m AS (
      SELECT l.event_id, l.user_id, l.ts, r.click_id, r.ts AS click_ts
      FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND l.ts >= r.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_id END AS click_id,
           CASE WHEN click_ts >= ts - INTERVAL 1 HOUR THEN click_ts END AS click_ts
    FROM m
    """,
)
def asof_tolerance_join(spark, sf_dir):
    """As-of join with a STALENESS BOUND — the feature-store form of
    `asof_join`: a purchase only matches the user's latest prior click
    if it happened within the last hour; older state is considered
    stale and the row keeps LEFT semantics with a NULL match. The
    tolerance is a post-predicate on the matched pair, so the engine
    plan is unchanged (union+window, one shuffle, no range explosion)
    and the bound costs nothing — exactly how max-staleness reads
    should run at 100 TB (never as a range join, whose candidate set
    is |tolerance-window| per row). Oracle: DuckDB native ASOF LEFT
    JOIN with the same post-case."""
    from fiat2_spark.operators.relational import asof_join as aj

    ev = tbl(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    right = (
        ev.filter(F.col("event_type") == "click")
        .groupBy("user_id", "ts")
        .agg(F.max("event_id").alias("click_id"))
        .withColumn("click_ts", F.col("ts"))
    )
    m = aj(left, right, ["user_id"], "ts", ["click_id", "click_ts"])
    fresh = F.col("click_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR")
    return m.select(
        "event_id", "user_id", "ts",
        F.when(fresh, F.col("click_id")).alias("click_id"),
        F.when(fresh, F.col("click_ts")).alias("click_ts"),
    )


@q(
    "ewma_user_value",
    """
    WITH seq AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events WHERE event_type = 'view' GROUP BY user_id
    )
    SELECT user_id, CAST(len(vs) AS BIGINT) AS n,
           list_reduce(vs, (s, x) -> 0.5 * (s + x)) AS ewma
    FROM seq
    """,
)
def ewma_user_value(spark, sf_dir):
    """Exponentially weighted moving average of each user's view values
    (final smoothed state per entity) — the classic time-series
    smoother, with α = 1/2 chosen deliberately: s' = 0.5·(s + x) is an
    exact halving of a two-term sum, and both engines fold the SAME
    ts-ordered sequence left-to-right (F.aggregate here, list_reduce
    in DuckDB), so every intermediate double is bit-identical — no
    pow() library divergence, no summation-order hazard. The output is
    the RAW final double, not a rounded rendering: the fold is
    bit-exact across engines while round(x, 6) is not (Spark's
    BigDecimal HALF_UP vs DuckDB's float rounding diverge by 1 ulp on
    .xxxxxx5 boundaries — observed at sf0.1), so rounding would only
    ADD divergence here. EWMA is
    inherently sequential per entity, so the per-user fold is the
    honest shape: one shuffle keyed by the HIGH-cardinality user_id,
    each group folding its own (bounded per-entity) history in one
    codegen'd expression — the same per-entity contract as
    `sessionize`. For unbounded histories the streaming form is
    incremental state (s ← αs + (1−α)x per event), not a bigger
    batch fold."""
    ev = tbl(spark, sf_dir, "events").filter(F.col("event_type") == "view")
    seq = ev.groupBy("user_id").agg(
        F.sort_array(F.collect_list(F.struct("ts", "event_id", "value"))).alias("s")
    )
    vs = F.transform(F.col("s"), lambda r: r["value"])
    return seq.select(
        "user_id",
        F.size(vs).cast("long").alias("n"),
        F.aggregate(
            F.slice(vs, 2, F.greatest(F.size(vs) - 1, F.lit(0))),
            F.element_at(vs, 1),
            lambda acc, x: F.lit(0.5) * (acc + x),
        ).alias("ewma"),
    )


@q(
    "json_extract",
    """
    SELECT event_type,
           CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS k_sum,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def json_extract(spark, sf_dir):
    """Semi-structured props: extract a field from the JSON payload
    column JVM-side (get_json_object — no Python in the loop) and
    aggregate. The training-data staple for metadata-carrying event
    logs; schema stays on read."""
    ev = tbl(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("k_sum"), F.count(F.lit(1)).alias("n")
    )


@q(
    "rollup_multires",
    """
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day, event_type,
           COUNT(*) AS n,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM events
    GROUP BY ROLLUP(strftime(date_trunc('day', ts), '%Y-%m-%d'), event_type)
    """,
)
def rollup_multires(spark, sf_dir):
    """Hypertable-style multi-resolution rollup: one pass produces
    per-(day, type), per-day, and grand-total aggregates (GROUPING SETS
    share the shuffle). The engine surface the reference's materialized
    aggregates generalize to at warehouse scale."""
    ev = tbl(spark, sf_dir, "events")
    return (
        # day as 'yyyy-MM-dd' STRING on both sides: pandas renders a Spark
        # date as '2024-01-01' but a DuckDB DATE/timestamp as
        # '2024-01-01 00:00:00' — the driver canonicalizer compares
        # rendered cells, so date-typed outputs are a portability trap
        ev.rollup(F.date_format(F.date_trunc("day", F.col("ts")), "yyyy-MM-dd").alias("day"), F.col("event_type"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("total"),
        )
    )


@q(
    "range_join_binned",
    """
    WITH l AS (SELECT event_id, user_id, ts AS pts FROM events WHERE event_type = 'purchase'),
         r AS (SELECT user_id, ts AS cts FROM events WHERE event_type = 'click')
    SELECT l.event_id, COUNT(*) AS n_clicks
    FROM l JOIN r ON l.user_id = r.user_id
       AND r.cts <= l.pts AND r.cts >= l.pts - INTERVAL 1 HOUR
    GROUP BY l.event_id
    """,
)
def range_join_binned(spark, sf_dir):
    """Interval join: clicks within the hour before each purchase,
    per user. The Spark side bins timestamps into window-width buckets
    (equi-join on (user, bucket), exact filter on survivors) — the
    scale-safe realization; the oracle states the naive range join."""
    from fiat2_spark.operators.relational import range_join_binned as rj

    ev = tbl(spark, sf_dir, "events")
    left = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", F.col("ts").alias("pts")
    )
    right = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("ts").alias("cts")
    )
    pairs = rj(left, right, ["user_id"], "pts", "cts", 3600)
    return pairs.groupBy("event_id").agg(F.count(F.lit(1)).alias("n_clicks"))


@q(
    "keyed_agg_maintenance",
    """
    SELECT event_type,
           CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total,
           CAST(MIN(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS vmin,
           COUNT(*) AS n
    FROM events GROUP BY event_type
    """,
)
def keyed_agg_maintenance(spark, sf_dir):
    """The SumAgg/MinAgg/DictIdx materialized aggregates (§4.3) as one
    keyed aggregation — the same plan runs in update-mode Structured
    Streaming where state IS the maintained index (per-insert O(1)
    updates; batch/stream agreement tested in test_streaming.py)."""
    from fiat2_spark.streaming.stream_agg import keyed_agg

    return keyed_agg(tbl(spark, sf_dir, "events"))


@q(
    "incremental_multi_index",
    """
    WITH grand AS (
      SELECT CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS grand_total,
             MIN(o_totalprice) AS grand_min
      FROM orders
    )
    SELECT o_orderpriority AS prio,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           grand_total, grand_min
    FROM orders, grand
    GROUP BY o_orderpriority, grand_total, grand_min
    """,
)
def incremental_multi_index(spark, sf_dir):
    """Several indexes composed on ONE table and maintained together
    under a single insert loop — the reference's `compo_idx`
    (IndexTransf.v:20-49: a record of per-index states whose to_idx is
    the record of each index's to_idx, maintained componentwise),
    instantiated exactly as CombIdxEx.v composes a SumAgg with a
    DictIdx over one table (ParamPipelineEx.v parameterizes the same
    composition over SumAgg/MinAgg/DictIdx/pk/bitmap — the pk and
    bitmap members are realized by `global_row_number` and
    `partition_pruned_lookup` respectively). Here: a scalar SumIndex + MinIndex (SumAgg/
    MinAgg) and a per-priority GroupIndex (DictIdx's key → folded bag)
    share one MaterializedView; every insert updates all three, every
    read is answered from maintained state (the base is never
    rescanned). The oracle recomputes everything from the final table —
    the observational-equivalence statement compo_idx_ok proves."""
    from fiat2_spark.streaming.maintenance import (
        GroupIndex, MaterializedView, MinIndex, SumIndex,
    )

    o = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    b0, b1, b2, b3 = _batches(o, "o_orderkey")
    view = (
        MaterializedView(b0)
        .with_index("grand", SumIndex(F.col("o_totalprice").cast("decimal(18,2)")))
        .with_index("grand_min", MinIndex(F.col("o_totalprice")))
        .with_index(
            "by_prio",
            GroupIndex(
                ["o_orderpriority"],
                {
                    "n": ("count", F.lit(1)),
                    "sum_price": ("sum", F.col("o_totalprice").cast("decimal(18,2)")),
                },
            ),
        )
    )
    for batch in (b1, b2, b3):
        view.insert(batch)
        view.read("grand")  # interleaved reads, as in the reference loop
    return view.read("by_prio").select(
        F.col("o_orderpriority").alias("prio"),
        F.col("n").cast("long").alias("n"),
        F.col("sum_price").cast("double").alias("sum_price"),
        F.lit(float(view.read("grand"))).alias("grand_total"),
        F.lit(view.read("grand_min")).alias("grand_min"),
    )


@q(
    "incremental_join",
    """
    SELECT c_nationkey,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_rev
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_nationkey
    """,
)
def incremental_join(spark, sf_dir):
    """Incrementally maintained join-aggregate view (revenue per nation
    over customer ⋈ orders): both sides arrive in interleaved batches
    and every insert applies only the delta join (ΔA ⋈ B_seen or
    A_seen ⋈ ΔB — `maintenance.JoinAggView`), folding a |groups|-sized
    partial into the maintained aggregate. The oracle recomputes the
    join from scratch over the final state — the observational-
    equivalence statement the reference proves for its single-table
    index rewrites (SumAgg.v:150-156), generalized to joins."""
    from fiat2_spark.streaming.maintenance import GroupIndex, JoinAggView

    cust = tbl(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    orders = tbl(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_custkey").alias("c_custkey"), "o_totalprice"
    )
    c0, c1 = [cust.filter((F.col("c_custkey") % 2) == i) for i in range(2)]
    ob = _batches(orders, "o_orderkey")
    view = JoinAggView(
        c0,
        ob[0],
        ["c_custkey"],
        GroupIndex(
            ["c_nationkey"],
            {
                "n_orders": ("count", F.lit(1)),
                "total_rev": ("sum", F.col("o_totalprice").cast("decimal(18,2)")),
            },
        ),
    )
    view.insert_right(ob[1])
    view.insert_left(c1)       # late-arriving dimension rows join seen facts
    view.insert_right(ob[2])
    view.insert_right(ob[3])
    return view.read().select(
        "c_nationkey", "n_orders", F.col("total_rev").cast("double").alias("total_rev")
    )


@q(
    "stream_stream_join",
    """
    SELECT l.user_id,
           l.event_id AS l_event_id, r.event_id AS r_event_id,
           l.ts AS l_ts, r.ts AS r_ts,
           date_diff('second', l.ts, r.ts) AS gap_sec
    FROM events l JOIN events r
      ON l.user_id = r.user_id
     AND l.event_type = 'click' AND r.event_type = 'purchase'
     AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL 10 MINUTE
    """,
)
def stream_stream_join(spark, sf_dir):
    """Click→purchase attribution: pair each click with same-user
    purchases inside a 10-minute event-time window — the canonical
    bounded stream-stream join (`stream_agg.interval_join`). The exact
    same plan runs as a watermarked streaming join (both sides expire
    state past watermark + gap; agreement tested in test_streaming.py);
    batch planning is one hash join on user_id with the time bound as a
    conjunct. At scale the join key is the shuffle partition key and
    state per key is bounded by the 10-minute gap."""
    from fiat2_spark.streaming.stream_agg import interval_join

    ev = tbl(spark, sf_dir, "events")
    return interval_join(
        ev.filter(F.col("event_type") == "click"),
        ev.filter(F.col("event_type") == "purchase"),
        "user_id",
    )


@q(
    "funnel_conversion",
    """
    WITH base AS (
      SELECT user_id, MIN(ts) FILTER (WHERE event_type = 'click') AS t1
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT e.user_id, MIN(e.ts) AS t2
      FROM events e JOIN base b ON b.user_id = e.user_id
      WHERE e.event_type = 'purchase' AND b.t1 IS NOT NULL AND e.ts > b.t1
      GROUP BY e.user_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(COUNT(t1) AS BIGINT) AS n_clicked,
           CAST(COUNT(t2) AS BIGINT) AS n_converted
    FROM base LEFT JOIN conv USING (user_id)
    """,
)
def funnel_conversion(spark, sf_dir):
    """Two-step event funnel (click → later purchase) — the classic
    product-analytics ask: of all users, how many ever clicked, and of
    those, how many purchased strictly AFTER their first click. Two
    aggregations and one join, all keyed by user_id — co-partitioned,
    so the second agg and the join reuse the first shuffle's
    partitioning; no window, no per-user event lists. The ordering
    condition lives in the join filter, so only purchase events ever
    join. At 100 TB the only data-sized pass is the first per-user
    aggregate."""
    ev = tbl(spark, sf_dir, "events")
    base = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("t1")
    )
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(base.filter(F.col("t1").isNotNull()), "user_id")
        .filter(F.col("ts") > F.col("t1"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("t2"))
    )
    return base.join(conv, "user_id", "left").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.count("t1").cast("long").alias("n_clicked"),
        F.count("t2").cast("long").alias("n_converted"),
    )


@q(
    "retention_cohorts",
    """
    WITH fu AS (
      SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
      FROM events GROUP BY user_id
    ),
    act AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    )
    SELECT f.cohort,
           CAST((epoch(a.wk) - epoch(f.cohort)) / 604800 AS BIGINT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM fu f JOIN act a USING (user_id)
    GROUP BY f.cohort, week_offset
    """,
)
def retention_cohorts(spark, sf_dir):
    """Cohort retention matrix — users grouped by first-activity week,
    counted in every subsequent week they return: the second canonical
    product-analytics shape. Per-user first week (one agg), distinct
    (user, week) activity (map-side-collapsed distinct), join keyed by
    user, then a tiny (cohort, offset) aggregate. Weeks are
    date_trunc('week') in both engines (ISO Monday start, UTC session),
    so the offset division by 604800 s is exact. No window functions;
    every shuffle is keyed by user_id or by the small cohort pair."""
    ev = tbl(spark, sf_dir, "events")
    fu = ev.groupBy("user_id").agg(F.date_trunc("week", F.min("ts")).alias("cohort"))
    act = ev.select("user_id", F.date_trunc("week", F.col("ts")).alias("wk")).distinct()
    return (
        fu.join(act, "user_id")
        .groupBy(
            "cohort",
            ((F.unix_timestamp("wk") - F.unix_timestamp("cohort")) / 604800)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    )


@q(
    "anomaly_zscore",
    """
    WITH st AS (
      SELECT event_type,
             CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mu,
             CAST(SUM(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS m2
      FROM events GROUP BY event_type
    )
    SELECT event_id, e.event_type,
           round((value - mu) / sqrt(greatest(m2 - mu * mu, 1e-12)), 6) AS z
    FROM events e JOIN st ON e.event_type = st.event_type
    WHERE abs((value - mu) / sqrt(greatest(m2 - mu * mu, 1e-12))) > 3
    """,
)
def anomaly_zscore(spark, sf_dir):
    """Per-type z-score outlier flagging — the simplest streaming-able
    anomaly detector: one DECIMAL-exact pass computes per-type mean and
    second moment (sum and sum-of-squares are exact, so both engines
    derive bit-identical doubles), broadcast back onto the stream, and
    events with |z| > 3 are flagged. The variance uses the one-pass
    E[x²]−μ² identity with an epsilon floor (all-equal groups).
    At 100 TB the stats side is |event types| rows — always a
    broadcast; the scan is touched twice (stats, scoring) or once in
    the streaming form where stats come from the maintained view."""
    ev = tbl(spark, sf_dir, "events")
    v = F.col("value").cast("decimal(18,2)")
    st = ev.groupBy("event_type").agg(
        (F.sum(v).cast("double") / F.count(F.lit(1))).alias("mu"),
        (F.sum(v * v).cast("double") / F.count(F.lit(1))).alias("m2"),
    )
    z = (F.col("value") - F.col("mu")) / F.sqrt(
        F.greatest(F.col("m2") - F.col("mu") * F.col("mu"), F.lit(1e-12))
    )
    return (
        ev.join(F.broadcast(st), "event_type")
        .filter(F.abs(z) > 3)
        .select("event_id", "event_type", F.round(z, 6).alias("z"))
    )


@q(
    "gapfill_daily",
    """
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY user_id, day
    ),
    bounds AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
    ),
    grid AS (
      SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    )
    SELECT g.user_id, strftime(CAST(g.day AS DATE), '%Y-%m-%d') AS day,
           CAST(COALESCE(d.n, 0) AS BIGINT) AS n_events
    FROM grid g LEFT JOIN daily d ON d.user_id = g.user_id AND CAST(d.day AS DATE) = CAST(g.day AS DATE)
    """,
)
def gapfill_daily(spark, sf_dir):
    """Time-series densification (gap fill): per user, every calendar
    day between their first and last activity, with 0 for silent days —
    the prerequisite for any rolling-window statistic over regular
    series. The grid generates in-row (sequence over the per-user date
    bounds, one explode), so no driver loop and no cross join; the
    left join back to the daily counts is keyed (user, day) — both
    sides co-partition on user_id. Grid size is bounded by the span,
    not the event count."""
    ev = tbl(spark, sf_dir, "events")
    daily = (
        ev.select("user_id", F.to_date("ts").alias("day"))
        .groupBy("user_id", "day")
        .agg(F.count(F.lit(1)).cast("long").alias("n"))
    )
    bounds = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = bounds.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    return (
        grid.join(daily, ["user_id", "day"], "left")
        .select(
            "user_id",
            # ISO string at the boundary: DuckDB's pandas bridge maps
            # DATE to datetime64 (renders with 00:00:00) while Spark
            # yields date objects — strings compare identically
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
        )
    )
