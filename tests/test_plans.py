"""Explain-plan assertions (SURVEY §7 Phase 4): verify Catalyst actually
delivers the rewrites the reference proves — pushdown reaches the scan,
projections prune the read schema, dimension joins broadcast, top-k
avoids the global sort, candidate joins are hash joins (never cartesian),
and the hot paths stay inside whole-stage codegen."""

from __future__ import annotations

import contextlib
import io

import pytest

from fiat2_spark.workloads import QUERIES
from tests.conftest import SF_SMOKE


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_pushdown_reaches_scan(spark):
    p = plan_of(QUERIES["filter_scan"](spark, SF_SMOKE))
    assert "PushedFilters: [" in p
    assert "GreaterThan(l_quantity,45.0)" in p
    # column pruning: only the 5 needed columns are read
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_comment" not in read and read.count(":") >= 5


def test_fk_join_broadcasts_dimension(spark):
    p = plan_of(QUERIES["join_fk"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p


def test_groupby_partial_aggregation(spark):
    p = plan_of(QUERIES["groupby_agg"](spark, SF_SMOKE))
    # partial (map-side) + final aggregate pair: the shuffle carries one
    # row per (partition, group), not the data
    assert p.count("HashAggregate") >= 2
    assert "partial_sum" in p and "partial_count" in p
    # aggregation pushes the shipdate filter to the scan as well
    assert "PushedFilters: [IsNotNull(l_shipdate)" in p


def test_topk_no_global_sort(spark):
    p = plan_of(QUERIES["top_k"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p


# result sorts over a fixed key domain (operators/relational.py:sort_small)
FIXED_DOMAIN_SORTS = [
    "tpch_q4_shape", "tpch_q5_shape", "tpch_q7_shape", "tpch_q8_shape",
    "tpch_q9_shape", "tpch_q13_shape", "tpch_q22_shape",
]


def _order_by_form(monkeypatch):
    """Swap sort_small for the plain range-sorted ORDER BY it replaces."""
    from fiat2_spark.operators import relational as R

    monkeypatch.setattr(R, "sort_small", lambda df, order: df.orderBy(*order))


@pytest.mark.parametrize("name", FIXED_DOMAIN_SORTS)
def test_fixed_domain_sort_is_top_k(spark, monkeypatch, name):
    """The result sort plans as TakeOrderedAndProject with no range
    exchange, and returns the orderBy form's rows in the same order."""
    df = QUERIES[name](spark, SF_SMOKE)
    p = plan_of(df)
    assert "TakeOrderedAndProject" in p and "rangepartitioning" not in p
    got = df.collect()
    _order_by_form(monkeypatch)
    ref = QUERIES[name](spark, SF_SMOKE)
    assert "rangepartitioning" in plan_of(ref)
    assert got == ref.collect() and got


@pytest.mark.parametrize("name", ["tpch_q9_shape", "tpch_q13_shape"])
def test_fixed_domain_sort_drops_range_jobs(spark, monkeypatch, name):
    """A noop drain runs exactly 2 fewer jobs than the orderBy form:
    the RangePartitioner sampling job and the range-shuffle stage."""
    from tests.conftest import jobs_in_group

    def drain(form):
        df = QUERIES[name](spark, SF_SMOKE)  # first reads infer schemas outside the group
        save = lambda: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        return jobs_in_group(spark, f"{name}_{form}", save)[1]

    top_k = drain("sort_small")
    _order_by_form(monkeypatch)
    assert drain("order_by") - top_k == 2


def test_theta_join_extracts_equi_conjunct(spark):
    # mixed predicate: equality drives a hash join, inequality is residual
    p = plan_of(QUERIES["theta_join_nonequi"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


@pytest.mark.parametrize("name", ["triangle", "dedup_minhash", "dedup_simhash", "dedup_ngram_jaccard", "dedup_embedding", "ann_lsh", "ann_ivf", "asof_join", "range_join_binned", "dedup_editdist", "stream_stream_join", "decontaminate", "dedup_semantic"])
def test_candidate_joins_are_hash_joins(spark, name):
    p = plan_of(QUERIES[name](spark, SF_SMOKE))
    assert "CartesianProduct" not in p, f"{name} degenerated to a cartesian product"


def test_semantic_dedup_pairs_are_per_cluster(spark):
    """SemDeDup's candidate generation must be the per-cluster equi-join
    keyed (cid, salt) — never an all-pairs product (the bound SemDeDup's
    k exists to enforce; the salt splits a small-k cluster's pairs
    across tasks). The Lloyd chain itself sits above the membership
    checkpoint, so the returned plan shows the pair stage reading
    ExistingRDD — the upstream centroid broadcasts are pinned by the
    kmeans_lloyd plan tests."""
    import re

    df = QUERIES["dedup_semantic"](spark, SF_SMOKE)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # the pair join is an EQUI join whose key carries cid and salt
    m = re.search(r"(?:SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)[^\n]*", p)
    assert m, p
    joins = re.findall(r"Left keys(?:.*)\[([^\]]*)\]", p) or []
    keyed = [k for k in joins if "cid" in k]
    assert keyed and any("salt" in k for k in keyed), joins


def test_tpch_q3_shape_composed_plan(spark):
    """The flagship composition: all three filters pushed to their
    scans, broadcast on the dimension, partial aggregation, and top-10
    via TakeOrderedAndProject — in one plan."""
    p = plan_of(QUERIES["tpch_q3_shape"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "EqualTo(c_mktsegment,BUILDING)" in p
    assert "partial_sum" in p


def test_global_rownum_never_single_partition(spark):
    """global_row_number must not plan the single-partition global-window
    shape (`Exchange SinglePartition` feeding a Window) — every stage of
    the two-pass numbering stays parallel."""
    p = plan_of(QUERIES["window_rownum"](spark, SF_SMOKE))
    assert "Window" in p
    assert "SinglePartition" not in p


def test_global_rownum_matches_window(spark):
    from fiat2_spark.operators.relational import global_row_number
    from fiat2_spark.workloads.util import tbl
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    o = tbl(spark, SF_SMOKE, "orders")
    got = {
        (r["o_orderkey"], r["rn"])
        for r in global_row_number(o, "o_orderkey", n_buckets=7).select("o_orderkey", "rn").collect()
    }
    want = {
        (r["o_orderkey"], r["rn"])
        for r in o.select(
            "o_orderkey", F.row_number().over(W.orderBy("o_orderkey")).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_ngram_jaccard_bucket_in_join_key(spark):
    """The length bucket must be part of the self-join's EQUI-key (probe
    side vs bkt side) — as a residual filter it would prune output but
    not join work, and the within-language cost would stay quadratic."""
    import re

    df = QUERIES["dedup_ngram_jaccard"](spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"(?:Broadcast|Shuffled)HashJoin \[([^\]]*)\], \[([^\]]*)\]", p)
    assert m, "no hash join planned"
    assert "probe" in m.group(1) and "bkt" in m.group(2)


def test_tpch_q18_shape_plan(spark):
    """Q18 shape: DECIMAL partial agg on lineitem, HAVING pre-join
    filter, top-20 via TakeOrderedAndProject (never a global sort)."""
    p = plan_of(QUERIES["tpch_q18_shape"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert "partial_sum" in p


def test_agg_reuse_reads_materialization_twice(spark):
    """agg_reuse must consume ONE materialized aggregate from both
    sides — the heavy join-aggregate pass runs once, eagerly, into
    checkpoint blocks (Scan ExistingRDD ×2), and the returned plan must
    not recompute the orders⋈customer join. No CacheManager entry may
    be introduced (the cache-hygiene contract)."""
    df = QUERIES["agg_reuse"](spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    assert p.count("Scan ExistingRDD") == 2
    assert "orders" not in p  # the heavy pass already ran
    assert "InMemoryTableScan" not in p


def test_ann_bruteforce_partial_window_group_limit(spark):
    """The brute-force ANN ranking must keep its map-side prune: a
    partial WindowGroupLimit BELOW the exchange, so the shuffle carries
    at most k rows per query per input partition instead of the full
    n_queries × corpus scored set."""
    df = QUERIES["ann_bruteforce"](spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    partial_line = next(
        (ln for ln in p.splitlines() if "WindowGroupLimit" in ln and "Partial" in ln), None
    )
    assert partial_line is not None, "grouped-limit rewrite did not fire"
    # plan text is top-down: the partial node printing AFTER the exchange
    # means it executes BELOW it (map-side, pre-shuffle)
    assert p.index("Exchange hashpartitioning") < p.index(partial_line)


@pytest.mark.parametrize(
    "name", ["grouped_rownum_scalable", "grouped_rank_family_scalable", "pack_sequences"]
)
def test_grouped_bucket_scheme_window_is_bucketed(spark, name):
    """Every quantile-bucket-scheme query (row numbers, rank family,
    prefix sum) must run its heavy window partitioned on (group,
    __bucket), never on the low-cardinality group alone — the plan's
    Window-over-the-data shows the bucket in its partition spec, and
    nothing runs SinglePartition."""
    p = plan_of(QUERIES[name](spark, SF_SMOKE))
    assert "SinglePartition" not in p
    assert "__bucket" in p  # the composite partition key reached the plan


def test_grouped_running_sum_matches_window(spark):
    """Decimal running sums through the bucket scheme equal the plain
    group-partitioned cumulative window exactly (associativity +
    DECIMAL discipline)."""
    from fiat2_spark.operators.relational import grouped_running_sum
    from fiat2_spark.workloads.util import tbl
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    o = tbl(spark, SF_SMOKE, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    got = {
        r["o_orderkey"]: r["cum"]
        for r in grouped_running_sum(
            o,
            ["o_orderpriority"],
            "o_orderkey",
            F.col("o_totalprice").cast("decimal(18,2)"),
            n_buckets=7,
        ).collect()
    }
    w = (
        W.partitionBy("o_orderpriority")
        .orderBy("o_orderkey")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    want = {
        r["o_orderkey"]: r["cum"]
        for r in o.select(
            "o_orderkey",
            F.sum(F.col("o_totalprice").cast("decimal(18,2)")).over(w).alias("cum"),
        ).collect()
    }
    assert got == want and len(got) > 0


def test_grouped_rownum_matches_window(spark):
    from fiat2_spark.operators.relational import grouped_row_number
    from fiat2_spark.workloads.util import tbl
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    o = tbl(spark, SF_SMOKE, "orders")
    got = {
        (r["o_orderkey"], r["rn"])
        for r in grouped_row_number(
            o.select("o_orderkey", "o_orderpriority", "o_totalprice"),
            ["o_orderpriority"],
            "o_totalprice",
            descending=True,
            tiebreak=[F.col("o_orderkey").asc()],
            n_buckets=7,
        ).select("o_orderkey", "rn").collect()
    }
    w = W.partitionBy("o_orderpriority").orderBy(F.col("o_totalprice").desc(), "o_orderkey")
    want = {
        (r["o_orderkey"], r["rn"])
        for r in o.select(
            "o_orderkey", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


def test_grouped_rank_family_tie_semantics(spark):
    """With NO tiebreak and duplicated order values, the bucketed rank
    family must reproduce shared ranks (rank gaps, dense_rank no-gaps,
    percent_rank from shared rank) exactly as the plain group window."""
    from fiat2_spark.operators.relational import grouped_rank_family
    from pyspark.sql import Window as W
    from pyspark.sql import functions as F

    rows = [(i, f"g{i % 3}", float((i * 7) % 5)) for i in range(200)]
    df = spark.createDataFrame(rows, "id long, g string, v double")
    got = {
        (r["id"]): (r["rnk"], r["drnk"], round(r["prnk"], 9))
        for r in grouped_rank_family(df, ["g"], "v", n_buckets=4).collect()
    }
    w = W.partitionBy("g").orderBy("v")
    want = {
        (r["id"]): (r["rnk"], r["drnk"], round(r["prnk"], 9))
        for r in df.select(
            "id",
            F.rank().over(w).cast("long").alias("rnk"),
            F.dense_rank().over(w).cast("long").alias("drnk"),
            F.percent_rank().over(w).alias("prnk"),
        ).collect()
    }
    assert got == want and len(got) == 200


def test_semi_anti_join_physical(spark):
    assert "LeftSemi" in plan_of(QUERIES["semi_join"](spark, SF_SMOKE))
    assert "LeftAnti" in plan_of(QUERIES["anti_join"](spark, SF_SMOKE))


def test_salted_join_matches_plain(spark):
    """Salted equi-join (the explicit skew fix) returns exactly the rows
    of the plain join, and the salt key reaches the shuffle (both join
    keys participate in the Exchange partitioning)."""
    from fiat2_spark.operators.relational import salted_equi_join
    from fiat2_spark.workloads.util import tbl

    c = tbl(spark, SF_SMOKE, "customer")
    n = tbl(spark, SF_SMOKE, "nation")
    plain = c.join(n, c["c_nationkey"] == n["n_nationkey"]).select("c_custkey", "n_name")
    salted = salted_equi_join(c, n, "c_nationkey", "n_nationkey", salt=8).select(
        "c_custkey", "n_name"
    )
    assert sorted(map(tuple, salted.collect())) == sorted(map(tuple, plain.collect()))
    assert "__salt" in plan_of(
        salted_equi_join(c, n, "c_nationkey", "n_nationkey", salt=8)
    )


def test_partition_pruned_lookup_prunes(spark):
    """The partitioned-layout point query must push the partition-column
    equality into `PartitionFilters` (directory pruning — the Spark
    realization of the reference's bitmap index, BitmapIndex.v:811-831),
    leaving no pushed data filter on event_type and no full scan."""
    p = plan_of(QUERIES["partition_pruned_lookup"](spark, SF_SMOKE))
    pf = [l for l in p.splitlines() if "PartitionFilters" in l]
    assert pf, "no PartitionFilters entry — scan is not partition-pruned"
    assert "event_type" in pf[0]


def test_bucketed_join_has_no_exchange(spark):
    """Both sides bucketed by the join key: the sort-merge join must
    read the buckets directly — no Exchange anywhere in the plan (the
    shuffle was paid once at write time; DictIndexImpl.v's persisted
    index economics)."""
    p = plan_of(QUERIES["bucketed_join"](spark, SF_SMOKE))
    assert "SortMergeJoin" in p
    assert "Exchange" not in p


def test_group_sample_prunes_before_shuffle(spark):
    """The rank<=k per-stratum sample must hit Catalyst's
    WindowGroupLimit rewrite: each input partition keeps only its local
    top-k rows before the Exchange, so the shuffle volume is bounded by
    k per (partition, group) instead of the corpus size."""
    p = plan_of(QUERIES["sample_group_k"](spark, SF_SMOKE))
    assert "WindowGroupLimit" in p


def test_sample_strata_scan_side(spark):
    """Deterministic md5-threshold sampling is a pure scan-side filter:
    no Exchange anywhere in the plan, and the read schema is pruned to
    the two output columns."""
    p = plan_of(QUERIES["sample_strata"](spark, SF_SMOKE))
    assert "Exchange" not in p
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "lang" in read and "text" not in read


def test_bucket_scheme_operators_handle_empty_input(spark):
    """Empty inputs: approxQuantile returns no cuts, every offset table
    is empty — all three bucket-scheme operators must return empty
    results, not crash."""
    from fiat2_spark.operators.relational import (
        grouped_rank_family, grouped_row_number, grouped_running_sum,
    )
    from pyspark.sql import functions as F

    e = spark.createDataFrame([], "g string, v double, k long")
    assert grouped_row_number(e, ["g"], "v", tiebreak=[F.col("k")]).count() == 0
    assert grouped_rank_family(e, ["g"], "v", tiebreak=[F.col("k")]).count() == 0
    assert grouped_running_sum(e, ["g"], "v", F.col("v")).count() == 0


def test_sample_mixture_broadcasts_counts(spark):
    """Domain-mixture rebalancing must decide keep/drop map-side: both
    the per-source count relation and the corpus totals join as
    broadcasts, and the big documents scan never shuffles (its only
    Exchanges are inside the tiny count aggregations)."""
    p = plan_of(QUERIES["sample_mixture"](spark, SF_SMOKE))
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2
    assert "SortMergeJoin" not in p


def test_dedup_incremental_batch_anti_join(spark):
    """Delta dedup = LeftAnti against the corpus fingerprint set; the
    join must be a hash join on the 32-byte fingerprint, never a
    nested loop, and the batch side partial-aggregates before the
    exchange (min doc_id per fingerprint map-side)."""
    p = plan_of(QUERIES["dedup_incremental_batch"](spark, SF_SMOKE))
    assert "LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "partial_min" in p


def test_text_repetition_partial_aggregates(spark):
    """The tagged n-gram counting must collapse each document's grams
    map-side (partial + final HashAggregate pairs) so the exchange
    carries (doc, n, gram) counts, not the exploded gram stream."""
    p = plan_of(QUERIES["text_repetition"](spark, SF_SMOKE))
    assert p.count("HashAggregate") >= 4
    assert "partial_count" in p


def test_repetition_stats_empty_and_tiny_docs(spark):
    """Documents with zero, one, or two tokens exercise every empty-
    n-gram branch: no bigrams/trigrams → fractions coalesce to 0.0,
    single-token docs get entropy 0 and TTR 1."""
    from fiat2_spark.operators.text import repetition_stats, tokens
    from pyspark.sql import functions as F

    d = spark.createDataFrame(
        [(0, ""), (1, "word"), (2, "a b"), (3, "x x x x")],
        "doc_id long, text string",
    )
    base = d.select("doc_id", tokens(F.col("text")).alias("toks"))
    rows = {r["doc_id"]: r for r in repetition_stats(base, "toks", "doc_id").collect()}
    assert rows[0]["ttr"] == 0.0 and rows[0]["unigram_entropy"] == 0.0
    assert rows[1]["ttr"] == 1.0 and rows[1]["top_bigram_frac"] == 0.0
    assert rows[2]["top_bigram_frac"] == 1.0 and rows[2]["dup_trigram_frac"] == 0.0
    # 'x x x x': one distinct unigram -> entropy 0; bigram 'x x' x3 -> top frac 1;
    # trigram 'x x x' twice -> dup fraction 1
    assert rows[3]["unigram_entropy"] == 0.0
    assert rows[3]["top_bigram_frac"] == 1.0 and rows[3]["dup_trigram_frac"] == 1.0


def test_scalar_subquery_decorrelates(spark):
    """The correlated MAX subquery must plan as aggregate + outer join
    (RewriteCorrelatedScalarSubquery), never a per-row lineitem rescan:
    no nested-loop operator, exactly one join, partial/final max pair."""
    p = plan_of(QUERIES["scalar_subquery"](spark, SF_SMOKE))
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    assert "partial_max" in p
    assert ("SortMergeJoin" in p) or ("BroadcastHashJoin" in p) or ("ShuffledHashJoin" in p)


def test_grouped_listagg_no_window(spark):
    """The scalable LISTAGG must contain NO window operator at all —
    ordered concat is realized as two levels of (partial+final)
    aggregation over (group, bucket) then (group)."""
    p = plan_of(QUERIES["group_concat_scalable"](spark, SF_SMOKE))
    assert "Window" not in p
    assert p.count("ObjectHashAggregate") + p.count("SortAggregate") >= 2


def test_grouped_listagg_matches_plain(spark):
    """Bucket-split concat must agree with the single collect_list
    form on every group (associativity check under real data)."""
    from fiat2_spark.operators.relational import grouped_listagg
    from pyspark.sql import functions as F
    from fiat2_spark.workloads.util import tbl

    o = tbl(spark, SF_SMOKE, "orders")
    fast = grouped_listagg(
        o, ["o_orderpriority"], "o_orderkey",
        F.col("o_orderkey").cast("string"), out_name="s",
    )
    plain = o.groupBy("o_orderpriority").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct(F.col("o_orderkey").alias("o"),
                                                     F.col("o_orderkey").cast("string").alias("v")))),
                lambda x: x["v"]), ",").alias("s"),
        F.count(F.lit(1)).alias("n"),
    )
    a = {r["o_orderpriority"]: (r["s"], r["n"]) for r in fast.collect()}
    b = {r["o_orderpriority"]: (r["s"], r["n"]) for r in plain.collect()}
    assert a == b


def test_grouped_listagg_empty_input(spark):
    from fiat2_spark.operators.relational import grouped_listagg
    from pyspark.sql import functions as F

    e = spark.createDataFrame([], "g string, k long")
    assert grouped_listagg(e, ["g"], "k", F.col("k").cast("string")).count() == 0


def test_aqe_final_plan_adapts(spark):
    """AQE must actually engage on shuffling queries (the runtime
    re-planning the 100 TB story leans on): after execution the final
    adaptive plan replaces blind shuffle reads with AQEShuffleRead
    (partition coalescing) — i.e. we really run with
    spark.sql.adaptive.enabled and Catalyst finalizes the plan from
    runtime shuffle statistics."""
    assert spark.conf.get("spark.sql.adaptive.enabled") == "true"
    df = QUERIES["groupby_agg"](spark, SF_SMOKE)
    df.collect()
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert "AQEShuffleRead" in p


def test_embedding_centroids_partial_aggregates(spark):
    """The posexploded (label, dim, value) stream must partial-aggregate
    map-side — the exchange carries |labels|x|dims| partial sums, never
    the exploded vector stream."""
    p = plan_of(QUERIES["embedding_centroids"](spark, SF_SMOKE))
    assert p.count("HashAggregate") >= 2 and "partial_" in p


def test_upsert_keyed_full_outer_hash_or_smj(spark):
    """MERGE = ONE full outer join on the key: no nested loop, no
    cartesian, exactly the copy-on-write upsert plan."""
    p = plan_of(QUERIES["upsert_keyed"](spark, SF_SMOKE))
    assert "FullOuter" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_profile_columns_expand_multi_distinct(spark):
    """Exact multi-column countDistinct plans through Catalyst's Expand
    (the documented one-scan-multiplied-by-|cols| trade) with map-side
    partial aggregation — and since the round-4 split, the Expand side
    carries ONLY the distinct aggregates: the plain stats run as a
    separate single-row aggregate joined back, so Expand copies stay
    narrow (measured 2.2× at sf0.1)."""
    df = QUERIES["profile_columns"](spark, SF_SMOKE)
    p = plan_of(df)
    assert "Expand" in p and "partial_" in p
    # the two 1-row aggregates meet in a (trivial) nested-loop cross
    # join; the plain min/max/sum never ride the Expand — assert on the
    # Expand NODE's own projection list (executedPlan toString prints
    # it on the node line), not on unrelated plan text
    assert "BroadcastNestedLoopJoin" in p
    ep = df._jdf.queryExecution().executedPlan().toString()
    expand_lines = [ln for ln in ep.splitlines() if "Expand" in ln]
    assert expand_lines, "Expand node missing from executed plan"
    for ln in expand_lines:
        assert "min(" not in ln and "max(" not in ln, ln


def test_text_redact_pii_map_only(spark):
    """PII redaction is a pure scan→project pass — no exchange at all."""
    p = plan_of(QUERIES["text_redact_pii"](spark, SF_SMOKE))
    assert "Exchange" not in p


def test_chunk_sliding_zero_shuffle(spark):
    """The sliding chunker is scan → project → generate — no exchange."""
    p = plan_of(QUERIES["chunk_sliding"](spark, SF_SMOKE))
    assert "Exchange" not in p
    assert "Generate" in p


def test_embedding_quantize_map_only(spark):
    p = plan_of(QUERIES["embedding_quantize"](spark, SF_SMOKE))
    assert "Exchange" not in p


def test_span_dedup_shuffles_digests_not_text(spark):
    """The only wide exchanges in span dedup are keyed by the md5
    segment digest or the doc id — the raw text/token columns never
    appear in an exchange's output schema (they are projected away
    before the explode's aggregate)."""
    df = QUERIES["span_dedup"](spark, SF_SMOKE)
    p = plan_of(df)
    # hash partial aggregation on both aggregates
    assert "partial_min" in p or "partial_" in p
    # executedPlan toString prints each Exchange with its full output
    # schema on one line (explain("formatted") splits partitioning onto
    # an Arguments: line, which a line-scan for "Exchange hash..." never
    # matches — that was a vacuous check)
    ep = df._jdf.queryExecution().executedPlan().toString()
    ex_lines = [ln for ln in ep.splitlines() if "Exchange hashpartitioning" in ln]
    assert ex_lines, "no hash exchange found — plan shape changed"
    for ln in ex_lines:
        assert "__t#" not in ln and "text#" not in ln and "segs#" not in ln, ln


def test_bm25_broadcasts_stats_and_df(spark):
    """BM25 joins the tf stream to the |terms|-row df relation and the
    1-row corpus stats by broadcast — the corpus-side stream never
    re-exchanges for those joins."""
    p = plan_of(QUERIES["bm25_retrieval"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "BroadcastNestedLoopJoin" in p  # 1-row stats cross join
    assert "CartesianProduct" not in p
    assert "TakeOrderedAndProject" in p  # top-20, no global sort


def test_tpch_q5_shape_plan(spark):
    """Q5: supplier/nation/region ride broadcasts; no cartesian; the
    same-nation residual doesn't degrade the supplier join to a
    nested loop; partial agg before the final nation group."""
    p = plan_of(QUERIES["tpch_q5_shape"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "partial_sum" in p
    # the date window must actually reach the orders scan as pushed
    # filters (a bare "o_orderdate in plan" check is vacuously true)
    assert "GreaterThanOrEqual(o_orderdate" in p and "LessThan(o_orderdate" in p


def test_tpch_q19_disjunction_splits_to_both_scans(spark):
    """Q19's OR-of-ANDs must not block pushdown: Catalyst extracts the
    single-side implications, so the part scan sees a brand/size
    residual and the lineitem scan sees the quantity envelope — the
    plan never evaluates the disjunction against unpruned scans."""
    p = plan_of(QUERIES["tpch_q19_shape"](spark, SF_SMOKE))
    # lineitem scan: the quantity disjunction is pushed whole
    assert "GreaterThanOrEqual(l_quantity,1.0" in p
    assert "LessThanOrEqual(l_quantity,50.0" in p
    # part scan: the brand/size disjunction is pushed whole
    assert "EqualTo(p_brand,Brand#1" in p and "EqualTo(p_brand,Brand#5" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_tpch_q16_distinct_expansion_and_anti(spark):
    """Q16: COUNT(DISTINCT) plans as the two-shuffle partial-dedup
    expansion (never a per-group in-memory set), and the NOT IN
    complaint-supplier subquery becomes a broadcast anti join."""
    import re

    p = plan_of(QUERIES["tpch_q16_shape"](spark, SF_SMOKE))
    # count plan NODES (the "(n) HashAggregate" detail headers), not raw
    # substring hits — the tree rendering would double-count each node
    assert len(re.findall(r"\(\d+\) HashAggregate", p)) >= 3
    assert "Join type: LeftAnti" in p and "BroadcastExchange" in p
    assert "TakeOrderedAndProject" in p


def test_tpch_q1_single_scan_partial_agg(spark):
    """Q1: one lineitem scan, map-side partial aggregation, date filter
    pushed — the pure-throughput plan with a 4-row shuffle."""
    df = QUERIES["tpch_q1_shape"](spark, SF_SMOKE)
    p = plan_of(df)
    assert p.count("Location: InMemoryFileIndex") == 1
    assert "partial_sum" in p
    assert "LessThanOrEqual(l_shipdate" in p


def test_tpch_q22_no_orders_key_pruning(spark):
    """Q22: the NOT EXISTS side reads ONLY o_custkey (column pruning
    reaches the scan) and joins anti; the global average rides a
    broadcast, not a driver collect."""
    p = plan_of(QUERIES["tpch_q22_shape"](spark, SF_SMOKE))
    assert "Join type: LeftAnti" in p
    import re
    scans = re.findall(r"ReadSchema: struct<([^>]*)>", p)
    orders_scans = [s for s in scans if "o_custkey" in s]
    # only the join key and the pushed-filter column survive pruning
    assert orders_scans == ["o_custkey:bigint,o_orderpriority:string"]
    assert "EqualTo(o_orderpriority,1-URGENT)" in p


def test_dpp_partitioned_join_prunes_at_runtime(spark):
    """The partitioned fact scan must carry a dynamicpruningexpression
    PartitionFilter fed by the broadcast dim — join-driven partition
    pruning, not a static filter and not a full scan."""
    p = plan_of(QUERIES["dpp_partitioned_join"](spark, SF_SMOKE))
    assert "dynamicpruningexpression" in p
    assert "PartitionFilters" in p


def test_bloom_pruned_join_injects_filter(spark):
    """Runtime bloom-filter semi-join reduction under cluster
    conditions: when the filtered orders side cannot broadcast (the
    fact⋈fact case — simulated in a sibling session with broadcast
    joins disabled and the app-side size gate scaled to the smoke
    data), InjectRuntimeFilter plants might_contain on the lineitem
    side BEFORE its shuffle. Under the default session the rule
    correctly declines: the creation side is broadcastable by size
    (a broadcast join needs no bloom even though the merge hint keeps
    this plan a shuffle join) AND the smoke scan is under session.py's
    1 MB application-side gate — asserted so the local no-bloom plan
    is a deliberate outcome, not silence."""
    from pyspark.sql import functions as F

    s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    # smoke data scans ~100 KB; scale the app-side gate down with it
    s2.conf.set(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
        "64KB",
    )

    def shape(sp):
        li = sp.read.parquet(f"{SF_SMOKE}/lineitem.parquet")
        o = sp.read.parquet(f"{SF_SMOKE}/orders.parquet").filter(
            (F.col("o_orderpriority") == "1-URGENT")
            & (F.col("o_orderdate") >= "1997-01-01")
        )
        return (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.count(F.lit(1)).alias("n"))
        )

    clustered = plan_of(shape(s2))
    assert "might_contain" in clustered and "SortMergeJoin" in clustered
    local = plan_of(QUERIES["bloom_pruned_join"](spark, SF_SMOKE))
    # no bloom locally: creation side broadcastable-by-size + app-side
    # scan below the 1 MB gate (see docstring — NOT a broadcast plan;
    # the merge hint keeps it SMJ)
    assert "might_contain" not in local and "SortMergeJoin" in local


def test_kmeans_lloyd_stays_distributed(spark):
    """The k-means loop must be collect-free and parallel: centroid
    sides broadcast, the argmin window partitions on vec_id (never
    SinglePartition), and distance sums partial-aggregate map-side."""
    p = plan_of(QUERIES["kmeans_lloyd"](spark, SF_SMOKE))
    assert "SinglePartition" not in p
    assert "BroadcastHashJoin" in p
    assert "partial_sum" in p


def test_tpch_q4_semi_join_carries_date_conjunct(spark):
    """Q4: the EXISTS is a semi join (never materializing matches) with
    the correlated date comparison as its residual condition."""
    p = plan_of(QUERIES["tpch_q4_shape"](spark, SF_SMOKE))
    assert "Join type: LeftSemi" in p
    assert "CartesianProduct" not in p


def test_tpch_q21_semi_and_anti_self_joins(spark):
    """Q21: one semi + one anti self-join, both equi-keyed on
    l_orderkey (the correlated probes never degrade to nested loops),
    topped by TakeOrderedAndProject."""
    p = plan_of(QUERIES["tpch_q21_shape"](spark, SF_SMOKE))
    assert "Join type: LeftSemi" in p and "Join type: LeftAnti" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "TakeOrderedAndProject" in p


def test_sorted_layout_skips_row_groups(spark):
    """write_sorted's zone-map layout must actually skip at the reader:
    the same range filter over the sorted layout surfaces far fewer
    rows from the scan node (row groups pruned on min/max footer
    stats) than over a value-shuffled layout of identical data."""
    import tempfile

    from pyspark.sql import functions as F

    from fiat2_spark.sources.io import write_sorted

    ev = spark.read.parquet(f"{SF_SMOKE}/events.parquet").select("event_id", "value")
    tmp = tempfile.mkdtemp()
    write_sorted(ev, tmp + "/sorted", "value")
    (
        ev.repartition(8)
        .write.mode("overwrite")
        .option("parquet.block.size", 65536)
        .parquet(tmp + "/shuffled")
    )

    def scan_output_rows(path: str) -> int:
        df = spark.read.parquet(path).filter(
            (F.col("value") >= 10.0) & (F.col("value") < 11.0)
        )
        df.collect()
        plan = df._jdf.queryExecution().executedPlan()

        def leaves(n):
            cs = [n.children().apply(i) for i in range(n.children().size())]
            return [n] if not cs else [x for c in cs for x in leaves(c)]

        total = 0
        for leaf in leaves(plan):
            it = leaf.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                if kv._1() == "numOutputRows":
                    total += kv._2().value()
        return total

    skipped = scan_output_rows(tmp + "/sorted")
    full = scan_output_rows(tmp + "/shuffled")
    assert full == ev.count()  # unsorted layout cannot skip
    assert skipped * 3 < full  # zone maps pruned most row groups


def test_aqe_splits_skewed_join_partitions(spark):
    """The automatic half of the skew story (`salted_equi_join` is the
    manual half): under cluster conditions (no broadcast; thresholds
    scaled to test data) a 90%-one-key join is re-planned by AQE as
    SortMergeJoin(skew=true) with the oversized partition split —
    runtime statistics, not programmer foresight, defeat the straggler."""
    from pyspark.sql import functions as F

    s2 = spark.newSession()
    for k, v in {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "16KB",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }.items():
        s2.conf.set(k, v)
    left = s2.range(0, 400000).select(
        F.when(F.col("id") % 10 < 9, F.lit(0)).otherwise(F.col("id")).alias("k"),
        F.sha2(F.col("id").cast("string"), 256).alias("payload"),
    )
    right = s2.range(0, 1000).select(F.col("id").alias("k"), F.col("id").alias("v"))
    j = left.join(right, "k")
    j.collect()
    p = plan_of(j)
    assert "isFinalPlan=true" in p
    assert "skew=true" in p


def test_fuzzy_apply_no_forced_broadcast(spark):
    """`dedup_fuzzy_apply`'s anti side (non-canonical cluster members) is
    data-dependent — web corpora can be 30-80% near-dups — so the query
    must NOT bake in a build-side size assumption. The logical plan must
    carry no broadcast hint; whatever strategy appears physically is
    AQE/statistics choosing for THIS data size, free to degrade to a
    shuffled hash anti join at 100 TB."""
    df = QUERIES["dedup_fuzzy_apply"](spark, SF_SMOKE)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "ResolvedHint" not in logical and "UnresolvedHint" not in logical
    # and the join is still a key-equi anti (never nested-loop)
    p = plan_of(df)
    assert "LeftAnti" in p
    assert "BroadcastNestedLoopJoin" not in p and "CartesianProduct" not in p
    # runtime statistics, not a hint, pick the strategy: at test scale
    # the measured losers side is small, so AQE's FINAL plan converts
    # the anti join to broadcast — the initial plan's SortMergeJoin is
    # what survives when the side is actually big
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    assert "isFinalPlan=true" in executed
    assert "BroadcastHashJoin" in executed and "LeftAnti" in executed


def test_q6_pure_scan_pipeline(spark):
    """Q6 is the pushdown probe: every predicate must reach the parquet
    reader, the plan must contain NO join, and the only Exchange is the
    one-row-per-partition partial→final aggregate boundary — i.e. the
    whole query is a single pipelined scan stage."""
    p = plan_of(QUERIES["tpch_q6_shape"](spark, SF_SMOKE))
    pushed = [l for l in p.splitlines() if "PushedFilters" in l][0]
    for frag in (
        "GreaterThanOrEqual(l_shipdate,", "LessThan(l_shipdate,",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)",
    ):
        assert frag in pushed, frag
    assert "Join" not in p
    assert p.count("Exchange (") == 1  # tree lists each node once as "Name (id)"
    # only the four referenced columns are read
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "l_extendedprice" in read and "l_orderkey" not in read


def test_q15_single_revenue_pass_reused(spark):
    """Q15's revenue view is computed ONCE — both consumers (scalar
    max, winner filter) scan the eagerly-materialized CHECKPOINT BLOCKS
    (the agg_reuse pattern, r7; the r6 variant's mid-plan winner collect
    cost 1.5×). The blocks are NOT CacheManager entries (zero cache
    leak class) and are reclaimable by the owner's sweep; the returned
    plan broadcasts the winner filter into the supplier join and no
    longer touches lineitem at all."""
    from fiat2_spark.session import cache_entries, release_checkpoint_blocks

    release_checkpoint_blocks(spark)
    _, cache_before = cache_entries(spark)
    df = QUERIES["tpch_q15_shape"](spark, SF_SMOKE)
    ckpt, cache_after = cache_entries(spark)
    assert len(cache_after) == len(cache_before), "q15 leaked a CACHE entry"
    assert len(ckpt) >= 1, "revenue aggregate should ride checkpoint blocks"
    p = plan_of(df)
    assert "BroadcastHashJoin" in p
    assert "SortMergeJoin" not in p
    assert "lineitem" not in p  # revenue already materialized eagerly
    df.collect()
    assert release_checkpoint_blocks(spark) >= 1


def test_quality_filter_text_never_shuffles(spark):
    """quality_filter_apply's only shuffles are doc_id-keyed aggregates
    of scalar counters — the document text must never cross an
    exchange, and the candidate joins stay hash joins."""
    df = QUERIES["quality_filter_apply"](spark, SF_SMOKE)
    p = plan_of(df)
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    exec_plan = df._jdf.queryExecution().executedPlan().toString()
    for ln in exec_plan.splitlines():
        if "Exchange hashpartitioning" in ln:
            assert "text" not in ln, ln
    # trigram counting is map-side combined before its exchange
    assert "partial_count" in p or "partial_sum" in p


def test_knn_vote_keeps_partial_group_limit(spark):
    """knn_label_vote rides cosine_topk: the partial WindowGroupLimit
    below the exchange must survive the extra vote stages, and the
    vote argmax must be windowless (exactly ONE Window operator in the
    whole plan — the ranking's)."""
    df = QUERIES["knn_label_vote"](spark, SF_SMOKE)
    p = df._jdf.queryExecution().executedPlan().toString()
    partial_line = next(
        (ln for ln in p.splitlines() if "WindowGroupLimit" in ln and "Partial" in ln), None
    )
    assert partial_line is not None, "grouped-limit rewrite did not fire"
    assert sum("Window " in ln or ln.strip().startswith("Window") for ln in p.splitlines() if "WindowGroupLimit" not in ln) <= 2


@pytest.mark.parametrize(
    "name", ["rolling_7day_revenue", "asof_tolerance_join", "ewma_user_value", "mad_scalable"]
)
def test_round5_queries_stay_parallel(spark, name):
    """The round-5 per-entity/per-group queries must keep every stage
    parallel (their partition keys are high-cardinality: customer,
    user, language×bucket) and never degenerate to a nested loop."""
    p = plan_of(QUERIES[name](spark, SF_SMOKE))
    assert "SinglePartition" not in p, name
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p, name


def test_hybrid_rrf_rank_window_is_bounded_by_topk(spark):
    """hybrid_rrf_retrieval's only unpartitioned window (the lexical
    rank over ≤50 rows) must sit DIRECTLY above the TakeOrderedAndProject
    prune — a SinglePartition stage is acceptable exactly when a top-k
    bound precedes it, never over data-scale input. The vector leg keeps
    cosine_topk's WindowGroupLimit prune."""
    p = plan_of(QUERIES["hybrid_rrf_retrieval"](spark, SF_SMOKE))
    lines = [l.strip() for l in p.splitlines()]
    # tree form: find a Window whose immediate child line is the top-k prune
    found = any(
        "Window (" in lines[i] and "TakeOrderedAndProject (" in lines[i + 1]
        for i in range(len(lines) - 1)
        if "Window (" in lines[i]
    )
    assert found, "lexical rank window is not fed by the top-k prune"
    assert "WindowGroupLimit" in p  # cosine leg prune intact


def test_nary_comprehension_plans_as_hash_joins(spark):
    """A 3-generator chained comprehension (the Ex_Triangle.v shape,
    depth the 2-level to_join recognizer doesn't cover) must compile to
    hash joins — the n-ary recognizer emits chained cross joins + the
    innermost guard as a filter, and Catalyst's predicate-into-join
    pushdown must recover the equi joins. Found by the relational
    fuzzer: before the n-ary case, this shape failed to compile at all."""
    from fiat2_spark.plans import ast as A
    from fiat2_spark.plans.compile import compile_expr
    from fiat2_spark.plans.interp import Store

    st = Store()
    st.assign("t1", spark.createDataFrame([(1, 10), (2, 20)], "a long, b long"))
    st.assign("t2", spark.createDataFrame([(1, 5), (2, 6)], "k long, c long"))
    nil = A.EAtom(A.ANil(A.TRecord((("u", A.TInt()), ("v", A.TInt()), ("w", A.TInt())))))
    prog = A.EFlatmap("LikeBag", A.ELoc("t1"), "x",
        A.EFlatmap("LikeBag", A.ELoc("t2"), "y",
            A.EFlatmap("LikeBag", A.ELoc("t1"), "z",
                A.EIf(A.EBinop("OAnd",
                        A.EBinop("OEq", A.EAccess(A.EVar("x"), "a"), A.EAccess(A.EVar("y"), "k")),
                        A.EBinop("OEq", A.EAccess(A.EVar("y"), "k"), A.EAccess(A.EVar("z"), "a"))),
                    A.EBinop("OCons", A.ERecord((
                        ("u", A.EAccess(A.EVar("x"), "b")),
                        ("v", A.EAccess(A.EVar("y"), "c")),
                        ("w", A.EAccess(A.EVar("z"), "b")))), nil),
                    nil))))
    df = compile_expr(prog, {}, st, spark)
    rows = {tuple(r) for r in df.collect()}
    assert rows == {(10, 5, 10), (20, 6, 20)}
    p = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    # AQE's toString includes both initial and final plans — require at
    # least the two equi joins, and zero non-hash join strategies above
    n_hash = p.count("BroadcastHashJoin") + p.count("ShuffledHashJoin") + p.count("SortMergeJoin")
    assert n_hash >= 2, p


def test_dsir_plan_shape(spark):
    """DSIR's scoring pass must broadcast the <=B-row log-ratio table
    and take the top-k without a global sort; nothing degenerates to an
    unbounded nested-loop (the 1-row totals leg is the only sanctioned
    broadcast cross)."""
    p = plan_of(QUERIES["dsir_select"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p


def test_domain_filter_drop_is_broadcast_anti_no_corpus_shuffle(spark):
    """The blocklist drop must be a BROADCAST LeftAnti hash join — the
    corpus never exchanges for the decision (C4/RefinedWeb runs this on
    every crawled page BEFORE any dedup; a shuffled anti-join would be
    the most expensive stage of the whole pipeline at 100 TB). The only
    exchange in the plan is the per-domain cap's host-keyed one, and
    the cap runs as WindowGroupLimit (partial per-partition limit)."""
    p = plan_of(QUERIES["domain_filter"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p and "LeftAnti" in p
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p
    assert "WindowGroupLimit" in p
    # exactly one data exchange: the host-keyed cap (plus the blocklist's
    # own broadcast exchange, which carries the 10-row list, not corpus)
    data_exchanges = [
        ln for ln in p.splitlines()
        if "Exchange hashpartitioning" in ln or "Exchange rangepartitioning" in ln
    ]
    assert len(data_exchanges) <= 1, data_exchanges


def test_perplexity_lm_tables_broadcast(spark):
    """The LM probes must be broadcast hash joins (the tables are
    model-sized by construction — vocab-closed); the corpus-keyed
    shuffle is only the per-doc aggregation."""
    p = plan_of(QUERIES["perplexity_filter"](spark, SF_SMOKE))
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p
    assert "partial_count" in p and "partial_sum" in p


def test_decontaminate_semantic_no_corpus_exchange(spark):
    """The eval relation collapses to ONE broadcast row; the corpus
    side must stay scan-side — no hashpartitioning exchange of corpus
    rows anywhere in the plan (the single-row eval aggregate's own
    exchange is a SinglePartition of one row)."""
    p = plan_of(QUERIES["decontaminate_semantic"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p
    assert "Exchange hashpartitioning" not in p, p


def test_boilerplate_anti_join_broadcasts_under_aqe(spark):
    """boilerplate_remove's frequent-set anti join must NOT plan as a
    cartesian, and at runtime AQE must convert it to a broadcast: the
    frequent set is by construction tiny (only units recurring across
    docs survive the HAVING), so the drop decision never shuffles the
    unit stream a second time. The corpus text itself crosses the wire
    only as (id, seg_idx, seg) rows."""
    df = QUERIES["boilerplate_dedup"](spark, SF_SMOKE)
    df.collect()
    p = plan_of(df)
    assert "CartesianProduct" not in p
    assert "isFinalPlan=true" in p
    # AQE turned the statically-unknown-size anti join into a broadcast
    assert "BroadcastHashJoin" in p and "LeftAnti" in p


def test_gopher_quality_single_scan_no_shuffle(spark):
    """The Gopher rule set is one scan → project: no Exchange, no join,
    and the document scan reads only (doc_id, text)."""
    p = plan_of(QUERIES["gopher_quality"](spark, SF_SMOKE))
    assert "Exchange" not in p, p
    assert "Join" not in p, p
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "doc_id" in read and "text" in read
    assert "lang" not in read and "n_chars" not in read


def test_quality_classifier_model_broadcasts(spark):
    """The classifier's weight table and bias join the scoring pass as
    broadcasts; the only nested-loop is the 1-row bias cross factor —
    never a cartesian over corpus-sized relations."""
    p = plan_of(QUERIES["quality_classifier"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "BroadcastHashJoin" in p, p


def test_doremi_no_corpus_join_lm_broadcast(spark):
    """DoReMi's corpus pass (one transition explode with the domain
    riding the explode, LM probes as broadcasts — never a corpus-keyed
    join back to the pool) runs ONCE, at build time, behind the round
    checkpoints (the trajectory test pins the same contract for
    doremi_trajectory). The returned plan is therefore a K-row job
    over the checkpointed domain-stats relation: it must read the
    checkpoint (ExistingRDD), never re-scan parquet, and must not
    contain a corpus-keyed join shape."""
    p = plan_of(QUERIES["doremi_reweight"](spark, SF_SMOKE))
    assert "CartesianProduct" not in p, p
    assert "SortMergeJoin [doc" not in p, p
    assert "ExistingRDD" in p, p
    assert "parquet" not in p.lower(), p


def test_bpe_pair_counts_vocab_sized_topk(spark):
    """BPE pair counting touches the corpus once (tokenize+explode into
    the word aggregation, reading only the text column); the pair
    explode runs on the vocab-sized word table and top-k is
    TakeOrderedAndProject — never a global sort."""
    p = plan_of(QUERIES["bpe_pair_counts"](spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p, p
    assert "Join" not in p, p
    read = [l for l in p.splitlines() if "ReadSchema" in l][0]
    assert "text" in read and "doc_id" not in read and "lang" not in read


def test_bpe_encode_vocab_broadcast(spark):
    """The encode chain runs on the DISTINCT word relation; the vocab
    probe is un-hinted (a 100 TB vocab outgrows any broadcast budget)
    so AQE sizes it -- at test scale the executed plan must have
    broadcast it, and the per-doc counts partial-aggregate."""
    df = QUERIES["bpe_encode"](spark, SF_SMOKE)
    df.collect()
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert "CartesianProduct" not in p, p
    final = p.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final
    assert "SortMergeJoin" not in final, final
    assert "partial_sum" in p and "partial_count" in p


def test_bpe_encode_ids_windows_are_doc_partitioned(spark):
    """The order-preserving encode's only corpus-side window is the
    per-word prefix sum PARTITIONED BY the document key — the one
    unpartitioned window in the plan is the token-id dense rank over
    the MODEL-sized distinct-symbol relation (single partition by
    design). At test scale AQE must have broadcast the vocab probe; no
    cartesian anywhere."""
    df = QUERIES["bpe_encode_ids"](spark, SF_SMOKE)
    df.collect()
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert "CartesianProduct" not in p, p
    specs = [l for l in p.splitlines() if "windowspecdefinition" in l]
    assert specs, p
    unpartitioned = [l for l in specs if "doc_id" not in l]
    partitioned = [l for l in specs if "doc_id" in l]
    assert partitioned, "corpus prefix window must partition by doc_id"
    # the unpartitioned ones must all be the vocab-id rank (they order
    # by the symbol column, never by corpus positions)
    for l in unpartitioned:
        assert "sym" in l, l


def test_tokenize_pack_no_global_window_partial_aggs(spark):
    """The composed tokenize-and-pack endpoint: every window in the
    plan is partitioned (the per-lang prefix runs through the
    quantile-bucket running sum, never a single-partition cumulative
    window over the corpus), the pack aggregate partial-aggregates
    map-side, and nothing goes cartesian."""
    df = QUERIES["pipeline_tokenize_pack"](spark, SF_SMOKE)
    df.collect()
    p = plan_of(df)
    assert "isFinalPlan=true" in p
    assert "CartesianProduct" not in p, p
    assert "partial_count" in p, p
    for l in p.splitlines():
        if "windowspecdefinition" in l and "doc_id" not in l:
            # the only permissible unpartitioned windows are over
            # model-sized relations: the bucket-offset window keys on
            # the group column (lang), never bare corpus order
            assert "lang" in l or "sym" in l, l


def test_doremi_trajectory_rounds_never_rescan_the_corpus(spark):
    """Each multiplicative-weights round is a K-row job over the
    CHECKPOINTED domain-stats relation: the returned plan must read
    from the checkpoint (ExistingRDD), not re-scan parquet — the
    corpus pass ran exactly once, at trajectory build time."""
    df = QUERIES["doremi_trajectory"](spark, SF_SMOKE)
    p = plan_of(df)
    assert "ExistingRDD" in p, p
    assert "parquet" not in p.lower(), p
