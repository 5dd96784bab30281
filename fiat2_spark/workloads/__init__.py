"""Named workloads: every entry pairs a PySpark plan (built on the
fiat2_spark operator layer) with an ANSI-SQL oracle that DuckDB runs on
the same parquet tables — the port of the reference's differential-oracle
pattern (naive vs optimized program, same output; ToPython.v / SURVEY §5).

``QUERIES``: name → fn(spark, sf_dir) → DataFrame
``ORACLES``: name → DuckDB SQL (omitted for non-SQL-expressible ops →
the driver records a rows-only check).

Registration ORDER is significant: the driver's correctness gate checks
the first 50 registered queries. ``PRIORITY`` below front-loads the
LLM-data-pipeline, incremental/streaming, and server-parity families
(never driver-checked in rounds 1–2) plus the DSL/graph suites and a
rotating selection of core operator queries; every remaining core query
keeps its green CORRECTNESS_r01/r02 row as prior evidence and stays
registered (and locally gated) after the window.
"""

from __future__ import annotations

from fiat2_spark.workloads import core, dsl, graphs, pipeline, server, stream

MODULES = (pipeline, stream, server, dsl, graphs, core)

# First 50 = driver-checked window. Rotation rule: at the final engine
# commit, compare against the BASE commit's fingerprints,
#   git show <base>:FINGERPRINTS.json > base.json
#   python tools/fingerprints.py --compare base.json
# and seat every query it reports `changed` or `new`; seats come from
# queries whose reachable hash held. Older baselines are in git history.
# This window: plans/ keeps one AST traversal, one to_join lowering and
# one Gstore (`interp.Store`; `catalog.Catalog` is deleted and
# `sources.io.register_views` registers the views itself). With
# SPARK_GRAFT_CPUS=4 the tool reports 12 changed, 0 new, 197 held: the
# 11 dsl_* queries, which reach plans/, and bfs_recursive_cte, which
# reaches register_views. All 12 are seated; the 11 new seats come from
# held queries of families that keep other members in the window.
PRIORITY = (
    # (A) tool-mandated reachable-delta rotate-ins: the DSL suite and
    # the recursive-CTE walk
    "dsl_auto_index", "dsl_auto_index_dist", "dsl_auto_index_join",
    "dsl_command_pipeline", "dsl_comprehension", "dsl_employee_join",
    "dsl_filter_project", "dsl_fold_table", "dsl_grandchildren",
    "dsl_let_if_table", "dsl_orders_agg", "bfs_recursive_cte",
    # (B) held: loops, LM/selection, retrieval, dedup, multimodal,
    # streaming, layout, relational
    "bfs", "pagerank3", "dedup_clusters",
    "doremi_reweight", "dsir_select",
    "perplexity_filter", "lm_stupid_backoff",
    "ccnet_bucket_assign", "quality_classifier", "budget_select",
    "length_bucket_batches", "bpe_pair_counts", "gopher_quality",
    "text_quality",
    "ann_ivf", "ann_lsh", "hard_negatives",
    "decontaminate_semantic", "knn_label_vote", "hybrid_rrf_retrieval",
    "dedup_semantic", "dedup_embedding", "dedup_ngram_jaccard",
    "dedup_simhash", "substring_dedup_apply", "kmeans_lloyd",
    "multimodal_audio_rms", "multimodal_frames", "multimodal_resize",
    "sessionize", "stream_window_agg", "stream_stream_join",
    "dpp_partitioned_join", "zonemap_range_scan", "salted_join",
    "group_concat_scalable", "grouped_rank_family_scalable",
    "fold_right_concat",
)
assert len(PRIORITY) == 50 and len(set(PRIORITY)) == 50

_queries = {}
_oracles = {}
for _m in MODULES:
    _queries.update(_m.QUERIES)
    _oracles.update(_m.ORACLES)

_missing = [n for n in PRIORITY if n not in _queries]
assert not _missing, f"PRIORITY names not registered: {_missing}"

QUERIES = {n: _queries[n] for n in PRIORITY}
QUERIES.update((n, f) for n, f in _queries.items() if n not in QUERIES)
ORACLES = {n: _oracles[n] for n in QUERIES if n in _oracles}
