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
# This window: checkpoint owners read their block ids from their frames
# (`session.block_ids`). With SPARK_GRAFT_CPUS=4 the tool reports 18
# changed, 0 new, 191 held: the queries that reach the six owners
# (`bfs`, `pagerank`, `dup_clusters`, `dup_clusters_star`, `GroupIndex`,
# `JoinAggView`), `bpe_learn` or a reworded docstring. All 18 are seated;
# the 14 new seats come from held queries of families that keep other
# members in the window.
PRIORITY = (
    # (A) tool-mandated reachable-delta rotate-ins: the checkpoint
    # owners and their callers
    "agg_reuse", "bfs", "bpe_encode", "bpe_encode_ids", "bpe_merges",
    "dedup_clusters", "dedup_clusters_star", "dedup_fuzzy_apply",
    "dedup_minhash", "dedup_minhash_unicode", "doremi_reweight",
    "incremental_groupby", "incremental_join", "incremental_multi_index",
    "pagerank3", "pipeline_tokenize_pack", "text_unicode_pipeline",
    "tpch_q15_shape",
    # (B) held: DSL, LM/selection, retrieval, dedup, multimodal,
    # streaming, layout, relational
    "dsl_auto_index", "dsl_auto_index_dist", "dsl_auto_index_join",
    "dsl_comprehension", "dsl_employee_join", "dsl_grandchildren",
    "dsl_orders_agg", "bfs_recursive_cte", "dsir_select",
    "ccnet_bucket_assign", "quality_classifier", "budget_select",
    "length_bucket_batches", "bpe_pair_counts", "gopher_quality",
    "text_quality", "ann_ivf", "hard_negatives", "decontaminate_semantic",
    "dedup_semantic", "dedup_embedding", "substring_dedup_apply", "kmeans_lloyd",
    "multimodal_audio_rms", "multimodal_frames",
    "sessionize", "stream_window_agg", "stream_stream_join",
    "dpp_partitioned_join", "zonemap_range_scan",
    "group_concat_scalable", "fold_right_concat",
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
