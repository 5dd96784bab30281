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
# This window: the album route reads a resident supplier table, and the
# DoReMi corpus pass checkpoints its own stats and releases the bigram
# fit's checkpoints (lm_fit now hands them to its caller). With
# SPARK_GRAFT_CPUS=4 the tool reports 7 changed, 0 new, 202 held: the
# queries that reach album_and_artist, lm_fit or _doremi_domain_stats.
# All 7 are seated (4 already were); the 43 other seats are held
# queries the previous window kept, less three of its unicode/retrieval
# rotate-ins.
PRIORITY = (
    # (A) tool-mandated reachable-delta rotate-ins
    "ccnet_bucket_assign", "doremi_reweight", "doremi_trajectory",
    "lm_stupid_backoff", "perplexity_filter", "perplexity_filter_unicode",
    "server_album_join",
    # (B) held: tokenizers, dedup, selection, retrieval, loops, DSL,
    # incremental, multimodal, streaming, layout, relational
    "bm25_retrieval", "bpe_encode", "bpe_encode_ids", "bpe_merges",
    "budget_select", "cjk_segment_tokens", "dedup_minhash_unicode",
    "dedup_semantic", "dsir_resample", "dsir_select",
    "hybrid_rrf_retrieval", "langid_multiscript", "pipeline_tokenize_pack",
    "quality_classifier", "text_langid", "text_langid_trigram",
    "text_repetition", "window_rownum",
    "bfs", "dedup_clusters", "dedup_clusters_star",
    "incremental_groupby", "incremental_multi_index", "pagerank3",
    "tpch_q15_shape", "dsl_auto_index", "dsl_employee_join",
    "dsl_grandchildren", "bfs_recursive_cte",
    "length_bucket_batches", "bpe_pair_counts", "gopher_quality",
    "text_quality", "hard_negatives", "decontaminate_semantic",
    "dedup_embedding", "substring_dedup_apply", "kmeans_lloyd",
    "multimodal_audio_rms", "sessionize", "stream_window_agg",
    "dpp_partitioned_join", "group_concat_scalable",
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
