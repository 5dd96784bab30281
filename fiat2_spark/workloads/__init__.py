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
# This window: each operator algorithm in operators/ has one
# implementation (argmax with tie rule, membership-vote scorer, hashed
# featurize pass, bucket log-ratio, value bucketing, term-statistics
# skeleton, BPE merge rule), and three loops release the checkpoints
# they supersede. With SPARK_GRAFT_CPUS=4 the tool reports 23 changed,
# 0 new, 186 held: the queries that reach a folded twin, a released
# loop checkpoint or the corrected tokenizer docstring. All 23 are
# seated; the 27 other seats are held queries of the families the
# previous window kept.
PRIORITY = (
    # (A) tool-mandated reachable-delta rotate-ins
    "bm25_retrieval", "bpe_encode", "bpe_encode_ids", "bpe_merges",
    "budget_select", "cjk_segment_tokens", "dedup_minhash_unicode",
    "dedup_semantic", "doremi_trajectory", "dsir_resample", "dsir_select",
    "hybrid_rrf_retrieval", "langid_multiscript",
    "perplexity_filter_unicode", "pipeline_tokenize_pack",
    "quality_classifier", "text_langid", "text_langid_trigram",
    "text_repetition", "text_unicode_pipeline", "tfidf_retrieval",
    "unicode_corpus_tokens", "window_rownum",
    # (B) held: loops, DSL, incremental, LM/selection, dedup,
    # multimodal, streaming, layout, relational
    "bfs", "dedup_clusters", "dedup_clusters_star", "doremi_reweight",
    "incremental_groupby", "incremental_multi_index", "pagerank3",
    "tpch_q15_shape", "dsl_auto_index", "dsl_employee_join",
    "dsl_grandchildren", "bfs_recursive_cte", "ccnet_bucket_assign",
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
