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
# This window: the parameters no caller sets are deleted (their
# defaults inlined, shared query/oracle values kept as module
# constants), the iterative loops release superseded rounds by block
# id, zonemap_range_scan's layout moves into a helper, and the
# fingerprint closure now follows names used as default values. With
# SPARK_GRAFT_CPUS=4 the tool reports 87 changed, 0 new, 122 held —
# more than the window holds. Seated below are the 50 whose own
# operator code changed; the other 37 (the dsl_* and relational users
# of the tag-free filter_rows/project/theta_join, the incremental_*
# users of the stream batches, the bpe_* and tokenizer-default users
# reached through the fingerprint fix, the layout readers) rely on the
# two full-registry gate logs, which cover all 209.
PRIORITY = (
    # (A) tool-mandated reachable-delta rotate-ins: loops, LM/selection,
    # retrieval, dedup, multimodal, streaming, layout, relational, DSL
    "bfs", "pagerank3", "dedup_clusters", "dedup_clusters_star",
    "doremi_reweight", "doremi_trajectory", "dsir_select", "dsir_resample",
    "perplexity_filter", "perplexity_filter_unicode", "lm_stupid_backoff",
    "ccnet_bucket_assign", "quality_classifier", "budget_select",
    "length_bucket_batches", "bpe_pair_counts", "gopher_quality",
    "text_quality", "text_fingerprint",
    "ann_bruteforce", "ann_ivf", "ann_lsh", "hard_negatives",
    "decontaminate_semantic", "knn_label_vote", "hybrid_rrf_retrieval",
    "dedup_semantic", "dedup_embedding", "dedup_ngram_jaccard",
    "dedup_simhash", "substring_dedup_apply", "kmeans_lloyd", "cms_tokens",
    "multimodal_audio_rms", "multimodal_frames", "multimodal_resize",
    "multimodal_wav_real", "multimodal_ppm_real", "multimodal_bytes",
    "sessionize", "stream_window_agg", "stream_stream_join",
    "dpp_partitioned_join", "zonemap_range_scan", "salted_join",
    "window_rownum", "group_concat_scalable", "grouped_rank_family_scalable",
    "fold_right_concat", "dsl_auto_index",
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
