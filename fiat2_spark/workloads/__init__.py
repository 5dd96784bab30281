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
# This window: the engine surface no query reaches is deleted, the
# block-tracking parameters only its callers passed are dropped
# (lloyd_centroids, _nb_bucketed, nb_counts, nb_score_from_counts,
# doremi_weights_trajectory, bpe_learn_from_words,
# semantic_dedup_members), compile.py calls the functions/collections
# set and dict primitives, and docstrings naming deleted definitions are
# rewritten. With SPARK_GRAFT_CPUS=4 the tool reports 29 changed, 0 new,
# 180 held. Twenty-two were seated already and stay under (A); seven
# rotate in (corr_moments, dedup_embedding, langid_multiscript,
# multimodal_audio_rms, multimodal_bytes, multimodal_wav_real,
# span_dedup), and the seven held (D) seats rotate out.
PRIORITY = (
    # (A) tool-mandated reachable-delta rotate-ins
    "dsl_auto_index", "dsl_auto_index_dist", "dsl_auto_index_join",
    "dsl_command_pipeline", "dsl_comprehension", "dsl_employee_join",
    "dsl_filter_project", "dsl_fold_table", "dsl_grandchildren",
    "dsl_let_if_table", "dsl_orders_agg",
    "bpe_encode", "bpe_encode_ids", "bpe_merges", "pipeline_tokenize_pack",
    "text_unicode_pipeline",
    "budget_select", "dedup_semantic", "doremi_reweight",
    "doremi_trajectory", "quality_classifier", "multimodal_frames",
    "corr_moments", "dedup_embedding", "langid_multiscript",
    "multimodal_audio_rms", "multimodal_bytes", "multimodal_wav_real",
    "span_dedup",
    # (B) earlier rotate-ins, hashes held
    "tpch_q4_shape", "tpch_q5_shape", "tpch_q7_shape", "tpch_q8_shape",
    "tpch_q9_shape", "tpch_q13_shape", "tpch_q22_shape",
    "filter_scan", "join_fk", "proj_compute", "proj_feed_pipeline",
    "sort_canonical", "survey_join", "theta_join_nonequi",
    "dedup_clusters", "dedup_clusters_star", "dedup_fuzzy_apply",
    "perplexity_filter", "perplexity_filter_unicode",
    "ccnet_bucket_assign", "lm_stupid_backoff",
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
