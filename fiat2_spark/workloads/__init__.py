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
# This window: result sorts over a fixed key domain move to
# operators/relational.py:sort_small (the seven TPC-H shapes), compile.py
# calls relational's retag/sort_canonical and types int literals long,
# relational takes its tag constants from plans/ast.py, and the BPE
# queries collect their merges with text.bpe_merge_list. With
# SPARK_GRAFT_CPUS=4 (the value the base fingerprints were written
# under; session constants read it) the tool reports 29 changed, 0 new,
# 180 held. Fifteen were seated already and stay under (A); fourteen
# rotate in, and (C) plus eight of (D), hashes held, rotate out.
PRIORITY = (
    # (A) tool-mandated reachable-delta rotate-ins
    "dsl_auto_index", "dsl_auto_index_dist", "dsl_auto_index_join",
    "dsl_command_pipeline", "dsl_comprehension", "dsl_employee_join",
    "dsl_filter_project", "dsl_fold_table", "dsl_grandchildren",
    "dsl_let_if_table", "dsl_orders_agg",
    "bpe_encode", "bpe_encode_ids", "pipeline_tokenize_pack",
    "text_unicode_pipeline",
    "tpch_q4_shape", "tpch_q5_shape", "tpch_q7_shape", "tpch_q8_shape",
    "tpch_q9_shape", "tpch_q13_shape", "tpch_q22_shape",
    "filter_scan", "join_fk", "proj_compute", "proj_feed_pipeline",
    "sort_canonical", "survey_join", "theta_join_nonequi",
    # (B) earlier rotate-ins, hashes held
    "bpe_merges", "budget_select",
    "dedup_clusters", "dedup_clusters_star", "dedup_fuzzy_apply",
    "dedup_semantic", "doremi_reweight", "quality_classifier",
    "perplexity_filter", "perplexity_filter_unicode",
    "ccnet_bucket_assign", "lm_stupid_backoff", "doremi_trajectory",
    # (D) oldest-evidence refresh
    "embedding_centroids", "embedding_quantize", "hll_users",
    "multimodal_frames", "multimodal_resize", "nested_collections",
    "percentile_cont", "sample_group_k",
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
