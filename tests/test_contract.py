"""Driver-contract guards: the three surfaces the round driver runs
must stay self-consistent — a typo in the bench headline or a
PRIORITY/oracle mismatch would fail the driver run, not a local test,
without these."""

from __future__ import annotations


def test_bench_headline_registered():
    from bench import HEADLINE
    from fiat2_spark.workloads import QUERIES

    missing = [q for q in HEADLINE if q not in QUERIES]
    assert not missing, f"bench headline names not registered: {missing}"


def test_priority_window_contract():
    from fiat2_spark.workloads import ORACLES, PRIORITY, QUERIES

    assert len(PRIORITY) == 50
    assert len(set(PRIORITY)) == 50, "duplicate names in the checked window"
    assert set(QUERIES) == set(ORACLES), "every query needs an oracle"
    assert list(QUERIES)[:50] == list(PRIORITY), "window must lead registration order"


def test_entry_contract_importable():
    import os
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    import __spark_entry__ as E

    q, o = E.queries(), E.oracle_sql()
    assert set(q) == set(o) and len(q) >= 127


def test_python_udtf_escape_hatch(spark):
    """Spark 4 Python UDTFs complete the custom-operator escape-hatch
    surface (scalar: pandas_udf; aggregate: applyInPandas UDAF;
    table-valued: udtf) — a 1→N expansion whose logic genuinely needs
    Python runs lateral-joined against a table, partition-parallel.
    The engine's stance stands: this is the LAST resort (chunk_sliding
    does its 1→N in pure codegen'd expressions); the test pins that
    the hatch exists and composes with lateralJoin."""
    from pyspark.sql.functions import col, udtf

    @udtf(returnType="idx int, sent string")
    class SplitSentences:
        def eval(self, text: str):
            for i, s in enumerate(x.strip() for x in text.split(".") if x.strip()):
                yield i, s

    docs = spark.createDataFrame(
        [(1, "A b. C d."), (2, "One"), (3, "")], "doc_id long, body string"
    )
    spark.udtf.register("split_sentences", SplitSentences)
    docs.createOrReplaceTempView("udtf_docs")
    out = spark.sql(
        """
        SELECT doc_id, s.idx, s.sent
        FROM udtf_docs, LATERAL split_sentences(body) AS s
        ORDER BY doc_id, idx
        """
    ).collect()
    assert [(r["doc_id"], r["idx"], r["sent"]) for r in out] == [
        (1, 0, "A b"), (1, 1, "C d"), (2, 0, "One"),
    ]


def test_fingerprint_closure_sees_parenthesized_imports():
    """The rotation-premise closure must catch function-local
    parenthesized multiline imports (`from fiat2_spark.plans.sugar
    import (...)` inside dsl_comprehension) — the line-regex scanner
    this replaced missed them, which would have kept stale rows valid
    under sugar changes."""
    from tools.fingerprints import _closure

    dsl = _closure("fiat2_spark.workloads.dsl")
    assert "fiat2_spark.plans.sugar" in dsl
    assert "fiat2_spark.plans.compile" in dsl
    # and docstring cross-references must NOT connect the world
    assert "fiat2_spark.serving" not in dsl


def test_bench_final_line_stays_parseable_under_budget():
    """bench.py's last stdout line must stay a single parseable JSON
    object within the tail-capture budget no matter how many headline
    queries exist — the regression behind BENCH_r04's `parsed: null`."""
    import json

    from bench import compact_summary

    summary = {
        "metric": "headline_suite_total",
        "value": 123.456,
        "unit": "sec",
        "queries": {f"query_with_a_long_name_{i:03d}": i / 7.0 for i in range(500)},
        "sf": 0.1,
    }
    line = compact_summary(summary)
    assert len(line) <= 1500
    obj = json.loads(line)
    assert obj["metric"] == "headline_suite_total" and obj["n_queries"] == 500
    # the kept entries are the slowest ones
    kept = obj["queries"]
    assert kept and max(summary["queries"].values()) == max(kept.values())
    # r13: the below-cutoff remainder is published, so "fast" is
    # distinguishable from "gone" (the r12 PERF diff misread the tail
    # cutoff as 12 dropped queries): every query is accounted for
    # either by name or in the (n_below_cutoff, others_total) pair
    assert obj["n_below_cutoff"] == 500 - len(kept)
    assert abs(obj["others_total"]
               - sum(v for k, v in summary["queries"].items() if k not in kept)
               ) < 0.01
    # r12: BOTH host-regime controls must survive compaction — the
    # driver's tail capture is where compare_bench's load() scrapes
    # them from, so a dropped key silently degrades normalization
    summary2 = dict(summary, control_sec=0.5, control_scan_sec=0.3)
    obj2 = json.loads(compact_summary(summary2))
    assert obj2["control_sec"] == 0.5 and obj2["control_scan_sec"] == 0.3


def test_readme_query_count_matches_registry():
    """README's registry-size claim is generated evidence, not prose —
    it must equal len(QUERIES) (the r5 verdict caught it stale at 166
    when the registry held 172)."""
    import os
    import re

    from fiat2_spark.workloads import QUERIES

    readme = open(
        os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "README.md"),
        encoding="utf-8",
    ).read()
    m = re.search(r"\| `fiat2_spark/workloads/` \| (\d+) named queries", readme)
    assert m, "README workloads row missing"
    assert int(m.group(1)) == len(QUERIES), (
        f"README says {m.group(1)} queries; registry has {len(QUERIES)}"
    )


def test_driver_memory_default_follows_host():
    """The default driver heap is half the host's memory, floored at
    1 GiB and capped at 48 GiB; SPARK_GRAFT_DRIVER_MEM overrides it."""
    from fiat2_spark.session import driver_memory_default

    assert driver_memory_default(15 * 1024) == "7680m"
    assert driver_memory_default(1024) == "1024m"
    assert driver_memory_default(256 * 1024) == "49152m"


# Engine definitions that no root reaches but that stay on purpose.
ALLOW = {
    "fiat2_spark.operators.aggregates.ac_fold":
        "public AC-fold export in operators/__init__",
    "fiat2_spark.operators.aggregates.aci_fold":
        "public ACI-fold export in operators/__init__",
    "fiat2_spark.operators.text._trigram_profile":
        "builds TRIGRAM_PROFILES at import; the closure sees only the value",
    "fiat2_spark.plans.compile._fold_table":
        "naive fold reference for test_to_idx_fast_path_equals_naive",
    "fiat2_spark.plans.sugar.v": "DSL notation (Notations.v)",
    "fiat2_spark.plans.sugar.or_": "DSL notation (Notations.v)",
    "fiat2_spark.plans.sugar.not_": "DSL notation (Notations.v)",
    "fiat2_spark.plans.sugar.seq": "DSL notation (Notations.v)",
    "fiat2_spark.plans.sugar.let": "DSL notation (Notations.v)",
    "fiat2_spark.plans.sugar.if_": "DSL notation (Notations.v)",
    "fiat2_spark.plans.sugar.for_": "DSL notation (Notations.v)",
}


def _engine_defs(repo: str) -> dict[str, list[str]]:
    """module name → its top-level function and class names."""
    import ast
    import os

    out = {}
    for root, _, files in os.walk(os.path.join(repo, "fiat2_spark")):
        for f in files:
            if not f.endswith(".py"):
                continue
            path = os.path.join(root, f)
            mod = os.path.relpath(path, repo)[:-3].replace(os.sep, ".")
            mod = mod.removesuffix(".__init__")
            with open(path, encoding="utf-8") as fh:
                body = ast.parse(fh.read()).body
            out[mod] = [
                n.name for n in body
                if isinstance(n, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
            ]
    return out


def _script_roots(path: str, repo: str) -> list:
    """Engine objects a script imports from fiat2_spark or reaches by
    attribute access on an imported fiat2_spark module."""
    import ast
    import types

    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    ns = _file_namespace(path, repo, tree)
    modules = {k: v for k, v in ns.items() if isinstance(v, types.ModuleType)}
    roots = [v for v in ns.values() if not isinstance(v, types.ModuleType)]
    for node in ast.walk(tree):
        if isinstance(node, ast.Attribute):
            chain = []
            while isinstance(node, ast.Attribute):
                chain.append(node.attr)
                node = node.value
            if not (isinstance(node, ast.Name) and node.id in modules):
                continue
            obj = modules[node.id]
            for attr in reversed(chain):
                obj = getattr(obj, attr, None)
                if not isinstance(obj, types.ModuleType):
                    break
            if obj is not None and not isinstance(obj, types.ModuleType):
                roots.append(obj)
    return roots


def _reached(repo: str):
    """(defs, whole, reached): the engine's top-level definitions by
    module, the modules reached whole, and the labels
    `tools.fingerprints._reachable_sources` reaches from what runs."""
    import importlib
    import os

    from fiat2_spark import serving
    from fiat2_spark.session import get_spark
    from fiat2_spark.workloads import QUERIES
    from tools.fingerprints import _reachable_sources

    defs = _engine_defs(repo)
    roots = [*QUERIES.values(), serving.make_server, serving.main, get_spark]
    for mod, names in defs.items():
        if mod.startswith("fiat2_spark.workloads"):
            m = importlib.import_module(mod)
            roots += [getattr(m, n) for n in names]
    for d in ("examples", "perfbench"):
        for f in sorted(os.listdir(os.path.join(repo, d))):
            if f.endswith(".py"):
                roots += _script_roots(os.path.join(repo, d, f), repo)
    labels = [lbl for lbl, _ in _reachable_sources(*roots)]
    whole = {lbl.removeprefix("module:") for lbl in labels if lbl.startswith("module:")}
    return defs, whole, set(labels)


def test_every_engine_definition_is_reached():
    """Every top-level fiat2_spark function and class is reachable from
    what runs: the registered queries, every definition in `workloads/`
    (oracle builders run at import), `serving.make_server`/`main`,
    `get_spark`, and what `examples/` and `perfbench/` use. The closure
    is the one the rotation fingerprints hash
    (`tools.fingerprints._reachable_sources`). Code reached only by
    tests is unchecked by the gate and the benchmark: delete it with
    its tests, make a query reach it, or list it in ALLOW with a
    reason."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    defs, whole, reached = _reached(repo)
    unreached = sorted(
        f"{mod}.{n}"
        for mod, names in defs.items() if mod not in whole
        for n in names
        if f"{mod}.{n}" not in reached
        and not any(lbl.startswith(f"{mod}.{n}.") for lbl in reached)
    )
    assert sorted(set(unreached) - set(ALLOW)) == [], "unreached engine definitions"
    assert sorted(set(ALLOW) - set(unreached)) == [], "stale ALLOW entries"


# Defaulted parameters of reached definitions that no caller outside the
# tests sets to a non-default value, kept on purpose: deployment settings,
# and knobs a test sets (the reason names that test).
PARAM_ALLOW = {
    "fiat2_spark.session.get_spark(master)":
        "deployment setting: the cluster master",
    "fiat2_spark.session.get_spark(shuffle_partitions)":
        "deployment setting: shuffle width",
    "fiat2_spark.operators.dedup.boilerplate_remove(min_docs)":
        "test_cluster_ops.py::test_boilerplate_remove_threshold_and_order",
    "fiat2_spark.operators.dedup.boilerplate_remove(seg_len)":
        "test_pipeline_late_ops.py::test_dedup_family_tokenizer_threading",
    "fiat2_spark.operators.dedup.boilerplate_remove(tokenizer)":
        "test_pipeline_late_ops.py::test_dedup_family_tokenizer_threading",
    "fiat2_spark.operators.dedup.dup_clusters(max_iter)":
        "test_cluster_properties.py::test_dup_clusters_chain_diameter",
    "fiat2_spark.operators.dedup.minhash_dedup_pairs(n_bands)":
        "test_pipeline_late_ops.py::test_minhash_tokenizer_default_equals_explicit",
    "fiat2_spark.operators.dedup.ngram_jaccard_pairs(tokenizer)":
        "test_pipeline_late_ops.py::test_dedup_family_tokenizer_threading",
    "fiat2_spark.operators.dedup.semantic_dedup(pair_salt)":
        "test_cluster_properties.py::test_semantic_dedup_matches_python_model",
    "fiat2_spark.operators.dedup.semantic_dedup(q)":
        "test_cluster_properties.py::test_semantic_dedup_matches_python_model",
    "fiat2_spark.operators.dedup.simhash_dedup_pairs(tokenizer)":
        "test_pipeline_late_ops.py::test_dedup_family_tokenizer_threading",
    "fiat2_spark.operators.dedup.span_dedup_stats(seg_len)":
        "test_pipeline_late_ops.py::test_span_dedup_matches_python_model",
    "fiat2_spark.operators.dedup.span_dedup_stats(tokenizer)":
        "test_pipeline_late_ops.py::test_dedup_family_tokenizer_threading",
    "fiat2_spark.operators.dedup.substring_dedup_apply(chunk_tokens)":
        "test_cluster_ops.py::test_substring_dedup_apply_chunked_reassembly_exact",
    "fiat2_spark.operators.dedup.substring_dedup_apply(k)":
        "test_cluster_ops.py::test_substring_dedup_apply_agrees_with_stats",
    "fiat2_spark.operators.dedup.substring_dedup_stats(k)":
        "test_cluster_ops.py::test_substring_dedup_stats_hand_case",
    "fiat2_spark.operators.dedup.substring_dedup_stats(tokenizer)":
        "test_pipeline_late_ops.py::test_dedup_family_tokenizer_threading",
    "fiat2_spark.operators.multimodal.wav_encode(sample_rate)":
        "test_multimodal_codecs.py::test_wav_roundtrip",
    "fiat2_spark.operators.relational.global_row_number(n_buckets)":
        "test_plans.py::test_global_rownum_matches_window",
    "fiat2_spark.operators.relational.grouped_listagg(n_buckets)":
        "test_bucket_properties.py::test_grouped_listagg_matches_plain_concat",
    "fiat2_spark.operators.relational.grouped_percentiles(n_buckets)":
        "test_bucket_properties.py::test_grouped_percentiles_match_numpy",
    "fiat2_spark.operators.relational.grouped_rank_family(n_buckets)":
        "test_bucket_properties.py::test_grouped_rank_family_matches_plain_windows_prop",
    "fiat2_spark.operators.relational.grouped_row_number(n_buckets)":
        "test_bucket_properties.py::test_grouped_row_number_matches_plain_window",
    "fiat2_spark.operators.similarity.bm25_scores(b)":
        "test_pipeline_late_ops.py::test_bm25_matches_python_model",
    "fiat2_spark.operators.similarity.bm25_scores(k1)":
        "test_pipeline_late_ops.py::test_bm25_matches_python_model",
    "fiat2_spark.operators.text.bpe_learn(checkpoint_every)":
        "test_text_properties.py::test_bpe_learn_driver_matches_distributed",
    "fiat2_spark.operators.text.doremi_weights(vocab_size)":
        "test_text_properties.py::test_doremi_weights_match_python_model",
    "fiat2_spark.operators.text.doremi_weights_trajectory(rounds)":
        "test_text_properties.py::test_doremi_trajectory_matches_python_model",
    "fiat2_spark.operators.text.doremi_weights_trajectory(vocab_size)":
        "test_text_properties.py::test_doremi_trajectory_matches_python_model",
    "fiat2_spark.operators.text.dsir_importance(buckets)":
        "test_text_properties.py::test_dsir_scores_rank_target_like_docs_first",
    "fiat2_spark.operators.text.dsir_importance(k)":
        "test_text_properties.py::test_dsir_scores_rank_target_like_docs_first",
    "fiat2_spark.operators.text.gopher_rules(alpha_pattern)":
        "test_text_properties.py::test_gopher_rules_unicode_alpha_pairing",
    "fiat2_spark.operators.text.gopher_rules(min_words)":
        "test_text_properties.py::test_gopher_rules_each_rule_fires",
    "fiat2_spark.operators.text.gopher_rules(tokenizer)":
        "test_text_properties.py::test_gopher_rules_unicode_alpha_pairing",
    "fiat2_spark.operators.text.nb_classifier_scores(buckets)":
        "test_text_properties.py::test_nb_classifier_match_python_model",
    "fiat2_spark.operators.text.nb_classifier_scores(tokenizer)":
        "test_text_properties.py::test_nb_classifier_unicode_fit_score_pairing",
    "fiat2_spark.operators.text.perplexity_filter(vocab_size)":
        "test_text_properties.py::test_perplexity_filter_ranks_fluent_text_first",
    "fiat2_spark.operators.text.token_budget_select(n_buckets)":
        "test_text_properties.py::test_token_budget_select_matches_plain_window",
}


def _caller_files(repo: str):
    """(path, is_test) for every Python file that can call the engine."""
    import os

    for d in ("fiat2_spark", "tools", "examples", "perfbench", "tests"):
        for root, _, files in os.walk(os.path.join(repo, d)):
            for f in sorted(files):
                if f.endswith(".py"):
                    yield os.path.join(root, f), d == "tests" or f.startswith("test_")
    for f in ("bench.py", "__spark_entry__.py"):
        yield os.path.join(repo, f), False


def _file_namespace(path: str, repo: str, tree) -> dict:
    """Names a file can call engine code through: its module globals
    (engine modules only) plus every fiat2_spark import in it, also the
    function-local ones."""
    import ast
    import importlib
    import os

    ns: dict = {}
    rel = os.path.relpath(path, repo)
    if rel.startswith("fiat2_spark"):
        mod = rel[:-3].replace(os.sep, ".").removesuffix(".__init__")
        ns.update(vars(importlib.import_module(mod)))
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("fiat2_spark"):
            base = importlib.import_module(node.module)
            for a in node.names:
                if a.name == "*":
                    ns.update((k, v) for k, v in vars(base).items() if not k.startswith("_"))
                    continue
                obj = getattr(base, a.name, None)
                if obj is None:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                ns[a.asname or a.name] = obj
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("fiat2_spark"):
                    mod = importlib.import_module(a.name)
                    ns[a.asname or "fiat2_spark"] = (
                        mod if a.asname else importlib.import_module("fiat2_spark")
                    )
    return ns


_UNRESOLVED = object()


def _resolve(node, ns):
    """The object an ast.Name / attribute chain names in ``ns``, following
    attributes through modules and classes; _UNRESOLVED otherwise."""
    import ast
    import types

    parts = []
    while isinstance(node, ast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, ast.Name) or node.id not in ns:
        return _UNRESOLVED
    obj = ns[node.id]
    for p in reversed(parts):
        if not isinstance(obj, (types.ModuleType, type)):
            return _UNRESOLVED
        obj = getattr(obj, p, _UNRESOLVED)
        if obj is _UNRESOLVED:
            return _UNRESOLVED
    return obj


def _value(node, ns):
    """A call-site argument's value when it is a literal or a name that
    resolves; _UNRESOLVED for any computed expression."""
    import ast

    try:
        return ast.literal_eval(node)
    except (ValueError, TypeError, SyntaxError, MemoryError, RecursionError):
        return _resolve(node, ns)


def _is_default(value, default) -> bool:
    if value is _UNRESOLVED:
        return False
    if value is default:
        return True
    try:
        return type(value) is type(default) and bool(value == default)
    except Exception:  # noqa: BLE001 — incomparable values are not the default
        return False


def _defaulted(fn, bound: bool) -> list[tuple[str, int | None, object]]:
    """(name, positional index at the call site or None, default) for
    every defaulted parameter of ``fn``."""
    import inspect

    out, pos = [], 0
    for p in inspect.signature(fn).parameters.values():
        positional = p.kind in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
        if p.default is not p.empty:
            out.append((p.name, pos - bound if positional else None, p.default))
        pos += positional
    return out


def _parameter_scan(repo: str):
    """(params, setters): every defaulted parameter of a reached engine
    function or method, labelled "mod.qualname(param)", and for each the
    set of (file, is_test) that pass it a value that is not its default."""
    import ast
    import importlib
    import inspect
    import os

    defs, whole, reached = _reached(repo)

    # id(function) → its label; methods also by name, for calls on instances
    fns: dict[int, str] = {}
    methods: dict[str, list[tuple[str, object]]] = {}
    params: dict[str, None] = {}
    for mod, names in defs.items():
        m = importlib.import_module(mod)
        for n in names:
            if mod not in whole and f"{mod}.{n}" not in reached:
                continue
            obj = getattr(m, n)
            members = [(n, inspect.unwrap(obj), False)] if inspect.isfunction(obj) else []
            if inspect.isclass(obj):
                for attr, raw in vars(obj).items():
                    fn = getattr(raw, "__func__", raw)
                    # a dataclass's generated __init__ (no source file)
                    # takes the record's fields: a data format, not options
                    if (
                        inspect.isfunction(fn) and fn.__module__ == mod
                        and fn.__code__.co_filename == m.__file__
                    ):
                        members.append((f"{n}.{attr}", fn, not isinstance(raw, staticmethod)))
            for qual, fn, bound in members:
                fns[id(fn)] = f"{mod}.{qual}"
                if bound:
                    methods.setdefault(fn.__name__, []).append((f"{mod}.{qual}", fn))
                for p, _, _ in _defaulted(fn, False):
                    params[f"{mod}.{qual}({p})"] = None

    setters: dict[str, set] = {}
    for path, is_test in _caller_files(repo):
        with open(path, encoding="utf-8") as fh:
            tree = ast.parse(fh.read())
        ns = _file_namespace(path, repo, tree)
        rel = os.path.relpath(path, repo)
        for call in ast.walk(tree):
            if not isinstance(call, ast.Call):
                continue
            obj = _resolve(call.func, ns)
            if obj is _UNRESOLVED:
                # a method called on an instance: match by name, except
                # constructors, which engine code calls by class name
                if not isinstance(call.func, ast.Attribute) or call.func.attr == "__init__":
                    continue
                targets = [(lbl, fn, True) for lbl, fn in methods.get(call.func.attr, [])]
            elif inspect.isclass(obj):
                init = f"{obj.__module__}.{obj.__qualname__}.__init__"
                targets = [(lbl, fn, True) for lbl, fn in methods.get("__init__", []) if lbl == init]
            else:
                fn = inspect.unwrap(getattr(obj, "__func__", obj))
                lbl = fns.get(id(fn))
                targets = [(lbl, fn, hasattr(obj, "__self__"))] if lbl else []
            for lbl, fn, bound in targets:
                for p, idx, default in _defaulted(fn, bound):
                    hit = False
                    for j, a in enumerate(call.args):
                        if isinstance(a, ast.Starred):
                            hit |= idx is not None and j <= idx
                            break
                        if j == idx and not _is_default(_value(a, ns), default):
                            hit = True
                    for kw in call.keywords:
                        if kw.arg is None or (
                            kw.arg == p and not _is_default(_value(kw.value, ns), default)
                        ):
                            hit = True
                    if hit:
                        setters.setdefault(f"{lbl}({p})", set()).add((rel, is_test))
    return params, setters


def test_every_engine_parameter_is_set():
    """Every defaulted parameter of a reached engine definition is set,
    by position or keyword and to a value other than its default, by
    some caller outside the tests: a query, an oracle builder, the
    server, an example, a `perfbench/` file or a tool. A parameter only
    ever run at its default is a constant: inline it. Deployment
    settings and parameters only tests set go in PARAM_ALLOW with a
    reason."""
    import os

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    params, setters = _parameter_scan(repo)
    unset = sorted(
        p for p in params if not any(not t for _, t in setters.get(p, ()))
    )
    assert sorted(set(unset) - set(PARAM_ALLOW)) == [], "unset engine parameters"
    assert sorted(set(PARAM_ALLOW) - set(unset)) == [], "stale PARAM_ALLOW entries"


def test_api_index_is_current():
    """docs/API.md is what `tools/gen_api_index.py` prints for the
    current tree: a changed signature or docstring first line needs a
    regenerated index (`python tools/gen_api_index.py > docs/API.md`)."""
    import contextlib
    import io
    import os

    from tools.gen_api_index import main

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = io.StringIO()
    with contextlib.redirect_stdout(out):
        main()
    with open(os.path.join(repo, "docs", "API.md"), encoding="utf-8") as fh:
        assert out.getvalue() == fh.read(), "docs/API.md is stale: regenerate it"
