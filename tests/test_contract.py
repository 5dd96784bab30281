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


def _script_roots(path: str) -> list:
    """Engine objects a script imports from fiat2_spark or reaches by
    attribute access on an imported fiat2_spark module."""
    import ast
    import importlib
    import types

    with open(path, encoding="utf-8") as fh:
        tree = ast.parse(fh.read())
    roots, modules = [], {}
    for node in ast.walk(tree):
        if isinstance(node, ast.ImportFrom) and (node.module or "").startswith("fiat2_spark"):
            base = importlib.import_module(node.module)
            for a in node.names:
                obj = getattr(base, a.name, None)
                if obj is None:
                    obj = importlib.import_module(f"{node.module}.{a.name}")
                if isinstance(obj, types.ModuleType):
                    modules[a.asname or a.name] = obj
                else:
                    roots.append(obj)
        elif isinstance(node, ast.Import):
            for a in node.names:
                if a.name.startswith("fiat2_spark"):
                    mod = importlib.import_module(a.name)
                    if a.asname:
                        modules[a.asname] = mod
                    else:
                        modules["fiat2_spark"] = importlib.import_module("fiat2_spark")
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
    import importlib
    import os

    from fiat2_spark import serving
    from fiat2_spark.session import get_spark
    from fiat2_spark.workloads import QUERIES
    from tools.fingerprints import _reachable_sources

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    defs = _engine_defs(repo)
    roots = [*QUERIES.values(), serving.make_server, serving.main, get_spark]
    for mod, names in defs.items():
        if mod.startswith("fiat2_spark.workloads"):
            m = importlib.import_module(mod)
            roots += [getattr(m, n) for n in names]
    for d in ("examples", "perfbench"):
        for f in sorted(os.listdir(os.path.join(repo, d))):
            if f.endswith(".py"):
                roots += _script_roots(os.path.join(repo, d, f))

    labels = [lbl for lbl, _ in _reachable_sources(*roots)]
    whole = {lbl.removeprefix("module:") for lbl in labels if lbl.startswith("module:")}
    reached = set(labels)
    unreached = sorted(
        f"{mod}.{n}"
        for mod, names in defs.items() if mod not in whole
        for n in names
        if f"{mod}.{n}" not in reached
        and not any(lbl.startswith(f"{mod}.{n}.") for lbl in reached)
    )
    assert sorted(set(unreached) - set(ALLOW)) == [], "unreached engine definitions"
    assert sorted(set(ALLOW) - set(unreached)) == [], "stale ALLOW entries"
