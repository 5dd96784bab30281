"""Function-level fingerprint closure (tools/fingerprints.py, VERDICT
r6 task 1): the rotation premise must delta EXACTLY the queries whose
transitively reachable code changed — editing an unreachable helper in
a shared module must NOT delta an unrelated query (the r5/r6
module-closure hash delta'd all ~170 on any core edit, degrading the
rotation premise to a prose audit), and editing a reached helper MUST.

Runs on synthetic modules (written to tmp_path, imported under a
fiat2_spark-prefixed name so _is_engine treats them as engine code)."""

from __future__ import annotations

import importlib
import linecache
import sys
import textwrap

from tools.fingerprints import fingerprint_fn

_V1 = """
from pyspark.sql import functions as F

def helper_used(x):
    return x + 1

def helper_unused(x):
    return x - 1

CONST_USED = 7
CONST_UNUSED = 9

def deep(x):
    return x * 2

def middle(x):
    return deep(x)

def query(x):
    return helper_used(x) + CONST_USED + middle(x)
"""

# helper_unused + CONST_UNUSED changed: UNREACHABLE from query
_V2 = _V1.replace("return x - 1", "return x - 99").replace(
    "CONST_UNUSED = 9", "CONST_UNUSED = 999"
)

# helper_used changed: reachable at depth 1
_V3 = _V1.replace("return x + 1", "return x + 2")

# deep changed: reachable only through middle (depth 2)
_V4 = _V1.replace("return x * 2", "return x * 3")

# CONST_USED changed: reachable plain-data constant
_V5 = _V1.replace("CONST_USED = 7", "CONST_USED = 8")

_MODNAME = "fiat2_spark_fpprobe"  # startswith('fiat2_spark') → engine


def _fp_of(tmp_path, src: str) -> str:
    p = tmp_path / f"{_MODNAME}.py"
    p.write_text(textwrap.dedent(src), encoding="utf-8")
    sys.path.insert(0, str(tmp_path))
    try:
        linecache.clearcache()
        if _MODNAME in sys.modules:
            mod = importlib.reload(sys.modules[_MODNAME])
        else:
            mod = importlib.import_module(_MODNAME)
        return fingerprint_fn(mod.query)
    finally:
        sys.path.remove(str(tmp_path))


def test_unreachable_helper_edit_does_not_delta(tmp_path):
    fp1 = _fp_of(tmp_path, _V1)
    fp2 = _fp_of(tmp_path, _V2)
    assert fp1 == fp2, "editing unreachable code must not delta the query"


def test_reachable_edits_delta(tmp_path):
    fp1 = _fp_of(tmp_path, _V1)
    assert _fp_of(tmp_path, _V3) != fp1, "direct helper edit must delta"
    assert _fp_of(tmp_path, _V4) != fp1, "helper-of-helper edit must delta"
    assert _fp_of(tmp_path, _V5) != fp1, "reached constant edit must delta"


_V_DEFAULT = """
def helper(x):
    return x + 1

def query(x, g=helper):
    return g(x)
"""


def test_default_value_function_is_reached(tmp_path):
    """A function used only as a parameter's default value is part of
    the closure: defaults are evaluated in the defining module, so the
    name is absent from the function's own co_names, yet the query runs
    it."""
    fp1 = _fp_of(tmp_path, _V_DEFAULT)
    assert _fp_of(tmp_path, _V_DEFAULT.replace("x + 1", "x + 2")) != fp1


def test_oracle_string_deltas():
    from fiat2_spark.workloads import QUERIES

    fn = next(iter(QUERIES.values()))
    assert fingerprint_fn(fn, "SELECT 1") != fingerprint_fn(fn, "SELECT 2")


def test_real_registry_reaches_engine_functions():
    """Spot-anchor on the real registry: dedup_minhash's closure holds
    the dedup.py operators it composes (function granularity, not the
    module file), and a pure-DataFrame query's closure does NOT include
    the AST compiler."""
    from fiat2_spark.session import get_spark
    from fiat2_spark.workloads import QUERIES
    from tools.fingerprints import _reachable_sources

    labels = {l for l, _ in _reachable_sources(QUERIES["dedup_minhash"], get_spark)}
    assert "fiat2_spark.operators.dedup.minhash_bands" in labels
    assert "fiat2_spark.operators.dedup.shingles" in labels
    assert not any("plans.compile" in l for l in labels)
    dsl_labels = {
        l for l, _ in _reachable_sources(QUERIES["dsl_comprehension"], get_spark)
    }
    assert any("plans.compile" in l for l in dsl_labels)
    # session bootstrap is in every premise
    assert "fiat2_spark.session.get_spark" in labels & dsl_labels


def test_fingerprint_independent_of_lazy_submodule_imports():
    """Regression (r7): `from fiat2_spark.operators import sketches`
    resolves via getattr on the package, which only works once the
    submodule is imported — so a query's fingerprint differed depending
    on whether it had EXECUTED in the fingerprinting process (the gate
    runs queries first; a fresh process doesn't). The resolver now
    imports the submodule explicitly: the lazily-imported operator
    functions must be in the closure without any execution."""
    from fiat2_spark.session import get_spark
    from fiat2_spark.workloads import QUERIES
    from tools.fingerprints import _reachable_sources

    labels = {l for l, _ in _reachable_sources(QUERIES["cms_tokens"], get_spark)}
    assert any("operators.sketches" in l for l in labels), sorted(labels)


_V6 = """
from dataclasses import dataclass

def impl(x):
    return x + 1

@dataclass(frozen=True)
class Handler:
    fn: object
    tag: str

H = Handler(impl, "h")

def query(x):
    return H.fn(x)
"""

# impl changed: reachable only THROUGH the dataclass field
_V7 = _V6.replace("return x + 1", "return x + 2")


def test_dataclass_instance_with_callable_field_is_stable(tmp_path):
    """A module-level dataclass instance whose field holds a callable
    must fingerprint identically across interpreter loads: repr() of
    such a field embeds an id()-based 0x address, so _render has to
    recurse over field values instead of trusting repr (ADVICE r7)."""
    fp1 = _fp_of(tmp_path, _V6)
    fp2 = _fp_of(tmp_path, _V6)  # reload → impl gets a new address
    assert fp1 == fp2, "dataclass-instance render must not embed object ids"


def test_dataclass_field_edit_deltas(tmp_path):
    """The callable behind the dataclass field is part of the reachable
    closure — editing it must delta the query."""
    fp1 = _fp_of(tmp_path, _V6)
    fp2 = _fp_of(tmp_path, _V7)
    assert fp1 != fp2
