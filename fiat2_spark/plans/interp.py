"""Command-layer interpreter — fiat2's imperative driver layer
(fiat2/src/fiat2/Language.v:210-217, Interpret.v:501-524) over the
engine's Gstore, `Store`.

Commands are driver-side orchestration: the store maps names to
DataFrames (tables) or Python values (scalars); expressions compile to
distributed plans via `compile.py`. CForeach runs the reference's
sequential per-row semantics (Interpret.v:516-523) via a driver-side
collect loop — EXCEPT the pure insert pattern
``t := OCons(f(x), t)``, which the engine rewrites to one bulk union
(`_foreach_bulk_insert`, the cons_to_* rewrite analog); batch-scale
stateful loops should use streaming.MaterializedView (SURVEY §4.3).
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from fiat2_spark.plans import ast as A
from fiat2_spark.plans import typecheck
from fiat2_spark.plans.compile import _AFoldVal, compile_expr, eval_value, is_table_expr


class Store:
    """The mutable store, fiat2's Gstore (Interpret.v:501-524; ``ELoc``
    reads one location, Language.v:123): name → DataFrame | Python
    value. DataFrames are immutable, so a CAssign rebinds the name
    wholesale, which is fiat2's semantics."""

    def __init__(self):
        self._m: dict[str, Any] = {}

    def get(self, name: str):
        if name not in self._m:
            raise KeyError(f"unbound store location {name!r}")
        return self._m[name]

    def assign(self, name: str, v) -> None:
        self._m[name] = v

    def remove(self, name: str) -> None:
        self._m.pop(name, None)

    def __contains__(self, name):
        return name in self._m

    def snapshot(self):
        return dict(self._m)


def _subst_scalar_locs(e: A.Expr, store: Store) -> A.Expr:
    """Substitute ``ELoc x`` where the store holds a DRIVER-SIDE value
    (scalar / option / record / dict / list — anything but a DataFrame)
    with its literal — Interpret.v's get_local over Gstore for scalar
    locations (Interpret.v:501-524 reads locations by value; only
    table-typed locations stay symbolic so compile_expr can plan them).
    Store values follow Spark collect() conventions (Row = record,
    dict = map), so the splice uses compile's ``_AFoldVal`` atom."""
    if isinstance(e, A.ELoc):
        if e.x in store and not isinstance(store.get(e.x), DataFrame):
            return A.EAtom(_AFoldVal(store.get(e.x)))
        return e
    return A.map_children(e, lambda c: _subst_scalar_locs(c, store))


def _eval(e: A.Expr, env: dict, store: Store, spark: SparkSession):
    e = _subst_scalar_locs(e, store)
    if is_table_expr(e, env, store):
        return compile_expr(e, env, store, spark)
    return eval_value(e, env, store, spark)


def static_types(store: Store, env: dict) -> tuple[dict, dict] | None:
    """The (Gstore, Genv) types of a live store and env: DataFrame
    schemas and Python value shapes. None when the env carries a Column
    binding (an internal compile context — no static type is
    recoverable)."""
    def ty(v):
        if isinstance(v, DataFrame):
            return typecheck.schema_type(v)
        return typecheck.type_of_value(v)

    if any(b[0] not in ("df", "py") for b in env.values()):
        return None
    return (
        {k: ty(v) for k, v in store.snapshot().items()},
        {x: ty(b[1]) for x, b in env.items()},
    )


def run_command(c: A.Command, store: Store, env: dict, spark: SparkSession) -> Store:
    """Big-step execution of a command against the store
    (Interpret.v:501-524). The whole command is statically typechecked
    first — an ill-typed program raises TypeError2 before any Spark job
    is launched (the reference's command typecheck,
    TypeSystem.v:1393-1420). Skipped when the env has no static types
    (see `static_types`)."""
    types = static_types(store, env)
    if types is not None:
        typecheck.typecheck_command(c, *types)
    return _run(c, store, env, spark)


def _run(c: A.Command, store: Store, env: dict, spark: SparkSession) -> Store:
    match c:
        case A.CSkip():
            return store
        case A.CSeq(c1, c2):
            _run(c1, store, env, spark)
            return _run(c2, store, env, spark)
        case A.CLet(e, x, body):
            v = _eval(e, env, store, spark)
            binding = ("df", v) if isinstance(v, DataFrame) else ("py", v)
            return _run(body, store, {**env, x: binding}, spark)
        case A.CLetMut(e, x, body):
            # bind x in the store for the extent of body, then restore
            # (Interpret.v:510-513)
            saved = store.get(x) if x in store else _MISSING
            store.assign(x, _eval(e, env, store, spark))
            try:
                return _run(body, store, env, spark)
            finally:
                if saved is _MISSING:
                    store.remove(x)
                else:
                    store.assign(x, saved)
        case A.CAssign(x, e):
            store.assign(x, _eval(e, env, store, spark))
            return store
        case A.CIf(e, c1, c2):
            cond = eval_value(_subst_scalar_locs(e, store), env, store, spark)
            return _run(c1 if cond else c2, store, env, spark)
        case A.CForeach(e, x, body):
            v = _eval(e, env, store, spark)
            if isinstance(v, DataFrame):
                if _foreach_bulk_insert(x, body, env, store, spark, v):
                    return store
                rows = [
                    r["value"] if v.columns == ["value"] else r.asDict(recursive=True)
                    for r in v.collect()
                ]
            else:
                rows = list(v)
            for row in rows:
                _run(body, store, {**env, x: ("py", row)}, spark)
            return store
    raise TypeError(f"unknown command {c!r}")


def _foreach_bulk_insert(x, body, env, store, spark, v: DataFrame) -> bool:
    """The cons_to_* bulk rewrite: ``CForeach x in T: t := OCons(f(x), t)``
    with a pure per-row ``f`` executes as ONE union of the projected
    iterated table instead of a driver-side collect loop — the engine's
    analog of the reference's cons_to_add / cons_to_insert head rewrites
    (SumAgg.v:150-156, DictIndexImpl.v:571-588, applied by
    fold_command_with_globals in IndexTransf.v), which likewise replace
    per-row insert work with batch algebra when the body is the pure
    insert pattern. Sound because engine tables are bags (SURVEY §2.3):
    OCons prepend order is only observable at an explicit ESort, so n
    prepends ≡ one union. Applies only when ``f`` never reads the target
    table (a self-referential body still runs the sequential reference
    semantics). Returns True when the rewrite fired."""
    e_row = A.insert_pattern(body)
    if e_row is None or body.x not in store:
        return False
    t = body.x
    cur = store.get(t)
    if not isinstance(cur, DataFrame):
        return False
    import uuid

    tmp = f"__foreach_{uuid.uuid4().hex[:8]}"
    store.assign(tmp, v)
    try:
        proj = compile_expr(
            A.EProj("LikeBag", A.ELoc(tmp), x, e_row), env, store, spark
        )
    except Exception:
        return False
    finally:
        store.remove(tmp)
    if proj.columns != cur.columns:
        return False  # shape mismatch — let the loop's semantics decide
    store.assign(t, cur.unionByName(proj))
    return True


_MISSING = object()
