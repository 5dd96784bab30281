#!/usr/bin/env python
"""Per-query code fingerprints — the machine-checked window-rotation
premise.

Round 4 showed that "query block unchanged" is too weak a premise for
keeping an old CORRECTNESS row: `dsl_command_pipeline`'s @q block was
untouched while `plans/interp.py` gained a rewrite that fires on exactly
its loop. Rounds 5-6 hashed the whole transitive MODULE import closure,
which is sound but hopelessly coarse: `plans/compile.py` sits in every
workload module's closure, so ONE core edit deltas all ~170 queries and
the "these deltas are unreachable" argument degenerated into a prose
audit comment (VERDICT r6 'missing' #1). Round 7 makes the premise
function-level, the analog of the reference's proof-closure check
(`Print Assumptions`, PipelineEx.v:241-242):

``reachable`` = sha256 over the query's transitively REACHABLE source:
  * the @q function's own source + its oracle SQL (oracle strings are
    materialized, so SQL-building helpers are covered by value),
  * every fiat2_spark function/class the code can reach, at FUNCTION
    granularity, found by resolving the source AST's names against the
    defining module's namespace: bare names, dotted chains
    (``dedup.minhash_lsh`` → the function, not the whole module),
    function-local ``from fiat2_spark.x import y``, names referenced by
    nested lambdas/comprehensions, class bodies whole (methods
    recursed), plain-data constants rendered deterministically
    (callables inside containers are rendered by qualname AND enqueued
    — `repr` of a dict of functions would embed memory addresses),
  * a fiat2_spark module referenced as a value (passed around, not
    attribute-accessed) falls back to its whole file — conservative,
  * `session.get_spark`'s own closure, in every premise: the session
    confs (AQE, bloom gate, tz, ANSI off) shape every query's behavior
    but are invisible from @q bodies.

``modules`` = the r5/r6 whole-module-import-closure hash, kept as the
conservative fallback bit (if the AST resolution ever misses an edge,
the coarse bit still catches the module having changed — a reviewer can
demand the stronger premise for suspicious cases).

Rotation rule: a query may keep a prior round's green CORRECTNESS row
iff its ``reachable`` hash equals the one committed with that round's
gate (FINGERPRINTS_r0N.json; algorithm changes require a clean-worktree
REHASH baseline of the row-earning HEAD — r7 compares against
FINGERPRINTS_r06_rehash.json).

Usage:
  python tools/fingerprints.py                       # JSON to stdout
  python tools/fingerprints.py --compare OLD.json    # premise check:
      prints the queries whose reachable hash differs (must-rotate-in)
      and the count whose premise held. Handles both the flat r5/r6
      format and the r7 two-hash format.
"""

from __future__ import annotations

import ast as pyast
import dataclasses
import hashlib
import inspect
import json
import os
import sys
import textwrap
import types

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# -- module-closure fallback bit (r5/r6 algorithm) ---------------------------

def _module_path(modname: str) -> str | None:
    p = os.path.join(REPO, *modname.split(".")) + ".py"
    if os.path.exists(p):
        return p
    p = os.path.join(REPO, *modname.split("."), "__init__.py")
    return p if os.path.exists(p) else None


def _imports_of(path: str) -> set[str]:
    """fiat2_spark modules imported anywhere in this file — module-level
    AND function-local, parsed from the AST (a line regex misses
    parenthesized multiline import lists, which silently kept stale rows
    valid for queries importing `plans.sugar` that way)."""
    with open(path, encoding="utf-8") as fh:
        tree = pyast.parse(fh.read())
    out: set[str] = set()
    for node in pyast.walk(tree):
        if isinstance(node, pyast.ImportFrom):
            if node.module and node.module.startswith("fiat2_spark"):
                out.add(node.module)
                # `from fiat2_spark.operators import dedup as D` names
                # the submodule in the import list — resolve both forms
                for a in node.names:
                    cand = f"{node.module}.{a.name}"
                    if _module_path(cand):
                        out.add(cand)
        elif isinstance(node, pyast.Import):
            for a in node.names:
                if a.name.startswith("fiat2_spark"):
                    out.add(a.name)
    return {m for m in out if _module_path(m)}


def _closure(modname: str) -> set[str]:
    seen: set[str] = set()
    frontier = [modname]
    while frontier:
        m = frontier.pop()
        if m in seen:
            continue
        seen.add(m)
        frontier.extend(_imports_of(_module_path(m)) - seen)
    return seen


def _file_sha(path: str) -> str:
    with open(path, "rb") as fh:
        return hashlib.sha256(fh.read()).hexdigest()


# -- function-level reachable closure ----------------------------------------

_MISSING = object()


def _is_engine(obj) -> bool:
    m = getattr(obj, "__module__", None)
    return isinstance(m, str) and m.startswith("fiat2_spark")


def _label(obj) -> str:
    return f"{obj.__module__}.{getattr(obj, '__qualname__', getattr(obj, '__name__', '?'))}"


def _render(obj, enqueue) -> str:
    """Deterministic rendering of a module-level value. Callables inside
    containers are rendered by qualname and enqueued for source hashing
    (plain repr would embed id()-based addresses)."""
    if isinstance(obj, str):
        # worktree re-fingerprints must not diverge on absolute paths
        # (__file__-derived constants): normalize the repo root away
        return repr(obj.replace(REPO, "<REPO>"))
    if obj is None or isinstance(obj, (bytes, int, float, bool)):
        return repr(obj)
    if isinstance(obj, (list, tuple)):
        kind = "list" if isinstance(obj, list) else "tuple"
        return f"{kind}[" + ",".join(_render(v, enqueue) for v in obj) + "]"
    if isinstance(obj, (set, frozenset)):
        return "set[" + ",".join(sorted(_render(v, enqueue) for v in obj)) + "]"
    if isinstance(obj, dict):
        items = sorted(
            (_render(k, enqueue), _render(v, enqueue)) for k, v in obj.items()
        )
        return "dict{" + ",".join(f"{k}:{v}" for k, v in items) + "}"
    if isinstance(obj, type) or callable(obj):
        if _is_engine(obj):
            enqueue(obj)
            return f"<engine:{_label(obj)}>"
        return f"<ext:{getattr(obj, '__module__', '?')}.{getattr(obj, '__qualname__', type(obj).__qualname__)}>"
    if dataclasses.is_dataclass(obj):
        # recurse over field VALUES rather than trusting repr(): a field
        # holding a callable/module/non-dataclass object embeds an
        # id()-based address in repr, which would make the committed
        # fingerprint unstable across processes
        if _is_engine(type(obj)):
            enqueue(type(obj))
        fields = ",".join(
            f"{f.name}={_render(getattr(obj, f.name), enqueue)}"
            for f in dataclasses.fields(obj)
        )
        return f"dc:{type(obj).__qualname__}({fields})"
    t = type(obj)
    if _is_engine(t):
        enqueue(t)
        return f"<instance:{_label(t)}>"
    return f"<opaque:{t.__module__}.{t.__qualname__}>"


def _resolve_chain(node, mod, aliases):
    """Resolve an ast.Name/ast.Attribute chain against function-local
    import aliases, then module globals, following attributes only while
    the prefix resolves to modules (so ``plans.compile.compile_expr``
    lands on the function; an attribute of a class or instance stops at
    that object — its class source hash covers the member). Returns
    (found, obj)."""
    parts = []
    while isinstance(node, pyast.Attribute):
        parts.append(node.attr)
        node = node.value
    if not isinstance(node, pyast.Name):
        return False, None
    parts.append(node.id)
    parts.reverse()
    cur = aliases.get(parts[0], _MISSING)
    if cur is _MISSING:
        cur = getattr(mod, parts[0], _MISSING)
    if cur is _MISSING:
        return False, None
    for p in parts[1:]:
        if not isinstance(cur, types.ModuleType):
            return True, cur
        nxt = getattr(cur, p, _MISSING)
        if nxt is _MISSING:
            return True, cur
        cur = nxt
    return True, cur


def _source_of(obj) -> str | None:
    try:
        return inspect.getsource(inspect.unwrap(obj))
    except (OSError, TypeError):
        return None


def _co_names(code) -> set[str]:
    names = set(code.co_names)
    for c in code.co_consts:
        if isinstance(c, types.CodeType):
            names |= _co_names(c)
    return names


def _global_names(obj) -> set[str] | None:
    """The names an object's code can reference as GLOBALS (co_names,
    nested code objects included) — the filter for the bare-Name
    fallback. AST Name nodes include locals, and a local that shadows a
    module attr would leak it into the closure (found live: a local
    ``q`` in one query resolved to the @q registration decorator,
    reaching the whole module registry). co_names excludes locals by
    Python's own scoping; attribute chains and imports are not
    filtered. None = no code object derivable → no filter."""
    if isinstance(obj, type):
        out: set[str] = set()
        for v in vars(obj).values():
            f = getattr(v, "__func__", v)
            code = getattr(f, "__code__", None)
            if code is not None:
                out |= _co_names(code)
        return out or None
    code = getattr(inspect.unwrap(obj), "__code__", None) if callable(obj) else None
    return _co_names(code) if code is not None else None


def _default_names(tree) -> set[int]:
    """ids of the Name nodes in the default values of the parsed
    function (or of a parsed class's methods). Defaults are evaluated in
    the defining scope, so their names are not in the function's own
    ``co_names`` — ``def f(x, tokenizer=tokens)`` reaches ``tokens``."""
    top = tree.body[0] if tree.body else None
    if isinstance(top, pyast.ClassDef):
        fns = [n for n in top.body if isinstance(n, (pyast.FunctionDef, pyast.AsyncFunctionDef))]
    elif isinstance(top, (pyast.FunctionDef, pyast.AsyncFunctionDef)):
        fns = [top]
    else:
        return set()
    return {
        id(n)
        for f in fns
        for d in [*f.args.defaults, *f.args.kw_defaults]
        if d is not None
        for n in pyast.walk(d)
        if isinstance(n, pyast.Name)
    }


def _names_in(src: str, mod, allowed: set[str] | None = None):
    """Yield every object a source block can reach in ``mod``'s
    namespace: resolved attribute chains, bare names that are not a
    chain's base (filtered to ``allowed`` — the code object's true
    global names — when available, except names in default values),
    and function-local fiat2_spark imports."""
    try:
        tree = pyast.parse(textwrap.dedent(src))
    except SyntaxError:
        return
    in_defaults = _default_names(tree)
    # decorators are import-time registration, not query-runtime code:
    # walking @q would reach the module's QUERIES/ORACLES registries,
    # whose VALUES are every query in the module — collapsing the
    # closure to module granularity. The decorator LINE is still hashed
    # as part of the function's source text; only name-walking skips it.
    for node in pyast.walk(tree):
        if isinstance(node, (pyast.FunctionDef, pyast.AsyncFunctionDef, pyast.ClassDef)):
            node.decorator_list = []
    # function-local imports: record aliases so attribute chains over
    # locally-imported modules resolve at FUNCTION granularity; yield
    # imported functions/classes directly (they live in locals, not the
    # module namespace). Imported MODULES are not yielded — importing a
    # module reaches nothing by itself; its members are reached through
    # the attribute chains below (yielding it would whole-file-hash it,
    # collapsing the closure back to module granularity).
    aliases: dict[str, object] = {}
    for node in pyast.walk(tree):
        if isinstance(node, pyast.ImportFrom) and node.module and node.module.startswith("fiat2_spark"):
            try:
                sub = __import__(node.module, fromlist=["_"])
            except ImportError:
                continue
            for a in node.names:
                got = getattr(sub, a.name, _MISSING)
                if got is _MISSING:
                    # `from pkg import submodule`: the attribute only
                    # exists once the submodule has been imported — a
                    # fingerprint must not depend on whether the query
                    # RAN first in this process (found live: cms/hll
                    # hashes differed pre/post execution)
                    try:
                        got = __import__(f"{node.module}.{a.name}", fromlist=["_"])
                    except ImportError:
                        continue
                aliases[a.asname or a.name] = got
                if not isinstance(got, types.ModuleType):
                    yield got
        elif isinstance(node, pyast.Import):
            for a in node.names:
                if a.name.startswith("fiat2_spark"):
                    try:
                        top = __import__(a.name, fromlist=["_"])
                    except ImportError:
                        continue
                    if a.asname:
                        aliases[a.asname] = top
                    else:
                        aliases[a.name.split(".")[0]] = sys.modules.get(
                            a.name.split(".")[0], top
                        )
    chain_bases: set[int] = set()
    for node in pyast.walk(tree):
        if isinstance(node, pyast.Attribute):
            base = node.value
            while isinstance(base, pyast.Attribute):
                base = base.value
            if isinstance(base, pyast.Name):
                chain_bases.add(id(base))
            found, obj = _resolve_chain(node, mod, aliases)
            if found:
                yield obj
    for node in pyast.walk(tree):
        # dunders (__file__, __name__, …) are interpreter-supplied and
        # path-dependent, not code — a worktree re-fingerprint must not
        # diverge on them
        if (
            isinstance(node, pyast.Name)
            and id(node) not in chain_bases
            and not (node.id.startswith("__") and node.id.endswith("__"))
            and (allowed is None or node.id in allowed or id(node) in in_defaults)
        ):
            got = aliases.get(node.id, _MISSING)
            if got is _MISSING:
                got = getattr(mod, node.id, _MISSING)
            if got is not _MISSING:
                yield got


def _reachable_sources(*roots) -> list[tuple[str, str]]:
    """(label, text) for everything transitively reachable from the
    root callables, function-level. Sorted for hash stability."""
    seen: dict[str, str] = {}
    pending: list = list(roots)
    whole_modules: set[str] = set()

    def enqueue(obj):
        pending.append(obj)

    while pending:
        obj = pending.pop()
        if isinstance(obj, types.ModuleType):
            # a module used as a VALUE (not attribute-accessed): hash it
            # whole — conservative
            if obj.__name__.startswith("fiat2_spark") and obj.__name__ not in whole_modules:
                whole_modules.add(obj.__name__)
            continue
        if isinstance(obj, type) or callable(obj):
            if not _is_engine(obj):
                continue
            lbl = _label(obj)
            if lbl in seen:
                continue
            src = _source_of(obj)
            if src is None:
                seen[lbl] = f"<no-source:{lbl}>"
                continue
            seen[lbl] = src
            mod = sys.modules.get(obj.__module__)
            if mod is not None:
                for sub in _names_in(src, mod, _global_names(obj)):
                    pending.append(sub)
            continue
        # data values reached directly (module-level constants resolved
        # from an AST name): rendered, engine callables inside enqueued
        lbl = f"value:{_render(obj, enqueue)}"
        seen.setdefault(lbl, "")
    for m in sorted(whole_modules):
        p = _module_path(m)
        if p:
            seen[f"module:{m}"] = _file_sha(p)
    return sorted(seen.items())


def fingerprint_fn(fn, oracle: str = "", extra_roots: tuple = ()) -> str:
    """The reachable-closure hash for one query function."""
    h = hashlib.sha256()
    h.update(inspect.getsource(fn).encode())
    h.update(oracle.encode())
    for lbl, text in _reachable_sources(fn, *extra_roots):
        h.update(f"reach:{lbl}=".encode())
        h.update(text.encode())
        h.update(b"\n")
    return h.hexdigest()


def fingerprints() -> dict[str, dict[str, str]]:
    from fiat2_spark.session import get_spark
    from fiat2_spark.workloads import ORACLES, QUERIES

    module_sha = {}
    closures: dict[str, list[str]] = {}
    out = {}
    for name, fn in QUERIES.items():
        defmod = fn.__module__
        if defmod not in closures:
            deps = sorted((_closure(defmod) | {"fiat2_spark.session"}) - {defmod})
            closures[defmod] = deps
            for d in deps:
                if d not in module_sha:
                    module_sha[d] = _file_sha(_module_path(d))
        hm = hashlib.sha256()
        hm.update(inspect.getsource(fn).encode())
        hm.update(ORACLES.get(name, "").encode())
        for d in closures[defmod]:
            hm.update(f"{d}={module_sha[d]}\n".encode())
        out[name] = {
            "reachable": fingerprint_fn(fn, ORACLES.get(name, ""), (get_spark,)),
            "modules": hm.hexdigest(),
        }
    return out


def _reachable_of(entry) -> str:
    """Premise hash from either format: r7 dict or r5/r6 flat string
    (flat strings are module-closure hashes — never equal to a
    reachable hash, so cross-format compares report 'changed', which is
    the conservative direction)."""
    if isinstance(entry, dict):
        return entry.get("reachable", "")
    return entry or ""


def compare(old: dict, cur: dict) -> dict:
    changed = sorted(
        k for k in cur if _reachable_of(old.get(k)) != _reachable_of(cur[k])
    )
    held = sorted(k for k in cur if k not in changed and k in old)
    new = sorted(k for k in cur if k not in old)
    return {"changed": changed, "new": new, "held_count": len(held)}


if __name__ == "__main__":
    cur = fingerprints()
    if len(sys.argv) >= 3 and sys.argv[1] == "--compare":
        with open(sys.argv[2], encoding="utf-8") as fh:
            old = json.load(fh)
        rep = compare(old, cur)
        print(json.dumps(rep, indent=1))
    else:
        print(json.dumps(cur, indent=1, sort_keys=True))
