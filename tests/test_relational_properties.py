"""Property-based differential testing of the RELATIONAL compiler
nodes (VERDICT r5 task 2): random programs built from EJoin /
EFlatmap(+guard) / EFilter / EProj / ESort / EBagOf / ESetOf /
EACFold / EACIFold / EFold over tiny inline tables, run through
compile_expr (→ Catalyst plans: hash joins from flatmap-guard
recognition, filter/project pushdown) and through a direct Python
evaluator of the reference's comprehension semantics
(ToPython.v:86-190 — the same naive-oracle pattern every Ex_*.v proof
uses for whole-program equivalence, e.g. Ex_Employee.v:85-95). This is
where a bug in the compiler's join recognition
(plans/compile.py::_compile_flatmap) would hide: the fixed-query gate
only exercises the shapes its authors thought to write.
"""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fiat2_spark.plans import ast as A
from fiat2_spark.plans.compile import compile_expr, eval_value
from fiat2_spark.plans.interp import Store

# small with duplicate keys (joins must multiply duplicates correctly)
# and a key (9) present on only one side (dangling rows must drop)
T1 = [(1, 10), (1, 11), (2, 20), (3, 30), (3, 30), (9, 90)]
T2 = [(1, 5), (2, 6), (2, 7), (3, 8), (4, 9)]
T1_ROWS = [{"a": a, "b": b} for a, b in T1]
T2_ROWS = [{"k": k, "c": c} for k, c in T2]


def _store(spark) -> Store:
    st_ = Store()
    st_.assign("t1", spark.createDataFrame(T1, "a long, b long"))
    st_.assign("t2", spark.createDataFrame(T2, "k long, c long"))
    return st_


# -- Python evaluator of the reference comprehension semantics --------------


def ev(e: A.Expr, env: dict):
    """ToPython.v:86-190 semantics over Python lists-of-dicts; records
    are dicts, options are None-or-value, collections are lists whose
    canonical (bag/set) forms are sorted(-deduped) tuples."""

    def rows_key(r):
        return tuple(sorted(r.items())) if isinstance(r, dict) else (r,)

    def retag(v, tag):
        if tag == "LikeSet":
            out, seen = [], set()
            for r in sorted(v, key=rows_key):
                k = rows_key(r)
                if k not in seen:
                    seen.add(k)
                    out.append(r)
            return out
        if tag == "LikeBag":
            return sorted(v, key=rows_key)
        return v

    match e:
        case A.ELoc("t1"):
            return list(T1_ROWS)
        case A.ELoc("t2"):
            return list(T2_ROWS)
        case A.EVar(x):
            return env[x]
        case A.EAtom(A.AInt(v)):
            return v
        case A.EAtom(A.ANone(_)):
            return None
        case A.EAtom(a) if isinstance(a, (A.ANil, A.AEmptyBag, A.AEmptySet)):
            return []
        case A.EAccess(base, f):
            return ev(base, env)[f]
        case A.ERecord(fields):
            return {n: ev(fe, env) for n, fe in fields}
        case A.EIf(p, e1, e2):
            return ev(e1, env) if ev(p, env) else ev(e2, env)
        case A.ELet(e1, x, e2):
            return ev(e2, {**env, x: ev(e1, env)})
        case A.EUnop("ONot", e1):
            return not ev(e1, env)
        case A.EUnop("OLength", e1):
            return len(ev(e1, env))
        case A.EUnop("OSome", e1):
            return ev(e1, env)
        case A.EBinop("OCons", e1, e2):
            return [ev(e1, env)] + ev(e2, env)
        case A.EBinop("OConcat", e1, e2):
            return ev(e1, env) + ev(e2, env)
        case A.EBinop(op, e1, e2):
            v1, v2 = ev(e1, env), ev(e2, env)
            match op:
                case "OPlus":
                    return v1 + v2
                case "OMinus":
                    return v1 - v2
                case "OTimes":
                    return v1 * v2
                case "OLess":
                    return v1 < v2
                case "OEq":
                    return v1 == v2
                case "OAnd":
                    return v1 and v2
                case "OOr":
                    return v1 or v2
        case A.EFlatmap(tag, e1, x, e2):
            out = []
            for r in ev(e1, env):
                out.extend(ev(e2, {**env, x: r}))
            return retag(out, tag)
        case A.EFilter(tag, l, x, p):
            return retag([r for r in ev(l, env) if ev(p, {**env, x: r})], tag)
        case A.EProj(tag, l, x, r):
            return retag([ev(r, {**env, x: row}) for row in ev(l, env)], tag)
        case A.EJoin(tag, l1, l2, x, y, p, r):
            out = []
            for vx in ev(l1, env):
                for vy in ev(l2, env):
                    e2 = {**env, x: vx, y: vy}
                    if ev(p, e2):
                        out.append(ev(r, e2))
            return retag(out, tag)
        case A.ESort(tag, l):
            return retag(ev(l, env), "LikeSet" if tag == "LikeSet" else "LikeBag")
        case A.EBagOf(l):
            return retag(ev(l, env), "LikeBag")
        case A.ESetOf(l):
            return retag(ev(l, env), "LikeSet")
        case A.EACFold(ag, e1):
            v = ev(e1, env)
            return len(v) if ag == "AGCount" else sum(v)
        case A.EACIFold(ag, e1):
            v = ev(e1, env)
            if not v:
                return None
            return min(v) if ag == "AGMin" else max(v)
        case A.EFold(e1, e2, x, acc, e3):
            # right fold over canonical order (Interpret.v:313-319 via
            # compile's sort_array + reverse)
            v = sorted(ev(e1, env), key=lambda r: tuple(sorted(r.items())) if isinstance(r, dict) else (r,))
            out = ev(e2, env)
            for item in reversed(v):
                out = ev(e3, {**env, x: item, acc: out})
            return out
    raise AssertionError(f"unhandled {e}")


# -- generators -------------------------------------------------------------

_T1F = st.sampled_from(["a", "b"])
_T2F = st.sampled_from(["k", "c"])


def _scalar(var, fields):
    return st.one_of(
        st.tuples(st.just(var), fields).map(lambda t: A.EAccess(A.EVar(t[0]), t[1])),
        st.integers(-5, 30).map(lambda v: A.EAtom(A.AInt(v))),
    )


def _pred_xy():
    """Join predicates: always an equi conjunct (so the compiler's
    equi-extraction has something to find), optionally AND a theta
    comparison — exercising both the hash-join and residual-filter
    paths."""
    equi = st.just(
        A.EBinop("OEq", A.EAccess(A.EVar("x"), "a"), A.EAccess(A.EVar("y"), "k"))
    )
    theta = st.tuples(
        st.sampled_from(["OLess", "OEq"]), _scalar("x", _T1F), _scalar("y", _T2F)
    ).map(lambda t: A.EBinop(t[0], t[1], t[2]))
    both = st.tuples(equi, theta).map(lambda t: A.EBinop("OAnd", t[0], t[1]))
    return st.one_of(equi, both, theta)


def _out_record():
    return st.tuples(_scalar("x", _T1F), _scalar("y", _T2F)).map(
        lambda t: A.ERecord((("u", t[0]), ("v", t[1])))
    )


_NIL = A.EAtom(A.ANil(A.TRecord((("u", A.TInt()), ("v", A.TInt())))))


def _rel_program():
    """A random relational program over t1 ⋈ t2: either the explicit
    EJoin node or the nested flatmap-guard comprehension the reference's
    notation produces (which compile recognizes as a θ-join), optionally
    re-tagged by ESort/EBagOf/ESetOf."""
    join = st.tuples(_pred_xy(), _out_record()).map(
        lambda t: A.EJoin("LikeBag", A.ELoc("t1"), A.ELoc("t2"), "x", "y", t[0], t[1])
    )
    # mixed inner/outer tags: an inner LikeSet dedupes per OUTER
    # binding (found by the r6 advisor: the join recognizers discarded
    # inner tags entirely — a LikeSet-tagged inner comprehension kept
    # join duplicates)
    _tags = st.sampled_from(["LikeBag", "LikeSet", "LikeList"])
    flat = st.tuples(_pred_xy(), _out_record(), _tags, _tags).map(
        lambda t: A.EFlatmap(
            t[2],
            A.ELoc("t1"),
            "x",
            A.EFlatmap(
                t[3],
                A.ELoc("t2"),
                "y",
                A.EIf(t[0], A.EBinop("OCons", t[1], _NIL), _NIL),
            ),
        )
    )
    guarded_single = st.tuples(
        st.tuples(st.sampled_from(["OLess", "OEq"]), _scalar("x", _T1F), _scalar("x", _T1F)).map(
            lambda t: A.EBinop(t[0], t[1], t[2])
        ),
        _scalar("x", _T1F),
    ).map(
        lambda t: A.EFlatmap(
            "LikeBag",
            A.ELoc("t1"),
            "x",
            A.EIf(
                t[0],
                A.EBinop(
                    "OCons",
                    A.ERecord((("u", t[1]), ("v", A.EAtom(A.AInt(0))))),
                    _NIL,
                ),
                _NIL,
            ),
        )
    )
    # three-table chained comprehension (t1 ⋈ t2 ⋈ t1 self): the
    # deepest shape the reference's notation produces (Ex_Triangle.v) —
    # exercises nested join recognition + the residual-theta fallback
    _NIL3 = A.EAtom(A.ANil(A.TRecord((("u", A.TInt()), ("v", A.TInt()), ("w", A.TInt())))))
    triple = st.tuples(
        st.sampled_from(["OLess", "OEq"]), _scalar("z", _T1F), _tags, _tags
    ).map(
        lambda t: A.EFlatmap(
            "LikeBag",
            A.ELoc("t1"),
            "x",
            A.EFlatmap(
                t[2],
                A.ELoc("t2"),
                "y",
                A.EFlatmap(
                    t[3],
                    A.ELoc("t1"),
                    "z",
                    A.EIf(
                        A.EBinop(
                            "OAnd",
                            A.EBinop(
                                "OAnd",
                                A.EBinop("OEq", A.EAccess(A.EVar("x"), "a"), A.EAccess(A.EVar("y"), "k")),
                                A.EBinop("OEq", A.EAccess(A.EVar("y"), "k"), A.EAccess(A.EVar("z"), "a")),
                            ),
                            A.EBinop(t[0], A.EAccess(A.EVar("z"), "b"), t[1]),
                        ),
                        A.EBinop(
                            "OCons",
                            A.ERecord((
                                ("u", A.EAccess(A.EVar("x"), "b")),
                                ("v", A.EAccess(A.EVar("y"), "c")),
                                ("w", A.EAccess(A.EVar("z"), "b")),
                            )),
                            _NIL3,
                        ),
                        _NIL3,
                    ),
                ),
            ),
        )
    )
    base = st.one_of(join, flat, guarded_single, triple)
    wrapped = st.tuples(st.sampled_from(["none", "sort", "bag", "set"]), base).map(
        lambda t: {
            "none": t[1],
            "sort": A.ESort("LikeBag", t[1]),
            "bag": A.EBagOf(t[1]),
            "set": A.ESetOf(t[1]),
        }[t[0]]
    )
    return wrapped


_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)


def _canon(rows):
    return sorted(
        (tuple(sorted(r.items())) if isinstance(r, dict) else (r,)) for r in rows
    )


@settings(**_SETTINGS)
@given(prog=_rel_program())
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_compiled_relational_matches_python(spark, prog):
    got = [
        r.asDict() for r in compile_expr(prog, {}, _store(spark), spark).collect()
    ]
    want = ev(prog, {})
    assert _canon(got) == _canon(want), f"\nprog={prog}\ngot={got}\nwant={want}"


@settings(**_SETTINGS)
@given(
    prog=_rel_program(),
    agg=st.sampled_from(["AGSum", "AGCount", "AGMin", "AGMax"]),
    col=st.sampled_from(["u", "v"]),
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_compiled_table_agg_matches_python(spark, prog, agg, col):
    """EACFold/EACIFold over a projection of a random relational
    program — the aggregate-lifting path (_lift_table_aggs) against the
    Python twin, including empty-result None for min/max."""
    proj = A.EProj("LikeBag", prog, "__r", A.EAccess(A.EVar("__r"), col))
    e = (
        A.EACFold(agg, proj)
        if agg in ("AGSum", "AGCount")
        else A.EACIFold(agg, proj)
    )
    got = eval_value(e, {}, _store(spark), spark)
    want = ev(e, {})
    assert got == want, f"\nprog={prog}\nagg={agg} col={col}\ngot={got}\nwant={want}"


@settings(**_SETTINGS)
@given(
    pred=st.tuples(
        st.sampled_from(["OLess", "OEq"]), _scalar("x", _T1F), _scalar("x", _T1F)
    ).map(lambda t: A.EBinop(t[0], t[1], t[2]))
)
def test_general_fold_over_table_matches_python(spark, pred):
    """EFold (general, non-AC) over a filtered projection of t1 — the
    _fold_table path (sequential right fold in canonical order) against
    the Python twin folding the same canonical order."""
    proj = A.EProj(
        "LikeBag",
        A.EFilter("LikeBag", A.ELoc("t1"), "x", pred),
        "x",
        A.EAccess(A.EVar("x"), "b"),
    )
    fold = A.EFold(
        proj,
        A.EAtom(A.AInt(0)),
        "_v",
        "_acc",
        # non-commutative body so fold ORDER is observable:
        # acc' = 2*acc - v
        A.EBinop(
            "OMinus",
            A.EBinop("OTimes", A.EAtom(A.AInt(2)), A.EVar("_acc")),
            A.EVar("_v"),
        ),
    )
    got = eval_value(fold, {}, _store(spark), spark)
    want = ev(fold, {})
    assert got == want, f"\npred={pred}\ngot={got}\nwant={want}"


def _fold_store_init(spark, init):
    """A general fold over t1.b whose init is the store scalar ``z``,
    assigned through run_command (interp splices ``z`` as a value)."""
    from fiat2_spark.plans.interp import run_command

    st_ = _store(spark)
    st_.assign("z", init)
    body = A.EBinop(
        "OMinus", A.EBinop("OTimes", A.EAtom(A.AInt(2)), A.EVar("_acc")), A.EVar("_v")
    )
    proj = A.EProj("LikeBag", A.ELoc("t1"), "x", A.EAccess(A.EVar("x"), "b"))
    run_command(A.CAssign("r", A.EFold(proj, A.ELoc("z"), "_v", "_acc", body)), st_, {}, spark)
    return st_.get("r"), A.EFold(proj, A.EAtom(A.AInt(init)), "_v", "_acc", body)


def test_general_fold_int_store_init_matches_python(spark):
    """An int store scalar as a general fold's init is a long literal,
    so F.aggregate accepts it against the long body."""
    got, twin = _fold_store_init(spark, 5)
    assert got == ev(twin, {})


def test_general_fold_none_init_is_named(spark):
    """A None init has no type to fold against: it fails by name."""
    from fiat2_spark.plans.compile import CompileError

    with pytest.raises(CompileError, match="fold init is None"):
        _fold_store_init(spark, None)


# -- sort_small (operators/relational.py) -----------------------------------


def test_sort_small_matches_order_by(spark):
    """Per-partition heaps merged in one task give orderBy's rows in
    orderBy's order."""
    from pyspark.sql import functions as F

    from fiat2_spark.operators import relational as R

    df = spark.createDataFrame(T1 + T2, "a long, b long").repartition(3)
    order = [F.col("b").desc(), "a"]
    assert R.sort_small(df, order).collect() == df.orderBy(*order).collect()


def test_sort_small_empty_input(spark):
    from fiat2_spark.operators import relational as R

    empty = spark.createDataFrame([], "a long, b long")
    assert R.sort_small(empty, ["a"]).collect() == []
    assert R.sort_small(empty.repartition(3), ["a"]).collect() == []


def test_sort_small_bound_fails_the_action(spark, monkeypatch):
    """Above SMALL_SORT_ROWS the plan builds, but its action fails with
    an error naming the bound instead of returning the first rows."""
    from fiat2_spark.operators import relational as R

    df = spark.createDataFrame(T1, "a long, b long").repartition(3)
    monkeypatch.setattr(R, "SMALL_SORT_ROWS", len(T1))
    assert len(R.sort_small(df, ["a", "b"]).collect()) == len(T1)
    monkeypatch.setattr(R, "SMALL_SORT_ROWS", len(T1) - 1)
    out = R.sort_small(df, ["a", "b"])
    with pytest.raises(Exception, match="SMALL_SORT_ROWS"):
        out.collect()
    with pytest.raises(Exception, match="SMALL_SORT_ROWS"):
        out.write.format("noop").mode("overwrite").save()


def test_inner_likeset_tag_dedupes_per_outer_binding(spark):
    """Regression (r7): an inner LikeSet-tagged flatmap dedupes its
    results PER OUTER BINDING before concatenation (Interpret.v's retag
    applies per body evaluation). The r6 join recognizers discarded
    inner tags, so two t2 matches for the same t1 row producing the
    same record survived as join duplicates. Pinned at both depths, with
    the plan each depth executes."""
    nil = A.EAtom(A.ANil(A.TRecord((("u", A.TInt()),))))
    r = A.ERecord((("u", A.EAccess(A.EVar("x"), "a")),))
    p = A.EBinop("OEq", A.EAccess(A.EVar("x"), "a"), A.EAccess(A.EVar("y"), "k"))
    two = A.EFlatmap(
        "LikeBag",
        A.ELoc("t1"),
        "x",
        A.EFlatmap("LikeSet", A.ELoc("t2"), "y", A.EIf(p, A.EBinop("OCons", r, nil), nil)),
    )
    p3 = A.EBinop(
        "OAnd",
        p,
        A.EBinop("OEq", A.EAccess(A.EVar("y"), "k"), A.EAccess(A.EVar("z"), "a")),
    )
    three = A.EFlatmap(
        "LikeBag",
        A.ELoc("t1"),
        "x",
        A.EFlatmap(
            "LikeSet",
            A.ELoc("t2"),
            "y",
            A.EFlatmap("LikeBag", A.ELoc("t1"), "z", A.EIf(p3, A.EBinop("OCons", r, nil), nil)),
        ),
    )
    for prog in (two, three):
        df = compile_expr(prog, {}, _store(spark), spark)
        got = [row.asDict() for row in df.collect()]
        want = ev(prog, {})
        assert _canon(got) == _canon(want), f"\nprog={prog}\ngot={got}\nwant={want}"
        # one to_join lowering at both depths: the guard's equi
        # conjuncts become hash joins, never a nested-loop product
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "HashJoin" in executed, executed
        assert "CartesianProduct" not in executed and "BroadcastNestedLoopJoin" not in executed, executed
