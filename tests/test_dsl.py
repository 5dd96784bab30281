"""DSL end-to-end: reference example programs written as fiat2 ASTs,
compiled to DataFrame plans / driven through the command interpreter,
checked against plain-Python expected values (the reference's own
naive-backend oracle pattern, ToPython.v)."""

from __future__ import annotations

import pytest

from fiat2_spark.plans import ast as A
from fiat2_spark.plans.compile import compile_expr, eval_value
from fiat2_spark.plans.interp import Store, run_command
from fiat2_spark.plans.typecheck import synthesize, schema_type
from tests.conftest import jobs_in_group


EMPLOYEES = [("alice", 1, 100), ("bob", 2, 80), ("carol", 1, 120), ("dan", 3, 90)]
DEPARTMENTS = [(1, "eng"), (2, "sales")]


@pytest.fixture()
def store(spark):
    st = Store()
    st.assign(
        "employees",
        spark.createDataFrame(EMPLOYEES, "name string, dept_id long, salary long"),
    )
    st.assign("departments", spark.createDataFrame(DEPARTMENTS, "id long, name string"))
    return st


def _employee_prog() -> A.Expr:
    """Ex_Employee.v:35: sort [ d <- departments, e <- employees,
    check(e.dept_id = d.id), ret {name: e.name, dept: d.name} ]"""
    ret = A.EBinop(
        "OCons",
        A.ERecord(
            (
                ("name", A.EAccess(A.EVar("e"), "name")),
                ("dept", A.EAccess(A.EVar("d"), "name")),
            )
        ),
        A.EAtom(A.ANil()),
    )
    guard = A.EIf(
        A.EBinop("OEq", A.EAccess(A.EVar("e"), "dept_id"), A.EAccess(A.EVar("d"), "id")),
        ret,
        A.EAtom(A.ANil()),
    )
    inner = A.EFlatmap("LikeList", A.ELoc("employees"), "e", guard)
    return A.ESort("LikeList", A.EFlatmap("LikeList", A.ELoc("departments"), "d", inner))


def test_employee_join_recognition(spark, store):
    df = compile_expr(_employee_prog(), {}, store, spark)
    rows = [(r["dept"], r["name"]) for r in df.collect()]
    expected = sorted(
        (dn, en) for en, edid, _ in EMPLOYEES for did, dn in DEPARTMENTS if edid == did
    )
    assert rows == expected
    # the comprehension must compile to a real join, not a cartesian loop
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Join" in plan and "CartesianProduct" not in plan


def test_employee_typecheck(store):
    gstore = {
        "employees": schema_type(store.get("employees")),
        "departments": schema_type(store.get("departments")),
    }
    t = synthesize(_employee_prog(), gstore, {})
    assert isinstance(t, A.TList) and isinstance(t.t, A.TRecord)
    assert [n for n, _ in t.t.fields] == ["dept", "name"]


def test_filter_pushdown_through_dsl(spark, store):
    # filter employees by salary, project names — EFilter + EProj
    prog = A.EProj(
        "LikeList",
        A.EFilter(
            "LikeList",
            A.ELoc("employees"),
            "x",
            A.EBinop("OLess", A.EAtom(A.AInt(85)), A.EAccess(A.EVar("x"), "salary")),
        ),
        "x",
        A.ERecord((("name", A.EAccess(A.EVar("x"), "name")),)),
    )
    df = compile_expr(prog, {}, store, spark)
    assert sorted(r["name"] for r in df.collect()) == ["alice", "carol", "dan"]


def test_scalar_and_collection_semantics(spark):
    store = Store()
    # Coq division: -7 / 2 = -4 (floor), -7 mod 2 = 1 (divisor sign)
    assert eval_value(A.EBinop("ODiv", A.EAtom(A.AInt(-7)), A.EAtom(A.AInt(2))), {}, store, spark) == -4
    assert eval_value(A.EBinop("OMod", A.EAtom(A.AInt(-7)), A.EAtom(A.AInt(2))), {}, store, spark) == 1
    assert eval_value(A.EBinop("ODiv", A.EAtom(A.AInt(7)), A.EAtom(A.AInt(0))), {}, store, spark) == 0
    # None == None is true (Value.v:126-130)
    assert eval_value(
        A.EBinop("OEq", A.EAtom(A.ANone()), A.EAtom(A.ANone())), {}, store, spark
    ) is True
    # right fold over [1,2,3]: f v acc = v - acc → 1 - (2 - (3 - 0)) = 2
    lst = A.EBinop("OCons", A.EAtom(A.AInt(1)),
          A.EBinop("OCons", A.EAtom(A.AInt(2)),
          A.EBinop("OCons", A.EAtom(A.AInt(3)), A.EAtom(A.ANil()))))
    fold = A.EFold(lst, A.EAtom(A.AInt(0)), "v", "acc",
                   A.EBinop("OMinus", A.EVar("v"), A.EVar("acc")))
    assert eval_value(fold, {}, store, spark) == 2
    # dict insert/delete/lookup round-trip
    d = A.ETernop("OInsert", A.EAtom(A.AEmptyDict()), A.EAtom(A.AString("k")), A.EAtom(A.AInt(5)))
    lk = A.EBinop("OLookup", d, A.EAtom(A.AString("k")))
    assert eval_value(lk, {}, store, spark) == 5
    # flatmap2 zip truncation (Interpret.v:7-11)
    l2 = A.EBinop("OCons", A.EAtom(A.AInt(10)),
         A.EBinop("OCons", A.EAtom(A.AInt(20)), A.EAtom(A.ANil())))
    fm2 = A.EFlatmap2(lst, l2, "a", "b",
          A.EBinop("OCons", A.EBinop("OPlus", A.EVar("a"), A.EVar("b")), A.EAtom(A.ANil())))
    assert eval_value(fm2, {}, store, spark) == [11, 22]
    # set-of dedups and sorts (Interpret.v:126-135)
    dup = A.EBinop("OCons", A.EAtom(A.AInt(3)), A.EBinop("OCons", A.EAtom(A.AInt(3)), lst))
    assert eval_value(A.ESetOf(dup), {}, store, spark) == [1, 2, 3]
    # ACFold / ACIFold on empty collections: sum→0, min→None
    nil = A.EAtom(A.ANil(A.TInt()))
    assert eval_value(A.EACFold("AGSum", nil), {}, store, spark) == 0
    assert eval_value(A.EACIFold("AGMin", nil), {}, store, spark) is None


def test_command_layer_insert_loop(spark):
    """The Ex_Sum.v:30 shape: a foreach loop inserting rows, interleaved
    with maintained-aggregate reads through the store."""
    st = Store()
    orders0 = spark.createDataFrame([(1, 10), (2, 20)], "id long, value long")
    st.assign("orders", orders0)

    insert = A.CAssign(
        "orders",
        A.EBinop(
            "OCons",
            A.ERecord((("id", A.EBinop("OPlus", A.EVar("n"), A.EAtom(A.AInt(100)))),
                       ("value", A.EVar("n")))),
            A.ELoc("orders"),
        ),
    )
    total = A.EACFold(
        "AGSum",
        A.EProj("LikeBag", A.ELoc("orders"), "x", A.EAccess(A.EVar("x"), "value")),
    )
    prog = A.CSeq(
        A.CForeach(A.EBinop("ORange", A.EAtom(A.AInt(1)), A.EAtom(A.AInt(4))), "n", insert),
        A.CAssign("grand_total", total),
    )
    run_command(prog, st, {}, spark)
    assert st.get("grand_total") == 10 + 20 + 1 + 2 + 3
    assert st.get("orders").count() == 5


def test_cif_and_cletmut_scoping(spark):
    st = Store()
    st.assign("t", spark.createDataFrame([(5,)], "value long"))
    body = A.CIf(
        A.EBinop("OLess", A.EAtom(A.AInt(3)), A.EACFold("AGSum", A.ELoc("t"))),
        A.CAssign("flag", A.EAtom(A.AString("big"))),
        A.CAssign("flag", A.EAtom(A.AString("small"))),
    )
    # CLetMut shadows t, restores on exit (Interpret.v:510-513)
    prog = A.CLetMut(A.EAtom(A.AInt(0)), "tmp", body)
    run_command(prog, st, {}, spark)
    assert st.get("flag") == "big"
    assert "tmp" not in st
    # a CLetMut of a bound location restores its binding on exit
    t_before = st.get("t")
    inner = A.CAssign("flag", A.EAtom(A.AString("inner")))
    run_command(A.CLetMut(A.EAtom(A.AInt(7)), "t", inner), st, {}, spark)
    assert st.get("t") is t_before and st.get("flag") == "inner"


def test_foreach_pure_insert_is_bulk(spark):
    """CForeach with the pure insert body t := OCons(f(x), t) must fire
    the cons_to_* bulk rewrite: ONE union of a projected table, not one
    union per iterated row (the plan of the resulting store table shows
    a single Union over thousands of rows)."""
    st = Store()
    st.assign("t", spark.createDataFrame([(0, 0)], "k long, v long"))
    st.assign("src", spark.createDataFrame([(i,) for i in range(2000)], "n long"))
    body = A.CAssign(
        "t",
        A.EBinop(
            "OCons",
            A.ERecord((("k", A.EAccess(A.EVar("x"), "n")),
                       ("v", A.EBinop("OTimes", A.EAccess(A.EVar("x"), "n"), A.EAtom(A.AInt(2)))))),
            A.ELoc("t"),
        ),
    )
    run_command(A.CForeach(A.ELoc("src"), "x", body), st, {}, spark)
    out = st.get("t")
    assert out.count() == 2001
    assert out.agg({"v": "sum"}).collect()[0][0] == sum(2 * i for i in range(2000))
    plan = out._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Union") == 1, "bulk rewrite did not fire (per-row unions)"


def test_foreach_self_referential_body_stays_sequential(spark):
    """A body whose inserted row READS the target table must keep the
    reference's sequential semantics (each insert sees prior inserts):
    inserting COUNT(t) per iteration gives 1,2,3 — a bulk union would
    have inserted the same count three times."""
    st = Store()
    st.assign("t", spark.createDataFrame([(1,)], "k long"))
    st.assign("src", spark.createDataFrame([(10,), (20,), (30,)], "n long"))
    body = A.CLet(
        A.EACFold("AGCount", A.ELoc("t")),
        "c",
        A.CAssign(
            "t",
            A.EBinop("OCons", A.ERecord((("k", A.EVar("c")),)), A.ELoc("t")),
        ),
    )
    run_command(A.CForeach(A.ELoc("src"), "x", body), st, {}, spark)
    vals = sorted(r["k"] for r in st.get("t").collect())
    assert vals == [1, 1, 2, 3]


def test_sugar_desugars_to_identical_ast():
    """`plans/sugar` is PURE notation (Notations.v:144-149): the
    comprehension builders must produce structurally identical frozen
    dataclass nodes to the raw constructors — same typecheck, same
    compiled plan, byte-for-byte."""
    from fiat2_spark.plans import ast as A
    from fiat2_spark.plans.sugar import (
        bind, check, comp, eq, field, loc, rec, ret, sort,
    )

    sugar = sort(comp(
        bind("d", loc("nation")),
        bind("e", loc("supplier")),
        check(eq(field("e", "s_nationkey"), field("d", "n_nationkey"))),
        ret(rec(name=field("e", "s_name"), dept=field("d", "n_name"))),
    ))
    raw = A.ESort(
        "LikeList",
        A.EFlatmap(
            "LikeList",
            A.ELoc("nation"),
            "d",
            A.EFlatmap(
                "LikeList",
                A.ELoc("supplier"),
                "e",
                A.EIf(
                    A.EBinop(
                        "OEq",
                        A.EAccess(A.EVar("e"), "s_nationkey"),
                        A.EAccess(A.EVar("d"), "n_nationkey"),
                    ),
                    A.EBinop(
                        "OCons",
                        A.ERecord((
                            ("name", A.EAccess(A.EVar("e"), "s_name")),
                            ("dept", A.EAccess(A.EVar("d"), "n_name")),
                        )),
                        A.EAtom(A.ANil()),
                    ),
                    A.EAtom(A.ANil()),
                ),
            ),
        ),
    )
    assert sugar == raw


def test_sugar_comprehension_plans_as_hash_join(spark):
    """The desugared flatmap+guard must still hit compile.py's θ-join
    recognition — a sugar-built program may never degrade to a
    cartesian plan."""
    import contextlib
    import io

    from fiat2_spark.workloads import QUERIES
    from tests.conftest import SF_SMOKE

    df = QUERIES["dsl_comprehension"](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    p = buf.getvalue()
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "Join" in p


def test_command_sugar_desugars_to_identical_ast():
    """The command notations (Notations.v:52-76: skip, `;`, let/set/if/
    for) must desugar to the raw CSkip/CSeq/CLet/CLetMut/CAssign/CIf/
    CForeach nodes with the `;` right-associativity the Coq grammar
    declares."""
    from fiat2_spark.plans import ast as A
    from fiat2_spark.plans import sugar as S

    row = A.ERecord((("k", A.EAtom(A.AInt(1))),))
    sugar = S.let_mut(
        "t",
        A.ELoc("nation"),
        S.seq(
            S.set_("t", A.EBinop("OCons", row, A.ELoc("t"))),
            S.if_(A.EAtom(A.ABool(True)), S.set_("t", A.ELoc("t"))),
            S.for_("x", A.ELoc("t"), S.skip),
        ),
    )
    raw = A.CLetMut(
        A.ELoc("nation"),
        "t",
        A.CSeq(
            A.CAssign("t", A.EBinop("OCons", row, A.ELoc("t"))),
            A.CSeq(
                A.CIf(A.EAtom(A.ABool(True)), A.CAssign("t", A.ELoc("t")), A.CSkip()),
                A.CForeach(A.ELoc("t"), "x", A.CSkip()),
            ),
        ),
    )
    assert sugar == raw


# -- lazy table aggregates (scalar_frame / eval_value) ----------------------


def test_dsl_orders_agg_builds_without_jobs(spark, sf_dir):
    """The Ex_Orders read's three folds (sum, min over a set, and the sum
    again under the threshold) are one lazy aggregate: building the
    result plan starts no job, and draining it runs the one aggregate
    (a shuffle-map job and a result job)."""
    from fiat2_spark.workloads import QUERIES

    build = QUERIES["dsl_orders_agg"]
    build(spark, sf_dir)  # the first read of `orders` infers its schema
    df, build_jobs = jobs_in_group(spark, "dsl_orders_agg_build", lambda: build(spark, sf_dir))
    rows, drain_jobs = jobs_in_group(spark, "dsl_orders_agg_drain", df.collect)
    assert (build_jobs, drain_jobs) == (0, 2)
    assert len(rows) == 1 and rows[0]["sum_price"] > 0


def test_scalar_frame_is_one_aggregate_per_source(spark, sf_dir):
    """sum(proj), min(set(proj)) and the same sum read again by a second
    expression: one Aggregate over one scan, with one sum column."""
    from fiat2_spark.plans.compile import scalar_frame
    from fiat2_spark.workloads.dsl import _store

    proj = A.EProj("LikeBag", A.ELoc("orders"), "o", A.EAccess(A.EVar("o"), "o_custkey"))
    total = A.EACFold("AGSum", proj)
    df = scalar_frame(
        {
            "total": total,
            "low": A.EACIFold("AGMin", A.ESetOf(proj)),
            "total1": A.EBinop("OPlus", total, A.EAtom(A.AInt(1))),
        },
        {},
        _store(spark, sf_dir, "orders"),
        spark,
    )
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [") == 1, plan
    assert plan.count("Relation [") == 1, plan
    assert plan.count("sum(") == 1 and plan.count("min(") == 1, plan
    row = df.collect()[0]
    assert row["total1"] == row["total"] + 1


def test_table_aggregates_over_empty_source_match_python(spark):
    """On an empty source sum and count give 0, min and max None, and a
    general fold its init — from scalar_frame (built without a job) and
    from eval_value, both equal to the Python twin."""
    from test_relational_properties import _store, ev

    from fiat2_spark.plans.compile import scalar_frame

    empty = A.EProj(
        "LikeBag",
        A.EFilter(
            "LikeBag", A.ELoc("t1"), "x",
            A.EBinop("OLess", A.EAccess(A.EVar("x"), "a"), A.EAtom(A.AInt(0))),
        ),
        "x",
        A.EAccess(A.EVar("x"), "b"),
    )
    named = {
        "s": A.EACFold("AGSum", empty),
        "n": A.EACFold("AGCount", empty),
        "lo": A.EACIFold("AGMin", empty),
        "hi": A.EACIFold("AGMax", A.ESetOf(empty)),
        "f": A.EFold(
            empty, A.EAtom(A.AInt(7)), "_v", "_acc",
            A.EBinop("OMinus", A.EBinop("OTimes", A.EAtom(A.AInt(2)), A.EVar("_acc")), A.EVar("_v")),
        ),
    }
    want = {k: ev(e, {}) for k, e in named.items()}
    assert want == {"s": 0, "n": 0, "lo": None, "hi": None, "f": 7}
    st = _store(spark)
    df, build_jobs = jobs_in_group(spark, "empty_source_build", lambda: scalar_frame(named, {}, st, spark))
    assert build_jobs == 0
    assert df.collect()[0].asDict() == want
    assert {k: eval_value(e, {}, st, spark) for k, e in named.items()} == want


def test_general_fold_limit_fails_the_action(spark, monkeypatch):
    """FOLD_COLLECT_LIMIT stays a precondition on the lazy path: a
    general fold over more rows builds, but its action fails with an
    error naming the limit instead of returning rows."""
    import fiat2_spark.plans.compile as C

    st = Store()
    st.assign("t", spark.createDataFrame([(1,), (2,), (3,)], "value long"))
    fold = A.EFold(
        A.ELoc("t"), A.EAtom(A.AInt(0)), "v", "acc",
        A.EBinop("OMinus", A.EVar("v"), A.EVar("acc")),
    )
    monkeypatch.setattr(C, "FOLD_COLLECT_LIMIT", 3)
    assert C.scalar_frame({"f": fold}, {}, st, spark).collect()[0]["f"] == 2
    monkeypatch.setattr(C, "FOLD_COLLECT_LIMIT", 1)
    df = C.scalar_frame({"f": fold}, {}, st, spark)
    with pytest.raises(Exception, match="FOLD_COLLECT_LIMIT"):
        df.collect()
    with pytest.raises(Exception, match="FOLD_COLLECT_LIMIT"):
        eval_value(fold, {}, st, spark)


def test_general_fold_init_reading_a_table_matches_python(spark):
    """A general fold whose init is itself a table aggregate: the init is
    settled first, then folded over — equal to the Python twin."""
    from test_relational_properties import _store, ev

    proj = lambda t, c: A.EProj("LikeBag", A.ELoc(t), "x", A.EAccess(A.EVar("x"), c))  # noqa: E731
    fold = A.EFold(
        proj("t1", "b"), A.EACFold("AGSum", proj("t2", "c")), "_v", "_acc",
        A.EBinop("OMinus", A.EBinop("OTimes", A.EAtom(A.AInt(2)), A.EVar("_acc")), A.EVar("_v")),
    )
    assert eval_value(fold, {}, _store(spark), spark) == ev(fold, {})
