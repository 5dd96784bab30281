"""Automatic index selection (plans/autoindex.py) — the OptimizeAnno
heuristic driver. Differential: the rewritten command must produce the
same store as the plain interpreter; structural: the auxes the analyzer
introduces must match Ex_Orders.v:69-76's manual annotation and the
rewritten loop must do O(1) work per insert (no table scans)."""

from __future__ import annotations

import pytest

from fiat2_spark.plans import ast as A
from fiat2_spark.plans.autoindex import (
    BitmapIdxChoice,
    DictIdxChoice,
    MinAggChoice,
    SumAggChoice,
    apply_auto_index,
    choose_indexes,
    run_command_auto,
)
from fiat2_spark.plans.interp import Store, run_command

INT_NIL = A.EAtom(A.ANil(A.TInt()))


def _inventory_lookup(key: A.Expr) -> A.Expr:
    """Ex_Orders.v:54's inventory read: ``sort [ item <- !inv,
    check(item.id = key), ret item.price ]``."""
    return A.ESort(
        "LikeList",
        A.EFlatmap(
            "LikeList",
            A.ELoc("inv"),
            "item",
            A.EIf(
                A.EBinop("OEq", A.EAccess(A.EVar("item"), "id"), key),
                A.EBinop("OCons", A.EAccess(A.EVar("item"), "price"), INT_NIL),
                INT_NIL,
            ),
        ),
    )


def _price_proj(t: str) -> A.Expr:
    return A.EFlatmap(
        "LikeList",
        A.ELoc(t),
        "item",
        A.EBinop("OCons", A.EAccess(A.EVar("item"), "price"), INT_NIL),
    )


def _sum_fold(t: str) -> A.Expr:
    """Ex_Orders.v:54's verbatim sum fold."""
    return A.EFold(
        _price_proj(t),
        A.EAtom(A.AInt(0)),
        "_v",
        "_acc",
        A.EBinop("OPlus", A.EVar("_v"), A.EVar("_acc")),
    )


def _min_fold(t: str) -> A.Expr:
    """Ex_Orders.v:54's verbatim option-folding min."""
    return A.EFold(
        _price_proj(t),
        A.EAtom(A.ANone(A.TInt())),
        "_v",
        "_acc",
        A.EOptMatch(
            A.EVar("_acc"),
            A.EUnop("OSome", A.EVar("_v")),
            "_x",
            A.EIf(
                A.EBinop("OLess", A.EVar("_v"), A.EVar("_x")),
                A.EUnop("OSome", A.EVar("_v")),
                A.EVar("_acc"),
            ),
        ),
    )


def _orders_prog() -> A.Command:
    """The Ex_Orders lifecycle: loop {lookup inv by loop key; insert
    found rows into orders_mut}; then read sum/min/count."""
    insert = A.CAssign(
        "orders_mut",
        A.EBinop(
            "OCons",
            A.ERecord((
                ("id", A.EBinop("OTimes", A.EVar("n"), A.EAtom(A.AInt(2)))),
                ("price", A.EVar("price")),
            )),
            A.ELoc("orders_mut"),
        ),
    )
    loop = A.CForeach(
        A.EBinop("ORange", A.EAtom(A.AInt(1)), A.EAtom(A.AInt(4))),
        "n",
        A.CLet(
            _inventory_lookup(A.EBinop("OTimes", A.EVar("n"), A.EAtom(A.AInt(2)))),
            "item_price",
            A.CForeach(A.EVar("item_price"), "price", insert),
        ),
    )
    return A.CSeq(
        loop,
        A.CSeq(
            A.CAssign("out_sum", _sum_fold("orders_mut")),
            A.CSeq(
                A.CAssign("out_min", _min_fold("orders_mut")),
                A.CAssign("out_n", A.EUnop("OLength", A.ELoc("orders_mut"))),
            ),
        ),
    )


def _mk_store(spark) -> Store:
    st = Store()
    st.assign(
        "inv",
        spark.createDataFrame(
            [(2, 20), (4, 40), (6, 60), (7, 70)], "id long, price long"
        ),
    )
    st.assign(
        "orders_mut",
        spark.createDataFrame([(100, 5), (101, 9)], "id long, price long"),
    )
    return st


def test_choices_match_ex_orders_annotation(spark):
    """The analyzer must derive exactly the Ex_Orders.v:69-76 manual
    annotation: DictIdx "id" for the looked-up table, SumAgg "price" +
    MinAgg "price" for the insert-mutated one."""
    ch = choose_indexes(_orders_prog(), {"inv", "orders_mut"})
    assert ch["inv"] == [DictIdxChoice(attr="id")]
    assert set(ch["orders_mut"]) == {
        SumAggChoice(attr="price"),
        MinAggChoice(attr="price"),
    }


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_auto_index_differential(spark):
    """run_command_auto ≡ run_command on the Ex_Orders lifecycle."""
    prog = _orders_prog()
    st_plain = _mk_store(spark)
    run_command(prog, st_plain, {}, spark)
    st_auto = _mk_store(spark)
    _, report = run_command_auto(prog, st_auto, {}, spark)
    for slot in ("out_sum", "out_min", "out_n"):
        assert st_plain.get(slot) == st_auto.get(slot), slot
    # expected concrete values: inserts are ids 2,4,6 → prices 20,40,60
    assert st_auto.get("out_sum") == 5 + 9 + 20 + 40 + 60
    assert st_auto.get("out_min") == 5
    assert st_auto.get("out_n") == 5
    assert set(report.aux) == {
        "__idx_dict__inv__id",
        "__idx_sum__orders_mut__price",
        "__idx_min__orders_mut__price",
    }


def _count_scans(e, t: str) -> int:
    """How many sub-expressions scan ``ELoc(t)``?"""
    import dataclasses

    if isinstance(e, A.ELoc):
        return 1 if e.x == t else 0
    if dataclasses.is_dataclass(e):
        vals = [getattr(e, f.name) for f in dataclasses.fields(e)]
    elif isinstance(e, (tuple, list)):
        vals = list(e)
    else:
        return 0
    return sum(_count_scans(v, t) for v in vals)


def _loop_bodies(c):
    match c:
        case A.CForeach(_, _, body):
            yield body
            yield from _loop_bodies(body)
        case A.CSeq(c1, c2) | A.CIf(_, c1, c2):
            yield from _loop_bodies(c1)
            yield from _loop_bodies(c2)
        case A.CLet(_, _, body) | A.CLetMut(_, _, body):
            yield from _loop_bodies(body)
        case _:
            return


def test_rewrite_is_o1_per_insert(spark):
    """After the rewrite, the loop does NO table work beyond the insert
    itself: the inventory is never scanned inside the loop (lookups hit
    the dict aux — eq_filter_to_lookup, DictIndexImpl.v:374-390), and
    orders_mut appears only as the OCons insert target (the sum/min
    reads were folded into O(1) aux updates — cons_to_add
    SumAgg.v:83-92 / cons_to_min MinAgg.v:82-90)."""
    from fiat2_spark.plans.typecheck import schema_type

    prog = _orders_prog()
    st = _mk_store(spark)
    gstore = {k: schema_type(v) for k, v in st.snapshot().items()}
    c2, report = apply_auto_index(prog, gstore, {})

    # aux slots were introduced (CLetMut wrappers at the root, since
    # both tables are store-resident)
    names = []
    c = c2
    while isinstance(c, A.CLetMut):
        names.append(c.x)
        c = c.c
    assert set(names) == set(report.aux)

    bodies = list(_loop_bodies(c))
    assert bodies, "loop not found"
    for body in bodies:
        # no inventory scan anywhere inside a loop body
        assert _count_scans(body, "inv") == 0
        # orders_mut referenced only by the insert's own cons target
        match body:
            case A.CForeach(_, _, _) | A.CLet(_, _, _):
                continue
        scans = _count_scans(body, "orders_mut")
        inserts = 1 if isinstance(body, A.CSeq) else 0
        assert scans <= 1 + inserts  # OCons target only

    # the post-loop reads are O(1) store lookups of the aux slots
    tail = c
    reads = []
    def walk(cmd):
        match cmd:
            case A.CSeq(a, b):
                walk(a); walk(b)
            case A.CAssign(x, e):
                reads.append((x, e))
            case A.CForeach(_, _, b) | A.CLet(_, _, b) | A.CLetMut(_, _, b):
                walk(b)
            case _:
                pass
    walk(tail)
    read_map = dict(reads)
    assert read_map["out_sum"] == A.ELoc("__idx_sum__orders_mut__price")
    assert read_map["out_min"] == A.ELoc("__idx_min__orders_mut__price")


def test_bitmap_idx_choice_and_rewrite(spark):
    """An eq-filter against a string CONSTANT chooses BitmapIdx and the
    read collapses to the maintained filtered sub-table; inserts append
    to it only when the row matches (cons_to_bitmap_update)."""
    prog = A.CSeq(
        A.CForeach(
            A.EBinop("ORange", A.EAtom(A.AInt(0)), A.EAtom(A.AInt(3))),
            "n",
            A.CAssign(
                "t",
                A.EBinop(
                    "OCons",
                    A.ERecord((
                        ("cat", A.EIf(
                            A.EBinop("OEq", A.EVar("n"), A.EAtom(A.AInt(1))),
                            A.EAtom(A.AString("hot")),
                            A.EAtom(A.AString("cold")),
                        )),
                        ("v", A.EVar("n")),
                    )),
                    A.ELoc("t"),
                ),
            ),
        ),
        A.CAssign(
            "out",
            A.EUnop(
                "OLength",
                A.EFilter(
                    "LikeBag",
                    A.ELoc("t"),
                    "x",
                    A.EBinop(
                        "OEq", A.EAccess(A.EVar("x"), "cat"), A.EAtom(A.AString("hot"))
                    ),
                ),
            ),
        ),
    )
    ch = choose_indexes(prog, {"t"})
    assert ch["t"] == [BitmapIdxChoice(attr="cat", val="hot")]

    def mk():
        st = Store()
        st.assign(
            "t",
            spark.createDataFrame([("hot", 10), ("cold", 11)], "cat string, v long"),
        )
        return st

    st_plain = mk()
    run_command(prog, st_plain, {}, spark)
    st_auto = mk()
    _, report = run_command_auto(prog, st_auto, {}, spark)
    assert st_plain.get("out") == st_auto.get("out") == 2  # base hot + n==1
    assert "__idx_bitmap__t__cat__hot" in report.aux


def test_disqualified_by_reassignment(spark):
    """A table mutated by anything other than the OCons insert gets NO
    indexes — its aux state could go stale (the soundness side-condition
    the reference's transf lemmas carry)."""
    prog = A.CSeq(
        A.CAssign("t", A.EProj("LikeBag", A.ELoc("t"), "x", A.EVar("x"))),
        A.CAssign("out", A.EACFold("AGSum", _price_proj("t"))),
    )
    assert choose_indexes(prog, {"t"}) == {}


def test_to_idx_fast_path_equals_naive(spark):
    """The to_idx dict built by the distributed group-by fast path must
    equal the naive sequential fold's result (DictIndexImpl.v:25-33 —
    same dict, canonically ordered bags)."""
    from fiat2_spark.plans.autoindex import to_idx_fold
    from fiat2_spark.plans.compile import _as_to_idx_fold, _fold_table, _lift_table_aggs, _AFoldVal

    st = Store()
    st.assign(
        "t",
        spark.createDataFrame(
            [(1, 10), (2, 20), (1, 11)], "id long, price long"
        ),
    )
    row_ty = A.TRecord((("id", A.TInt()), ("price", A.TInt())))
    fold = to_idx_fold("t", "id", A.TInt(), row_ty)
    assert _as_to_idx_fold(fold.e2, fold.v, fold.acc, fold.e3) == "id"
    fast = _lift_table_aggs(fold, {}, st, spark)
    assert isinstance(fast.a, _AFoldVal)
    naive = _fold_table(fold.e1, fold.e2, fold.v, fold.acc, fold.e3, {}, st, spark)
    assert {k: [tuple(r) for r in v] for k, v in fast.a.v.items()} == {
        k: [tuple(r) for r in v] for k, v in naive.items()
    }
    assert fast.a.v[1] == sorted(fast.a.v[1])


def test_insert_inside_conditional_branch(spark):
    """Inserts under CIf must still maintain the auxes on exactly the
    branch that executes — the rewrite recurses through CIf (the
    reference's fold_command_with_globals walks every command
    constructor), and the differential catches a maintenance update
    applied on the wrong branch."""
    prog = A.CSeq(
        A.CForeach(
            A.EBinop("ORange", A.EAtom(A.AInt(0)), A.EAtom(A.AInt(6))),
            "n",
            A.CIf(
                A.EBinop(
                    "OEq",
                    A.EBinop("OMinus", A.EVar("n"), A.EBinop("OTimes", A.EAtom(A.AInt(2)), A.EAtom(A.AInt(1)))),
                    A.EVar("n"),
                ),  # always false: n-2 == n
                A.CSkip(),
                A.CIf(
                    A.EBinop("OLess", A.EVar("n"), A.EAtom(A.AInt(3))),
                    A.CAssign(
                        "t",
                        A.EBinop(
                            "OCons",
                            A.ERecord((("price", A.EBinop("OTimes", A.EVar("n"), A.EAtom(A.AInt(10)))),)),
                            A.ELoc("t"),
                        ),
                    ),
                    A.CSkip(),
                ),
            ),
        ),
        A.CAssign("out", A.EACFold("AGSum", _price_proj("t"))),
    )

    def mk():
        st = Store()
        st.assign("t", spark.createDataFrame([(100,)], "price long"))
        return st

    st_plain = mk()
    run_command(prog, st_plain, {}, spark)
    st_auto = mk()
    _, report = run_command_auto(prog, st_auto, {}, spark)
    # only n in {0,1,2} insert: 0 + 10 + 20, plus base 100
    assert st_plain.get("out") == st_auto.get("out") == 130
    assert "__idx_sum__t__price" in report.aux


def _bare_lookup(key: A.Expr) -> A.Expr:
    """A LikeList-tagged inventory lookup NOT wrapped in ESort — its
    element order is base-table order, which the aux buckets (sorted
    build + O(1) prepend maintenance) do not preserve."""
    return A.EFlatmap(
        "LikeList",
        A.ELoc("inv"),
        "item",
        A.EIf(
            A.EBinop("OEq", A.EAccess(A.EVar("item"), "id"), key),
            A.EBinop("OCons", A.EAccess(A.EVar("item"), "price"), INT_NIL),
            INT_NIL,
        ),
    )


def _order_sensitive_fold(src: A.Expr) -> A.Expr:
    """acc' = 2*acc - v: non-commutative, so fold ORDER is observable."""
    return A.EFold(
        src,
        A.EAtom(A.AInt(0)),
        "_v",
        "_acc",
        A.EBinop(
            "OMinus",
            A.EBinop("OTimes", A.EAtom(A.AInt(2)), A.EVar("_acc")),
            A.EVar("_v"),
        ),
    )


def _order_prog(read_src) -> A.Command:
    """Insert ids=4 rows, then fold the lookup of key m*2 (m=2 → 4)
    with an order-sensitive body."""
    insert = A.CAssign(
        "inv",
        A.EBinop(
            "OCons",
            A.ERecord((
                ("id", A.EAtom(A.AInt(4))),
                ("price", A.EBinop("OMinus", A.EAtom(A.AInt(90)), A.EVar("n"))),
            )),
            A.ELoc("inv"),
        ),
    )
    loop = A.CForeach(
        A.EBinop("ORange", A.EAtom(A.AInt(1)), A.EAtom(A.AInt(4))), "n", insert
    )
    key = A.EBinop("OTimes", A.EVar("m"), A.EAtom(A.AInt(2)))
    read = A.CForeach(
        A.EBinop("ORange", A.EAtom(A.AInt(2)), A.EAtom(A.AInt(3))),
        "m",
        A.CAssign("out", _order_sensitive_fold(read_src(key))),
    )
    return A.CSeq(loop, read)


def _order_store(spark) -> Store:
    st = Store()
    st.assign(
        "inv",
        spark.createDataFrame([(2, 20), (4, 40), (4, 10)], "id long, price long"),
    )
    st.assign("out", 0)
    return st


@pytest.mark.parametrize(
    "shape",
    ["bare_list", "sorted_list", "bag_filter"],
)
def test_read_order_semantics_preserved(spark, shape):
    """Regression (r7 advisor): LikeList-tagged read sites must NOT be
    rewritten to aux lookups (bucket order ≠ base order) unless a
    canonicalizer (ESort/EBagOf/ESetOf) sits directly above; and
    bag/set-tagged EFilter reads must re-canonicalize the bucket
    (built sorted, maintained by prepend). Differential on an
    order-sensitive fold, plain interpreter vs run_command_auto."""
    if shape == "bare_list":
        src = _bare_lookup
    elif shape == "sorted_list":
        src = lambda k: A.ESort("LikeList", _bare_lookup(k))  # noqa: E731
    else:
        src = lambda k: A.EProj(  # noqa: E731
            "LikeList",
            A.EFilter(
                "LikeBag",
                A.ELoc("inv"),
                "item",
                A.EBinop("OEq", A.EAccess(A.EVar("item"), "id"), k),
            ),
            "item",
            A.EAccess(A.EVar("item"), "price"),
        )
    prog = _order_prog(src)
    st_plain = _order_store(spark)
    run_command(prog, st_plain, {}, spark)
    st_auto = _order_store(spark)
    _, report = run_command_auto(prog, st_auto, {}, spark)
    assert st_plain.get("out") == st_auto.get("out"), shape
    # the dict index is still chosen and maintained
    assert "__idx_dict__inv__id" in report.aux


def _nested_lookup_prog() -> A.Command:
    """Lookup of `inv` nested under a comprehension over `demand` —
    the join-buried read shape (IndexTransf.v:862-872 indexes it via the
    bottom-up command fold; VERDICT r6 task 3)."""
    out_nil = A.EAtom(A.ANil(A.TRecord((("oid", A.TInt()), ("price", A.TInt())))))
    insert = A.CAssign(
        "inv",
        A.EBinop(
            "OCons",
            A.ERecord((
                ("id", A.EBinop("OTimes", A.EVar("n"), A.EAtom(A.AInt(2)))),
                ("price", A.EBinop("OPlus", A.EAtom(A.AInt(100)), A.EVar("n"))),
            )),
            A.ELoc("inv"),
        ),
    )
    loop = A.CForeach(
        A.EBinop("ORange", A.EAtom(A.AInt(1)), A.EAtom(A.AInt(4))), "n", insert
    )
    comp = A.EFlatmap(
        "LikeBag",
        A.ELoc("demand"),
        "o",
        A.EFlatmap(
            "LikeBag",
            A.ELoc("inv"),
            "item",
            A.EIf(
                A.EBinop(
                    "OEq",
                    A.EAccess(A.EVar("item"), "id"),
                    A.EAccess(A.EVar("o"), "key"),
                ),
                A.EBinop(
                    "OCons",
                    A.ERecord((
                        ("oid", A.EAccess(A.EVar("o"), "oid")),
                        ("price", A.EAccess(A.EVar("item"), "price")),
                    )),
                    out_nil,
                ),
                out_nil,
            ),
        ),
    )
    return A.CSeq(loop, A.CAssign("out", comp))


def _nested_store(spark) -> Store:
    st = Store()
    st.assign("inv", spark.createDataFrame([(2, 20), (7, 70)], "id long, price long"))
    st.assign(
        "demand",
        spark.createDataFrame(
            [(1, 2), (2, 4), (3, 6), (4, 99)], "oid long, key long"
        ),
    )
    return st


def test_nested_lookup_is_chosen_and_rewritten(spark):
    """The analyzer must pick DictIdx for a lookup keyed by an ENCLOSING
    COMPREHENSION BINDER (per-outer-row lookups), not just CForeach
    loops — this returned {} before r7."""
    prog = _nested_lookup_prog()
    ch = choose_indexes(prog, {"inv", "demand"})
    assert ch.get("inv") == [DictIdxChoice(attr="id")], ch
    assert "demand" not in ch
    st_plain = _nested_store(spark)
    run_command(prog, st_plain, {}, spark)
    st_auto = _nested_store(spark)
    _, report = run_command_auto(prog, st_auto, {}, spark)
    assert "__idx_dict__inv__id" in report.aux
    canon = lambda df: sorted(  # noqa: E731
        tuple(sorted(r.asDict().items())) for r in df.collect()
    )
    assert canon(st_plain.get("out")) == canon(st_auto.get("out"))


def test_nested_lookup_compiles_to_broadcast_join(spark):
    """The rewritten table-level read must be a broadcast hash join
    against the flattened aux — not an O(|dict|) map-literal probe per
    outer row, and not a scan of the base table."""
    import contextlib
    import io

    prog = _nested_lookup_prog()
    st_auto = _nested_store(spark)
    run_command_auto(prog, st_auto, {}, spark)
    out = st_auto.get("out")
    out.collect()
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "BroadcastHashJoin" in plan, plan
    assert "GetMapValue" not in plan


def test_dist_index_selected_above_fold_collect_limit(spark, monkeypatch):
    """Above FOLD_COLLECT_LIMIT the DictIdx aux must become a
    DistDictIndex (keyed relation + hash join) instead of raising
    (VERDICT r6 task 4): same results as the plain interpreter,
    O(1)-per-insert maintenance (pending list, no Spark job), and the
    nested read joins the live index including pending inserts."""
    import fiat2_spark.plans.compile as C
    from fiat2_spark.streaming.maintenance import DistDictIndex

    prog = _nested_lookup_prog()
    st_plain = _nested_store(spark)
    run_command(prog, st_plain, {}, spark)

    monkeypatch.setattr(C, "FOLD_COLLECT_LIMIT", 1)
    st_auto = _nested_store(spark)
    _, report = run_command_auto(prog, st_auto, {}, spark)
    canon = lambda df: sorted(  # noqa: E731
        tuple(sorted(r.asDict().items())) for r in df.collect()
    )
    assert canon(st_plain.get("out")) == canon(st_auto.get("out"))


def test_dist_index_insert_is_o1_pending(spark, monkeypatch):
    """insert_row is a driver-list append — no Spark job per insert."""
    from fiat2_spark.streaming.maintenance import DistDictIndex
    from tests.conftest import jobs_in_group

    base = spark.createDataFrame([(2, 20), (7, 70)], "id long, price long")
    idx = DistDictIndex(base, "id")

    def insert_50():
        for i in range(50):
            idx.insert_row(2 * i, {"id": 2 * i, "price": 100 + i})

    _, jobs = jobs_in_group(spark, "dist_index_insert_rows", insert_50)
    assert jobs == 0, "insert_row launched Spark jobs"
    assert len(idx.pending) == 50
    # lookup sees pending prepended before base rows
    got = idx.lookup(2)
    assert [r["price"] for r in got] == [101, 20]
    # empty bucket → None (OLookup's option convention)
    assert idx.lookup(999999) is None


@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_conjunction_guard_lookup_rewrites_with_residual(spark):
    """An eq-lookup whose guard is a CONJUNCTION (x.id == k AND
    x.price < c) must still be served by the dict index, with the
    non-eq conjunct kept as a residual filter over the bucket —
    differential vs the plain interpreter, and the rewritten loop does
    no table scan of inv."""
    int_nil = A.EAtom(A.ANil(A.TInt()))
    guard = A.EBinop(
        "OAnd",
        A.EBinop(
            "OEq",
            A.EAccess(A.EVar("item"), "id"),
            A.EBinop("OTimes", A.EVar("n"), A.EAtom(A.AInt(2))),
        ),
        A.EBinop("OLess", A.EAccess(A.EVar("item"), "price"), A.EAtom(A.AInt(60))),
    )
    lookup = A.ESort(
        "LikeList",
        A.EFlatmap(
            "LikeList", A.ELoc("inv"), "item",
            A.EIf(
                guard,
                A.EBinop("OCons", A.EAccess(A.EVar("item"), "price"), int_nil),
                int_nil,
            ),
        ),
    )
    insert = A.CAssign(
        "inv",
        A.EBinop(
            "OCons",
            A.ERecord((
                ("id", A.EBinop("OTimes", A.EVar("price"), A.EAtom(A.AInt(0)))),
                ("price", A.EVar("price")),
            )),
            A.ELoc("inv"),
        ),
    )
    loop = A.CForeach(
        A.EBinop("ORange", A.EAtom(A.AInt(1)), A.EAtom(A.AInt(5))),
        "n",
        A.CLet(
            lookup, "ps",
            A.CSeq(
                A.CAssign(
                    "out",
                    A.EBinop(
                        "OPlus",
                        A.ELoc("out"),
                        A.EFold(
                            A.EVar("ps"), A.EAtom(A.AInt(0)), "_v", "_a",
                            A.EBinop("OPlus", A.EVar("_v"), A.EVar("_a")),
                        ),
                    ),
                ),
                A.CForeach(A.EVar("ps"), "price", insert),
            ),
        ),
    )

    def mk():
        st = Store()
        st.assign(
            "inv",
            spark.createDataFrame(
                [(2, 20), (2, 70), (4, 40), (6, 61), (8, 55)], "id long, price long"
            ),
        )
        st.assign("out", 0)
        return st

    ch = choose_indexes(loop, {"inv", "out"})
    assert ch.get("inv") == [DictIdxChoice(attr="id")], ch
    st_plain = mk()
    run_command(loop, st_plain, {}, spark)
    st_auto = mk()
    _, report = run_command_auto(loop, st_auto, {}, spark)
    assert st_plain.get("out") == st_auto.get("out")
    assert st_plain.get("out") == 20 + 40 + 55  # prices < 60 at ids 2,4,8
    # the lookup itself was rewritten: no comprehension over ELoc(inv)
    # remains anywhere in the rewritten command (the only remaining
    # ELoc(inv) references are the OCons insert target and aux init)
    assert not _has_scan_read(report.command, "inv"), report.command


def _has_scan_read(c, t: str) -> bool:
    import dataclasses

    src = None
    if isinstance(c, A.EFlatmap):
        src = c.e1
    elif isinstance(c, (A.EFilter, A.EProj)):
        src = c.l
    if isinstance(src, A.ELoc) and src.x == t:
        return True
    if dataclasses.is_dataclass(c):
        for f in dataclasses.fields(c):
            v = getattr(c, f.name)
            if isinstance(v, (A.Expr, A.Command)) and _has_scan_read(v, t):
                return True
            if isinstance(v, tuple):
                for item in v:
                    sub = item[1] if isinstance(item, tuple) and len(item) == 2 else item
                    if isinstance(sub, (A.Expr, A.Command)) and _has_scan_read(sub, t):
                        return True
    return False


def test_dist_index_oinsert_only_fires_on_cons_to_insert_shape(spark):
    """The driver-eval OInsert fast path mutates a DistDictIndex in
    place, which is only the right semantics for the compiler-emitted
    cons_to_insert tail ``optmatch (lookup d k) nil b b`` over the SAME
    d and k (DictIndexImpl.v:571-588). Any other cons tail — e.g.
    bucket REPLACEMENT ``r :: nil`` — must fall through to _NO_DRIVER
    instead of silently appending (semantics would otherwise flip based
    on whether the table crossed FOLD_COLLECT_LIMIT)."""
    from fiat2_spark.plans.compile import _NO_DRIVER, _try_driver_eval
    from fiat2_spark.streaming.maintenance import DistDictIndex

    base = spark.createDataFrame([(2, 20)], "id long, price long")
    idx = DistDictIndex(base, "id")
    env = {"d": ("py", idx), "r": ("py", {"id": 5, "price": 50})}
    key = A.EAtom(A.AInt(5))

    def oinsert(prior):
        return A.ETernop(
            "OInsert", A.EVar("d"), key, A.EBinop("OCons", A.EVar("r"), prior)
        )

    good = oinsert(
        A.EOptMatch(
            A.EBinop("OLookup", A.EVar("d"), key), INT_NIL, "__b", A.EVar("__b")
        )
    )
    assert _try_driver_eval(good, env) is idx
    assert len(idx.pending) == 1

    # bucket replacement (r :: nil): NOT append semantics
    assert _try_driver_eval(oinsert(INT_NIL), env) is _NO_DRIVER
    # lookup of a DIFFERENT key: not this bucket's prior
    other = A.EOptMatch(
        A.EBinop("OLookup", A.EVar("d"), A.EAtom(A.AInt(6))),
        INT_NIL,
        "__b",
        A.EVar("__b"),
    )
    assert _try_driver_eval(oinsert(other), env) is _NO_DRIVER
    # lookup of a DIFFERENT dict: likewise
    env2 = {**env, "d2": ("py", idx)}
    mixed = A.EOptMatch(
        A.EBinop("OLookup", A.EVar("d2"), key), INT_NIL, "__b", A.EVar("__b")
    )
    assert _try_driver_eval(oinsert(mixed), env2) is _NO_DRIVER
    assert len(idx.pending) == 1, "guarded shapes must not touch the index"


def test_dist_index_insert_key_wins_over_row_attr(spark):
    """insert_row({attr: other}) under key k must index the row under
    k — lookup() probes pending rows by p[attr], so the insert key has
    to win over the row's own attr value."""
    from fiat2_spark.streaming.maintenance import DistDictIndex

    base = spark.createDataFrame([(2, 20)], "id long, price long")
    idx = DistDictIndex(base, "id")
    idx.insert_row(5, {"id": 999, "price": 50})
    got = idx.lookup(5)
    assert got is not None and got[0]["id"] == 5 and got[0]["price"] == 50
    assert idx.lookup(999) is None


def test_bitmap_idx_residual_conjunction_rewrites(spark):
    """A constant-key eq-filter carrying an extra conjunct (cat='hot'
    AND v<5) must still be served by the bitmap aux, with the non-eq
    conjunct kept as a residual filter over the selected set — the same
    index-scan + residual plan DictIdx conjunction sites get
    (BitmapIndex.v:811-831 composed under IndexTransf.v:862-872).
    Before r8 these sites stayed full scans."""
    insert_loop = A.CForeach(
        A.EBinop("ORange", A.EAtom(A.AInt(0)), A.EAtom(A.AInt(3))),
        "n",
        A.CAssign(
            "t",
            A.EBinop(
                "OCons",
                A.ERecord((
                    ("cat", A.EIf(
                        A.EBinop("OEq", A.EVar("n"), A.EAtom(A.AInt(1))),
                        A.EAtom(A.AString("hot")),
                        A.EAtom(A.AString("cold")),
                    )),
                    ("v", A.EVar("n")),
                )),
                A.ELoc("t"),
            ),
        ),
    )
    conj = lambda: A.EBinop(  # noqa: E731
        "OAnd",
        A.EBinop("OEq", A.EAccess(A.EVar("x"), "cat"), A.EAtom(A.AString("hot"))),
        A.EBinop("OLess", A.EAccess(A.EVar("x"), "v"), A.EAtom(A.AInt(5))),
    )
    # EFilter form (body-None) and comprehension form (ret body)
    read_len = A.CAssign(
        "out_len",
        A.EUnop("OLength", A.EFilter("LikeBag", A.ELoc("t"), "x", conj())),
    )
    read_vals = A.CAssign(
        "out_vals",
        A.ESort(
            "LikeList",
            A.EFlatmap(
                "LikeList", A.ELoc("t"), "x",
                A.EIf(
                    conj(),
                    A.EBinop("OCons", A.EAccess(A.EVar("x"), "v"), INT_NIL),
                    INT_NIL,
                ),
            ),
        ),
    )
    prog = A.CSeq(insert_loop, A.CSeq(read_len, read_vals))
    ch = choose_indexes(prog, {"t"})
    assert ch["t"] == [BitmapIdxChoice(attr="cat", val="hot")], ch

    def mk():
        st = Store()
        st.assign(
            "t",
            spark.createDataFrame([("hot", 10), ("cold", 11)], "cat string, v long"),
        )
        return st

    st_plain = mk()
    run_command(prog, st_plain, {}, spark)
    st_auto = mk()
    _, report = run_command_auto(prog, st_auto, {}, spark)
    # only the inserted hot row (n=1, v=1) passes v<5; base hot has v=10
    assert st_plain.get("out_len") == st_auto.get("out_len") == 1
    vals = lambda df: [r[0] for r in df.collect()]  # noqa: E731
    assert vals(st_plain.get("out_vals")) == vals(st_auto.get("out_vals")) == [1]
    assert "__idx_bitmap__t__cat__hot" in report.aux
    # the rewritten reads go through the aux — below the introduced
    # aux-init binders (whose one-time build scan is the bitmap's
    # construction, mk_idx), no scan of t survives
    body = report.command
    while isinstance(body, A.CLetMut) and body.x.startswith("__idx_"):
        body = body.c
    assert not _has_scan_read(body, "t"), body
