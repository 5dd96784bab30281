"""Compiler: fiat2 AST → Spark plans.

Two lowering levels, chosen by type:

* **table level** (``compile_expr``): collection-typed expressions become
  DataFrame plans. The comprehension patterns the reference recognizes
  with verified rewrites are recognized here *at plan build time* —
  ``flatmap e (λx. if p then [r] else [])`` becomes ``filter+project``
  (to_filter_head, RelTransf.v:311-317; to_proj_head 658-664), the
  nested two-table form becomes a θ-join (to_join_head,
  RelTransf.v:357-367) — so Catalyst sees joins and filters, not lambdas,
  and its own pushdown/pruning/reordering (the reference's §4.1/§4.2
  catalog) applies.

* **column level** (``compile_column``): scalar and nested-collection
  expressions become Column trees (higher-order array/map functions for
  EFlatmap/EFilter/EFold on nested lists — all JVM-side, codegen'd).

Row binders: a variable bound by filter/join/proj over a record table
maps to the table's columns (optionally alias-qualified for
self-joins); a whole-row reference (``EVar x``) reconstructs the
canonical sorted-field struct. Non-record element tables use the single
column ``value``.
"""

from __future__ import annotations

import functools
import itertools
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from fiat2_spark.functions import collections as CO
from fiat2_spark.functions import scalars as S
from fiat2_spark.operators import relational as R
from fiat2_spark.plans import ast as A

_alias_counter = itertools.count()


class CompileError(Exception):
    pass


from dataclasses import dataclass  # noqa: E402


@dataclass(frozen=True)
class _ALit(A.Atom):
    """Internal: a pre-evaluated driver-side value spliced back into the
    AST by _lift_table_aggs (not part of the reference surface)."""

    v: Any


@dataclass(frozen=True)
class _AAggRef(A.Atom):
    """Internal: column ``name`` of the one-row aggregate that
    _lift_table_aggs lifts table folds into (see _TableAggs); ``wrap``
    is the atom its collected value is spliced back as."""

    name: str
    wrap: type


@dataclass(frozen=True)
class _AFoldVal(A.Atom):
    """Internal: a value collected from a Spark fold result. Unlike
    ``_ALit`` (whose dicts are fiat2 records), here the Python shapes
    carry Spark's collect() conventions: ``dict`` IS a map (TDict),
    ``Row`` is a struct, ``list`` is an array."""

    v: Any


# -- environment bindings ---------------------------------------------------
# ("col", Column)            row/scalar value as a Column expression
# ("row", prefix, [cols])    record binder over a table's columns
# ("df", DataFrame)          table-typed binding
# ("py", value)              driver-side Python value (CForeach/CLet)


def _bind_row(df: DataFrame, prefix: str | None):
    p = f"{prefix}." if prefix else ""
    if df.columns == ["value"]:
        return ("col", F.col(f"{p}value"))
    return ("row", prefix, list(df.columns))


def _row_struct(prefix: str | None, cols: list[str]) -> Column:
    p = f"{prefix}." if prefix else ""
    return F.struct(*[F.col(p + c).alias(c) for c in sorted(cols)])


def _lit(v: Any) -> Column:
    """Scalar literal. A Python int is a fiat2 int, a long column: a bare
    ``F.lit`` types a small one int, which ``F.aggregate`` rejects as
    the init of a long body."""
    return F.lit(v).cast("long") if type(v) is int else F.lit(v)


def _py_to_col(v: Any) -> Column:
    if isinstance(v, dict):
        return F.struct(*[_py_to_col(v[k]).alias(k) for k in sorted(v)])
    if isinstance(v, (list, tuple)):
        return F.array(*[_py_to_col(x) for x in v])
    return _lit(v)


# -- pattern recognition (the reference's comprehension shapes) -------------

def _as_singleton(e: A.Expr):
    """``[r]`` = OCons r ANil — the `ret` of the notation layer."""
    if isinstance(e, A.EBinop) and e.op == "OCons" and isinstance(e.e2, A.EAtom) and isinstance(e.e2.a, A.ANil):
        return e.e1
    return None


def _as_guarded_singleton(e: A.Expr):
    """``if p then [r] else []`` → (p, r); plain ``[r]`` → (None, r)."""
    r = _as_singleton(e)
    if r is not None:
        return None, r
    if isinstance(e, A.EIf) and A.is_nil(e.e2):
        r = _as_singleton(e.e1)
        if r is not None:
            return e.p, r
    return None


# -- column-level compilation ----------------------------------------------

def compile_column(e: A.Expr, env: dict, w: int = 64) -> Column:
    cc = lambda x, env2=None: compile_column(x, env2 if env2 is not None else env, w)  # noqa: E731

    match e:
        case A.EVar(x):
            b = env.get(x)
            if b is None:
                raise CompileError(f"unbound variable {x}")
            kind = b[0]
            if kind == "col":
                return b[1]
            if kind == "row":
                return _row_struct(b[1], b[2])
            if kind == "py":
                return _py_to_col(b[1])
            raise CompileError(f"table-typed variable {x} used in scalar context")
        case A.EAtom(a):
            return _atom_column(a)
        case A.EAccess(r, s):
            if isinstance(r, A.EVar) and env.get(r.x, ("",))[0] == "row":
                _, prefix, _cols = env[r.x]
                return F.col((f"{prefix}." if prefix else "") + s)
            if isinstance(r, A.EVar) and env.get(r.x, ("",))[0] == "py":
                return _py_to_col(env[r.x][1][s])
            return cc(r).getField(s)
        case A.EUnop(op, e1):
            return _unop_column(op, cc(e1), w)
        case A.EBinop(op, e1, e2):
            return _binop_column(op, cc(e1), cc(e2), w)
        case A.ETernop("OInsert", d, k, v):
            return CO.dict_insert(cc(d), cc(k), cc(v))
        case A.EIf(p, e1, e2):
            return F.when(cc(p), cc(e1)).otherwise(cc(e2))
        case A.ELet(e1, x, e2):
            return cc(e2, {**env, x: ("col", cc(e1))})
        case A.ERecord(fields):
            return F.struct(*[cc(fe).alias(n) for n, fe in sorted(fields)])
        case A.EOptMatch(e1, e_none, x, e_some):
            opt = cc(e1)
            return F.when(opt.isNull(), cc(e_none)).otherwise(
                cc(e_some, {**env, x: ("col", opt)})
            )
        case A.EFlatmap(tag, e1, x, e2):
            arr = cc(e1)
            mapped = F.transform(arr, lambda v: cc(e2, {**env, x: ("col", v)}))
            return _retag_array(F.flatten(mapped), tag)
        case A.EFlatmap2(e1, e2, x1, x2, e3):
            a1, a2 = cc(e1), cc(e2)
            n = F.least(F.size(a1), F.size(a2))
            idx = F.sequence(F.lit(1), n)
            mapped = F.transform(
                idx,
                lambda i: cc(
                    e3,
                    {**env, x1: ("col", F.element_at(a1, i)), x2: ("col", F.element_at(a2, i))},
                ),
            )
            return F.when(n > 0, F.flatten(mapped)).otherwise(F.array())
        case A.EFold(e1, e2, v, acc, e3):
            # right fold (Interpret.v:313-319): reverse, then left-fold
            return F.aggregate(
                F.reverse(cc(e1)),
                _fold_init(e2, env),
                lambda a, x: cc(e3, {**env, v: ("col", x), acc: ("col", a)}),
            )
        case A.EACFold(ag, e1):
            arr = cc(e1)
            if ag == "AGCount":
                return F.size(arr).cast("long")
            return F.aggregate(arr, F.lit(0).cast("long"), lambda a, x: a + x)
        case A.EACIFold(ag, e1):
            arr = cc(e1)
            return F.array_min(arr) if ag == "AGMin" else F.array_max(arr)
        case A.EDictFold(d, e0, k, v, acc, body):
            entries = CO.dict_canonical(cc(d))
            return F.aggregate(
                entries,
                cc(e0),
                lambda a, ent: cc(
                    body,
                    {**env, k: ("col", ent["key"]), v: ("col", ent["value"]), acc: ("col", a)},
                ),
            )
        case A.ESort(tag, l):
            return _retag_array(cc(l), "LikeSet" if tag == "LikeSet" else "LikeBag")
        case A.EFilter(tag, l, x, p):
            arr = cc(l)
            out = F.filter(arr, lambda v: cc(p, {**env, x: ("col", v)}))
            return _retag_array(out, tag)
        case A.EProj(tag, l, x, r):
            arr = cc(l)
            out = F.transform(arr, lambda v: cc(r, {**env, x: ("col", v)}))
            return _retag_array(out, tag)
        case A.EJoin(tag, l1, l2, x, y, p, r):
            a1, a2 = cc(l1), cc(l2)
            pairs = F.flatten(
                F.transform(
                    a1,
                    lambda vx: F.transform(
                        F.filter(a2, lambda vy: cc(p, {**env, x: ("col", vx), y: ("col", vy)})),
                        lambda vy: cc(r, {**env, x: ("col", vx), y: ("col", vy)}),
                    ),
                )
            )
            return _retag_array(pairs, tag)
        case A.EBagOf(l):
            return F.array_sort(cc(l))
        case A.ESetOf(l):
            return CO.list_to_set(cc(l))
    raise CompileError(f"cannot compile to column: {e!r}")


def _retag_array(arr: Column, tag: str) -> Column:
    if tag == "LikeSet":
        return CO.list_to_set(arr)
    if tag == "LikeBag":
        return F.array_sort(arr)
    return arr


def _spark_type_str(ft) -> str:
    """fiat2 type → Spark DDL type string (for typed empty literals)."""
    from fiat2_spark.plans.typecheck import TDouble

    m = {
        A.TInt(): "bigint", A.TBool(): "boolean", A.TString(): "string",
        A.TWord(): "bigint", TDouble(): "double",
    }
    if ft in m:
        return m[ft]
    if isinstance(ft, A.TRecord):
        inner = ", ".join(f"{n}: {_spark_type_str(t2)}" for n, t2 in ft.fields)
        return f"struct<{inner}>"
    if isinstance(ft, (A.TList, A.TBag, A.TSet)):
        return f"array<{_spark_type_str(ft.t)}>"
    if isinstance(ft, A.TDict):
        return f"map<{_spark_type_str(ft.kt)}, {_spark_type_str(ft.vt)}>"
    if isinstance(ft, A.TOption):
        return _spark_type_str(ft.t)
    raise CompileError(f"cannot render Spark type for {ft}")


def _collected_to_col(v: Any) -> Column:
    """Collected Spark value → Column literal: Row = struct, dict = map
    (keys sorted for the canonical dict order), list = array."""
    if hasattr(v, "asDict"):  # pyspark Row
        d = v.asDict()
        return F.struct(*[_collected_to_col(d[k]).alias(k) for k in sorted(d)])
    if isinstance(v, dict):
        if not v:
            return F.map_from_arrays(F.array(), F.array())
        keys = sorted(v)
        return F.map_from_arrays(
            F.array(*[_collected_to_col(k) for k in keys]),
            F.array(*[_collected_to_col(v[k]) for k in keys]),
        )
    if isinstance(v, (list, tuple)):
        return F.array(*[_collected_to_col(x) for x in v])
    return _lit(v)


def _atom_column(a: A.Atom) -> Column:
    match a:
        case _ALit(v):
            return _py_to_col(v)
        case _AFoldVal(v):
            return _collected_to_col(v)
        case _AAggRef(name, _):
            return F.col(name)
        case A.AWord(n) | A.AInt(n):
            return F.lit(n).cast("long")
        case A.ABool(b):
            return F.lit(b)
        case A.AString(s):
            return F.lit(s)
        case A.ANil(t) | A.AEmptyBag(t) | A.AEmptySet(t):
            arr = F.array()
            return arr.cast(f"array<{_spark_type_str(t)}>") if t else arr
        case A.ANone(t):
            # a typed None must carry its element type: an untyped NULL is
            # VOID, which breaks positions that need a concrete type (e.g.
            # the accumulator of the Ex_Orders.v:54 min fold)
            return F.lit(None).cast(_spark_type_str(t)) if t else F.lit(None)
        case A.AEmptyDict(t):
            m = F.map_from_arrays(F.array(), F.array())
            if t:
                kt, vt = t
                m = m.cast(f"map<{_spark_type_str(kt)}, {_spark_type_str(vt)}>")
            return m
        case A.AUnit():
            return F.lit(None)
    raise CompileError(f"unknown atom {a!r}")


def _unop_column(op: str, c: Column, w: int) -> Column:
    match op:
        case "OWNeg":
            return S.word_neg(c, w)
        case "ONeg":
            return -c
        case "ONot":
            return ~c
        case "OLength":
            return F.size(c).cast("long")
        case "OLengthString":
            return F.length(c).cast("long")
        case "OIntToString":
            return S.int_to_string(c)
        case "OSome":
            return c  # options are nullable columns; Some is injection
    raise CompileError(f"unknown unop {op}")


def _binop_column(op: str, c1: Column, c2: Column, w: int) -> Column:
    match op:
        case "OPlus":
            return c1 + c2
        case "OMinus":
            return c1 - c2
        case "OTimes":
            return c1 * c2
        case "ODiv":
            return S.coq_div(c1, c2)
        case "OMod":
            return S.coq_mod(c1, c2)
        case "OWPlus":
            return S.word_add(c1, c2, w)
        case "OWMinus":
            return S.word_sub(c1, c2, w)
        case "OWTimes":
            return S.word_mul(c1, c2, w)
        case "OWDivU":
            return S.word_divu(c1, c2, w)
        case "OWDivS":
            return S.word_divs(c1, c2, w)
        case "OWModU":
            return S.word_modu(c1, c2, w)
        case "OWModS":
            return S.word_mods(c1, c2, w)
        case "OAnd":
            return c1 & c2
        case "OOr":
            return c1 | c2
        case "OConcat":
            return F.concat(c1, c2)
        case "OConcatString":
            return F.concat(c1, c2)
        case "OWLessU":
            return S.word_ltu(c1, c2, w)
        case "OWLessS":
            return S.word_lts(c1, c2, w)
        case "OLess":
            return c1 < c2
        case "OEq":
            return S.eq_value(c1, c2)
        case "OCons":
            return F.concat(F.array(c1), c2)
        case "ORange":
            return F.when(
                c2 > c1, F.sequence(c1.cast("long"), c2.cast("long") - 1)
            ).otherwise(F.array().cast("array<long>"))
        case "OWRange":
            return F.when(
                c2 > c1, F.sequence(c1.cast("long"), c2.cast("long") - 1)
            ).otherwise(F.array().cast("array<long>"))
        case "OBagInsert":
            return CO.bag_insert(c2, c1)
        case "OSetInsert":
            return CO.set_insert(c2, c1)
        case "OLookup":
            return CO.dict_lookup(c1, c2)
        case "ODelete":
            return CO.dict_delete(c1, c2)
    raise CompileError(f"unknown binop {op}")


# -- table-level compilation ------------------------------------------------

def is_table_expr(e: A.Expr, env: dict, store) -> bool:
    """Conservative: does ``e`` denote a top-level table (DataFrame)?"""
    match e:
        case A.ELoc(x):
            return x in store and isinstance(store.get(x), DataFrame)
        case A.EVar(x):
            return env.get(x, ("",))[0] == "df"
        case A.EFilter(_, l, _, _) | A.EProj(_, l, _, _) | A.ESort(_, l) | A.EBagOf(l) | A.ESetOf(l):
            return is_table_expr(l, env, store)
        case A.EJoin(_, l1, l2, _, _, _, _):
            return is_table_expr(l1, env, store) or is_table_expr(l2, env, store)
        case A.EFlatmap(_, e1, _, _):
            return is_table_expr(e1, env, store)
        case A.ELet(e1, x, e2):
            # `let t = <table> in …` is legal (Language.v:128-129); bind x
            # at the right level, then ask about the body
            kind = "df" if is_table_expr(e1, env, store) else "col"
            return is_table_expr(e2, {**env, x: (kind, None)}, store)
        case A.EIf(_, e1, e2):
            # table-typed conditional (Interpret.v:268-272): table iff
            # either branch is (the other may be an empty-collection atom)
            return is_table_expr(e1, env, store) or is_table_expr(e2, env, store)
        case A.EBinop("OConcat", e1, e2):
            return is_table_expr(e1, env, store) or is_table_expr(e2, env, store)
        case A.EBinop("OCons", _, e2):
            return is_table_expr(e2, env, store)
        case A.EBinop("ORange", _, _):
            return False  # column-level unless explicitly lifted
    return False


def _record_cols(r: A.Expr, env: dict) -> list[Column]:
    """The aliased output columns of a join/proj result expression."""
    if isinstance(r, A.ERecord):
        return [compile_column(fe, env).alias(n) for n, fe in sorted(r.fields)]
    if isinstance(r, A.EVar) and env.get(r.x, ("",))[0] == "row":
        _, prefix, cols = env[r.x]
        p = f"{prefix}." if prefix else ""
        return [F.col(p + c).alias(c) for c in sorted(cols)]
    return [compile_column(r, env).alias("value")]


def _project_record(df: DataFrame, r: A.Expr, env: dict, spark) -> DataFrame:
    """Project the join/proj result expression ``r`` over ``df``."""
    return df.select(*_record_cols(r, env))


def _project_dedup_uids(
    joined: DataFrame, r: A.Expr, env: dict, uid_refs: list[str]
) -> DataFrame:
    """Project ``r`` keeping the listed binding-uid columns, dedupe on
    (uids, result), then drop the uids — realizing an inner LikeSet
    flatmap tag's per-outer-binding dedup (Interpret.v's retag applies
    per evaluation of the body, i.e. per binding of the enclosing
    variables) as one distributed ``dropDuplicates`` instead of a
    driver loop. Distinct at the shallowest LikeSet level subsumes any
    deeper LikeSet tags (coarser keys, same result values)."""
    uid_names = [f"__fm_uid{k}" for k in range(len(uid_refs))]
    out = joined.select(
        *[F.col(ref).alias(n) for ref, n in zip(uid_refs, uid_names)],
        *_record_cols(r, env),
    )
    return out.dropDuplicates().drop(*uid_names)


def _explode_rows(df: DataFrame, arr: Column) -> DataFrame:
    """One row per element of the array column ``arr`` over ``df``: a
    struct element splats into its fields, any other lands in
    ``value``."""
    from pyspark.sql import types as T

    exploded = df.select(F.explode(arr).alias("_fm"))
    it = exploded.schema["_fm"].dataType
    if isinstance(it, T.StructType):
        return exploded.select(*[F.col(f"_fm.{f.name}").alias(f.name) for f in it.fields])
    return exploded.select(F.col("_fm").alias("value"))


def compile_expr(e: A.Expr, env: dict, store, spark: SparkSession) -> DataFrame:
    """Lower a table-typed expression to a DataFrame plan."""
    ce = lambda x, env2=None: compile_expr(x, env2 if env2 is not None else env, store, spark)  # noqa: E731

    match e:
        case A.ELoc(x):
            v = store.get(x)
            if not isinstance(v, DataFrame):
                raise CompileError(f"store location {x} is not a table")
            return v
        case A.EVar(x):
            b = env.get(x)
            if b and b[0] == "df":
                return b[1]
            raise CompileError(f"variable {x} is not table-bound")
        case A.EFilter(tag, l, x, p):
            df = ce(l)
            env2 = {**env, x: _bind_row(df, None)}
            return R.retag(df.filter(compile_column(p, env2)), tag)
        case A.EProj(tag, l, x, r):
            df = ce(l)
            env2 = {**env, x: _bind_row(df, None)}
            return R.retag(_project_record(df, r, env2, spark), tag)
        case A.EJoin(tag, l1, l2, x, y, p, r):
            a1, a2 = f"j{next(_alias_counter)}", f"j{next(_alias_counter)}"
            df1, df2 = ce(l1).alias(a1), ce(l2).alias(a2)
            env2 = {**env, x: _bind_row(df1, a1), y: _bind_row(df2, a2)}
            joined = df1.join(df2, on=compile_column(p, env2), how="inner")
            return R.retag(_project_record(joined, r, env2, spark), tag)
        case A.EFlatmap(tag, e1, x, e2):
            return _compile_flatmap(tag, e1, x, e2, env, store, spark)
        case A.ELet(e1, x, e2):
            # `let t = <table> in body` (Language.v:128-129): a
            # table-typed binding enters the env as a DataFrame (the plan
            # is shared, not re-derived per use — Catalyst sees one
            # subtree it may reuse); scalar bindings evaluate driver-side
            if is_table_expr(e1, env, store):
                return ce(e2, {**env, x: ("df", ce(e1))})
            return ce(e2, {**env, x: ("py", eval_value(e1, env, store, spark))})
        case A.EIf(p, e1, e2):
            # table-typed conditional (Interpret.v:268-272): the scalar
            # condition is decided driver-side, then only the taken
            # branch's plan is built — dead branches cost nothing
            return ce(e1) if eval_value(p, env, store, spark) else ce(e2)
        case A.ESort(tag, l):
            return R.sort_canonical(ce(l), tag=tag)
        case A.EBagOf(l):
            return ce(l)  # DataFrames are bags natively
        case A.ESetOf(l):
            return ce(l).distinct()
        case A.EBinop("OConcat", e1, e2):
            return ce(e1).unionByName(ce(e2))
        case A.EBinop("OCons", row_e, e2):
            df = ce(e2)
            row_val = eval_value(row_e, env, store, spark)
            if hasattr(row_val, "asDict"):
                row_val = row_val.asDict(recursive=True)
            # the 1-row leg is built JVM-side (range(1) + literal select,
            # ONE partition), not via createDataFrame: parallelize slices
            # a 1-row local list into defaultParallelism near-empty
            # Python-RDD partitions, so an insert loop of n conses
            # dragged n×32 no-op Python-worker tasks into every
            # downstream job (measured: 161-task broadcast builds in
            # dsl_auto_index's final count)
            vals = row_val if isinstance(row_val, dict) else {"value": row_val}
            single = spark.range(0, 1, 1, numPartitions=1).select(
                *[
                    _py_to_col(vals[c]).cast(df.schema[c].dataType).alias(c)
                    for c in df.columns
                ]
            )
            return single.unionByName(df)
        case A.EBinop("ORange", lo, hi):
            lo_v = eval_value(lo, env, store, spark)
            hi_v = eval_value(hi, env, store, spark)
            return spark.range(lo_v, max(lo_v, hi_v)).toDF("value")
        case A.EAtom(a) if A.is_nil(e):
            t = a.t
            if isinstance(t, A.TRecord):
                schema = ", ".join(f"{n} {_spark_type_str(t2)}" for n, t2 in t.fields)
            else:
                schema = f"value {_spark_type_str(t) if t else 'bigint'}"
            return spark.createDataFrame([], schema)
    raise CompileError(f"cannot compile to table plan: {e!r}")


def _as_dict_lookup(e: A.Expr):
    """``optmatch (lookup D k) with none => [] | some b => b`` →
    (D, k) — the read shape the auto-index DictIdx rewrite emits
    (plans/autoindex.py, DictIndexImpl.v:384-386)."""
    match e:
        case A.EOptMatch(A.EBinop("OLookup", d, k), nil, b, A.EVar(b2)) if b == b2 and A.is_nil(nil):
            return d, k
    return None


def _is_cons_to_insert_prior(prior, d, k) -> bool:
    """True iff ``prior`` is the compiler-emitted cons_to_insert tail
    (_update_cmd, DictIndexImpl.v:571-588): ``optmatch (lookup d k)
    nil __b __b`` with the SAME dict and key expressions (structural
    equality — AST nodes are frozen dataclasses). Only this shape
    means "append to the existing bucket", which is what
    DistDictIndex.insert_row's O(1) pending append implements."""
    match prior:
        case A.EOptMatch(
            A.EBinop("OLookup", d2, k2), A.EAtom(A.ANil(_)), b, A.EVar(b2)
        ) if b == b2:
            return d2 == d and k2 == k
    return False


def _is_dist_dict(v) -> bool:
    from fiat2_spark.streaming.maintenance import DistDictIndex

    return isinstance(v, DistDictIndex)


def _dict_value(d: A.Expr, store):
    """Value behind a lookup source: a store loc or substituted fold
    value holding a python dict (driver aux) or a DistDictIndex
    (distributed aux, above FOLD_COLLECT_LIMIT)."""
    v = None
    if isinstance(d, A.ELoc):
        try:
            v = store.get(d.x)
        except Exception:  # noqa: BLE001
            return None
    elif isinstance(d, A.EAtom) and isinstance(d.a, _AFoldVal):
        v = d.a.v
    if isinstance(v, dict) or _is_dist_dict(v):
        return v
    return None


def _compile_flatmap(tag, e1, x, e2, env, store, spark) -> DataFrame:
    """EFlatmap lowering with the reference's rewrite patterns applied at
    build time (see module docstring)."""
    df1 = compile_expr(e1, env, store, spark)
    env_row = {**env, x: _bind_row(df1, None)}

    # to_proj / to_filter: body is (guarded) singleton
    g = _as_guarded_singleton(e2)
    if g is not None:
        p, r = g
        df = df1 if p is None else df1.filter(compile_column(p, env_row))
        return R.retag(_project_record(df, r, env_row, spark), tag)

    # to_join (to_join_head, RelTransf.v:357-367): flatmap t1 x1
    # (flatmap t2 x2 (… (if p then [r] else []))) over independent
    # tables, two generators or more (the Ex_Triangle.v-style chained
    # comprehension). The generators are cross joined and the innermost
    # one is joined on the guard, which Catalyst's predicate pushdown
    # splits into hash joins for the equi conjuncts. An inner LikeSet tag
    # dedupes the body's results PER OUTER BINDING (Interpret.v
    # retag-per-evaluation; the relational fuzzer's mixed-tag shapes pin
    # this) — realized by tagging the rows of the generators outside it
    # with a uid and deduping (uids, r) after the join.
    def _chain(body: A.Expr, bound: frozenset):
        g2 = _as_guarded_singleton(body)
        if g2 is not None:
            return [], g2[0], g2[1]
        if (
            isinstance(body, A.EFlatmap)
            and is_table_expr(body.e1, env, store)
            and not (A.free_vars(body.e1) & bound)
        ):
            rest = _chain(body.e2, bound | {body.x})
            if rest is not None:
                binders, p2, r2 = rest
                return [(body.tag, body.x, body.e1)] + binders, p2, r2
        return None

    if isinstance(e2, A.EFlatmap):
        chain = _chain(e2, frozenset({x}))
        if chain is not None:
            binders, p, r = chain
            # shallowest inner LikeSet tag (binders[i] tags the flatmap
            # nested under generators 0..i, generator 0 = df1): dedupe
            # on the uids of generators 0..i plus the result — coarsest
            # dedup, subsumes deeper LikeSet tags. Skipped when the
            # outermost tag's global distinct subsumes everything.
            s = next(
                (i for i, (t_i, _, _) in enumerate(binders) if t_i == "LikeSet"),
                None,
            )
            if tag == "LikeSet":
                s = None
            a1 = f"j{next(_alias_counter)}"
            env2 = {**env, x: _bind_row(df1, a1)}
            uid_refs = []
            d0 = df1
            if s is not None:
                d0 = d0.withColumn("__fm_uid", F.monotonically_increasing_id())
                uid_refs.append(f"{a1}.__fm_uid")
            joined = d0.alias(a1)
            for i, (_tag_i, xi, ti) in enumerate(binders):
                ai = f"j{next(_alias_counter)}"
                di = compile_expr(ti, env, store, spark)
                env2[xi] = _bind_row(di, ai)
                if s is not None and i < s:
                    di = di.withColumn("__fm_uid", F.monotonically_increasing_id())
                    uid_refs.append(f"{ai}.__fm_uid")
                if p is not None and i == len(binders) - 1:
                    joined = joined.join(di.alias(ai), on=compile_column(p, env2), how="inner")
                else:
                    joined = joined.crossJoin(di.alias(ai))
            if uid_refs:
                out = _project_dedup_uids(joined, r, env2, uid_refs)
            else:
                out = _project_record(joined, r, env2, spark)
            return R.retag(out, tag)

    # dict-aux lookup join: flatmap t x (flatmap (optmatch (lookup D
    # k(x)) nil b b) y body) — the shape the auto-index rewrite
    # (plans/autoindex.py eq_filter_to_lookup, DictIndexImpl.v:374-390)
    # produces for a lookup nested under a comprehension. Realized as a
    # HASH JOIN against the dict flattened to a (key, row) DataFrame —
    # the driver-resident aux (FOLD_COLLECT_LIMIT-bounded) is the build
    # side, so Catalyst broadcasts it; the alternative column path would
    # re-literalize the dict as a map constant and pay an O(|dict|)
    # GetMapValue scan PER OUTER ROW. LikeBag inner tags only (the bag
    # canonicalization makes bucket order unobservable; list-order reads
    # stay on the column path).
    if isinstance(e2, A.EFlatmap) and e2.tag == "LikeBag":
        lk = _as_dict_lookup(e2.e1)
        if lk is not None:
            dmap = _dict_value(lk[0], store)
            d2 = None
            cols: list[str] = []
            if _is_dist_dict(dmap):
                # distributed aux: join the live keyed relation directly
                # — arbitrary size, so no forced broadcast (AQE decides)
                idx_df = dmap.to_df()
                cols = sorted(idx_df.columns)
                d2 = idx_df.select(
                    F.col(dmap.attr).alias("__k"), *[F.col(c) for c in cols]
                )
                broadcast_side = False
            elif dmap and all(
                hasattr(r, "asDict") or isinstance(r, dict)
                for b in dmap.values()
                for r in b
            ):
                flat = []
                for k, bucket in dmap.items():
                    for row in bucket:
                        d = row.asDict(recursive=True) if hasattr(row, "asDict") else dict(row)
                        flat.append({"__k": k, **d})
                if flat:
                    cols = sorted(c for c in flat[0] if c != "__k")
                    d2 = spark.createDataFrame(
                        [tuple([r["__k"]] + [r.get(c) for c in cols]) for r in flat],
                        ["__k"] + cols,
                    )
                    # driver-resident by contract (FOLD_COLLECT_LIMIT)
                    # — always the build side
                    broadcast_side = True
            if d2 is not None:
                a1, a2 = f"j{next(_alias_counter)}", f"j{next(_alias_counter)}"
                d2 = d2.alias(a2)
                env2 = {**env, x: _bind_row(df1, a1)}
                key_col = compile_column(lk[1], env2)
                joined = df1.alias(a1).join(
                    F.broadcast(d2) if broadcast_side else d2,
                    on=key_col == F.col(f"{a2}.__k"),
                    how="inner",
                )
                env2[e2.x] = ("row", a2, cols)
                g2 = _as_guarded_singleton(e2.e2)
                if g2 is not None:
                    p2, r2 = g2
                    if p2 is not None:
                        joined = joined.filter(compile_column(p2, env2))
                    return R.retag(_project_record(joined, r2, env2, spark), tag)
                return R.retag(_explode_rows(joined, compile_column(e2.e2, env2)), tag)

    # independent table body → cross product
    if x not in A.free_vars(e2) and is_table_expr(e2, env, store):
        return R.retag(df1.crossJoin(compile_expr(e2, env, store, spark)), tag)

    # correlated collection-valued body → lateral explode
    return R.retag(_explode_rows(df1, compile_column(e2, env_row)), tag)


# -- driver-side evaluation (scalar contexts of the command layer) ---------

_NO_DRIVER = object()


def _try_driver_eval(e: A.Expr, env: dict):
    """Pure-driver evaluation of expressions whose leaves are all
    driver-side values — the command layer's scalar work (loop-variable
    arithmetic, maintained-index reads/updates, dict lookups) must not
    pay a Spark job, let alone re-literalize a large store value into a
    plan per iteration (an auto-index dict lookup through a map literal
    would be O(|dict|) per read — worse than the scan it replaced).
    Covers only operators whose Python semantics are EXACTLY the
    engine's (int +/-/*, comparisons, cons/append, dict lookup/insert,
    option match on None, record access); anything else —
    word wrap-around, Coq div/mod, collection canonicalization —
    returns the _NO_DRIVER sentinel and takes the Spark path.
    Value conventions follow collect(): Row = record, dict = map,
    list = array (the _AFoldVal conventions)."""
    from pyspark.sql import Row

    def ev(x: A.Expr, env2: dict):
        match x:
            case A.EAtom(A.AInt(n)) | A.EAtom(A.AWord(n)):
                return n
            case A.EAtom(A.ABool(b)):
                return b
            case A.EAtom(A.AString(s)):
                return s
            case A.EAtom(A.ANone(_)) | A.EAtom(A.AUnit()):
                return None
            case A.EAtom(A.ANil(_)) | A.EAtom(A.AEmptyBag(_)) | A.EAtom(A.AEmptySet(_)):
                return []
            case A.EAtom(A.AEmptyDict(_)):
                return {}
            case A.EAtom(_AFoldVal(v)):
                return v
            case A.EAtom(_ALit(v)) if not isinstance(v, dict):
                # _ALit dicts are fiat2 records (struct convention) —
                # mixing them into map-convention results would corrupt
                # downstream OLookups; leave those to the compiled path
                return v
            case A.EVar(name):
                b = env2.get(name)
                if b is not None and b[0] == "py":
                    return b[1]
                return _NO_DRIVER
            case A.EAccess(r, s):
                rv = ev(r, env2)
                if rv is _NO_DRIVER:
                    return _NO_DRIVER
                if isinstance(rv, Row):
                    return rv[s]
                if isinstance(rv, dict):  # env "py" rows are plain dicts
                    return rv[s]
                return _NO_DRIVER
            case A.EBinop(op, e1, e2):
                v1 = ev(e1, env2)
                if v1 is _NO_DRIVER:
                    return _NO_DRIVER
                v2 = ev(e2, env2)
                if v2 is _NO_DRIVER:
                    return _NO_DRIVER
                if op in ("OPlus", "OMinus", "OTimes") and isinstance(v1, int) and isinstance(v2, int):
                    return {"OPlus": v1 + v2, "OMinus": v1 - v2, "OTimes": v1 * v2}[op]
                if op == "OLess" and v1 is not None and v2 is not None:
                    return v1 < v2
                if op in ("OAnd", "OOr") and isinstance(v1, bool) and isinstance(v2, bool):
                    return (v1 and v2) if op == "OAnd" else (v1 or v2)
                if op == "OEq" and not isinstance(v1, (list, dict, Row)) and not isinstance(v2, (list, dict, Row)):
                    return v1 == v2
                if op == "OConcatString" and isinstance(v1, str) and isinstance(v2, str):
                    return v1 + v2
                if op == "OCons" and isinstance(v2, list):
                    return [v1] + v2
                if op == "OLookup" and isinstance(v1, dict):
                    return v1.get(v2)
                if op == "OLookup" and _is_dist_dict(v1):
                    return v1.lookup(v2)
                return _NO_DRIVER
            # distributed-index maintenance: the cons_to_insert shape
            # (OInsert d k (r :: lookup-or-nil)) must NOT evaluate the
            # prior bucket (a Spark job per insert) — append the row to
            # the index's O(1) pending list instead. The O(1) shortcut
            # is only sound for the compiler-emitted maintenance shape
            # (_update_cmd, DictIndexImpl.v:571-588): prior must be
            # `optmatch (lookup d k) nil b b` over the SAME d and k —
            # any other cons tail (e.g. bucket replacement `r :: nil`)
            # has replace semantics, which in-place append would
            # silently corrupt, so those fall through to _NO_DRIVER.
            case A.ETernop("OInsert", d, k, A.EBinop("OCons", rexp, _prior)):
                dv = ev(d, env2)
                if _is_dist_dict(dv):
                    if not _is_cons_to_insert_prior(_prior, d, k):
                        return _NO_DRIVER
                    kv = ev(k, env2)
                    rv = ev(rexp, env2)
                    if _NO_DRIVER in (kv, rv):
                        return _NO_DRIVER
                    return dv.insert_row(kv, rv)
                kv = ev(k, env2)
                vv = ev(A.EBinop("OCons", rexp, _prior), env2)
                if _NO_DRIVER in (dv, kv, vv) or not isinstance(dv, dict):
                    return _NO_DRIVER
                return {**dv, kv: vv}
            case A.ETernop("OInsert", d, k, v):
                dv = ev(d, env2)
                kv = ev(k, env2)
                vv = ev(v, env2)
                if _NO_DRIVER in (dv, kv, vv) or not isinstance(dv, dict):
                    return _NO_DRIVER
                return {**dv, kv: vv}
            case A.EIf(p, e1, e2):
                pv = ev(p, env2)
                if not isinstance(pv, bool):
                    return _NO_DRIVER
                return ev(e1 if pv else e2, env2)
            case A.ELet(e1, name, e2):
                v1 = ev(e1, env2)
                if v1 is _NO_DRIVER:
                    return _NO_DRIVER
                return ev(e2, {**env2, name: ("py", v1)})
            case A.EOptMatch(e1, e_none, name, e_some):
                v1 = ev(e1, env2)
                if v1 is _NO_DRIVER:
                    return _NO_DRIVER
                if v1 is None:
                    return ev(e_none, env2)
                return ev(e_some, {**env2, name: ("py", v1)})
            case A.ERecord(fields):
                vals = {}
                for n, fe in fields:
                    fv = ev(fe, env2)
                    if fv is _NO_DRIVER:
                        return _NO_DRIVER
                    vals[n] = fv
                return Row(**{k: vals[k] for k in sorted(vals)})
            case A.ESort(tag, l):
                lv = ev(l, env2)
                if lv is _NO_DRIVER or not isinstance(lv, list):
                    return _NO_DRIVER
                try:
                    return _retag_list(lv, "LikeSet" if tag == "LikeSet" else "LikeBag")
                except TypeError:  # incomparable/unhashable elements (NULLs)
                    return _NO_DRIVER
            case A.EFlatmap(tag, e1, name, e2):
                lv = ev(e1, env2)
                if lv is _NO_DRIVER or not isinstance(lv, list):
                    return _NO_DRIVER
                out = []
                for item in lv:
                    iv = ev(e2, {**env2, name: ("py", item)})
                    if iv is _NO_DRIVER or not isinstance(iv, list):
                        return _NO_DRIVER
                    out.extend(iv)
                try:
                    return _retag_list(out, tag)
                except TypeError:
                    return _NO_DRIVER
            case A.EFilter(tag, l, name, p):
                lv = ev(l, env2)
                if lv is _NO_DRIVER or not isinstance(lv, list):
                    return _NO_DRIVER
                out = []
                for item in lv:
                    pv = ev(p, {**env2, name: ("py", item)})
                    if not isinstance(pv, bool):
                        return _NO_DRIVER
                    if pv:
                        out.append(item)
                try:
                    return _retag_list(out, tag)
                except TypeError:
                    return _NO_DRIVER
            case A.EProj(tag, l, name, r):
                lv = ev(l, env2)
                if lv is _NO_DRIVER or not isinstance(lv, list):
                    return _NO_DRIVER
                out = []
                for item in lv:
                    rv = ev(r, {**env2, name: ("py", item)})
                    if rv is _NO_DRIVER:
                        return _NO_DRIVER
                    out.append(rv)
                try:
                    return _retag_list(out, tag)
                except TypeError:
                    return _NO_DRIVER
            case A.EUnop("OLength", l):
                lv = ev(l, env2)
                if isinstance(lv, (list, dict, str)):
                    return len(lv)
                return _NO_DRIVER
            case A.EUnop("OSome", e1):
                v1 = ev(e1, env2)
                return _NO_DRIVER if v1 is _NO_DRIVER or v1 is None else v1
            case A.EUnop("ONot", e1):
                v1 = ev(e1, env2)
                return (not v1) if isinstance(v1, bool) else _NO_DRIVER
        return _NO_DRIVER

    return ev(e, env)


def _retag_list(v: list, tag: str) -> list:
    """Driver twin of _retag_array: canonical sort for bags, sort+dedup
    for sets, identity for lists."""
    if tag == "LikeSet":
        return sorted(set(v))
    if tag == "LikeBag":
        return sorted(v)
    return v


def eval_value(e: A.Expr, env: dict, store, spark: SparkSession) -> Any:
    """Evaluate a scalar-typed expression to a Python value. Table-rooted
    aggregates (sum/count/min/max/length and general folds over a table)
    are lifted into one aggregate per source table (_TableAggs); that
    one-row aggregate is collected ONCE for the whole expression and its
    values spliced back as literals. The residual is then evaluated
    driver-side when it is pure driver work (_try_driver_eval), else in
    a single-row select — so an expression without table aggregates
    that the driver can evaluate starts no Spark job."""
    aggs = _TableAggs(env, store, spark)
    lifted = aggs.splice(_lift_table_aggs(e, env, store, spark, aggs))
    v = _try_driver_eval(lifted, env)
    if v is not _NO_DRIVER:
        return v
    col = compile_column(lifted, env)
    row = spark.range(1).select(col.alias("v")).collect()[0]
    return row["v"]


def scalar_frame(named: dict[str, A.Expr], env: dict, store, spark: SparkSession) -> DataFrame:
    """One-row DataFrame of named scalar-typed expressions — the read
    path of the Ex_Orders / Ex_Sum command loops (sum/min reads plus
    threshold logic, Ex_Orders.v:69-76). Table-rooted aggregates across
    ALL the expressions are lifted (annotate_collection's sum/min/count
    recognition, CollectionTransf.v:6-22) into one lazy aggregate per
    distinct source table — a fold read by two expressions is one
    column — and the residual expressions are columns selected over
    that one-row aggregate (cross-joined only when there are several
    sources). Building the frame starts no Spark job, except for the
    eager cases _lift_table_aggs names (a to_idx dict fold, a general
    fold whose init reads a table); the aggregate runs when the frame
    is drained."""
    aggs = _TableAggs(env, store, spark)
    cols = [
        compile_column(_lift_table_aggs(e, env, store, spark, aggs), env).alias(name)
        for name, e in named.items()
    ]
    return (aggs.frame() if aggs else spark.range(1)).select(*cols)


#: Row cap for general (non-AC) table folds: such a fold is inherently
#: sequential, so the table is collapsed to ONE array on one executor.
#: The reference runs the same semantics on a single node
#: (Interpret.v:313-319); at warehouse scale users should write
#: AC-recognizable folds (sum/count/min/max, lifted to shuffles above)
#: or group-bounded folds instead. A fold over more rows fails its
#: action with an error naming this limit.
FOLD_COLLECT_LIMIT = 1_000_000


def _fold_agg(df: DataFrame, init: Column, v: str, acc: str, e3: A.Expr, env: dict) -> Column:
    """General (non-AC) right fold over the rows of ``df`` as ONE
    aggregate expression — the fallback realizing ``EFold`` on tables
    verbatim (Interpret.v:313-319; the reference's ``to_idx`` fold,
    DictIndexImpl.v:25-33, is the motivating program). Rows enter the
    fold in canonical sorted order (DataFrames are bags; sort_array
    fixes the order the way ESort's canonicalization does) and the
    whole fold runs INSIDE Spark as one ``F.aggregate`` over a
    ``collect_list`` array — the driver never loops row-at-a-time.
    The FOLD_COLLECT_LIMIT precondition is checked in the same
    aggregate: above it the action raises instead of returning."""
    if df.columns == ["value"]:
        elem = F.col("value")
    else:
        elem = F.struct(*[F.col(c).alias(c) for c in sorted(df.columns)])
    folded = F.aggregate(
        # right fold = left fold over the reversed (canonical) order
        F.reverse(F.sort_array(F.collect_list(elem))),
        init,
        lambda a, x: compile_column(e3, {**env, v: ("col", x), acc: ("col", a)}),
    )
    n = F.count(F.lit(1))
    too_many = F.raise_error(F.concat(
        F.lit("general table fold over "), n.cast("string"),
        F.lit(f" rows exceeds FOLD_COLLECT_LIMIT ({FOLD_COLLECT_LIMIT}); "
              "rewrite as an AC fold or group-bounded fold"),
    ))
    return F.when(n > FOLD_COLLECT_LIMIT, too_many).otherwise(folded)


def _fold_init(e2: A.Expr, env: dict) -> Column:
    """A fold's init as a column. A spliced None (the min/max of an
    empty table, or a store scalar holding None) carries no type for
    ``F.aggregate`` to fold the body against, so it is refused by name
    instead of failing analysis on a VOID init."""
    if isinstance(e2, A.EAtom) and isinstance(e2.a, (_ALit, _AFoldVal)) and e2.a.v is None:
        raise CompileError(
            "fold init is None (e.g. the min/max of an empty table); "
            "give the fold a non-None init or a typed ANone"
        )
    return compile_column(e2, env)


def _fold_table(e1, e2, v, acc, e3, env, store, spark) -> Any:
    """The general fold of ``e1`` evaluated on its own — the naive
    reference the to_idx fast path is checked against."""
    df = compile_expr(e1, env, store, spark)
    return df.agg(_fold_agg(df, _fold_init(e2, env), v, acc, e3, env)).collect()[0][0]


def _as_to_idx_fold(init: A.Expr, v: str, acc: str, body: A.Expr) -> str | None:
    """Recognize the reference's to_idx fold (DictIndexImpl.v:25-33):
    ``fold t {} (x acc. insert acc x.attr (x :: lookup-or-nil))``.
    Returns the key attribute, or None. The auto-index rewrite
    (plans/autoindex.py) emits this verbatim shape; recognizing it lets
    the engine build the dict with ONE distributed group-by
    (operators.aggregates.dict_index) instead of the naive sequential
    fold — the same special-casing the reference's verified index
    implementation applies to its own to_idx."""
    if not (isinstance(init, A.EAtom) and isinstance(init.a, A.AEmptyDict)):
        return None
    match body:
        case A.ETernop(
            "OInsert",
            A.EVar(d),
            A.EAccess(A.EVar(kx), attr),
            A.EBinop(
                "OCons",
                A.EVar(rx),
                A.EOptMatch(
                    A.EBinop("OLookup", A.EVar(d2), A.EAccess(A.EVar(kx2), attr2)),
                    nil,
                    b,
                    A.EVar(b2),
                ),
            ),
        ) if (
            d == acc
            and d2 == acc
            and kx == v
            and kx2 == v
            and rx == v
            and attr == attr2
            and b == b2
            and A.is_nil(nil)
        ):
            return attr
    return None


def _map_scalar(e: A.Expr, f) -> A.Expr:
    """Rebuild ``e``, replacing each subterm for which ``f`` returns an
    expression; recurses only through the scalar positions table
    aggregates are lifted from (operators, conditionals, let, option
    match, a dict fold's dict and init)."""
    r = f(e)
    if r is not None:
        return r
    m = lambda x: _map_scalar(x, f)  # noqa: E731
    match e:
        case A.EBinop(op, e1, e2):
            return A.EBinop(op, m(e1), m(e2))
        case A.EUnop(op, e1):
            return A.EUnop(op, m(e1))
        case A.EIf(p, e1, e2):
            return A.EIf(m(p), m(e1), m(e2))
        case A.EOptMatch(e1, en, x, es):
            return A.EOptMatch(m(e1), m(en), x, m(es))
        case A.ELet(e1, x, e2):
            return A.ELet(m(e1), x, m(e2))
        case A.EDictFold(d, e0, k, dv, dacc, body):
            return A.EDictFold(m(d), m(e0), k, dv, dacc, body)
    return e


class _TableAggs:
    """The table aggregates lifted out of scalar expressions, as ONE lazy
    ``agg`` per distinct source table (sources match by structural AST
    equality). Each distinct fold is one column, referenced from the
    residual expression by an ``_AAggRef`` atom."""

    def __init__(self, env: dict, store, spark: SparkSession):
        self.env, self.store, self.spark = env, store, spark
        self._sources: list[tuple[A.Expr, DataFrame, list[Column]]] = []
        self._folds: list[tuple[tuple, A.Expr]] = []  # (fold key, its ref)

    def __bool__(self) -> bool:
        return bool(self._sources)

    def ref(self, t: A.Expr, kind: tuple, make, wrap: type) -> A.Expr:
        """Reference to the fold ``kind`` over source ``t``; ``make(df)``
        builds its aggregate column the first time it is seen, and
        ``wrap`` is the atom its collected value is spliced back as."""
        key = (t, kind)
        for k, r in self._folds:
            if k == key:
                return r
        src = next((s for s in self._sources if s[0] == t), None)
        if src is None:
            src = (t, compile_expr(t, self.env, self.store, self.spark), [])
            self._sources.append(src)
        name = f"__agg{len(self._folds)}"
        src[2].append(make(src[1]).alias(name))
        ref = A.EAtom(_AAggRef(name, wrap))
        self._folds.append((key, ref))
        return ref

    def frame(self) -> DataFrame:
        """The one-row aggregate: one ``agg`` per source, cross-joined."""
        return functools.reduce(
            DataFrame.crossJoin, [df.agg(*cols) for _, df, cols in self._sources]
        )

    def splice(self, e: A.Expr) -> A.Expr:
        """Collect the aggregate row (one action) and replace every
        reference in ``e`` by its value."""
        if not self:
            return e
        row = self.frame().collect()[0]

        def value(sub):
            if isinstance(sub, A.EAtom) and isinstance(sub.a, _AAggRef):
                return A.EAtom(sub.a.wrap(row[sub.a.name]))
            return None

        return _map_scalar(e, value)


def _lift_table_aggs(e: A.Expr, env: dict, store, spark, aggs: _TableAggs | None = None) -> A.Expr:
    """Replace the table-rooted aggregates in scalar expression ``e`` by
    references into ``aggs`` (a fresh collector when omitted): EACFold
    sum/count, EACIFold min/max (``ESetOf`` dropped — both are
    idempotent, so ``min(set(t))`` shares ``t``'s aggregate), OLength,
    and general EFold. Nothing runs here, with two exceptions: a
    to_idx-shaped fold is built eagerly, as a driver dict or, above
    FOLD_COLLECT_LIMIT rows, a DistDictIndex — the row count decides;
    and a general fold whose init itself reads a table evaluates that
    init first."""
    if aggs is None:
        aggs = _TableAggs(env, store, spark)
    first = lambda df: F.col(df.columns[0])  # noqa: E731
    count = lambda df: F.count(F.lit(1))  # noqa: E731

    def lift(sub: A.Expr) -> A.Expr | None:
        match sub:
            case A.EFold(e1, e2, v, acc, e3) if is_table_expr(e1, env, store):
                attr = _as_to_idx_fold(e2, v, acc, e3)
                if attr is not None:
                    df = compile_expr(e1, env, store, spark)
                    if attr in df.columns:
                        n = df.count()
                        if n > FOLD_COLLECT_LIMIT:
                            # above the driver-materialization guard the
                            # index stays DISTRIBUTED (VERDICT r6 task 4):
                            # the keyed relation + Catalyst's hash join
                            # IS the dict at scale. O(1) insert_row
                            # maintenance, join-compiled table reads
                            # (_as_dict_lookup), per-read filtered scans
                            # for driver lookups.
                            from fiat2_spark.streaming.maintenance import (
                                DistDictIndex,
                            )

                            return A.EAtom(_AFoldVal(DistDictIndex(df, attr)))
                        from fiat2_spark.operators.aggregates import dict_index

                        rows = dict_index(df, attr).collect()
                        return A.EAtom(
                            _AFoldVal({r[attr]: list(r["rows"]) for r in rows})
                        )
                inner = _TableAggs(env, store, spark)
                init = _lift_table_aggs(e2, env, store, spark, inner)
                if inner:  # an init that reads a table is settled first
                    init = A.EAtom(_AFoldVal(eval_value(e2, env, store, spark)))
                return aggs.ref(
                    e1, ("fold", init, v, acc, e3),
                    lambda df: _fold_agg(df, _fold_init(init, env), v, acc, e3, env),
                    _AFoldVal,
                )
            case A.EACFold("AGCount", t) | A.EUnop("OLength", t) if is_table_expr(t, env, store):
                return aggs.ref(t, ("count",), count, A.AInt)
            case A.EACFold(_, t) if is_table_expr(t, env, store):
                return aggs.ref(
                    t, ("sum",), lambda df: F.coalesce(F.sum(first(df)), F.lit(0)), _ALit
                )
            case A.EACIFold(ag, t) if is_table_expr(t, env, store):
                fn = F.min if ag == "AGMin" else F.max
                src = t.l if isinstance(t, A.ESetOf) else t
                return aggs.ref(src, (ag,), lambda df: fn(first(df)), _ALit)
        return None

    return _map_scalar(e, lift)
