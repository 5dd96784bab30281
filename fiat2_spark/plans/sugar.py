"""Comprehension sugar over the fiat2 AST — the Python rendering of the
reference's concrete syntax (fiat2/src/fiat2/Notations.v:144-149):

    ``x <- e1 ; e2``      = EFlatmap LikeList e1 x e2
    ``check(p) ; e``      = EIf p e (EAtom ANil)
    ``ret e``             = EBinop OCons e (EAtom ANil)

so the reference program

    sort [ d <- nation, e <- supplier,
           check(e.s_nationkey = d.n_nationkey),
           ret {name: e.s_name, dept: d.n_name} ]

reads here as

    sort(comp(
        bind("d", loc("nation")),
        bind("e", loc("supplier")),
        check(eq(field("e", "s_nationkey"), field("d", "n_nationkey"))),
        ret(rec(name=field("e", "s_name"), dept=field("d", "n_name"))),
    ))

This is PURE sugar: every builder returns the exact `plans/ast.py` nodes
the raw constructors would (frozen dataclasses — equality is structural),
so typecheck/compile/interp see byte-identical programs; the
flatmap+guard pattern is still recognized as a θ-join by compile.py.
`tests/test_dsl.py` pins sugar ≡ raw-AST equality; `examples/dsl_demo.py`
uses it as the front door.
"""

from __future__ import annotations

from dataclasses import dataclass

from fiat2_spark.plans import ast as A

_NIL = A.EAtom(A.ANil())


@dataclass(frozen=True)
class _Bind:
    x: str
    source: A.Expr


@dataclass(frozen=True)
class _Check:
    pred: A.Expr


def bind(x: str, source: A.Expr) -> _Bind:
    """``x <- source ;`` — a comprehension generator (deferred: the
    continuation is supplied by `comp`)."""
    return _Bind(x, source)


def check(pred: A.Expr) -> _Check:
    """``check(pred) ;`` — a comprehension guard (deferred)."""
    return _Check(pred)


def ret(e: A.Expr) -> A.Expr:
    """``ret e`` — the singleton terminal: OCons e []."""
    return A.EBinop("OCons", e, _NIL)


def comp(*steps) -> A.Expr:
    """Assemble generators/guards right-to-left around the terminal —
    exactly how the Coq notations nest. The last step must already be an
    expression (normally `ret(...)`, but any list-typed tail works, e.g.
    a nested `comp`)."""
    if not steps or not isinstance(steps[-1], A.Expr):
        raise TypeError("comp(...) must end with an expression (e.g. ret(e))")
    body = steps[-1]
    for s in reversed(steps[:-1]):
        if isinstance(s, _Bind):
            body = A.EFlatmap("LikeList", s.source, s.x, body)
        elif isinstance(s, _Check):
            body = A.EIf(s.pred, body, _NIL)
        else:
            raise TypeError(f"comp step must be bind/check, got {s!r}")
    return body


# -- small expression spellings (Notations.v operator table) ---------------

def v(name: str) -> A.Expr:
    return A.EVar(name)


def loc(name: str) -> A.Expr:
    """``mut x`` — a store location (a name bound in `interp.Store`)."""
    return A.ELoc(name)


def field(x, name: str) -> A.Expr:
    """``x[name]`` — record access; accepts a var name or an expression."""
    return A.EAccess(A.EVar(x) if isinstance(x, str) else x, name)


def rec(**fields: A.Expr) -> A.Expr:
    """``{k: v, ...}`` — record literal, field order as written."""
    return A.ERecord(tuple(fields.items()))


def lit(x) -> A.Expr:
    """Constant literal: bool/int/str → the matching atom."""
    if isinstance(x, bool):
        return A.EAtom(A.ABool(x))
    if isinstance(x, int):
        return A.EAtom(A.AInt(x))
    if isinstance(x, str):
        return A.EAtom(A.AString(x))
    raise TypeError(f"no atom for {type(x).__name__}")


def eq(a: A.Expr, b: A.Expr) -> A.Expr:
    return A.EBinop("OEq", a, b)


def lt(a: A.Expr, b: A.Expr) -> A.Expr:
    return A.EBinop("OLess", a, b)


def and_(a: A.Expr, b: A.Expr) -> A.Expr:
    return A.EBinop("OAnd", a, b)


def or_(a: A.Expr, b: A.Expr) -> A.Expr:
    return A.EBinop("OOr", a, b)


def not_(a: A.Expr) -> A.Expr:
    return A.EUnop("ONot", a)


def sort(l: A.Expr) -> A.Expr:
    """``sort [...]`` — canonical ordering of a list comprehension."""
    return A.ESort("LikeList", l)


# -- command notations (Notations.v:52-76) ---------------------------------
#
#   skip            = CSkip          |  c1 ; c2          = CSeq c1 c2
#   let x = e in c  = CLet e x c     |  let mut x := e   = CLetMut e x c
#   set x := e      = CAssign x e    |  if e then/else   = CIf e c1 c2
#   for x in e : c  = CForeach e x c
#
# `seq(...)` right-associates like the level-90 `;` notation.

skip = A.CSkip()


def seq(*cs: A.Command) -> A.Command:
    """``c1 ; c2 ; ...`` — right-associative sequencing (empty = skip)."""
    if not cs:
        return skip
    out = cs[-1]
    for c in reversed(cs[:-1]):
        out = A.CSeq(c, out)
    return out


def let(x: str, e: A.Expr, c: A.Command) -> A.Command:
    """``let x = e in c`` — immutable binding."""
    return A.CLet(e, x, c)


def let_mut(x: str, e: A.Expr, c: A.Command) -> A.Command:
    """``let mut x := e in c`` — a mutable store location in scope."""
    return A.CLetMut(e, x, c)


def set_(x: str, e: A.Expr) -> A.Command:
    """``set x := e`` — assignment to a mutable location."""
    return A.CAssign(x, e)


def if_(e: A.Expr, c1: A.Command, c2: A.Command = skip) -> A.Command:
    """``if e then c1 else c2 end`` (else defaults to skip)."""
    return A.CIf(e, c1, c2)


def for_(x: str, e: A.Expr, c: A.Command) -> A.Command:
    """``for x in e : c end`` — iterate a collection, binding each row."""
    return A.CForeach(e, x, c)
