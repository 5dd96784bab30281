"""The fiat2 expression/command AST, re-expressed as Python dataclasses.

Constructor-for-constructor parity with the reference language
(fiat2/src/fiat2/Language.v:56-145 atoms/unops/binops/ternops/exprs,
Language.v:210-217 commands). This is the *logical* surface a reference
user writes; `compile.py` lowers it to DataFrame plans (tables) and
Column expressions (rows/scalars), and `interp.py` runs the command
layer against the Gstore, `interp.Store`.

Types (Language.v:4-15) are represented structurally for the checker;
records keep their canonical sorted-field invariant
(TypeSystem.v:87-108) at construction.
"""

from __future__ import annotations

from dataclasses import dataclass, fields, replace
from typing import Optional, Tuple, Union


# -- types (Language.v:4-15) ------------------------------------------------

@dataclass(frozen=True)
class Type:
    pass


@dataclass(frozen=True)
class TWord(Type):
    width: int = 64


@dataclass(frozen=True)
class TInt(Type):
    pass


@dataclass(frozen=True)
class TBool(Type):
    pass


@dataclass(frozen=True)
class TString(Type):
    pass


@dataclass(frozen=True)
class TUnit(Type):
    pass


@dataclass(frozen=True)
class TOption(Type):
    t: Type


@dataclass(frozen=True)
class TList(Type):
    t: Type


@dataclass(frozen=True)
class TBag(Type):
    t: Type


@dataclass(frozen=True)
class TSet(Type):
    t: Type


@dataclass(frozen=True)
class TDict(Type):
    kt: Type
    vt: Type


@dataclass(frozen=True)
class TRecord(Type):
    """Fields NoDup + sorted by name — canonical by construction
    (TypeSystem.v:87-108, Value.v:518-556 record_sort)."""

    fields: Tuple[Tuple[str, Type], ...]

    def __post_init__(self):
        names = [n for n, _ in self.fields]
        if names != sorted(names) or len(set(names)) != len(names):
            object.__setattr__(
                self, "fields", tuple(sorted(dict(self.fields).items()))
            )

    def field_type(self, name: str) -> Type:
        for n, t in self.fields:
            if n == name:
                return t
        raise KeyError(name)


# -- atoms (Language.v:56-67) ----------------------------------------------

@dataclass(frozen=True)
class Atom:
    pass


@dataclass(frozen=True)
class AWord(Atom):
    n: int


@dataclass(frozen=True)
class AInt(Atom):
    n: int


@dataclass(frozen=True)
class ABool(Atom):
    b: bool


@dataclass(frozen=True)
class AString(Atom):
    s: str


@dataclass(frozen=True)
class ANil(Atom):
    t: Optional[Type] = None


@dataclass(frozen=True)
class ANone(Atom):
    t: Optional[Type] = None


@dataclass(frozen=True)
class AEmptyDict(Atom):
    t: Optional[Tuple[Type, Type]] = None


@dataclass(frozen=True)
class AEmptyBag(Atom):
    t: Optional[Type] = None


@dataclass(frozen=True)
class AEmptySet(Atom):
    t: Optional[Type] = None


@dataclass(frozen=True)
class AUnit(Atom):
    pass


# -- operators (Language.v:69-111) -----------------------------------------

UNOPS = ("OWNeg", "ONeg", "ONot", "OLength", "OLengthString", "OIntToString", "OSome")
BINOPS = (
    "OWPlus", "OPlus", "OWMinus", "OMinus", "OWTimes", "OTimes",
    "OWDivU", "OWDivS", "ODiv", "OWModU", "OWModS", "OMod",
    "OAnd", "OOr", "OConcat", "OConcatString",
    "OWLessU", "OWLessS", "OLess", "OEq",
    "OCons", "ORange", "OWRange", "OBagInsert", "OSetInsert",
    "OLookup", "ODelete",
)
TERNOPS = ("OInsert",)

LIKE_SET, LIKE_BAG, LIKE_LIST = "LikeSet", "LikeBag", "LikeList"


# -- expressions (Language.v:121-145) --------------------------------------

@dataclass(frozen=True)
class Expr:
    pass


@dataclass(frozen=True)
class EVar(Expr):
    x: str


@dataclass(frozen=True)
class ELoc(Expr):
    x: str


@dataclass(frozen=True)
class EAtom(Expr):
    a: Atom


@dataclass(frozen=True)
class EUnop(Expr):
    op: str
    e: Expr


@dataclass(frozen=True)
class EBinop(Expr):
    op: str
    e1: Expr
    e2: Expr


@dataclass(frozen=True)
class ETernop(Expr):
    op: str
    e1: Expr
    e2: Expr
    e3: Expr


@dataclass(frozen=True)
class EIf(Expr):
    p: Expr
    e1: Expr
    e2: Expr


@dataclass(frozen=True)
class ELet(Expr):
    e1: Expr
    x: str
    e2: Expr


@dataclass(frozen=True)
class EFlatmap(Expr):
    tag: str
    e1: Expr
    x: str
    e2: Expr


@dataclass(frozen=True)
class EFlatmap2(Expr):
    e1: Expr
    e2: Expr
    x1: str
    x2: str
    e3: Expr


@dataclass(frozen=True)
class EFold(Expr):
    e1: Expr
    e2: Expr
    v: str
    acc: str
    e3: Expr


@dataclass(frozen=True)
class EACFold(Expr):
    ag: str  # AGSum | AGCount
    e: Expr


@dataclass(frozen=True)
class EACIFold(Expr):
    ag: str  # AGMin | AGMax
    e: Expr


@dataclass(frozen=True)
class ERecord(Expr):
    fields: Tuple[Tuple[str, Expr], ...]


@dataclass(frozen=True)
class EAccess(Expr):
    r: Expr
    s: str


@dataclass(frozen=True)
class EOptMatch(Expr):
    e: Expr
    e_none: Expr
    x: str
    e_some: Expr


@dataclass(frozen=True)
class EDictFold(Expr):
    d: Expr
    e0: Expr
    k: str
    v: str
    acc: str
    e: Expr


@dataclass(frozen=True)
class ESort(Expr):
    tag: str
    l: Expr


@dataclass(frozen=True)
class EFilter(Expr):
    tag: str
    l: Expr
    x: str
    p: Expr


@dataclass(frozen=True)
class EJoin(Expr):
    tag: str
    l1: Expr
    l2: Expr
    x: str
    y: str
    p: Expr
    r: Expr


@dataclass(frozen=True)
class EProj(Expr):
    tag: str
    l: Expr
    x: str
    r: Expr


@dataclass(frozen=True)
class EBagOf(Expr):
    l: Expr


@dataclass(frozen=True)
class ESetOf(Expr):
    l: Expr


# -- commands (Language.v:210-217) -----------------------------------------

@dataclass(frozen=True)
class Command:
    pass


@dataclass(frozen=True)
class CSkip(Command):
    pass


@dataclass(frozen=True)
class CSeq(Command):
    c1: Command
    c2: Command


@dataclass(frozen=True)
class CLet(Command):
    e: Expr
    x: str
    c: Command


@dataclass(frozen=True)
class CLetMut(Command):
    e: Expr
    x: str
    c: Command


@dataclass(frozen=True)
class CAssign(Command):
    x: str
    e: Expr


@dataclass(frozen=True)
class CIf(Command):
    e: Expr
    c1: Command
    c2: Command


@dataclass(frozen=True)
class CForeach(Command):
    e: Expr
    x: str
    c: Command


# -- the one structural traversal (the reference's fold_expr,
#    TransfUtils.v:58-84): every rewrite and analysis over the
#    expression tree walks it through `children` / `map_children` ------

def _expr_slots(e: Expr):
    """(field name, value) per Expr-holding field of ``e``; ERecord's
    ``(name, expr)`` pairs are one slot whose value is the pair tuple."""
    for f in fields(e):
        v = getattr(e, f.name)
        if isinstance(v, (Expr, tuple)):  # a tuple is ERecord's pairs
            yield f.name, v


def children(e: Expr):
    """The immediate sub-expressions of ``e``, in field order."""
    for _, v in _expr_slots(e):
        if isinstance(v, Expr):
            yield v
        else:
            yield from (fe for _, fe in v)


def map_children(e: Expr, f) -> Expr:
    """``e`` with ``f`` applied to each immediate sub-expression; ``e``
    itself when ``f`` returned every child unchanged."""
    changed = {}
    for name, v in _expr_slots(e):
        if isinstance(v, Expr):
            nv = f(v)
            if nv is not v:
                changed[name] = nv
        else:
            nv = tuple((n, f(fe)) for n, fe in v)
            if any(a[1] is not b[1] for a, b in zip(nv, v)):
                changed[name] = nv
    return replace(e, **changed) if changed else e


def subexprs(e: Expr):
    """``e`` and every expression below it, pre-order."""
    yield e
    for c in children(e):
        yield from subexprs(c)


def mentions(e: Expr, x: str | None, t: str | None) -> bool:
    """Does ``e`` read variable ``x`` or store location ``t`` anywhere
    (binders not considered)?"""
    return any(
        (isinstance(s, EVar) and s.x == x) or (isinstance(s, ELoc) and s.x == t)
        for s in subexprs(e)
    )


def is_nil(e: Expr) -> bool:
    """An empty-collection literal: the ``[]`` of ``if p then [r] else []``."""
    return isinstance(e, EAtom) and isinstance(e.a, (ANil, AEmptyBag, AEmptySet))


def insert_pattern(c: Command):
    """``t := OCons(row, !t)`` with a ``row`` that does not read ``t``
    — the insert shape every cons_to_* maintenance head requires
    (SumAgg.v:150-156, DictIndexImpl.v:571-588). Returns ``row``."""
    match c:
        case CAssign(t, EBinop("OCons", row, ELoc(t2))) if t == t2 and not mentions(row, None, t):
            return row
    return None


# -- free-variable analysis (the `cols`/free-vars used by the reference's
#    pushdown side conditions, Optimize.v:123-150) -------------------------

def free_vars(e: Expr) -> set[str]:
    match e:
        case EVar(x):
            return {x}
        case ELoc(_) | EAtom(_):
            return set()
        case EUnop(_, a):
            return free_vars(a)
        case EBinop(_, a, b):
            return free_vars(a) | free_vars(b)
        case ETernop(_, a, b, c):
            return free_vars(a) | free_vars(b) | free_vars(c)
        case EIf(p, a, b):
            return free_vars(p) | free_vars(a) | free_vars(b)
        case ELet(e1, x, e2):
            return free_vars(e1) | (free_vars(e2) - {x})
        case EFlatmap(_, e1, x, e2):
            return free_vars(e1) | (free_vars(e2) - {x})
        case EFlatmap2(e1, e2, x1, x2, e3):
            return free_vars(e1) | free_vars(e2) | (free_vars(e3) - {x1, x2})
        case EFold(e1, e2, v, acc, e3):
            return free_vars(e1) | free_vars(e2) | (free_vars(e3) - {v, acc})
        case EACFold(_, a) | EACIFold(_, a):
            return free_vars(a)
        case ERecord(fields):
            out: set[str] = set()
            for _, fe in fields:
                out |= free_vars(fe)
            return out
        case EAccess(r, _):
            return free_vars(r)
        case EOptMatch(a, en, x, es):
            return free_vars(a) | free_vars(en) | (free_vars(es) - {x})
        case EDictFold(d, e0, k, v, acc, body):
            return free_vars(d) | free_vars(e0) | (free_vars(body) - {k, v, acc})
        case ESort(_, l) | EBagOf(l) | ESetOf(l):
            return free_vars(l)
        case EFilter(_, l, x, p):
            return free_vars(l) | (free_vars(p) - {x})
        case EJoin(_, l1, l2, x, y, p, r):
            return (
                free_vars(l1)
                | free_vars(l2)
                | (free_vars(p) - {x, y})
                | (free_vars(r) - {x, y})
            )
        case EProj(_, l, x, r):
            return free_vars(l) | (free_vars(r) - {x})
    raise TypeError(f"unknown expr {e!r}")
