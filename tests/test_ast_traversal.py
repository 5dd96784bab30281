"""The one structural traversal over the fiat2 AST (`ast.children`,
`ast.map_children`, the analog of the reference's fold_expr,
TransfUtils.v:58-84) must see every sub-expression of every node class:
a child it skips is a sub-tree that no rewrite or analysis reaches."""

from __future__ import annotations

import dataclasses
import typing

import pytest

from fiat2_spark.plans import ast as A

MARKER = A.ELoc("__marker")
FILLER = A.EAtom(A.AUnit())
FILL = {"str": "x", "Atom": A.AUnit(), "Expr": FILLER}


def _expr_classes():
    return sorted(
        (c for c in vars(A).values()
         if isinstance(c, type) and issubclass(c, A.Expr) and c is not A.Expr),
        key=lambda c: c.__name__,
    )


def _sites():
    """(node with MARKER in one Expr position, position label), for every
    Expr-typed field of every Expr class and ERecord's (name, expr)
    pairs."""
    out = []
    for cls in _expr_classes():
        hints = typing.get_type_hints(cls, vars(A))
        names = [f.name for f in dataclasses.fields(cls)]
        for slot in names:
            t = hints[slot]
            if t is A.Expr:
                args = {n: MARKER if n == slot else FILL[getattr(hints[n], "__name__", "")] for n in names}
                out.append((cls(**args), f"{cls.__name__}.{slot}"))
            elif t == typing.Tuple[typing.Tuple[str, A.Expr], ...]:
                for i in range(2):
                    pairs = tuple((f"f{k}", MARKER if k == i else FILLER) for k in range(2))
                    out.append((cls(**{slot: pairs}), f"{cls.__name__}.{slot}[{i}]"))
            else:
                assert t in (str, A.Atom), f"{cls.__name__}.{slot}: untested field type {t}"
    return out


SITES = _sites()


def test_every_expr_class_has_a_site():
    classes_with_children = {label.split(".")[0] for _, label in SITES}
    leaves = {"EVar", "ELoc", "EAtom"}
    assert classes_with_children | leaves == {c.__name__ for c in _expr_classes()}
    assert any("[" in label for _, label in SITES), "ERecord pairs not covered"


@pytest.mark.parametrize("node,label", SITES, ids=[label for _, label in SITES])
def test_traversal_reaches_every_child(node, label):
    assert MARKER in list(A.children(node)), label
    assert A.mentions(node, None, MARKER.x), label
    # the rebuild replaces the child in place and shares unchanged nodes
    swapped = A.map_children(node, lambda c: A.ELoc("__other") if c == MARKER else c)
    assert type(swapped) is type(node) and swapped is not node, label
    assert not A.mentions(swapped, None, MARKER.x), label
    assert A.mentions(swapped, None, "__other"), label
    assert A.map_children(node, lambda c: c) is node, label
