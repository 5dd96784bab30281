"""Aggregates and folds.

Reference: assoc-comm folds ``EACFold AGSum/AGCount`` (Interpret.v:212-216,
320-326), assoc-comm-idempotent ``EACIFold AGMin/AGMax`` over sets →
option (Interpret.v:218-238), general right fold ``EFold``
(Interpret.v:313-319), dict fold ``EDictFold`` (Interpret.v:346-350), and
the group-by idiom — the DictIndex ``to_idx`` folds a table into
``TDict attr (TBag row)`` (DictIndexImpl.v:25-33), fiat2's only group-by.

Spark realization: ``agg`` compiles to partial (map-side) + final
aggregation — the shuffle moves one row per (partition, group), not the
data. ``EFold`` with an arbitrary non-commutative body has no distributed
analog (SURVEY §7 watch list): supported on *array columns* via
``F.aggregate`` (a left fold — right folds reverse first), and on tables
only in the rewritable assoc-comm forms, mirroring the reference's own
``annotate_collection`` normalization (CollectionTransf.v:6-22) which
rewrites folds into AC-folds before optimizing.
"""

from __future__ import annotations

from typing import Callable, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_AC_FOLDS: dict[str, Callable[[Column], Column]] = {
    "sum": F.sum,
    "count": lambda c: F.count(F.lit(1)),
}
_ACI_FOLDS: dict[str, Callable[[Column], Column]] = {
    "min": F.min,
    "max": F.max,
}


def ac_fold(df: DataFrame, agg: str, col: Column | None = None, alias: str | None = None) -> DataFrame:
    """EACFold AGSum/AGCount over a bag (Interpret.v:212-216).

    ``sum`` of an empty bag is 0 in the reference; Spark yields null →
    coalesce to 0. Partial aggregation makes this a single-row shuffle.
    """
    name = alias or agg
    if agg == "count":
        return df.agg(F.count(F.lit(1)).alias(name))
    if agg == "sum":
        return df.agg(F.coalesce(F.sum(col), F.lit(0)).alias(name))
    raise ValueError(f"not an assoc-comm fold: {agg}")


def aci_fold(df: DataFrame, agg: str, col: Column, alias: str | None = None) -> DataFrame:
    """EACIFold AGMin/AGMax over a set → option (Interpret.v:218-238):
    empty input yields null (= VOption None) — Spark's native behavior."""
    if agg not in _ACI_FOLDS:
        raise ValueError(f"not an assoc-comm-idem fold: {agg}")
    return df.agg(_ACI_FOLDS[agg](col).alias(alias or agg))


def group_agg(df: DataFrame, keys: Sequence[str], aggs: dict[str, Column]) -> DataFrame:
    """Generalized group-by (the DictIndex ``to_idx`` shape,
    DictIndexImpl.v:25-33, keyed by ``keys`` instead of one attr).
    Emits aggregate columns in sorted-name order (canonical records)."""
    return df.groupBy(*keys).agg(*(e.alias(n) for n, e in sorted(aggs.items())))


def dict_index(df: DataFrame, attr: str) -> DataFrame:
    """DictIndex ``to_idx``: table → dict attr ↦ bag of rows
    (DictIndexImpl.v:25-33). As a DataFrame: group rows under their key,
    each group's bag in canonical sorted order so downstream comparisons
    are deterministic. At scale this *is* the shuffle a hash join would
    do — which is why the query rewrite (eq_filter_to_lookup_head,
    DictIndexImpl.v:374-390) maps to Spark's hash join / bucket pruning
    rather than a literal dict."""
    row = F.struct(*[F.col(c) for c in sorted(df.columns)])
    return (
        df.groupBy(attr)
        .agg(F.array_sort(F.collect_list(row)).alias("rows"))
    )


def fold_array(arr: Column, init: Column, step: Callable[[Column, Column], Column]) -> Column:
    """EFold on an array column (Interpret.v:313-319). The reference fold
    is a *right* fold: fold f [a,b,c] i = f a (f b (f c i)); Spark's
    ``F.aggregate`` is a left fold, so reverse first. Arbitrary
    non-commutative bodies are fine — this runs per-row, JVM-side."""
    # F.aggregate(col, init, merge) folds left: merge(acc, x)
    return F.aggregate(F.reverse(arr), init, lambda acc, x: step(x, acc))


def dict_fold(m: Column, init: Column, step: Callable[[Column, Column, Column], Column]) -> Column:
    """EDictFold (Interpret.v:346-350): fold over dict entries in sorted
    key order (dicts are canonically sorted in the reference, so we sort
    map_entries before folding)."""
    entries = F.array_sort(F.map_entries(m))
    return F.aggregate(entries, init, lambda acc, e: step(e["key"], e["value"], acc))
