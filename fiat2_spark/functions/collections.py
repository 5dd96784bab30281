"""Collection-value operations: dicts, bags, sets, lists as columns.

Reference: dict ops ``OLookup``/``ODelete``/``OInsert``
(Interpret.v:92-110,196-210), bag/set inserts (Interpret.v:186-193),
canonical forms (Value.v:485-641). fiat2 dicts/bags/sets are *sorted
canonical lists*; Spark maps/arrays are unordered/ordered-as-built, so
canonicalization (sorting) is applied at comparison boundaries, not as a
runtime representation — a pure-win departure documented in SURVEY §7.

Two scales of dict:
  * column-level (MapType) — a dict value inside a row: these helpers;
  * table-level (the DictIndex of DictIndexImpl.v) — a keyed DataFrame,
    where lookup is a join/filter and Catalyst picks hash-join or
    partition pruning (see operators.aggregates.dict_index).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


# -- dict (MapType column) ops ---------------------------------------------

def dict_lookup(m: Column, k) -> Column:
    """OLookup → option: null when absent (Interpret.v:196-199)."""
    k = k if isinstance(k, Column) else F.lit(k)
    return F.element_at(m, k)


def dict_insert(m: Column, k, v) -> Column:
    """OInsert: upsert (Interpret.v:92-99). ``map_concat`` with duplicate
    keys keeps the **last** occurrence under
    spark.sql.mapKeyDedupPolicy=LAST_WIN; build explicitly instead:
    filter the old key out, then append."""
    k = k if isinstance(k, Column) else F.lit(k)
    v = v if isinstance(v, Column) else F.lit(v)
    without = F.map_filter(m, lambda key, _: key != k)
    return F.map_concat(without, F.create_map(k, v))


def dict_delete(m: Column, k) -> Column:
    """ODelete (Interpret.v:100-105)."""
    k = k if isinstance(k, Column) else F.lit(k)
    return F.map_filter(m, lambda key, _: key != k)


def dict_canonical(m: Column) -> Column:
    """Canonical form for output: sorted (key, value) entry array
    (fiat2 dicts are sorted assoc lists — Value.v:560-583)."""
    return F.array_sort(F.map_entries(m))


# -- bag / set (array column) ops ------------------------------------------

def bag_insert(arr: Column, v) -> Column:
    """OBagInsert: canonical multiset insert = append + sort
    (Interpret.v:112-124 bag_insert keeps the sorted form)."""
    v = v if isinstance(v, Column) else F.lit(v)
    return F.array_sort(F.array_append(arr, v))


def set_insert(arr: Column, v) -> Column:
    """OSetInsert: dedup + sort (Interpret.v:126-135)."""
    v = v if isinstance(v, Column) else F.lit(v)
    return F.array_sort(F.array_distinct(F.array_append(arr, v)))


def list_to_set(arr: Column) -> Column:
    """list_to_set: sorted dedup (Interpret.v:126-135)."""
    return F.array_sort(F.array_distinct(arr))

