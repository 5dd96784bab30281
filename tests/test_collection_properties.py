"""Property-based differential tests for the collection-value layer
(dict/bag/set column ops) against direct Python models of the reference
semantics (Interpret.v:92-135,186-210, canonical forms Value.v:485-641).
Hypothesis drives insert/delete/lookup sequences and canonicalization so
the MapType/ArrayType realizations are checked op by op."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from fiat2_spark.functions import collections as C

_SETTINGS = dict(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_KEYS = st.integers(-5, 5)
_VALS = st.integers(-100, 100)
_DICT = st.dictionaries(_KEYS, _VALS, max_size=6)
_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("insert"), _KEYS, _VALS),
        st.tuples(st.just("delete"), _KEYS, st.just(0)),
    ),
    max_size=6,
)
_ARR = st.lists(st.integers(-9, 9), max_size=10)


def _one_row(spark, col, alias="v"):
    return spark.range(1).select(col.alias(alias)).collect()[0][alias]


@settings(**_SETTINGS)
@given(d=_DICT, ops=_OPS, probe=_KEYS)
def test_dict_insert_delete_lookup(spark, d, ops, probe):
    """A sequence of upserts/deletes applied to a MapType column equals
    the same sequence applied to a Python dict; lookup of an absent key
    is null (option None)."""
    col = F.map_from_entries(
        F.array(*[F.struct(F.lit(k).alias("k"), F.lit(v).alias("v")) for k, v in d.items()])
    ) if d else F.create_map().cast("map<int,int>")
    model = dict(d)
    for op, k, v in ops:
        if op == "insert":
            col = C.dict_insert(col, k, v)
            model[k] = v
        else:
            col = C.dict_delete(col, k)
            model.pop(k, None)
    got_entries = _one_row(spark, C.dict_canonical(col))
    assert sorted((r["key"], r["value"]) for r in got_entries) == sorted(model.items())
    got_probe = _one_row(spark, C.dict_lookup(col, probe))
    assert got_probe == model.get(probe)


@settings(**_SETTINGS)
@given(arr=_ARR, v=st.integers(-9, 9))
def test_bag_set_insert_canonical(spark, arr, v):
    """bag_insert keeps the sorted multiset; set_insert and list_to_set
    the sorted dedup."""
    col = F.array(*[F.lit(x) for x in arr]).cast("array<int>") if arr else F.array().cast("array<int>")
    got_bag = _one_row(spark, C.bag_insert(col, v))
    assert got_bag == sorted(arr + [v])
    got_set = _one_row(spark, C.set_insert(col, v))
    assert got_set == sorted(set(arr + [v]))
    got_l2s = _one_row(spark, C.list_to_set(col))
    assert got_l2s == sorted(set(arr))
