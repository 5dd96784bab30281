"""Incremental view maintenance — the Spark realization of the
reference's novel contribution: index introduction with verified
incremental maintenance (SURVEY §4.3).

Reference structure: ``transf_to_idx`` rewrites ``CLetMut e tbl c`` so
the store holds {base table + auxiliary structures}, substituting reads
(aggregate → O(1) lookup) and writes (insert → index update) throughout
(fiat2/src/fiat2/IndexTransf.v:797-803; SumAgg.v:83-92 sum_to_agg_lookup
/ cons_to_add; MinAgg.v:82-90; DictIndexImpl.v:571-588 cons_to_insert).

Spark realization: a ``MaterializedView`` owns the base relation and a
set of maintained aggregates. ``insert(batch)`` folds the *batch's*
aggregate into the maintained state — O(|batch| + |groups|) work per
batch instead of O(|base|) recomputation; reads are O(1)/O(|groups|).
This is exactly Structured Streaming's update-mode stateful aggregation
expressed at the driver layer (and `stream_agg.py` expresses the same
thing on readStream); the insert-only assumption mirrors the
reference's OCons-only maintenance (min/sum are only maintainable
without deletes — the same restriction the Coq proofs carry).

Maintained state lives in small *driver-side* scalars / tiny DataFrames
(|groups| rows), never a copy of the base data — at 100 TB the base
stays in parquet; only aggregates are stateful.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fiat2_spark.session import block_ids, release_blocks


class SumIndex:
    """Materialized SUM(attr) — SumAgg.v:17-18 (to_idx = current sum),
    83-92 (read rewrite), 150-156 (cons_to_add maintenance)."""

    def __init__(self, expr: Column):
        self.expr = expr
        self.state: Any = 0

    def init(self, base: DataFrame) -> None:
        row = base.agg(F.coalesce(F.sum(self.expr), F.lit(0)).alias("v")).collect()[0]
        self.state = row["v"]

    def insert(self, batch: DataFrame) -> None:
        row = batch.agg(F.coalesce(F.sum(self.expr), F.lit(0)).alias("v")).collect()[0]
        self.state = self.state + row["v"]

    def read(self):
        return self.state


class MinIndex:
    """Materialized MIN(attr) → option — MinAgg.v:16-17, 82-90, 150-162.
    Monotone under insert-only (the streaming-safe case): new_min =
    min(old_min, min(batch))."""

    def __init__(self, expr: Column):
        self.expr = expr
        self.state: Any = None

    def _merge(self, v):
        if v is None:
            return
        self.state = v if self.state is None else min(self.state, v)

    def init(self, base: DataFrame) -> None:
        self.state = None
        self._merge(base.agg(F.min(self.expr).alias("v")).collect()[0]["v"])

    def insert(self, batch: DataFrame) -> None:
        self._merge(batch.agg(F.min(self.expr).alias("v")).collect()[0]["v"])

    def read(self):
        return self.state


class CountIndex:
    """Materialized COUNT — the AGCount fold maintained per insert."""

    def __init__(self):
        self.state = 0

    def init(self, base: DataFrame) -> None:
        self.state = base.count()

    def insert(self, batch: DataFrame) -> None:
        self.state += batch.count()

    def read(self):
        return self.state


class GroupIndex:
    """Maintained group-by aggregates — the DictIndex generalization
    (DictIndexImpl.v:25-33 to_idx folds the table into key → bag;
    571-588 cons_to_insert maintains it per insert). State is a
    |groups|-row DataFrame of mergeable partial aggregates
    (sum/count); merge = union + re-aggregate of two |groups|-sized
    inputs, never touching the base. min/max are also mergeable
    (insert-only)."""

    def __init__(self, keys: list[str], aggs: dict[str, tuple[str, Column]]):
        """aggs: out_name → (kind, expr), kind ∈ {sum,count,min,max}."""
        self.keys = keys
        self.aggs = aggs
        self.state: DataFrame | None = None

    def _partial(self, df: DataFrame) -> DataFrame:
        cols = []
        for name, (kind, expr) in sorted(self.aggs.items()):
            if kind == "count":
                cols.append(F.count(F.lit(1)).alias(name))
            else:
                cols.append(getattr(F, kind)(expr).alias(name))
        return df.groupBy(*self.keys).agg(*cols)

    def _merge(self, a: DataFrame, b: DataFrame) -> DataFrame:
        merged = a.unionByName(b)
        cols = []
        for name, (kind, _) in sorted(self.aggs.items()):
            fn = F.sum if kind in ("sum", "count") else getattr(F, kind)
            cols.append(fn(F.col(name)).alias(name))
        return merged.groupBy(*self.keys).agg(*cols)

    def init(self, base: DataFrame) -> None:
        # eager localCheckpoint, not a DataFrame persist: blocks (not a
        # CacheManager entry that would pin the state plan for the
        # session's life). The index owns its state's blocks: each insert
        # RETIRES the superseded snapshot's blocks by id as soon as the
        # new eager checkpoint has materialized — the global
        # release_checkpoint_blocks sweep must never run while the index
        # is live, since it would free the live state too.
        self.state = self._partial(base).localCheckpoint()

    def insert(self, batch: DataFrame) -> None:
        assert self.state is not None
        prev = self.state
        self.state = self._merge(prev, self._partial(batch)).localCheckpoint()
        # DataFrames returned by read() before this insert become
        # invalid here (snapshot-until-next-insert contract)
        release_blocks(prev.sparkSession, block_ids(prev))

    def read(self) -> DataFrame:
        """Current state snapshot — valid until the next insert()."""
        assert self.state is not None
        return self.state


class JoinAggView:
    """Incrementally maintained join-aggregate view — the delta-join
    generalization of the reference's single-table index maintenance
    (SumAgg/MinAgg maintain Σ over one table; a join view maintains Σ
    over A ⋈ B under insert-only batches on either side).

    Bilinearity of the join: Δ(A ⋈ B) = ΔA ⋈ B_seen  (left insert)
                                      ∪ A_seen ⋈ ΔB  (right insert),
    where X_seen includes every prior batch but NOT the incoming delta —
    applying the delta-join *before* folding the batch into the seen
    side covers each joined pair exactly once. Per batch the work is
    O(|Δ| ⋈ seen) + a |groups|-sized merge, never a recompute of the
    full join; the maintained state is the |groups|-row aggregate, not
    the join result. At 100 TB the seen sides are the base parquet
    (co-partitioned or broadcast against the delta) and only the group
    aggregate is stateful — exactly Structured Streaming's stream-stream
    join + update-mode agg, expressed at the driver layer.

    Insert-only, sum/count/min/max aggregates (the mergeable set — the
    same restriction the reference's OCons-only proofs carry).
    """

    def __init__(
        self,
        left: DataFrame,
        right: DataFrame,
        on: list[str],
        group: GroupIndex,
    ):
        self.on = on
        self.group = group
        # localCheckpoint bounds the union lineage of the seen sides as
        # batches accumulate (same hygiene as workloads.graphs.bfs);
        # each insert retires the superseded side's blocks by id
        self.left = left.localCheckpoint()
        self.right = right.localCheckpoint()
        self.group.init(self.left.join(self.right, on))

    def _fold(self, joined_delta: DataFrame) -> None:
        self.group.insert(joined_delta)

    def insert_left(self, batch: DataFrame) -> None:
        self._fold(batch.join(self.right, self.on))
        prev = self.left
        self.left = prev.unionByName(batch).localCheckpoint()
        release_blocks(prev.sparkSession, block_ids(prev))

    def insert_right(self, batch: DataFrame) -> None:
        self._fold(self.left.join(batch, self.on))
        prev = self.right
        self.right = prev.unionByName(batch).localCheckpoint()
        release_blocks(prev.sparkSession, block_ids(prev))

    def read(self) -> DataFrame:
        return self.group.read()


class MaterializedView:
    """The store record {base, aux indexes} of IndexTransf.v:797-803:
    reads hit maintained aggregates; inserts update base + every index.

    ``base`` is kept as a lazy union lineage (cheap at test scale); at
    production scale the base append is a parquet write and only the
    index states are driver-resident.
    """

    def __init__(self, base: DataFrame):
        self.base = base
        self.indexes: dict[str, Any] = {}

    def with_index(self, name: str, idx) -> "MaterializedView":
        idx.init(self.base)
        self.indexes[name] = idx
        return self

    def insert(self, batch: DataFrame) -> None:
        """OCons/CAssign insert path (cons_to_* rewrites): index updates
        see only the batch."""
        for idx in self.indexes.values():
            idx.insert(batch)
        self.base = self.base.unionByName(batch)

    def read(self, name: str):
        """The rewritten read path: aggregate queries answered from the
        maintained structure, not the base (sum_to_agg_lookup_head)."""
        return self.indexes[name].read()


class DistDictIndex:
    """Distributed ``to_idx`` twin for tables ABOVE the driver-
    materialization guard (compile.FOLD_COLLECT_LIMIT): where the
    command layer's DictIdx aux is a driver dict (DictIndexImpl.v:25-33
    buckets, O(1) lookups), this keeps the keyed relation DISTRIBUTED —
    the 'index' at scale IS the keyed DataFrame plus Catalyst's hash
    join / filter pushdown (the same observation dict_index's docstring
    makes). GroupIndex is the keyed-AGGREGATE twin; this is the
    keyed-BUCKET twin.

    * ``insert_row`` is O(1): the row lands in a driver-side pending
      list, no Spark job (the command layer's per-insert maintenance
      must not pay a job per OCons — Interpret.v's CForeach is
      sequential by semantics).
    * ``lookup`` is one filtered scan of the base plan (predicate
      pushdown reaches parquet) plus a pending-list probe — correct for
      occasional driver reads; bulk reads should go through ``to_df``.
    * ``to_df`` exposes (key, row-fields) for the compile-layer join
      recognizer (plans/compile.py::_as_dict_lookup) — base UNION
      pending, so a rewritten table-level read joins the live index
      without ever collecting it.

    No checkpoint blocks: the state is the base plan itself (a scan),
    so there is nothing to retire and the cache-hygiene contract is
    untouched."""

    def __init__(self, base: DataFrame, attr: str):
        self.attr = attr
        self.base = base
        self.pending: list[dict] = []

    def insert_row(self, key, row) -> "DistDictIndex":
        d = row.asDict(recursive=True) if hasattr(row, "asDict") else dict(row)
        # key wins: lookup() probes pending rows by p[self.attr], so a
        # row whose own attr differs from the insert key must still be
        # found under the key it was inserted with
        self.pending.append({**d, self.attr: key})
        return self

    def _pending_df(self) -> DataFrame | None:
        if not self.pending:
            return None
        spark = self.base.sparkSession
        cols = self.base.columns
        return spark.createDataFrame(
            [tuple(p.get(c) for c in cols) for p in self.pending], self.base.schema
        )

    def lookup(self, key) -> list | None:
        """Bucket for ``key`` (None when empty — OLookup's option
        convention). Pending inserts are prepended, matching the driver
        dict's cons order; reads re-canonicalize per their site tag."""
        from pyspark.sql import Row

        from_pending = [p for p in self.pending if p[self.attr] == key]
        base_rows = self.base.filter(F.col(self.attr) == F.lit(key)).collect()
        cols = self.base.columns
        rows = [
            Row(**{c: p[c] for c in cols}) for p in reversed(from_pending)
        ] + base_rows
        return rows or None

    def to_df(self) -> DataFrame:
        pend = self._pending_df()
        return self.base.unionByName(pend) if pend is not None else self.base

