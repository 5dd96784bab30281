"""Shared helpers for workload definitions.

Float discipline for oracle comparison: double summation is
order-dependent, and Spark's partial aggregation order differs from
DuckDB's sequential scan. Any aggregate over a double column therefore
runs in DECIMAL (exact, associative) and casts the *result* to double —
both engines produce bit-identical values. The inputs here are prices
with 2-digit cents, so DECIMAL(18,2) is lossless.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

from fiat2_spark.catalog import tbl  # noqa: F401  (the workload modules' table read)


def dec2(c: Column) -> Column:
    """Lossless decimal view of a 2-digit-cents double column."""
    return c.cast("decimal(18,2)")


def dsum(c: Column) -> Column:
    """Exact sum of a cents column, rendered back as double."""
    return F.sum(dec2(c)).cast("double")


# SQL fragment mirrors of the above (DuckDB side)
def sql_dsum(col: str) -> str:
    return f"CAST(SUM(CAST({col} AS DECIMAL(18,2))) AS DOUBLE)"


def registry():
    """A workload module's registry: ``QUERIES, ORACLES, q = registry()``.
    ``@q(name, oracle)`` records the decorated fn under ``name`` in
    QUERIES and, when given, its DuckDB SQL in ORACLES."""
    queries, oracles = {}, {}

    def q(name: str, oracle: str | None = None):
        def reg(fn):
            queries[name] = fn
            if oracle is not None:
                oracles[name] = oracle
            return fn
        return reg

    return queries, oracles, q
