"""Sources & sinks.

The reference has no file formats or connectors (SURVEY §2.1): data
enters via store locations (ELoc) and leaves via CAssign / the Haskell
demo server's JSON serialization (haskellServer/src/Extracted.hs:
3035-3038 generate_json). This module is the engine's I/O surface:
columnar parquet first (pushdown + pruning), the other Spark formats
behind one dispatcher, JSON record output for server parity, and
bucketed writes — the physical realization of the reference's DictIndex
(a bucketed table IS a persisted hash index: joins/lookups on the
bucket key skip the shuffle).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from fiat2_spark.catalog import TPCH_TABLES, tbl

_FORMATS = ("parquet", "orc", "json", "csv")


def read_table(spark: SparkSession, path: str, fmt: str = "parquet", schema=None, **options) -> DataFrame:
    """Read one table. Schema required for json/csv at scale (inference
    is a full extra pass over 100 TB)."""
    if fmt not in _FORMATS:
        raise ValueError(f"unsupported format {fmt!r} (delta/iceberg need jars absent here)")
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        options.setdefault("header", "true")
    return reader.options(**options).format(fmt).load(path)


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    partition_by: tuple[str, ...] = (),
    **options,
) -> None:
    """Write (overwrite) a table; ``partition_by`` gives write-time partition pruning
    for the columns the reference would bitmap-index (BitmapIndex.v
    intent → directory-level data skipping)."""
    if fmt == "csv":
        options.setdefault("header", "true")
    w = df.write.mode("overwrite").options(**options)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.format(fmt).save(path)


def write_bucketed(df: DataFrame, table_name: str, bucket_col: str, n_buckets: int = 32) -> None:
    """Persisted hash index (DictIndexImpl.v to_idx intent), written over
    any existing table of that name: bucketing by
    the lookup attribute lets every later equi-join/point-lookup on it
    co-locate without a shuffle."""
    (
        df.write.mode("overwrite")
        .bucketBy(n_buckets, bucket_col)
        .sortBy(bucket_col)
        .saveAsTable(table_name)
    )


def write_sorted(df: DataFrame, path: str, sort_col: str) -> None:
    """Persisted ZONE-MAP index (the third physical-layout knob after
    partitionBy and bucketBy): range-repartition into 8 ranges + sort
    within partitions on the scan attribute, written (overwrite) with
    64 KiB parquet row groups, so every row group's min/max footer statistics become a
    tight value interval — a later range/point predicate on
    ``sort_col`` skips whole row groups at the reader, before any
    Spark filtering. The BitmapIndex.v intent for RANGE predicates,
    where directory partitioning (categorical) doesn't apply.
    Verified by scan output-row metrics in test_plans.py."""
    (
        df.repartitionByRange(8, sort_col)
        .sortWithinPartitions(sort_col)
        .write.mode("overwrite")
        .option("parquet.block.size", 65536)
        .parquet(path)
    )


def register_views(spark: SparkSession, sf_dir: str, tables=TPCH_TABLES) -> None:
    """Register the testdata tables present under ``sf_dir`` as temp
    views for spark.sql use."""
    for t in tables:
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            tbl(spark, sf_dir, t).createOrReplaceTempView(t)


def to_json_records(df: DataFrame) -> list[str]:
    """JSON record serialization — the extracted server's generate_json
    output shape (Extracted.hs:3035-3038): one JSON object per row.
    Driver-side by design (it's the HTTP boundary, small results): one
    ``collect`` of ``to_json(struct(*))``, which runs no Spark job over a
    local relation and one job otherwise."""
    return [r[0] for r in df.select(F.to_json(F.struct("*"))).collect()]
