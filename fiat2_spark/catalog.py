"""Table reads over the test corpus (TESTDATA.md): the driver's parquet
tables, one directory per scale factor. fiat2's Gstore, the store a
command runs against, is `plans.interp.Store`.

Every corpus read (``tbl`` and the streaming sources) takes its schema
from ``table_meta``, which infers it once per SparkContext (inference is
one Spark job per read otherwise), and its timestamps from
``normalize_ts``. That cache holds schemas only, so each ``tbl`` read is
a fresh scan.

``resident`` is fiat2's index introduction for a small table that is
probed by key: it keeps the table's rows on the driver, as an Arrow
table read once per SparkContext and again only after its files change,
and serves each read as a fresh local relation that plans and runs
without a Spark job. Only tables of at most ``RESIDENT_ROWS`` rows are
kept.
"""

from __future__ import annotations

import json
import os
import threading
import weakref
from dataclasses import dataclass

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampNTZType

TPCH_TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


# -- table reads ------------------------------------------------------------

NANOS_AS_LONG = "spark.sql.legacy.parquet.nanosAsLong"


@dataclass(frozen=True)
class TableMeta:
    """What a read needs to know about one parquet table: its Spark
    schema and the columns stored as TIMESTAMP(NANOS), which Spark's
    reader accepts only as long nanos (under ``NANOS_AS_LONG``)."""

    schema: StructType
    nanos: tuple[str, ...]


# SparkContext → {abs path: (file signature, TableMeta)}. Keyed weakly on
# the context, so a new SparkContext starts empty and a stopped one's
# entries go with it. Two threads racing on a table's first read may both
# infer it; either result is the same schema.
_META: "weakref.WeakKeyDictionary[SparkContext, dict]" = weakref.WeakKeyDictionary()
_META_LOCK = threading.Lock()


def _files(path: str) -> list[str]:
    """The files under a parquet path (itself, when it is a file)."""
    if os.path.isfile(path):
        return [path]
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)


def _signature(files: list[str]) -> tuple:
    """Changes whenever a file is added, removed or rewritten."""
    sig = []
    for f in files:
        st = os.stat(f)
        sig.append((f, st.st_mtime_ns, st.st_size, st.st_ino))
    return tuple(sig)


def _nanos_columns(files: list[str]) -> tuple[str, ...]:
    """Top-level columns the footer stores as TIMESTAMP(NANOS), read from
    the first data file — the one Spark infers the schema from."""
    import pyarrow.parquet as pq

    data = [f for f in files if not os.path.basename(f).startswith(("_", "."))]
    if not data:
        return ()
    schema = pq.read_metadata(data[0]).schema
    out = []
    for i in range(len(schema)):
        c = schema.column(i)
        if c.max_repetition_level == 0 and "." not in c.path and c.logical_type.type == "TIMESTAMP":
            if json.loads(c.logical_type.to_json()).get("timeUnit") == "nanoseconds":
                out.append(c.name)
    return tuple(out)


def table_meta(spark: SparkSession, path: str) -> TableMeta:
    """A parquet table's ``TableMeta``, inferred on its first read in this
    SparkContext and again only after the files at ``path`` change. A path
    off the local filesystem has no signature and is inferred every time.
    When the table holds TIMESTAMP(NANOS) columns, also sets
    ``NANOS_AS_LONG`` — the only session conf a read touches — so the
    reader accepts them."""
    files = _files(path)
    if not files:
        return TableMeta(spark.read.parquet(path).schema, ())
    key, sig = os.path.abspath(path), _signature(files)
    with _META_LOCK:
        cache = _META.setdefault(spark.sparkContext, {})
    hit = cache.get(key)
    meta = hit[1] if hit is not None and hit[0] == sig else None
    nanos = meta.nanos if meta is not None else _nanos_columns(files)
    if nanos:
        spark.conf.set(NANOS_AS_LONG, "true")
    if meta is None:
        meta = TableMeta(spark.read.parquet(path).schema, nanos)
        cache[key] = (sig, meta)
    return meta


def normalize_ts(df: DataFrame, meta: TableMeta, event_time: str | None = None) -> DataFrame:
    """Surface timestamps the way DuckDB (the oracle) does. TIMESTAMP(NANOS)
    columns arrive as long nanos and are truncated to micros. The
    ``event_time`` column, when stored as TIMESTAMP(MICROS) with
    isAdjustedToUTC=false, arrives as TIMESTAMP_NTZ — a type watermarks and
    epoch casts reject — and is cast to TIMESTAMP; its wall-clock rendering
    (what the oracle compares) is invariant under the session tz."""
    for c in meta.nanos:
        df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000").cast("long")))
    if event_time in meta.schema.names and isinstance(meta.schema[event_time].dataType, TimestampNTZType):
        df = df.withColumn(event_time, F.col(event_time).cast("timestamp"))
    return df


def tbl(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One corpus table, read with its cached schema (no inference job)
    as a fresh relation, so self-joins keep distinct attribute ids.
    ``events.ts`` has shipped as TIMESTAMP(NANOS) and as TIMESTAMP(MICROS)
    with and without isAdjustedToUTC; every encoding reads as the same
    TIMESTAMP values."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    meta = table_meta(spark, path)
    return normalize_ts(spark.read.schema(meta.schema).parquet(path), meta, "ts" if name == "events" else None)


# The most rows ``resident`` keeps on the driver for one table.
RESIDENT_ROWS = 10_000

# SparkContext → {abs path: (file signature, pyarrow.Table, StructType)},
# keyed weakly on the context like ``_META``. The lock is held while a
# table is read, so threads racing on its first read run one job.
_RESIDENT: "weakref.WeakKeyDictionary[SparkContext, dict]" = weakref.WeakKeyDictionary()
_RESIDENT_LOCK = threading.Lock()


def _too_many_rows(path: str, rows: str) -> ValueError:
    return ValueError(
        f"{path} holds {rows} rows; a resident table holds at most RESIDENT_ROWS = {RESIDENT_ROWS}"
    )


def _footer_rows(files: list[str]) -> int:
    """The row count the parquet footers under a path declare."""
    import pyarrow.parquet as pq

    data = [f for f in files if not os.path.basename(f).startswith(("_", "."))]
    return sum(pq.read_metadata(f).num_rows for f in data)


def resident(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """One small corpus table served from the driver: read with one
    ``toArrow()`` job on its first read in this SparkContext and again
    only after the files at its path change, then returned on every call
    as a fresh LocalRelation over the kept Arrow table, which a filter,
    projection or collect runs without a Spark job. Raises ``ValueError``
    naming ``RESIDENT_ROWS`` when the table has more rows than that; for
    a local path the parquet footers are counted before any job runs. A
    path off the local filesystem has no signature and is read (at most
    ``RESIDENT_ROWS + 1`` rows) on every call."""
    path = os.path.join(sf_dir, f"{name}.parquet")
    files = _files(path)
    if not files:
        df = tbl(spark, sf_dir, name)
        table = df.limit(RESIDENT_ROWS + 1).toArrow()
        if table.num_rows > RESIDENT_ROWS:
            raise _too_many_rows(path, f"more than {RESIDENT_ROWS}")
        return spark.createDataFrame(table, df.schema)
    key, sig = os.path.abspath(path), _signature(files)
    with _RESIDENT_LOCK:
        cache = _RESIDENT.setdefault(spark.sparkContext, {})
        hit = cache.get(key)
        if hit is None or hit[0] != sig:
            rows = _footer_rows(files)
            if rows > RESIDENT_ROWS:
                raise _too_many_rows(path, str(rows))
            df = tbl(spark, sf_dir, name)
            hit = cache[key] = (sig, df.toArrow(), df.schema)
    return spark.createDataFrame(hit[1], hit[2])
