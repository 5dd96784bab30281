from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fiat2_spark.catalog import normalize_ts, table_meta  # noqa: E402
from fiat2_spark.session import get_spark  # noqa: E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def jobs_in_group(spark, group: str, fn):
    """(fn(), number of Spark jobs fn started), counted under a job group
    once the listener bus has delivered every job-start event."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def stream_from_parquet(spark, path: str, schema):
    """File-source stream over a parquet directory — the local harness
    for the streaming operators (prod: Kafka/Kinesis source, same
    downstream plan)."""
    return spark.readStream.format("parquet").schema(schema).load(path)


def _staged_stream(spark, parquet_path: str):
    """File-source stream over a single parquet file (staged via symlink
    into a temp dir), with the cached static schema and the events
    timestamp normalization of every batch read."""
    import tempfile

    meta = table_meta(spark, parquet_path)
    stage = tempfile.mkdtemp(prefix="fiat2_stream_")
    os.symlink(os.path.abspath(parquet_path), os.path.join(stage, "part-0.parquet"))
    return normalize_ts(stream_from_parquet(spark, stage, meta.schema), meta, event_time="ts")


def run_streaming_smoke(spark, parquet_path: str, plan, name: str, mode: str = "update") -> list:
    """Drive `plan(stream_df)` as a real streaming query into a memory
    sink; synchronous via processAllAvailable. Returns collected rows."""
    q = (
        plan(_staged_stream(spark, parquet_path))
        .writeStream.outputMode(mode)
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
        return spark.sql(f"SELECT * FROM {name}").collect()
    finally:
        q.stop()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="fiat2-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
