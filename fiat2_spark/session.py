"""SparkSession bootstrap.

Local testing runs a single JVM (``local[N]``); the configuration is
nevertheless chosen for cluster scale: AQE on (runtime coalescing, skew
join splitting), shuffle partitions sized to the parallelism at hand,
Arrow enabled for the Pandas-UDF escape hatch, and UTC timezone pinned so
results compare bit-for-bit against the DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def driver_memory_default(host_mb: int) -> str:
    """``spark.driver.memory`` for a host with ``host_mb`` MiB: half of
    it, leaving the rest to the Python workers and the OS, between 1 GiB
    and 48 GiB."""
    return f"{max(1024, min(48 * 1024, host_mb // 2))}m"


def _host_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20


def get_spark(
    app_name: str = "fiat2-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    On a real cluster, pass ``master=None`` with an externally configured
    session (spark-submit / k8s); locally defaults to ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    nshuffle = shuffle_partitions or DEFAULT_SHUFFLE_PARTITIONS
    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        # AQE: runtime re-planning — partition coalescing, skew-join split,
        # dynamic broadcast conversion. Essential at 100 TB, harmless locally.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(nshuffle))
        # Deterministic oracle comparison: UTC session TZ (duckdb is UTC-naive),
        # ANSI off to match the reference's total-function semantics
        # (fiat2 division by zero yields 0-style defaults handled in functions/).
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.ansi.enabled", "false")
        # Arrow batches for the Pandas-UDF slow path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Runtime bloom-filter join pruning: Spark injects a bloom filter
        # built from the small/filtered side of a shuffle join into the
        # large side's scan (InjectRuntimeFilter). The feature is on by
        # default but gated on the application side scanning >=10 GB —
        # correct for a cluster, unreachable in local tests, so the gate
        # is lowered to 1 MB here. Semantics-neutral (the bloom only
        # pre-drops rows the join would drop); plan-asserted in
        # tests/test_plans.py::test_bloom_pruned_join_injects_filter.
        .config(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "1MB",
        )
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM")
            or driver_memory_default(_host_memory_mb()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def _is_checkpoint_block(jrdd) -> bool:
    """Structural classification of a resident RDD: a ``localCheckpoint``
    materialization answers ``isLocallyCheckpointed`` on the underlying
    Scala RDD. (The previous classifier substring-matched the RDD's
    callsite string — brittle across Spark builds and spoofable by a
    user callsite containing the text.)"""
    r = jrdd.rdd() if hasattr(jrdd, "rdd") else jrdd
    return bool(r.isLocallyCheckpointed())


def cache_entries(spark: SparkSession) -> tuple[list[str], list[str]]:
    """Classify the session's resident persistent RDDs into
    (checkpoint_blocks, cache_entries). Checkpoint blocks are
    `localCheckpoint` materializations — the engine's shared-intermediate
    mechanism (iterative state, multi-consumer aggregates); they belong
    to returned results and are reclaimed by `release_checkpoint_blocks`
    once consumed. Cache entries are DataFrame-level persists pinned by
    Spark's CacheManager for the session's life — the engine treats any
    entry that survives a query's return as a leak (run_gate asserts
    zero)."""
    ckpt, cache = [], []
    for rid, rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
        (ckpt if _is_checkpoint_block(rdd) else cache).append(
            f"[{rid}] {rdd.toString()[:80]}"
        )
    return ckpt, cache


def release_checkpoint_blocks(spark: SparkSession) -> int:
    """Free every resident localCheckpoint block. Call ONLY when no
    DataFrame returned by an engine operator is still live — checkpoint
    blocks are the sole copy of their data (lineage is truncated), so a
    later action on a swept DataFrame fails. This is the session owner's
    between-batches reclamation hook: dropping the Python references
    does not drain the blocks at any predictable time — ContextCleaner
    frees a block only after a JVM GC collects its RDD, so a gate's
    end-of-run sweep has found 0, 2 and 4 blocks over the same query
    code — so reclamation must be explicit. Returns the number of RDDs
    freed."""
    n = 0
    for _rid, rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
        if _is_checkpoint_block(rdd):
            rdd.unpersist(False)
            n += 1
    return n


def local_checkpoint_tracked(df) -> tuple:
    """Eagerly ``localCheckpoint`` a DataFrame and return
    ``(checkpointed_df, frozenset_of_new_block_ids)``. Long-lived
    stateful indexes (streaming.maintenance) retire a superseded state
    snapshot per insert; ``DataFrame.unpersist()`` does NOT free
    localCheckpoint blocks on this build (measured — the blocks stay in
    ``getPersistentRDDs``), so targeted reclamation must go through
    ``release_blocks`` with the ids captured here. The global
    ``release_checkpoint_blocks`` sweep is NOT safe while such an index
    is live: it would free the index's own state blocks, whose lineage
    is truncated."""
    sc = df.sparkSession.sparkContext
    before = set(dict(sc._jsc.getPersistentRDDs()).keys())
    out = df.localCheckpoint()
    after = set(dict(sc._jsc.getPersistentRDDs()).keys())
    return out, frozenset(after - before)


def release_blocks(spark: SparkSession, ids) -> int:
    """Free exactly the checkpoint blocks with the given ids (from
    ``local_checkpoint_tracked``). Returns the number freed."""
    n = 0
    for rid, rdd in dict(spark.sparkContext._jsc.getPersistentRDDs()).items():
        if rid in ids:
            rdd.unpersist(False)
            n += 1
    return n
