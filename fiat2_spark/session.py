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


def _resident(spark: SparkSession, ids=None) -> dict[int, tuple[bool, str]]:
    """``{rdd id: (is a localCheckpoint block, description)}`` of the
    resident persistent RDDs (of those among ``ids`` when given). Every
    py4j proxy made here is detached: one left to Python's cycle collector
    keeps its RDD alive in the JVM, so ContextCleaner cannot free it."""
    gw, jmap = spark.sparkContext._gateway, spark.sparkContext._jsc.getPersistentRDDs()
    keys = jmap.keySet()
    arr = keys.toArray()  # not `for rid in keys`: py4j keeps that iterator
    out = {}
    try:
        for rid in arr:
            if ids is None or rid in ids:
                jrdd = jmap.get(rid)
                rdd = jrdd.rdd()
                out[rid] = (bool(rdd.isLocallyCheckpointed()), jrdd.toString()[:80])
                gw.detach(rdd)
                gw.detach(jrdd)
    finally:
        for proxy in (arr, keys, jmap):
            gw.detach(proxy)
    return out


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
    for rid, (is_block, desc) in _resident(spark).items():
        (ckpt if is_block else cache).append(f"[{rid}] {desc}")
    return ckpt, cache


def release_checkpoint_blocks(spark: SparkSession) -> int:
    """Free every resident localCheckpoint block: the session owner's
    between-batches sweep. Call ONLY when no DataFrame returned by an
    engine operator is still live — a block is the sole copy of its data
    (lineage is truncated). Dropping the references frees a block only
    once a JVM GC collects its RDD, at no predictable time, so
    reclamation must be explicit. Returns the number of RDDs freed."""
    blocks = [rid for rid, (is_block, _) in _resident(spark).items() if is_block]
    return release_blocks(spark, blocks)


def block_ids(*frames) -> frozenset:
    """Block RDD ids of ``localCheckpoint()`` results, read from each
    frame's plan (a ``LogicalRDD`` over the block RDD). An owner retires a
    checkpoint with ``release_blocks(spark, block_ids(old))``, since
    ``DataFrame.unpersist()`` leaves its blocks resident. Raises
    ``ValueError`` naming a frame that is not a checkpoint result."""
    ids = set()
    for df in frames:
        gw, plan = df.sparkSession.sparkContext._gateway, df._jdf.logicalPlan()
        rdd = plan.rdd() if plan.nodeName() == "LogicalRDD" else None
        try:
            if rdd is None or not rdd.isLocallyCheckpointed():
                raise ValueError(f"not a localCheckpoint() result: {plan.simpleString(1)}")
            ids.add(rdd.id())
        finally:
            for proxy in (rdd, plan):
                if proxy is not None:
                    gw.detach(proxy)
    return frozenset(ids)


def release_blocks(spark: SparkSession, ids) -> int:
    """Free exactly the checkpoint blocks with the given ids (from
    ``block_ids``). Returns the number freed."""
    held = _resident(spark, frozenset(ids))
    jsc = spark.sparkContext._jsc.sc()
    for rid in held:
        jsc.unpersistRDD(rid, False)
    return len(held)
