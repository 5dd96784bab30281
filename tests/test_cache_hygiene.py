"""Cache-hygiene contract (session.py): structural classification of
resident RDDs, and per-insert retirement of superseded state snapshots
in the long-lived maintenance indexes (streaming/maintenance.py).

The r6 classifier substring-matched the RDD callsite string
('ocalCheckpoint'); the r7 advisor flagged it as build-specific and
spoofable. These tests pin the structural replacement AND the negative
case the gate relies on: a deliberate DataFrame persist MUST classify
as a cache entry (the leak class run_gate asserts to zero)."""

from __future__ import annotations

import gc
import threading
import time

import pytest
from pyspark.sql import functions as F

from fiat2_spark.session import (
    _resident,
    block_ids,
    cache_entries,
    release_blocks,
    release_checkpoint_blocks,
)


def _resident_ids(spark):
    return set(_resident(spark))


def _ckpt_ids(spark):
    return {rid for rid, (is_block, _) in _resident(spark).items() if is_block}


def test_persist_classifies_as_cache_entry_not_checkpoint(spark):
    """Negative test (VERDICT r6 'what's wrong' #2): a leaked persist
    must trip the gate's cache-hygiene assert — i.e. land in the CACHE
    bucket, not be excused as a checkpoint block."""
    release_checkpoint_blocks(spark)
    base_ckpt, base_cache = cache_entries(spark)
    leaked = spark.range(500).selectExpr("id", "id * 7 as v").persist()
    leaked.count()
    try:
        ckpt, cache = cache_entries(spark)
        assert len(cache) == len(base_cache) + 1, (ckpt, cache)
        assert len(ckpt) == len(base_ckpt)
    finally:
        leaked.unpersist(True)


def test_checkpoint_block_classifies_structurally(spark):
    """localCheckpoint blocks classify via isLocallyCheckpointed (not a
    callsite-string match) and are freed by the sweep."""
    release_checkpoint_blocks(spark)
    _, base_cache = cache_entries(spark)
    ck = spark.range(300).selectExpr("id", "id * 3 as v").localCheckpoint()
    ckpt, cache = cache_entries(spark)
    assert len(ckpt) >= 1
    assert len(cache) == len(base_cache)
    freed = release_checkpoint_blocks(spark)
    assert freed >= 1
    ckpt2, _ = cache_entries(spark)
    assert ckpt2 == []
    del ck


def test_dataframe_unpersist_does_not_free_checkpoint_blocks(spark):
    """The property that forces targeted release by block id: on this
    build DataFrame.unpersist() leaves localCheckpoint blocks resident
    (so a retire path built on it silently leaks). If a Spark upgrade
    makes this test start failing, owners can retire a checkpoint with
    unpersist() instead of release_blocks(spark, block_ids(old))."""
    release_checkpoint_blocks(spark)
    ck = spark.range(100).selectExpr("id").localCheckpoint()
    blocks = block_ids(ck)
    assert blocks and blocks <= _resident_ids(spark)
    ck.unpersist(False)
    assert blocks <= _resident_ids(spark), "unpersist freed blocks — simplify!"
    assert release_blocks(spark, blocks) == len(blocks)
    assert not (blocks & _resident_ids(spark))


def test_group_index_insert_retires_superseded_snapshots(spark):
    """GroupIndex (r7 advisor, medium): per insert, exactly the retired
    state snapshot's blocks are freed — repeated inserts hold O(1)
    resident state, and the index stays readable (no missing-block
    errors) without any global sweep."""
    from fiat2_spark.streaming.maintenance import GroupIndex

    release_checkpoint_blocks(spark)
    idx = GroupIndex(["g"], {"n": ("count", F.lit(1)), "s": ("sum", F.col("v"))})
    idx.init(spark.createDataFrame([("a", 1), ("b", 2)], "g string, v long"))
    after_init = _resident_ids(spark)
    for i in range(5):
        idx.insert(spark.createDataFrame([("a", 10 + i)], "g string, v long"))
        assert len(_resident_ids(spark)) == len(after_init), f"insert {i} leaked"
    rows = {r["g"]: (r["n"], r["s"]) for r in idx.read().collect()}
    assert rows == {"a": (6, 1 + 10 + 11 + 12 + 13 + 14), "b": (1, 2)}
    release_blocks(spark, block_ids(idx.read()))


_CHAIN = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)]


def _loops(spark, sf_dir, monkeypatch):
    """(name, run, blocks left resident, check) for each iterative loop
    on a small fixed input. The blocks left resident are those its
    result reads."""
    import fiat2_spark.operators.text as TX
    from fiat2_spark.operators.dedup import (
        dup_clusters,
        dup_clusters_star,
        lloyd_centroids,
    )
    from fiat2_spark.workloads.graphs import bfs, pagerank

    pairs = lambda: spark.createDataFrame(_CHAIN, "id_a long, id_b long")  # noqa: E731
    clusters = {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
    as_clusters = lambda df: {r["doc"]: r["cluster"] for r in df.collect()}  # noqa: E731
    ref = spark.createDataFrame(
        [(100, "the cat sat on the mat the cat ran")], "doc_id long, text string"
    )
    pool = spark.createDataFrame(
        [(1, "the cat sat on the mat", "seen"), (2, "blork flem grup snee wub", "salad")],
        "doc_id long, text string, dom string",
    )
    corpus = spark.createDataFrame(
        [("low lower lowest",), ("newer newest wider",)], "text string"
    )
    qe = spark.createDataFrame(
        [(1, [0, 0]), (2, [1, 1]), (3, [10, 10]), (4, [11, 11])],
        "vid long, qv array<long>",
    )
    # the distributed merge loop, not the driver-side one
    monkeypatch.setattr(TX, "BPE_DRIVER_VOCAB_LIMIT", 0)
    return [
        ("bfs", lambda: bfs(spark, sf_dir), 1,
         lambda df: {r["node"]: r["depth"] for r in df.collect()}[0] == 0),
        ("pagerank", lambda: pagerank(
            spark.createDataFrame([(1, 2), (2, 3), (3, 1), (3, 2)], "src long, dst long")
        ), 1, lambda df: df.count() == 3),
        ("dup_clusters", lambda: dup_clusters(pairs()), 1,
         lambda df: as_clusters(df) == clusters),
        ("dup_clusters_star", lambda: dup_clusters_star(pairs()), 2,
         lambda df: as_clusters(df) == clusters),
        ("doremi_weights_trajectory", lambda: TX.doremi_weights_trajectory(
            pool, ref, "doc_id", "text", "dom", rounds=5, vocab_size=16,
        ), 1, lambda df: {r["domain"] for r in df.collect()} == {"seen", "salad"}),
        ("bpe_learn", lambda: TX.bpe_learn(corpus, "text", 4, checkpoint_every=2), 1,
         lambda out: out[0].count() == 6 and out[1].count() == 4),
        ("lloyd_centroids", lambda: lloyd_centroids(qe, 2, 3), 1,
         lambda df: {(r["cid"], r["dim"]): r["qc"] for r in df.collect()}
         == {(1, 0): 0, (1, 1): 0, (2, 0): 10, (2, 1): 10}),
    ]


def test_iterative_loops_release_superseded_rounds(spark, sf_dir, monkeypatch):
    """bfs, pagerank, dup_clusters, dup_clusters_star,
    doremi_weights_trajectory, bpe_learn's distributed loop and
    lloyd_centroids checkpoint their state as they go;
    DataFrame.unpersist() frees none of those blocks (see above), so
    each loop releases a superseded checkpoint by block id. After each
    returns, the only new resident checkpoint blocks are those its result
    reads, and the result still reads back."""
    for name, run, held, check in _loops(spark, sf_dir, monkeypatch):
        before = _ckpt_ids(spark)
        out = run()
        new = _ckpt_ids(spark) - before
        assert len(new) == held, (name, len(new))
        assert check(out), name
        release_blocks(spark, new)


def test_block_probes_do_not_pin_dropped_checkpoints(spark):
    """Enumerating the resident RDDs makes py4j proxies. Left to
    Python's cycle collector, those proxies keep the RDDs alive in the
    JVM, so ContextCleaner never frees the blocks of a checkpoint whose
    DataFrame was dropped. With the cycle collector off, 8 checkpoints
    probed by cache_entries after each must all drain once the frames
    are dropped and the JVM collects. py4j delivers a released proxy to
    the JVM from a worker that polls once a second, so each poll waits
    out the previous probe's proxies before asking for a JVM GC."""
    release_checkpoint_blocks(spark)
    jvm = spark.sparkContext._jvm
    gc.collect()
    gc.disable()
    try:
        frames = []
        for i in range(8):
            frames.append(spark.range(10 + i).localCheckpoint())
            cache_entries(spark)
        assert len(cache_entries(spark)[0]) == 8
        del frames
        for _ in range(6):
            time.sleep(1.5)
            jvm.System.gc()
            time.sleep(0.5)
            resident = len(cache_entries(spark)[0])
            if not resident:
                break
    finally:
        gc.enable()
    assert resident == 0, f"{resident} dropped checkpoint(s) still resident"


def test_block_ids_of_concurrent_checkpoints(spark):
    """Two threads checkpointing at once each get exactly the block
    their own frame reads: a whole-map diff around each checkpoint
    would also claim the other thread's block."""
    before = _ckpt_ids(spark)
    start = threading.Barrier(2)
    got = {}

    def run(n):
        start.wait()
        ck = spark.range(n).localCheckpoint()
        got[n] = (ck, block_ids(ck))

    threads = [threading.Thread(target=run, args=(n,)) for n in (1000, 2000)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    (a, a_ids), (b, b_ids) = got[1000], got[2000]
    assert len(a_ids) == len(b_ids) == 1 and not (a_ids & b_ids)
    assert a_ids | b_ids == _ckpt_ids(spark) - before
    assert release_blocks(spark, a_ids) == 1
    assert b.count() == 2000, "freeing one thread's block freed the other's"
    assert release_blocks(spark, b_ids) == 1
    assert not ((a_ids | b_ids) & _resident_ids(spark))


def test_block_ids_rejects_a_non_checkpoint_frame(spark):
    ck = spark.range(10).localCheckpoint()
    try:
        with pytest.raises(ValueError, match="Project"):
            block_ids(ck.select("id"))
    finally:
        release_blocks(spark, block_ids(ck))
