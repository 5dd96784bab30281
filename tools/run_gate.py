#!/usr/bin/env python
"""Replicate the driver's correctness gate locally: run every queries()
entry at a given sf dir and compare with its oracle_sql() via DuckDB.
Each PASS/FAIL line ends with ``blocks=N jobs=N``. ``blocks`` counts the
localCheckpoint block RDDs resident after the query's comparison that
were not resident before the query; the gate then releases them by id,
so the closing cache-hygiene sweep frees none. ``jobs`` counts the Spark
jobs the query started (plan build plus the comparison's collect) under
a job group named after the query, so two gate logs diff job counts per
query.

Usage: python tools/run_gate.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from fiat2_spark.session import _resident, cache_entries, get_spark, release_blocks, release_checkpoint_blocks
from fiat2_spark.workloads import ORACLES, QUERIES
from tests.oracle import compare, duck_conn


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # record exactly which commit the gate artifacts cover (VERDICT r7
    # task 7): the streak rule is "gate at the final engine-code
    # commit", so the log itself must carry the hash — a verifier
    # should not have to reconstruct it from commit timestamps
    import subprocess

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    try:
        head = subprocess.run(
            ["git", "rev-parse", "HEAD"], capture_output=True, text=True, cwd=repo
        ).stdout.strip()
        dirty = subprocess.run(
            ["git", "status", "--porcelain"], capture_output=True, text=True, cwd=repo
        ).stdout.strip()
        print(
            f"gate-commit: {head or '(unknown)'}{' (dirty)' if dirty else ''}  sf_dir={sf_dir}",
            flush=True,
        )
    except OSError:
        print(f"gate-commit: (git unavailable)  sf_dir={sf_dir}", flush=True)
    spark = get_spark(app_name="fiat2-gate")
    # Work whose cost would otherwise fall on whichever query runs it
    # first runs here, outside every query's job group, so a query's
    # jobs= is the same in a fresh checkout, a subset run and a full run:
    # - dpp_partitioned_join, partition_pruned_lookup and
    #   zonemap_range_scan read layouts written once per sf under
    #   spark-warehouse/;
    # - every table's schema is inferred once per SparkContext;
    # - the server routes read the resident nation and supplier tables.
    from fiat2_spark.catalog import resident, table_meta
    from fiat2_spark.workloads.core import _partitioned_events, _sorted_events

    _partitioned_events(spark, sf_dir)
    _sorted_events(spark, sf_dir)
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            table_meta(spark, os.path.join(sf_dir, f))
    for t in ("nation", "supplier"):
        if os.path.exists(os.path.join(sf_dir, f"{t}.parquet")):
            resident(spark, sf_dir, t)
    con = duck_conn(sf_dir)
    failures = []
    names = [n for n in sorted(QUERIES) if not only or n in only]
    sc = spark.sparkContext

    def blocks() -> set:
        """Ids of the resident localCheckpoint block RDDs."""
        return {rid for rid, (is_block, _) in _resident(spark).items() if is_block}

    for name in names:
        before = blocks()
        t0 = time.perf_counter()
        sc.setJobGroup(name, name)
        try:
            df = QUERIES[name](spark, sf_dir)
            if name in ORACLES:
                ok, detail = compare(df, con, ORACLES[name])
            else:
                ok, detail = df.count() >= 0, "rows-only"
        except Exception as ex:  # noqa: BLE001
            ok, detail = False, f"{type(ex).__name__}: {str(ex).splitlines()[0][:120]}"
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        dt = time.perf_counter() - t0
        # a job whose start event is still queued is not in the group yet
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        jobs = len(sc.statusTracker().getJobIdsForGroup(name))
        new_blocks = blocks() - before
        # the query's result is consumed: free the blocks it left, so the
        # next query starts from the same resident set in every run
        release_blocks(spark, new_blocks)
        print(
            f"{'PASS' if ok else 'FAIL'} {name:28s} {dt:6.1f}s  {detail}  "
            f"blocks={len(new_blocks)} jobs={jobs}",
            flush=True,
        )
        if not ok:
            failures.append(name)
    print(f"\n{len(names) - len(failures)}/{len(names)} passed", flush=True)

    # Cache hygiene: no query may leave a DataFrame-level cache entry
    # behind — those are pinned by Spark's CacheManager for the
    # session's life and only explicit unpersist releases them. Shared
    # intermediates ride localCheckpoint BLOCKS instead, owned by the
    # returned results, and the loop above released each query's blocks
    # by id (GC/ContextCleaner would reclaim them at no predictable
    # time). The gate is the session owner here, so it sweeps once more,
    # expecting to free none, and the map must drain to EMPTY — any
    # survivor would be a persist leak.
    ckpt, cache = cache_entries(spark)
    if cache:
        print(f"FAIL cache-hygiene: {len(cache)} CacheManager entr(ies) survive the gate:", flush=True)
        for c in cache:
            print(f"  {c}", flush=True)
        failures.append("__cache_hygiene__")
    freed = release_checkpoint_blocks(spark)
    leftover = _resident(spark)
    if leftover:
        print(f"FAIL cache-hygiene: {len(leftover)} RDD(s) resident after sweep", flush=True)
        failures.append("__cache_hygiene_sweep__")
    else:
        print(
            f"cache-hygiene: 0 CacheManager entries post-gate; "
            f"{freed} checkpoint block RDD(s) swept; 0 resident",
            flush=True,
        )
    if not only:
        # full-registry run: emit the per-query transitive-code
        # fingerprints that gate window rotation (tools/fingerprints.py),
        # committed beside the gate logs as FINGERPRINTS.json
        import json

        from tools.fingerprints import fingerprints

        fp_path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "FINGERPRINTS.json",
        )
        with open(fp_path, "w") as fh:
            json.dump(fingerprints(), fh, indent=1, sort_keys=True)
        print(f"fingerprints -> {fp_path}", flush=True)
    if failures:
        print("FAILURES:", ", ".join(failures), flush=True)
        sys.exit(1)


if __name__ == "__main__":
    main()
