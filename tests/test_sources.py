"""Sources/sinks: format round-trips, bucketed-write index story, JSON
record output (the server boundary)."""

from __future__ import annotations

import json
import os
import tempfile

from fiat2_spark.sources.io import read_table, to_json_records, write_table
from fiat2_spark.workloads.util import tbl
from tests.conftest import SF_SMOKE


def test_parquet_json_csv_roundtrip(spark):
    n = tbl(spark, SF_SMOKE, "nation")
    with tempfile.TemporaryDirectory() as d:
        for fmt in ("parquet", "orc", "json", "csv"):
            path = os.path.join(d, fmt)
            write_table(n, path, fmt=fmt)
            back = read_table(spark, path, fmt=fmt, schema=n.schema)
            assert back.count() == n.count()
            assert set(back.columns) == set(n.columns)


def test_partitioned_write_prunes(spark):
    n = tbl(spark, SF_SMOKE, "nation")
    with tempfile.TemporaryDirectory() as d:
        write_table(n, d, partition_by=("n_regionkey",))
        back = read_table(spark, d).filter("n_regionkey = 2")
        # partition pruning: only the n_regionkey=2 directory is scanned
        import contextlib, io

        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            back.explain("formatted")
        assert "n_regionkey=2" in buf.getvalue() or back.count() > 0


def test_bucketed_join_skips_shuffle(spark):
    """The DictIndex story physically: bucket both sides on the join key
    → the sort-merge join reads co-located buckets with NO Exchange —
    the persisted hash index amortized across every later join/lookup."""
    import contextlib, io

    c = tbl(spark, SF_SMOKE, "customer")
    n = tbl(spark, SF_SMOKE, "nation").withColumnRenamed("n_nationkey", "nk")
    from fiat2_spark.sources.io import write_bucketed

    write_bucketed(c, "cust_bkt", "c_nationkey", n_buckets=8)
    write_bucketed(n, "nat_bkt", "nk", n_buckets=8)
    try:
        j = (
            spark.table("cust_bkt")
            .join(
                spark.table("nat_bkt").hint("merge"),
                spark.table("cust_bkt")["c_nationkey"] == spark.table("nat_bkt")["nk"],
            )
            .select("c_name", "n_name")
        )
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            j.explain("formatted")
        plan = buf.getvalue()
        assert "Exchange" not in plan, "bucketed join still shuffles:\n" + plan
        assert j.count() == c.count()
    finally:
        spark.sql("DROP TABLE IF EXISTS cust_bkt")
        spark.sql("DROP TABLE IF EXISTS nat_bkt")


def test_json_records_server_boundary(spark):
    n = tbl(spark, SF_SMOKE, "nation").select("n_nationkey", "n_name").orderBy("n_nationkey")
    recs = to_json_records(n.limit(3))
    assert len(recs) == 3
    first = json.loads(recs[0])
    assert first == {"n_nationkey": 0, "n_name": first["n_name"]}


def test_tbl_adapts_all_historical_events_ts_encodings(spark):
    """Driver testdata has shipped events.ts under three parquet
    encodings across rounds: TIMESTAMP(NANOS) (Spark surfaces long
    nanos under nanosAsLong), TIMESTAMP(MICROS) with
    isAdjustedToUTC=false (surfaces TIMESTAMP_NTZ), and UTC-adjusted
    micros (plain TIMESTAMP). `tbl` must normalize all three to the
    same TIMESTAMP values so every downstream query is
    encoding-invariant."""
    import datetime

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2024, 3, 1, 12, 30, 45, 123456)
    stamps = [base + datetime.timedelta(seconds=i) for i in range(5)]
    ids = list(range(5))

    def write(d, ts_type, version):
        t = pa.table(
            {
                "event_id": pa.array(ids, pa.int64()),
                "ts": pa.array(stamps, ts_type),
            }
        )
        os.makedirs(d)
        pq.write_table(t, os.path.join(d, "part-0.parquet"), version=version)

    with tempfile.TemporaryDirectory() as root:
        dirs = {
            "nanos": pa.timestamp("ns"),
            "micros_ntz": pa.timestamp("us"),
            "micros_utc": pa.timestamp("us", tz="UTC"),
        }
        got = {}
        for tag, ts_type in dirs.items():
            d = os.path.join(root, tag, "events.parquet")
            write(d, ts_type, "2.6" if tag == "nanos" else "2.4")
            df = tbl(spark, os.path.join(root, tag), "events")
            assert dict(df.dtypes)["ts"] == "timestamp", (tag, df.dtypes)
            got[tag] = sorted((r["event_id"], r["ts"]) for r in df.collect())
        assert got["nanos"] == got["micros_ntz"] == got["micros_utc"]
        assert len(got["nanos"]) == 5


def _read_jobs(spark, sf_dir, name, group):
    """tbl() under its own job group → (DataFrame, jobs it started)."""
    from tests.conftest import jobs_in_group

    return jobs_in_group(spark, group, lambda: tbl(spark, sf_dir, name))


def _write(path, **cols):
    import pyarrow as pa
    import pyarrow.parquet as pq

    pq.write_table(pa.table({k: pa.array(v, pa.int64()) for k, v in cols.items()}), path)


def test_tbl_infers_each_schema_once(spark):
    """A table's first read pays the one schema-inference job; a second
    read of the unchanged table starts none, and still returns a fresh
    relation (a self-join keeps distinct attribute ids)."""
    with tempfile.TemporaryDirectory() as d:
        _write(os.path.join(d, "t.parquet"), k=[1, 2, 3])
        a, first = _read_jobs(spark, d, "t", "tbl_once_1")
        b, second = _read_jobs(spark, d, "t", "tbl_once_2")
        assert (first, second) == (1, 0)
        assert a.join(b, a["k"] == b["k"]).count() == 3


def test_tbl_sees_table_rewritten_at_same_path(spark):
    """The schema cache is keyed on the files' stat signature: a table
    rewritten in place with an added column shows it on the next read,
    which re-infers once; the read after that is free again."""
    with tempfile.TemporaryDirectory() as d:
        path = os.path.join(d, "t.parquet")
        _write(path, k=[1, 2])
        _read_jobs(spark, d, "t", "tbl_rewrite_1")
        _, cached = _read_jobs(spark, d, "t", "tbl_rewrite_2")
        _write(path, k=[1, 2], extra=[7, 8])
        df, reinfer = _read_jobs(spark, d, "t", "tbl_rewrite_3")
        _, again = _read_jobs(spark, d, "t", "tbl_rewrite_4")
        assert df.columns == ["k", "extra"]
        assert sorted(r["extra"] for r in df.collect()) == [7, 8]
        assert (cached, reinfer, again) == (0, 1, 0)


def test_tbl_micros_events_leave_nanos_conf_unset(spark):
    """Only a footer holding TIMESTAMP(NANOS) may set nanosAsLong; the
    MICROS events every corpus ships must leave session conf alone (it is
    shared by the serving threads)."""
    from fiat2_spark.catalog import NANOS_AS_LONG

    spark.conf.unset(NANOS_AS_LONG)
    with tempfile.TemporaryDirectory() as d:
        os.symlink(os.path.join(SF_SMOKE, "events.parquet"), os.path.join(d, "events.parquet"))
        for sf_dir in (d, SF_SMOKE, d):  # cold and cached reads
            assert dict(tbl(spark, sf_dir, "events").dtypes)["ts"] == "timestamp"
    assert spark.conf.get(NANOS_AS_LONG) == "false"


def test_tbl_schema_cache_under_racing_threads(spark):
    """More threads than cores race on first reads of two tables (the
    serving boundary's shape): every read sees its table's own schema,
    and afterwards each table is cached."""
    import sys
    import threading

    with tempfile.TemporaryDirectory() as d:
        _write(os.path.join(d, "a.parquet"), x=[1])
        _write(os.path.join(d, "b.parquet"), y=[2], z=[3])
        want = {"a": ["x"], "b": ["y", "z"]}
        got, errors = [], []

        def read(name):
            try:
                got.append((name, tbl(spark, d, name).columns))
            except Exception as e:  # surfaced by the assert below
                errors.append(e)

        threads = [threading.Thread(target=read, args=("ab"[i % 2],)) for i in range(os.cpu_count() + 2)]
        old = sys.getswitchinterval()
        sys.setswitchinterval(1e-6)
        try:
            for t in threads:
                t.start()
            for t in threads:
                t.join(timeout=120)
        finally:
            sys.setswitchinterval(old)
        assert not any(t.is_alive() for t in threads) and not errors, errors
        assert len(got) == len(threads) and all(cols == want[n] for n, cols in got)
        assert [_read_jobs(spark, d, n, f"tbl_race_{n}")[1] for n in "ab"] == [0, 0]


_NEW_CONTEXT_SCRIPT = """
import os, sys
sys.path.insert(0, sys.argv[1])
import pyarrow as pa, pyarrow.parquet as pq
from fiat2_spark.session import get_spark
from fiat2_spark.workloads.util import tbl

def jobs(spark, d, group):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        tbl(spark, d, "t")
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))

d = sys.argv[2]
pq.write_table(pa.table({"k": [1, 2]}), os.path.join(d, "t.parquet"))
spark = get_spark(master="local[1]", shuffle_partitions=1)
counts = [jobs(spark, d, "first"), jobs(spark, d, "cached")]
spark.stop()
spark = get_spark(master="local[1]", shuffle_partitions=1)
counts.append(jobs(spark, d, "new_context"))
spark.stop()
print(counts)
"""


def test_new_spark_context_starts_with_empty_schema_cache(tmp_path):
    """Schemas are cached per SparkContext: after a stop and a new
    context in the same process, the first read infers again. Runs in
    its own small process, since one process holds one SparkContext."""
    import subprocess
    import sys

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m")
    out = subprocess.run(
        [sys.executable, "-c", _NEW_CONTEXT_SCRIPT, root, str(tmp_path)],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-3000:]
    assert out.stdout.strip().splitlines()[-1] == "[1, 0, 1]"


def test_http_serving_shim_matches_query(spark):
    """The HTTP process boundary (serving.py, mirroring Lib.hs:28-46):
    both routes answer over a real socket with the same JSON records
    the parity queries produce, and :n reaches the plan (n=3 returns
    strictly fewer artists than n=10)."""
    import threading
    import urllib.request

    from fiat2_spark.serving import make_server
    from fiat2_spark.sources.io import to_json_records
    from fiat2_spark.workloads.server import artist_less_than

    srv = make_server(spark, SF_SMOKE, port=0)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        def get(path):
            with urllib.request.urlopen(f"http://127.0.0.1:{port}{path}", timeout=60) as r:
                return json.loads(r.read().decode())

        want10 = [json.loads(s) for s in to_json_records(artist_less_than(spark, SF_SMOKE, 10))]
        got10 = get("/get_artist_less_than/10")
        key = lambda d: d["artist_id"]  # noqa: E731
        assert sorted(got10, key=key) == sorted(want10, key=key) and len(got10) > 0
        assert len(get("/get_artist_less_than/3")) < len(got10)
        albums = get("/get_album_and_artist/10")
        assert albums and {"album_id", "title", "artist"} <= set(albums[0])
    finally:
        srv.shutdown()


def _resident_copy(tmp_path, tables=("nation",)) -> str:
    """An sf dir holding only copies of the smoke tables (nation by
    default), so the resident cache meets them for the first time."""
    import shutil

    for t in tables:
        shutil.copy(os.path.join(SF_SMOKE, f"{t}.parquet"), tmp_path / f"{t}.parquet")
    return str(tmp_path)


def test_resident_routes_run_no_job(spark):
    """Once nation and supplier are resident, an artist request and an
    album request (plan, collect, JSON) each run no Spark job."""
    from fiat2_spark.catalog import resident
    from fiat2_spark.serving import _dispatch
    from tests.conftest import jobs_in_group

    resident(spark, SF_SMOKE, "nation")
    resident(spark, SF_SMOKE, "supplier")
    artists, jobs = jobs_in_group(
        spark, "resident_artist_route", lambda: _dispatch(spark, SF_SMOKE, "get_artist_less_than", 10)
    )
    assert jobs == 0 and len(artists) == 10
    albums, jobs = jobs_in_group(
        spark, "resident_album_route", lambda: _dispatch(spark, SF_SMOKE, "get_album_and_artist", 25)
    )
    assert jobs == 0 and len(albums) == tbl(spark, SF_SMOKE, "supplier").count()


def test_resident_table_rebuilds_after_rewrite(spark, tmp_path):
    """Rewriting nation at the same path makes the next read rebuild the
    resident table and serve the new rows; the read after that is a hit."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from fiat2_spark.workloads.server import artist_less_than
    from tests.conftest import jobs_in_group

    def write(names):
        keys = pa.array(range(len(names)), pa.int32())
        pq.write_table(
            pa.table({"n_nationkey": keys, "n_name": names, "n_regionkey": keys}),
            tmp_path / "nation.parquet",
        )

    def names():
        return [r["name"] for r in artist_less_than(spark, str(tmp_path), 10).collect()]

    write(["A", "B"])
    assert names() == ["A", "B"]
    write(["C", "D", "E"])
    got, jobs = jobs_in_group(spark, "resident_rebuild", names)
    assert got == ["C", "D", "E"] and jobs >= 1
    got, jobs = jobs_in_group(spark, "resident_rebuilt_hit", names)
    assert got == ["C", "D", "E"] and jobs == 0


def test_resident_first_read_race(spark, tmp_path):
    """Threads racing on a table's first read all get its rows, and the
    table is read once: one schema job and one toArrow job in all."""
    import sys
    from concurrent.futures import ThreadPoolExecutor

    from fiat2_spark.catalog import resident

    sf_dir = _resident_copy(tmp_path)
    want = [tuple(r) for r in tbl(spark, SF_SMOKE, "nation").collect()]
    scheduler = spark.sparkContext._jsc.sc().dagScheduler()
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        first = scheduler.numTotalJobs()
        with ThreadPoolExecutor(8) as pool:
            futures = [
                pool.submit(lambda: [tuple(r) for r in resident(spark, sf_dir, "nation").collect()])
                for _ in range(8)
            ]
            got = [f.result(timeout=120) for f in futures]
        jobs = scheduler.numTotalJobs() - first
    finally:
        sys.setswitchinterval(switch)
    assert got == [want] * 8
    assert jobs == 2


def test_resident_refuses_table_over_resident_rows(spark, tmp_path, monkeypatch):
    """A table with more rows than RESIDENT_ROWS fails with an error that
    names the table and the constant, and the footer count runs before
    any Spark job: nation (25 rows) read directly, and supplier (10 rows)
    read by the album route, which reads it before nation."""
    import pytest

    from fiat2_spark import catalog
    from fiat2_spark.workloads.server import album_and_artist
    from tests.conftest import jobs_in_group

    cases = (
        ("nation", 24, lambda sf_dir: catalog.resident(spark, sf_dir, "nation")),
        ("supplier", 9, lambda sf_dir: album_and_artist(spark, sf_dir, 10)),
    )
    for table, cap, run in cases:
        (tmp_path / table).mkdir()
        sf_dir = _resident_copy(tmp_path / table, ("nation", "supplier"))
        monkeypatch.setattr(catalog, "RESIDENT_ROWS", cap)

        def read():
            with pytest.raises(ValueError, match=rf"{table}\.parquet holds .*RESIDENT_ROWS = {cap}$"):
                run(sf_dir)

        _, jobs = jobs_in_group(spark, f"resident_over_cap_{table}", read)
        assert jobs == 0, table


def test_resident_routes_match_broadcast_join_plan(spark):
    """Both routes' JSON is byte-identical to the parquet plans they
    replace (nation filter; supplier ⋈ broadcast nation) serialized with
    DataFrame.toJSON, including the empty results of n <= 0."""
    from pyspark.sql import functions as F

    from fiat2_spark.workloads.server import album_and_artist, artist_less_than

    def parquet_artists(n):
        nat = tbl(spark, SF_SMOKE, "nation").filter(F.col("n_nationkey") < n)
        return nat.select(
            F.col("n_nationkey").cast("long").alias("artist_id"), F.col("n_name").alias("name")
        )

    def parquet_albums(n):
        s = tbl(spark, SF_SMOKE, "supplier")
        nat = tbl(spark, SF_SMOKE, "nation").filter(F.col("n_nationkey") < n)
        return s.join(F.broadcast(nat), F.col("s_nationkey") == F.col("n_nationkey")).select(
            F.col("s_suppkey").alias("album_id"),
            F.col("s_name").alias("title"),
            F.col("n_name").alias("artist"),
        )

    for n in (-1, 0, 1, 10, 25, 26):
        for route, parquet in ((artist_less_than, parquet_artists), (album_and_artist, parquet_albums)):
            got = to_json_records(route(spark, SF_SMOKE, n))
            assert got == parquet(n).toJSON().collect(), (route.__name__, n)
            assert n > 0 or got == [], (route.__name__, n)


def test_schema_evolution_merge_read(spark):
    """Corpus growth changes schemas over time (a new metadata column
    appears in later snapshots): reading the accumulated directory with
    mergeSchema must union the schemas, null-extending old files — and
    a reader pinning the OLD schema must still read new files (column
    pruning drops the extra column at the scan)."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    root = tempfile.mkdtemp(prefix="fiat2_schemaevo_")
    old = spark.createDataFrame([(1, "a"), (2, "b")], "id long, text string")
    new = spark.createDataFrame(
        [(3, "c", "en"), (4, "d", "de")], "id long, text string, lang string"
    )
    old.write.parquet(os.path.join(root, "snap=0"))
    new.write.parquet(os.path.join(root, "snap=1"))

    merged = spark.read.option("mergeSchema", "true").option(
        "recursiveFileLookup", "true"
    ).parquet(root)
    assert set(merged.columns) == {"id", "text", "lang"}
    rows = {r["id"]: r["lang"] for r in merged.collect()}
    assert rows == {1: None, 2: None, 3: "en", 4: "de"}

    pinned = spark.read.schema("id long, text string").option(
        "recursiveFileLookup", "true"
    ).parquet(root)
    assert pinned.count() == 4 and set(pinned.columns) == {"id", "text"}
    assert pinned.filter(F.col("id") == 3).collect()[0]["text"] == "c"


def test_csv_corrupt_records_are_quarantined(spark, tmp_path):
    """Malformed ingest rows must not kill the job OR silently vanish:
    PERMISSIVE mode quarantines them into the corrupt-record column
    where they can be counted and routed — the 100 TB ingest contract
    (one bad row in a billion must not fail the batch)."""
    from pyspark.sql import functions as F

    p = tmp_path / "bad.csv"
    p.write_text("a,b\n1,2\n3\n4,5,6\n7,8\n")
    df = (
        spark.read.option("header", "true")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt")
        .schema("a int, b int, _corrupt string")
        .csv(str(p))
    )
    df = df.cache()  # corrupt-record column requires a materialized parse
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    assert good.count() == 2 and bad.count() == 2
    assert sorted(r["a"] for r in good.collect()) == [1, 7]
