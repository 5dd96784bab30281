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
    recs = to_json_records(n, n=3)
    assert len(recs) == 3
    first = json.loads(recs[0])
    assert first == {"n_nationkey": 0, "n_name": first["n_name"]}


def test_catalog_store_and_let_mut_scoping(spark):
    """Catalog = the Gstore: assign registers a temp view (ELoc readable
    from both APIs), let_mut binds for the block and restores after —
    including the previous binding when shadowing."""
    from fiat2_spark.catalog import Catalog

    cat = Catalog.from_sf_dir(spark, SF_SMOKE, tables=("region", "nation"))
    assert cat.get("region").count() == spark.sql("SELECT count(*) FROM region").collect()[0][0]

    small = cat.get("region").limit(2)
    with cat.let_mut("region", small):
        assert cat.get("region").count() == 2
        assert spark.sql("SELECT count(*) FROM region").collect()[0][0] == 2
        with cat.let_mut("scratch", cat.get("nation")):
            assert "scratch" in cat
        assert "scratch" not in cat
    assert cat.get("region").count() == 5


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
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        df = tbl(spark, sf_dir, name)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return df, len(sc.statusTracker().getJobIdsForGroup(group))


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
