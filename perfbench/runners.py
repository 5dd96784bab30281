"""The three workloads: warm-up, timed phase and oracle check of each op.

Every runner drives the engine only through its public entry points:
``QUERIES[name]`` plus a noop drain (olap_tpch), the
``streaming.maintenance`` views and ``plans.autoindex.run_command_auto``
(maintain_index), and ``serving.make_server`` over HTTP (serve_rest).
Oracle checks, leak checks and block release run outside the timed
region of each op.
"""

from __future__ import annotations

import http.client
import json
import queue
import threading
import time
from contextlib import nullcontext
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import functions as F

from fiat2_spark import serving
from fiat2_spark.plans import ast as A
from fiat2_spark.plans.autoindex import run_command_auto
from fiat2_spark.plans.interp import Store
from fiat2_spark.session import cache_entries, release_blocks, release_checkpoint_blocks
from fiat2_spark.streaming.maintenance import (
    CountIndex, GroupIndex, JoinAggView, MaterializedView, MinIndex, SumIndex,
)
from fiat2_spark.workloads import ORACLES, QUERIES
from fiat2_spark.workloads.util import tbl
from tests.oracle import _canon, compare

import counters as C
import ops as O


@dataclass
class OpResult:
    index: int
    kind: str
    latency: float
    ok: bool = True
    error: str = ""
    extra: dict = field(default_factory=dict)


def same_rows(got: pd.DataFrame, want: pd.DataFrame) -> tuple[bool, str]:
    """The canonical comparison of ``tests.oracle.compare`` on two pandas
    frames (columns by name, rows sorted, cells rendered as strings)."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    a, b = _canon(got), _canon(want)
    if a != b:
        return False, f"rows differ: {[(x, y) for x, y in zip(a, b) if x != y][:3]} (n={len(a)}/{len(b)})"
    return True, ""


class Runner:
    """Shared plumbing: the session, the DuckDB oracle connection and,
    during a traced phase, the tracer and its phase listener."""

    def __init__(self, spark, sf_dir: str, con):
        self.spark, self.sc, self.sf_dir, self.con = spark, spark.sparkContext, sf_dir, con
        self.tracer = None
        self.listener = None
        self.oracle_s = 0.0
        self.mismatches = 0
        self._settled = 0
        # (first, end) job ids started by the ops of the last phase,
        # outside the oracle checks; read after the untraced timed phase
        self.job_ranges: list[tuple[int, int]] = []

    def leaked(self) -> int:
        """DataFrame cache entries that outlived an op; cleared so one
        leak is counted once."""
        n = len(cache_entries(self.spark)[1])
        if n:
            self.spark.catalog.clearCache()
        return n

    def rounds(self, rounds, seconds: float):
        """Yields whole rounds until ``seconds`` of the phase have passed,
        not counting the oracle checks made between ops: a run measures
        at least ``seconds`` and always a whole number of rounds."""
        start, oracle0 = time.perf_counter(), self.oracle_s
        while time.perf_counter() - start - (self.oracle_s - oracle0) < seconds:
            yield next(rounds)

    def checked(self, fn, *args) -> tuple[bool, str]:
        """Run one oracle check; a mismatch or an error in the check is
        counted in ``mismatches`` and fails the op."""
        t0 = time.perf_counter()
        try:
            ok, detail = fn(*args)
        except Exception as e:  # an oracle error is a failed op, not a crash
            ok, detail = False, f"oracle error: {type(e).__name__}: {e}"[:300]
        self.oracle_s += time.perf_counter() - t0
        self.mismatches += not ok
        return ok, detail

    def grouped(self, name: str):
        """A traced span whose Spark jobs run under a job group named
        after it; ``settle`` fills in the group's counters."""
        return C.grouped_span(self.tracer, self.sc, name)

    def settle(self) -> list[dict]:
        """Traced phase only: wait for the listener bus, fill in the job
        counters of every grouped span closed since the last call, and
        return the planning-phase events posted since then."""
        C.wait_for_listeners(self.sc)
        spans = self.tracer.spans
        for s in spans[self._settled:]:
            if "group" in s.counters and "jobs" not in s.counters:
                s.counters.update(C.group_stats(self.sc, s.counters["group"]))
        self._settled = len(spans)
        return self.listener.drain()


# ---------------------------------------------------------------- olap_tpch

PHASES = ("analysis", "optimization", "planning")


class Olap(Runner):
    def warm(self) -> list[OpResult]:
        """Every query once: each compiles its generated code."""
        return [self._op(i, q, check=False) for i, q in enumerate(O.OLAP_POOL)]

    def phase(self, seed: int, seconds: float) -> list[OpResult]:
        """Each query's output is checked the first time it runs in the
        phase: the same query on the same tables in one session, and an
        oracle check costs about as much as the op, so checking every
        repeat would not fit the run budget."""
        out, seen = [], set()
        self.job_ranges = []
        for names in self.rounds(O.olap_rounds(seed), seconds):
            for name in names:
                out.append(self._op(len(out), name, check=name not in seen))
                seen.add(name)
        return out

    def _op(self, i: int, name: str, check: bool = True) -> OpResult:
        tr = self.tracer
        j0 = C.jobs_started(self.sc)
        t0 = time.perf_counter()
        try:
            if tr is None:
                df = QUERIES[name](self.spark, self.sf_dir)
                df.write.format("noop").mode("overwrite").save()
                res = OpResult(i, name, time.perf_counter() - t0)
                self.job_ranges.append((j0, C.jobs_started(self.sc)))
            else:
                before = C.jvm_totals(self.spark)
                with tr.span("op", op=i) as root:
                    with self.grouped("build") as b:
                        df = QUERIES[name](self.spark, self.sf_dir)
                    with self.grouped("exec") as e:
                        df.write.format("noop").mode("overwrite").save()
                res = OpResult(i, name, root.duration)
        except Exception as ex:  # an engine error is a failed op; the run goes on
            return OpResult(i, name, time.perf_counter() - t0, ok=False,
                            error=f"{type(ex).__name__}: {ex}"[:300])
        if tr is not None:
            events = self.settle()
            root.counters.update(C.delta(C.jvm_totals(self.spark), before))
            for phase in PHASES:
                root.counters[phase + "_s"] = sum(ev.get(phase, 0.0) for ev in events)
            # the noop drain's own planning lands in exec; the planning of
            # actions the build ran eagerly lands in build
            for ev in events:
                span = e if ev["func"] in ("overwrite", "save") else b
                span.counters["catalyst_s"] = span.counters.get("catalyst_s", 0.0) + sum(
                    ev.get(p, 0.0) for p in PHASES
                )
            root.counters["blocks"], root.counters["bytes"] = C.storage(self.spark)
        if check:
            res.ok, res.error = self.checked(compare, df, self.con, ORACLES[name])
        leaks = self.leaked()
        if leaks:
            res.ok, res.error = False, f"{leaks} cache entries leaked"
        t0 = time.perf_counter()
        release_checkpoint_blocks(self.spark)
        if tr is not None:
            root.counters["release_s"] = time.perf_counter() - t0
            root.counters["leaked_entries"] = leaks
            self.settle()
        return res


# ----------------------------------------------------------- maintain_index

def _cents(col: str):
    return F.round(F.col(col) * 100).cast("long")


MV_SPEC = {
    # view -> (table, key column, id column, value column)
    "events_mv": ("events", "event_type", "user_id", "value"),
    "orders_mv": ("orders", "o_orderstatus", "o_custkey", "o_totalprice"),
}


class Maintain(Runner):
    def __init__(self, spark, sf_dir, con):
        super().__init__(spark, sf_dir, con)
        self.views: dict[str, object] = {}
        self.owned: dict[str, set] = {}
        self.batches: dict[tuple, list] = {}

    def warm(self) -> list[OpResult]:
        """The first cycle of a round (each view built, one insert
        each), then a command for every key: each key compiles its own
        plans."""
        first = next(O.maintain_rounds(0))[:2 * len(O.VIEWS)]
        ops = first + [O.MaintOp("command", key=k) for k in O.COMMAND_KEYS]
        out = [self._op(i, op) for i, op in enumerate(ops)]
        self.reset()
        return out

    def phase(self, seed: int, seconds: float) -> list[OpResult]:
        out = []
        self.job_ranges = []
        for ops in self.rounds(O.maintain_rounds(seed), seconds):
            for op in ops:
                out.append(self._op(len(out), op))
        self.reset()
        return out

    def reset(self) -> None:
        for v in list(self.views):
            self._retire(v)

    def _retire(self, view: str) -> None:
        self.views.pop(view, None)
        release_blocks(self.spark, self.owned.pop(view, set()))
        for key in [k for k in self.batches if k[0] == view]:
            del self.batches[key]

    def _blocks(self) -> set:
        return set(dict(self.sc._jsc.getPersistentRDDs()).keys())

    # -- the engine calls under test

    def _init(self, view: str):
        if view in MV_SPEC:
            table, key, ident, value = MV_SPEC[view]
            mv = MaterializedView(tbl(self.spark, self.sf_dir, table).select(
                key, ident, _cents(value).alias("cents")
            ))
            if view == "events_mv":
                return (mv.with_index("sum", SumIndex(F.col("cents")))
                        .with_index("min", MinIndex(F.col("cents")))
                        .with_index("count", CountIndex()))
            return mv.with_index("by_key", GroupIndex([key], {
                "n": ("count", None), "s": ("sum", F.col("cents")), "mx": ("max", F.col("cents")),
            }))
        left = tbl(self.spark, self.sf_dir, "orders").select(
            F.col("o_custkey").alias("custkey"), _cents("o_totalprice").alias("cents")
        )
        right = tbl(self.spark, self.sf_dir, "customer").select(
            F.col("c_custkey").alias("custkey"), "c_mktsegment"
        )
        group = GroupIndex(["c_mktsegment"], {"n": ("count", None), "s": ("sum", F.col("cents"))})
        return JoinAggView(left, right, ["custkey"], group)

    def _insert(self, view, op: O.MaintOp, batch_df) -> None:
        if isinstance(view, MaterializedView):
            view.insert(batch_df)
        elif op.side == "left":
            view.insert_left(batch_df)
        else:
            view.insert_right(batch_df)

    def _read(self, view) -> dict:
        if isinstance(view, JoinAggView):
            return {"rows": view.read().collect()}
        if "by_key" in view.indexes:
            return {"rows": view.read("by_key").collect()}
        return {k: view.read(k) for k in ("sum", "min", "count")}

    def _command(self, key: int) -> dict:
        st = Store()
        part = tbl(self.spark, self.sf_dir, "part")
        st.assign("inv", part.select(
            F.col("p_partkey").alias("id"), (F.col("p_partkey") * 3).cast("long").alias("price"),
        ))
        orders = tbl(self.spark, self.sf_dir, "orders")
        st.assign("orders_mut", orders.select(
            F.col("o_orderkey").alias("id"),
            F.col("o_custkey").cast("long").alias("price"),
            F.when(F.col("o_custkey") < 500, F.lit("cold")).otherwise(F.lit("hot")).alias("tier"),
        ))
        run_command_auto(auto_index_program(key), st, {}, self.spark)
        return {k: st.get(f"out_{k}") for k in ("sum", "min", "n", "hot")}

    def _timed(self, name: str, fn, *args):
        """(seconds, result) of one engine call, in its own span when
        traced."""
        with self.grouped(name) if self.tracer else nullcontext():
            t0 = time.perf_counter()
            out = fn(*args)
            return time.perf_counter() - t0, out

    # -- one op: init a view, insert a batch then read the view, or a command

    def _op(self, i: int, op: O.MaintOp) -> OpResult:
        tr = self.tracer
        if op.kind == "init":
            self._retire(op.view)
        batch_df = None
        if op.kind == "insert":
            batch_df = self.spark.createDataFrame(list(op.rows), O.BATCH_SCHEMA[(op.view, op.side)])
        before_blocks = self._blocks()
        before = C.jvm_totals(self.spark) if tr else None
        res = OpResult(i, op.kind, 0.0, extra={"view": op.view, "life": op.life})
        got = None
        j0 = C.jobs_started(self.sc)
        try:
            with tr.span("op", op=i) if tr else nullcontext() as root:
                if op.kind == "init":
                    res.latency, self.views[op.view] = self._timed("maint.init", self._init, op.view)
                elif op.kind == "insert":
                    view = self.views[op.view]
                    ins, _ = self._timed("maint.insert", self._insert, view, op, batch_df)
                    read, got = self._timed("maint.read", self._read, view)
                    res.latency = ins + read
                    res.extra.update(insert_s=ins, read_s=read)
                else:
                    res.latency, got = self._timed("plans.run", self._command, op.key)
        except Exception as e:  # an engine error is a failed op; the run goes on
            res.ok, res.error = False, f"{type(e).__name__}: {e}"[:300]
        if tr is None:  # the oracle below queries DuckDB only
            self.job_ranges.append((j0, C.jobs_started(self.sc)))
        new_blocks = self._blocks()
        if op.kind == "command":
            release_blocks(self.spark, new_blocks - before_blocks)
        elif op.view is not None:
            owned = self.owned.setdefault(op.view, set())
            owned |= new_blocks - before_blocks
            owned &= new_blocks
        if op.kind == "insert":
            self.batches.setdefault((op.view, op.side), []).extend(op.rows)
            res.extra["resident_blocks"] = len(cache_entries(self.spark)[0])
        if got is not None and res.ok:
            res.ok, res.error = self.checked(self._oracle, op, got)
        leaks = self.leaked()
        if leaks:
            res.ok, res.error = False, f"{leaks} cache entries leaked"
        if tr:
            self.settle()
            root.counters.update(C.delta(C.jvm_totals(self.spark), before))
            root.counters["blocks"], root.counters["bytes"] = C.storage(self.spark)
            root.counters["leaked_entries"] = leaks
        return res

    # -- oracle: recompute over the base plus the inserted batches

    def _frame(self, view: str, side: str) -> str:
        rows = self.batches.get((view, side), [])
        names = [c.split()[0] for c in O.BATCH_SCHEMA[(view, side)].split(", ")]
        name = f"batch_{view}_{side}"
        self.con.register(name, pd.DataFrame(rows, columns=names))
        return name

    def _oracle(self, op: O.MaintOp, got: dict) -> tuple[bool, str]:
        if op.kind == "command":
            return self._oracle_command(op.key, got)
        if op.view in MV_SPEC:
            table, key, ident, value = MV_SPEC[op.view]
            all_rows = (
                f"SELECT {key}, {ident}, CAST(ROUND({value} * 100) AS BIGINT) AS cents FROM {table} "
                f"UNION ALL SELECT {key}, {ident}, cents FROM {self._frame(op.view, 'base')}"
            )
            if "rows" not in got:
                want = self.con.execute(
                    "SELECT CAST(SUM(cents) AS BIGINT) AS sum, CAST(MIN(cents) AS BIGINT) AS min, "
                    f"CAST(COUNT(*) AS BIGINT) AS count FROM ({all_rows})"
                ).df()
                return same_rows(pd.DataFrame([got]), want)
            sql = (
                f"SELECT {key}, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s, "
                f"CAST(MAX(cents) AS BIGINT) AS mx FROM ({all_rows}) GROUP BY {key}"
            )
        else:
            sql = (
                "WITH l AS (SELECT o_custkey AS custkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) "
                f"AS cents FROM orders UNION ALL SELECT custkey, cents FROM {self._frame(op.view, 'left')}), "
                "r AS (SELECT c_custkey AS custkey, c_mktsegment FROM customer "
                f"UNION ALL SELECT * FROM {self._frame(op.view, 'right')}) "
                "SELECT c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(cents) AS BIGINT) AS s "
                "FROM l JOIN r USING (custkey) GROUP BY c_mktsegment"
            )
        rows = pd.DataFrame([r.asDict() for r in got["rows"]])
        return same_rows(rows, self.con.execute(sql).df())

    def _oracle_command(self, key: int, got: dict) -> tuple[bool, str]:
        ids = ", ".join(str(n * key) for n in range(1, 6))
        want = self.con.execute(f"""
            WITH base AS (
              SELECT o_orderkey AS id, o_custkey AS price,
                     CASE WHEN o_custkey < 500 THEN 'cold' ELSE 'hot' END AS tier FROM orders),
            ins AS (SELECT p_partkey AS id, p_partkey * 3 AS price,
                           CASE WHEN p_partkey * 3 < 500 THEN 'cold' ELSE 'hot' END AS tier
                    FROM part WHERE p_partkey IN ({ids})),
            all_rows AS (SELECT * FROM base UNION ALL SELECT * FROM ins)
            SELECT CAST(SUM(price) AS BIGINT) AS sum, CAST(MIN(price) AS BIGINT) AS min,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN tier = 'hot' THEN 1 ELSE 0 END) AS BIGINT) AS hot
            FROM all_rows""").df()
        return same_rows(pd.DataFrame([got]), want)


def auto_index_program(key: int) -> A.Command:
    """The ``dsl_auto_index`` program with a seeded key: for n in 1..5,
    look up item ``n * key`` in ``inv`` and insert it into ``orders_mut``;
    then read its sum, min, length and the count of 'hot' rows.
    ``run_command_auto`` picks a dict index, sum/min aggregates and a
    bitmap index for it."""
    def b(op, x, y):
        return A.EBinop(op, x, y)

    def i(v):
        return A.EAtom(A.AInt(v))

    var, acc, nil = A.EVar, A.EAccess, A.EAtom(A.ANil(A.TInt()))
    item_id = b("OTimes", var("n"), i(key))
    lookup = A.ESort("LikeList", A.EFlatmap(
        "LikeList", A.ELoc("inv"), "item",
        A.EIf(b("OEq", acc(var("item"), "id"), item_id),
              b("OCons", acc(var("item"), "price"), nil), nil),
    ))
    insert = A.CAssign("orders_mut", b("OCons", A.ERecord((
        ("id", item_id),
        ("price", var("price")),
        ("tier", A.EIf(b("OLess", var("price"), i(500)),
                       A.EAtom(A.AString("cold")), A.EAtom(A.AString("hot")))),
    )), A.ELoc("orders_mut")))
    loop = A.CForeach(b("ORange", i(1), i(6)), "n",
                      A.CLet(lookup, "item_price", A.CForeach(var("item_price"), "price", insert)))
    prices = A.EFlatmap("LikeList", A.ELoc("orders_mut"), "item",
                        b("OCons", acc(var("item"), "price"), nil))
    total = A.EFold(prices, i(0), "_v", "_acc", b("OPlus", var("_v"), var("_acc")))
    least = A.EFold(prices, A.EAtom(A.ANone(A.TInt())), "_v", "_acc", A.EOptMatch(
        var("_acc"), A.EUnop("OSome", var("_v")), "_x",
        A.EIf(b("OLess", var("_v"), var("_x")), A.EUnop("OSome", var("_v")), var("_acc")),
    ))
    hot = A.EFilter("LikeBag", A.ELoc("orders_mut"), "x",
                    b("OEq", acc(var("x"), "tier"), A.EAtom(A.AString("hot"))))
    reads = [
        A.CAssign("out_sum", total),
        A.CAssign("out_min", least),
        A.CAssign("out_n", A.EUnop("OLength", A.ELoc("orders_mut"))),
        A.CAssign("out_hot", A.EUnop("OLength", hot)),
    ]
    prog = reads[-1]
    for c in reversed(reads[:-1]):
        prog = A.CSeq(c, prog)
    return A.CSeq(loop, prog)


# --------------------------------------------------------------- serve_rest


class Serve(Runner):
    def __init__(self, spark, sf_dir, con, clients: int):
        super().__init__(spark, sf_dir, con)
        self.clients = clients
        self.server = serving.make_server(spark, sf_dir, 0)
        self.port = self.server.server_address[1]
        self._thread = threading.Thread(target=self.server.serve_forever, daemon=True)
        self._thread.start()

    def close(self) -> None:
        self.server.shutdown()
        self.server.server_close()
        self._thread.join(timeout=30)

    def warm(self) -> list[OpResult]:
        """Every (route, :n) request once, sent as fast as the clients
        take them: each :n plans and compiles its own code."""
        return self._run([(0.0, r, n) for n in O.SERVE_NS for r in O.ROUTES], rate=None)

    def phase(self, seed: int, seconds: float) -> list[OpResult]:
        """The server's threads start every job of a round; the oracle
        checks after it query DuckDB only, so the round's job ids are
        its requests' jobs."""
        out = []
        self.job_ranges = []
        for sched in self.rounds(O.serve_rounds(seed), seconds):
            j0 = C.jobs_started(self.sc)
            out += self._run(sched, rate=O.SERVE_RATE, first=len(out))
            self.job_ranges.append((j0, C.jobs_started(self.sc)))
        return out

    def _get(self, route: str, n: int) -> tuple[int, bytes]:
        conn = http.client.HTTPConnection("127.0.0.1", self.port, timeout=120)
        try:
            conn.request("GET", f"/{route}/{n}")
            resp = conn.getresponse()
            return resp.status, resp.read()
        finally:
            conn.close()

    def _run(self, sched, rate, first: int = 0) -> list[OpResult]:
        """Open loop: each request is due at its scheduled offset and is
        sent by the first free client (at most ``clients`` connections).
        Latency runs from the due time; lateness is send minus due."""
        todo: queue.Queue = queue.Queue()
        results: list[OpResult | None] = [None] * len(sched)
        tr = self.tracer

        def client():
            while True:
                item = todo.get()
                if item is None:
                    return
                i, due, route, n = item
                sent = time.perf_counter()
                with tr.span("op", op=first + i) if tr else nullcontext() as root:
                    try:
                        status, body = self._get(route, n)
                        err = "" if status == 200 else f"HTTP {status}"
                    except OSError as e:
                        status, body, err = 0, b"", f"{type(e).__name__}: {e}"
                done = time.perf_counter()
                if root is not None:
                    root.counters.update(route=route, n=n)
                results[i] = OpResult(first + i, route, done - due, ok=not err, error=err, extra={
                    "n": n, "body": body, "lateness": sent - due, "request_s": done - sent,
                })

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        start = time.perf_counter()
        for i, (offset, route, n) in enumerate(sched):
            due = start + offset if rate else time.perf_counter()
            pause = due - time.perf_counter()
            if pause > 0:
                time.sleep(pause)
            todo.put((i, due, route, n))
        for _ in threads:
            todo.put(None)
        for t in threads:
            t.join()
        for r in results:
            if r.ok:
                r.ok, r.error = self.checked(self._oracle, r)
            r.extra.pop("body")
        leaks = self.leaked()
        if leaks:
            results[-1].ok, results[-1].error = False, f"{leaks} cache entries leaked"
        return results

    def _oracle(self, r: OpResult) -> tuple[bool, str]:
        n = r.extra["n"]
        got = pd.DataFrame(json.loads(r.extra["body"]))
        if r.kind == "get_artist_less_than":
            sql = f"SELECT CAST(n_nationkey AS BIGINT) AS artist_id, n_name AS name FROM nation WHERE n_nationkey < {n}"
        else:
            sql = (
                "SELECT s_suppkey AS album_id, s_name AS title, n_name AS artist "
                f"FROM supplier JOIN nation ON s_nationkey = n_nationkey WHERE n_nationkey < {n}"
            )
        return same_rows(got, self.con.execute(sql).df())
