"""Spark-side counters, read through py4j.

Everything here reads state the engine already keeps: job groups and
the status store (jobs, stages, tasks, shuffle bytes, executor time),
``QueryPlanningTracker`` phases of each action, the global
``RuleExecutor`` and codegen totals, and RDD storage. Nothing here
changes what a query does, apart from the job-group label the traced run
puts on its own threads.
"""

from __future__ import annotations

import os
import resource
import threading
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"


@contextmanager
def job_group(sc, group: str):
    """Label the jobs this thread starts; restore the enclosing label."""
    prev = sc.getLocalProperty(JOB_GROUP)
    sc.setJobGroup(group, group)
    try:
        yield group
    finally:
        if prev is None:
            sc.setLocalProperty(JOB_GROUP, None)
        else:
            sc.setJobGroup(prev, prev)


@contextmanager
def grouped_span(tracer, sc, name: str):
    """A span whose Spark jobs run under a job group named after it; the
    group name is kept in the span's counters."""
    with tracer.span(name) as s, job_group(sc, f"span{s.id}") as g:
        s.counters["group"] = g
        yield s


def wait_for_listeners(sc) -> None:
    """Block until the listener bus has delivered every event posted so
    far, so the status store and the phase listener are up to date."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _seq(s) -> list:
    return [s.apply(i) for i in range(s.size())]


def group_stats(sc, group: str) -> dict:
    """Counters of the jobs started under ``group`` (call after
    ``wait_for_listeners``). ``job_s`` sums job wall times; stages and
    tasks count only what ran, not what was skipped."""
    store = sc._jsc.sc().statusStore()
    out = dict(jobs=0, job_s=0.0, stages=0, tasks=0, shuffle_read_bytes=0,
               shuffle_write_bytes=0, executor_run_s=0.0, executor_cpu_s=0.0)
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        job = store.job(jid)
        out["jobs"] += 1
        sub, done = job.submissionTime(), job.completionTime()
        if sub.isDefined() and done.isDefined():
            out["job_s"] += (done.get().getTime() - sub.get().getTime()) / 1e3
        for sid in _seq(job.stageIds()):
            st = store.lastStageAttempt(sid)
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["executor_run_s"] += st.executorRunTime() / 1e3
            out["executor_cpu_s"] += st.executorCpuTime() / 1e9
    return out


def jobs_started(sc) -> int:
    """Spark jobs started so far in this context. Job ids count up from
    0, so the jobs started between two reads have the ids in between."""
    return sc._jsc.sc().dagScheduler().numTotalJobs()


def work(sc, ranges) -> tuple[int, int]:
    """(jobs, input bytes read by their stages) of the jobs whose ids lie
    in the half-open ``(first, end)`` ranges; call after
    ``wait_for_listeners``. Skipped stages read nothing and are left out."""
    store = sc._jsc.sc().statusStore()
    jobs = read = 0
    for first, end in ranges:
        for jid in range(first, end):
            jobs += 1
            for sid in _seq(store.job(jid).stageIds()):
                st = store.lastStageAttempt(sid)
                if str(st.status()) != "SKIPPED":
                    read += st.inputBytes()
    return jobs, read


def jvm_totals(spark) -> dict:
    """Process-wide JVM totals; the traced run reports their deltas."""
    jvm = spark._jvm
    rules = jvm.org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics()
    codegen = getattr(jvm.org.apache.spark.sql.catalyst.expressions.codegen, "CodeGenerator$")
    metrics = getattr(jvm.org.apache.spark.metrics.source, "CodegenMetrics$")
    return {
        "rule_s": rules.time() / 1e9,
        "codegen_s": codegen.__getattr__("MODULE$").compileTime() / 1e9,
        "codegen_compiles": metrics.__getattr__("MODULE$").METRIC_COMPILATION_TIME().getCount(),
    }


def delta(after: dict, before: dict) -> dict:
    return {k: after[k] - before[k] for k in after}


class PhaseListener:
    """A ``QueryExecutionListener`` that records the planning phases of
    every action the session runs (analysis, optimization, planning, in
    seconds). Events arrive on the listener bus; call
    ``wait_for_listeners`` before ``drain``."""

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._events: list[dict] = []
        self._lock = threading.Lock()
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func, qe, duration_ns):  # noqa: N802 — JVM interface
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = kv._2().durationMs() / 1e3
        with self._lock:
            self._events.append({"func": func, **phases})

    def onFailure(self, func, qe, exc):  # noqa: N802 — JVM interface
        self.onSuccess(func, qe, 0)

    def drain(self) -> list[dict]:
        with self._lock:
            out, self._events = self._events, []
        return out

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def storage(spark) -> tuple[int, int]:
    """(resident persistent RDDs, their bytes in memory and on disk)."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return len(infos), sum(i.memSize() + i.diskSize() for i in infos)


def jvm_pid(spark) -> int:
    return spark._jvm.java.lang.ProcessHandle.current().pid()


def peak_rss_mb(jvm_pid: int) -> float:
    """Peak resident memory of this Python process plus the JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{jvm_pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def host_memory_mb() -> int:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
