"""Metrics from op results (end to end) and from spans (per layer)."""

from __future__ import annotations

import statistics
from collections import defaultdict

from spans import Span, geomean, percentile, self_times, tail_rank

# Layers an op's wall time is split into, in print order.
LAYERS = ("tbl", "build_self", "build_job", "catalyst", "exec", "plans", "maint",
          "materialize", "serve_dispatch", "serve_http")


def end_to_end(results, elapsed: float) -> dict:
    lat = [r.latency for r in results]
    by_kind = defaultdict(list)
    for r in results:
        by_kind[r.kind].append(r.latency)
    return {
        "throughput_qps": sum(r.ok for r in results) / elapsed,
        "latency_geomean_s": geomean([statistics.median(v) for v in by_kind.values()]),
        "latency_p50_s": statistics.median(lat),
        "latency_tail_s": percentile(lat, tail_rank(len(lat))),
    }


def maintain_latencies(results) -> dict:
    """maintain_index's own metrics: median and tail of the insert, the
    median of the read that follows it and of the command (0 when the
    phase ran none)."""
    ins = [r.extra["insert_s"] for r in results if "insert_s" in r.extra]
    reads = [r.extra["read_s"] for r in results if "read_s" in r.extra]
    cmds = [r.latency for r in results if r.kind == "command"]
    return {
        "insert_p50_s": percentile(ins, 50) if ins else 0.0,
        "insert_tail_s": percentile(ins, tail_rank(len(ins))) if ins else 0.0,
        "read_p50_s": percentile(reads, 50) if reads else 0.0,
        "command_p50_s": percentile(cmds, 50) if cmds else 0.0,
    }


def insert_drift(results) -> float:
    """Per view life: median insert time over its last quarter divided by
    its first quarter (at least one insert each); the median over lives
    with two inserts or more (0 if none)."""
    lives = defaultdict(list)
    for r in results:
        if "insert_s" in r.extra:
            lives[(r.extra["view"], r.extra["life"])].append(r.extra["insert_s"])
    ratios = []
    for lat in lives.values():
        q = max(1, len(lat) // 4)
        if len(lat) >= 2:
            ratios.append(statistics.median(lat[-q:]) / statistics.median(lat[:q]))
    return statistics.median(ratios) if ratios else 0.0


def attach_dispatches(spans: list[Span]) -> None:
    """Give each server-side dispatch span (and its children) the op id
    of the client request it served: same route and :n, and the request
    interval contains the dispatch."""
    roots = sorted((s for s in spans if s.name == "op" and "route" in s.counters),
                   key=lambda s: s.start)
    taken: set[int] = set()
    children = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    for d in sorted((s for s in spans if s.name == "serve.dispatch"), key=lambda s: s.start):
        for r in roots:
            if (r.id not in taken and r.counters["route"] == d.counters["route"]
                    and r.counters["n"] == d.counters["n"] and r.start <= d.start and d.end <= r.end):
                taken.add(r.id)
                stack = [d]
                while stack:
                    s = stack.pop()
                    s.op = r.op
                    stack.extend(children[s.id])
                break


def partition(root: Span, op_spans: list[Span], self_t: dict) -> dict:
    """Split one op's wall time into LAYERS (seconds)."""
    parts = dict.fromkeys(LAYERS, 0.0)
    dispatched = 0.0
    for s in op_spans:
        c = s.counters
        if s.name == "tbl":
            parts["tbl"] += s.duration
        elif s.name == "build":
            parts["build_job"] += c.get("job_s", 0.0)
            parts["catalyst"] += c.get("catalyst_s", 0.0)
            parts["build_self"] += self_t[s.id] - c.get("job_s", 0.0) - c.get("catalyst_s", 0.0)
        elif s.name == "exec":
            parts["catalyst"] += c.get("catalyst_s", 0.0)
            parts["exec"] += s.duration - c.get("catalyst_s", 0.0)
        elif s.name.startswith("plans."):
            parts["plans"] += self_t[s.id]
        elif s.name.startswith("maint."):
            parts["maint"] += self_t[s.id]
        elif s.name.startswith("materialize."):
            parts["materialize"] += self_t[s.id]
        elif s.name == "serve.dispatch":
            parts["serve_dispatch"] += self_t[s.id]
            dispatched += s.duration
    if "route" in root.counters:
        parts["serve_http"] = root.duration - dispatched
    return parts


def accounted(parts: dict, wall: float) -> bool:
    """Whether one op's layers account for its wall time: they add up to
    it within 10%, and no layer comes out below -1% of it. The residual
    layers (``build_self``, ``exec``, ``serve_http``) turn negative when
    the layers measured directly overlap, i.e. count some time twice."""
    return (abs(sum(parts.values()) - wall) <= 0.1 * wall
            and min(parts.values()) >= -0.01 * wall)


def per_layer(spans: list[Span], totals: dict) -> tuple[dict, dict]:
    """Per-layer metrics of one traced phase, plus each layer's share of
    op wall time. Times and counts are means per op unless the name
    says otherwise: plans.* per command, maint.* per insert or read,
    serve.* per request."""
    attach_dispatches(spans)
    self_t = self_times(spans)
    roots = [s for s in spans if s.name == "op"]
    by_op = defaultdict(list)
    named = defaultdict(list)
    for s in spans:
        named[s.name].append(s)
        if s.name != "op" and s.op is not None:
            by_op[s.op].append(s)
    n = max(1, len(roots))

    def mean(name, key=None, per=None):
        xs = named[name]
        total = sum(s.duration if key is None else s.counters.get(key, 0) for s in xs)
        return total / (per if per is not None else n)

    def root_sum(key):
        return sum(r.counters.get(key, 0) for r in roots)

    m = {}
    tbl = named["tbl"]
    m["tbl.calls"] = len(tbl) / n
    m["tbl.s"] = mean("tbl")
    m["tbl.jobs"] = mean("tbl", "jobs")
    m["tbl.useful_ratio"] = len({s.counters["table"] for s in tbl}) / len(tbl) if tbl else 0.0
    m["build.s"] = mean("build")
    m["build.jobs"] = mean("build", "jobs")
    m["build.job_s"] = mean("build", "job_s")
    m["build.self_s"] = sum(
        self_t[s.id] - s.counters.get("job_s", 0.0) - s.counters.get("catalyst_s", 0.0)
        for s in named["build"]
    ) / n
    m["catalyst.analysis_s"] = root_sum("analysis_s") / n
    m["catalyst.optimization_s"] = root_sum("optimization_s") / n
    m["catalyst.planning_s"] = root_sum("planning_s") / n
    def jvm(key):
        # per-op deltas where the runner took them (they leave out the
        # oracle checks); otherwise the phase delta of the process-wide
        # totals, which also covers work on the server's threads
        if any(key in r.counters for r in roots):
            return root_sum(key) / n
        return totals[key] / n

    m["catalyst.rule_s"] = jvm("rule_s")
    m["codegen.compiles"] = jvm("codegen_compiles")
    m["codegen.compile_s"] = jvm("codegen_s")
    m["exec.s"] = sum(s.duration - s.counters.get("catalyst_s", 0.0) for s in named["exec"]) / n
    for k in ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes",
              "executor_run_s", "executor_cpu_s"):
        m[f"exec.{k}"] = mean("exec", k)
    m["materialize.blocks"] = root_sum("blocks") / n
    m["materialize.bytes"] = root_sum("bytes") / n
    m["materialize.release_s"] = (root_sum("release_s") + sum(
        s.duration for s in named["materialize.release"])) / n
    m["materialize.leaked_entries"] = root_sum("leaked_entries")
    commands = max(1, len(named["plans.run"]))
    m["plans.typecheck_s"] = mean("plans.typecheck", per=commands)
    m["plans.autoindex_s"] = mean("plans.autoindex", per=commands)
    m["plans.run_s"] = mean("plans.run", per=commands)
    m["plans.jobs"] = (mean("plans.run", "jobs", per=commands) + sum(
        s.counters.get("jobs", 0) for s in tbl if _under(s, "plans.run", spans)) / commands)
    for kind in ("insert", "read"):
        k = max(1, len(named[f"maint.{kind}"]))
        m[f"maint.{kind}_s"] = mean(f"maint.{kind}", per=k)
        m[f"maint.{kind}_jobs"] = mean(f"maint.{kind}", "jobs", per=k)
    requests = [r for r in roots if "route" in r.counters]
    dispatch = named["serve.dispatch"]
    nreq, ndis = max(1, len(requests)), max(1, len(dispatch))
    m["serve.request_s"] = sum(r.duration for r in requests) / nreq
    m["serve.dispatch_s"] = sum(s.duration for s in dispatch) / ndis
    m["serve.http_s"] = m["serve.request_s"] - m["serve.dispatch_s"] if requests else 0.0
    m["serve.jobs_per_request"] = (sum(s.counters.get("jobs", 0) for s in dispatch) + sum(
        s.counters.get("jobs", 0) for s in tbl if _under(s, "serve.dispatch", spans))) / ndis

    shares = dict.fromkeys(LAYERS, 0.0)
    wall, covered = 0.0, 0
    for r in roots:
        parts = partition(r, by_op[r.op], self_t)
        for k, v in parts.items():
            shares[k] += v
        wall += r.duration
        covered += accounted(parts, r.duration)
    shares = {k: v / wall if wall else 0.0 for k, v in shares.items()}
    m["trace.coverage"] = covered / n
    for k, v in shares.items():
        m[f"share.{k}"] = v
    return m, shares


def _under(s: Span, name: str, spans: list[Span]) -> bool:
    p = s.parent
    while p is not None:
        if spans[p].name == name:
            return True
        p = spans[p].parent
    return False


def overhead_share(untraced, traced) -> float:
    """Traced minus untraced time over the same op sequence (the two
    phases replay one seed), divided by untraced."""
    k = min(len(untraced), len(traced))
    base = sum(r.latency for r in untraced[:k])
    return sum(r.latency for r in traced[:k]) / base - 1 if base else 0.0
