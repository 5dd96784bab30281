"""Spans around the engine's layer entry points, for the traced phase only.

The benchmark times each layer from its own files: while a traced phase
runs, the module bindings below are replaced by wrappers that open a
span (and, where the layer starts Spark jobs, a job group named after
the span) and call the original. Leaving the phase restores every
binding, so untraced phases run the engine's code untouched. A wrapper
called outside any op span passes straight through, except the serving
dispatch, which runs on the server's own threads and opens its span
there.
"""

from __future__ import annotations

import functools
import importlib

import counters as C
import runners

TBL_MODULES = (
    "fiat2_spark.workloads.util", "fiat2_spark.workloads.core", "fiat2_spark.workloads.dsl",
    "fiat2_spark.workloads.graphs", "fiat2_spark.workloads.pipeline",
    "fiat2_spark.workloads.server", "fiat2_spark.workloads.stream",
)
PLAN_HOOKS = (
    ("fiat2_spark.plans.autoindex", "choose_indexes", "plans.autoindex"),
    ("fiat2_spark.plans.typecheck", "typecheck_command", "plans.typecheck"),
    ("fiat2_spark.streaming.maintenance", "release_blocks", "materialize.release"),
)


class Traced:
    """``with Traced(runner, tracer, listener):`` runs one traced phase."""

    def __init__(self, runner, tracer, listener):
        self.runner, self.tracer, self.listener = runner, tracer, listener
        self._saved: list[tuple[object, str, object]] = []

    def _patch(self, module, attr: str, wrapper) -> None:
        self._saved.append((module, attr, getattr(module, attr)))
        setattr(module, attr, wrapper)

    def _span_if_in_op(self, fn, name: str, grouped: bool):
        tracer, sc = self.tracer, self.runner.sc

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            cur = tracer.current()
            if cur is None or cur.name == name:  # outside an op, or a recursive call
                return fn(*args, **kwargs)
            ctx = C.grouped_span(tracer, sc, name) if grouped else tracer.span(name)
            with ctx as s:
                out = fn(*args, **kwargs)
            if name == "tbl":
                s.counters["table"] = f"{args[1]}|{args[2]}"
            return out

        return wrapper

    def __enter__(self):
        tbl = runners.tbl
        wrapped_tbl = self._span_if_in_op(tbl, "tbl", grouped=True)
        for mod in [importlib.import_module(m) for m in TBL_MODULES] + [runners]:
            if getattr(mod, "tbl", None) is tbl:
                self._patch(mod, "tbl", wrapped_tbl)
        for mod_name, attr, name in PLAN_HOOKS:
            mod = importlib.import_module(mod_name)
            self._patch(mod, attr, self._span_if_in_op(getattr(mod, attr), name, grouped=False))
        serving = importlib.import_module("fiat2_spark.serving")
        dispatch = serving._dispatch
        tracer, sc = self.tracer, self.runner.sc

        @functools.wraps(dispatch)
        def traced_dispatch(spark, sf_dir, route, n):
            with C.grouped_span(tracer, sc, "serve.dispatch") as s:
                s.counters.update(route=route, n=n)
                return dispatch(spark, sf_dir, route, n)

        self._patch(serving, "_dispatch", traced_dispatch)
        self.runner.tracer, self.runner.listener = self.tracer, self.listener
        self.runner._settled = len(self.tracer.spans)
        self.listener.drain()
        self.before = C.jvm_totals(self.runner.spark)
        return self

    def __exit__(self, *exc):
        self.totals = C.delta(C.jvm_totals(self.runner.spark), self.before)
        if exc[0] is None:
            self.runner.settle()
        for module, attr, original in reversed(self._saved):
            setattr(module, attr, original)
        self.runner.tracer = self.runner.listener = None
        return False
