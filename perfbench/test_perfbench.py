"""Tests of the benchmark's seeded generation and span arithmetic.

    python3 -m pytest perfbench -q

They need no Spark session: ``ops``, ``spans`` and ``report`` are pure
Python, and the job accounting of ``counters`` runs on a fake status
store.
"""

from __future__ import annotations

import ast
import itertools
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import ops as O  # noqa: E402
from report import accounted  # noqa: E402
from spans import Span, covered, percentile, self_times, tail_rank  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))


def take(it, n):
    return list(itertools.islice(it, n))


def test_same_seed_same_op_sequence():
    assert take(O.olap_rounds(3), 4) == take(O.olap_rounds(3), 4)
    assert take(O.maintain_rounds(3), 3) == take(O.maintain_rounds(3), 3)
    assert take(O.serve_rounds(3), 2) == take(O.serve_rounds(3), 2)


def test_other_seed_reorders_the_same_pool():
    a, b = take(O.olap_rounds(1), 3), take(O.olap_rounds(2), 3)
    assert a != b
    for ops in a + b:
        assert sorted(ops) == sorted(O.OLAP_POOL * O.OLAP_REPEATS)


def test_maintain_mix_is_fixed_per_round_and_batches_are_seeded():
    a = [op for r in take(O.maintain_rounds(1), 3) for op in r]
    b = [op for r in take(O.maintain_rounds(2), 3) for op in r]
    assert sorted(op.kind for op in a) == sorted(op.kind for op in b)
    assert [op.rows for op in a if op.kind == "insert"] != [op.rows for op in b if op.kind == "insert"]
    inserts = [op for op in a if op.kind == "insert"]
    for op in inserts:
        assert len(op.rows[0]) == len(O.BATCH_SCHEMA[(op.view, op.side)].split(", "))
    lives = {}
    for op in inserts:
        lives.setdefault((op.view, op.life), 0)
        lives[(op.view, op.life)] += 1
    assert set(lives.values()) == {O.INSERTS_PER_LIFE}


def test_serve_rounds_have_fixed_rate_and_seeded_mix():
    a, b = next(O.serve_rounds(1)), next(O.serve_rounds(2))
    n = O.SERVE_ROUND
    assert [due for due, _, _ in a] == [i / O.SERVE_RATE for i in range(n)] == [due for due, _, _ in b]
    assert [(r, k) for _, r, k in a] != [(r, k) for _, r, k in b]
    assert all(r in O.ROUTES and k in O.SERVE_NS for _, r, k in a)
    for sched in (a, b):
        routes = [r for _, r, _ in sched]
        assert routes.count("get_artist_less_than") == 2 * routes.count("get_album_and_artist")


def test_seed_never_reaches_the_engine():
    """Only ops.py sees the seed; the runners' engine calls take ops."""
    for name in ("runners.py", "instrument.py"):
        with open(os.path.join(HERE, name)) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if isinstance(node, ast.Call):
                for arg in list(node.args) + [k.value for k in node.keywords]:
                    if isinstance(arg, ast.Name) and arg.id == "seed":
                        fn = ast.unparse(node.func)
                        assert fn.startswith("O."), f"{name}: seed passed to {fn}"


def _span(i, start, end, parent=None):
    return Span(i, f"s{i}", 0, parent, start, end)


def test_self_time_subtracts_the_union_of_children():
    spans = [
        _span(0, 0.0, 10.0),
        _span(1, 1.0, 4.0, parent=0),
        _span(2, 3.0, 6.0, parent=0),     # overlaps span 1 (another thread)
        _span(3, 8.0, 12.0, parent=0),    # runs past its parent's end
        _span(4, 1.5, 2.0, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == 10.0 - (5.0 + 2.0)
    assert st[1] == 3.0 - 0.5
    assert st[2] == st[3] - 1.0 == 3.0
    assert st[4] == 0.5


def test_covered_merges_and_clips():
    assert covered([], 0, 1) == 0
    assert covered([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert covered([(-1, 2), (9, 12)], 0, 10) == 3


def test_accounted_fails_on_a_gap_or_on_time_counted_twice():
    assert accounted({"tbl": 0.3, "build_self": 0.2, "exec": 0.5}, 1.0)
    assert not accounted({"tbl": 0.3, "build_self": 0.2, "exec": 0.3}, 1.0)
    # the eager jobs and planning measured in the build exceed its self
    # time, so its residual goes negative although the sum still matches
    assert not accounted({"build_job": 0.8, "build_self": -0.3, "exec": 0.5}, 1.0)


def test_tail_leaves_ten_samples_beyond():
    assert tail_rank(15) == 50
    assert tail_rank(20) == 50
    assert tail_rank(40) == 75
    assert tail_rank(100) == 90
    for n in range(20, 300):
        xs = list(range(n))
        beyond = sum(x > percentile(xs, tail_rank(n)) for x in xs)
        assert beyond >= 10


def test_percentile_is_nearest_rank():
    assert percentile([3, 1, 2], 50) == 2
    assert percentile([4, 1, 3, 2], 50) == 2
    assert percentile([5], 99) == 5


class _Seq(list):
    def apply(self, i):
        return self[i]

    def size(self):
        return len(self)


class _FakeStore:
    """Two jobs sharing stage 1 (skipped in the second); job 2 read 7 bytes."""

    stages = {0: ("COMPLETE", 100), 1: ("COMPLETE", 20), 2: ("SKIPPED", 20), 3: ("COMPLETE", 7)}
    jobs = {0: [0, 1], 1: [2], 2: [3]}

    def job(self, jid):
        return type("Job", (), {"stageIds": lambda _: _Seq(self.jobs[jid])})()

    def lastStageAttempt(self, sid):  # noqa: N802 — JVM interface
        status, read = self.stages[sid]
        return type("Stage", (), {"status": lambda _: status, "inputBytes": lambda _: read})()


def test_work_counts_jobs_in_the_ranges_and_skips_skipped_stages():
    import counters as C

    store = _FakeStore()
    sc = type("SC", (), {})()
    sc._jsc = type("JSC", (), {"sc": lambda _: type("S", (), {"statusStore": lambda _: store})()})()
    assert C.work(sc, [(0, 2)]) == (2, 120)
    assert C.work(sc, [(0, 1), (2, 3)]) == (2, 127)
    assert C.work(sc, []) == (0, 0)
