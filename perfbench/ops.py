"""Seeded op streams for the three workloads.

Everything the engine receives is generated here from the workload seed:
the order of the query pool, the insert batches and command keys, and
the request schedule. The seed itself stays in this module; the runners
hand the engine only the generated values.
"""

from __future__ import annotations

import random
from dataclasses import dataclass
from typing import Iterator

# Short relational and DSL queries; fixed per-query costs dominate them
# (schema inference, Catalyst, codegen, job launch). Half of the 22
# queries named for this workload: each distinct query costs a warm-up
# execution and an oracle check in every run, and the run budget (4 + 22
# runs per workload) does not fit all 22. The half kept spans the pool's
# latency range and keeps the scan-heavy q1, q9 and q18 shapes, a
# semi-join, a window and all three DSL queries.
OLAP_POOL = (
    "tpch_q1_shape", "tpch_q3_shape", "tpch_q6_shape", "tpch_q9_shape",
    "tpch_q13_shape", "tpch_q18_shape",
    "semi_join", "window_frames",
    "dsl_employee_join", "dsl_orders_agg", "dsl_comprehension",
)
OLAP_REPEATS = 3  # permutations per round: 33 timed ops, so the tail is p69


def olap_rounds(seed: int) -> Iterator[list[str]]:
    """Rounds of the olap_tpch stream, each OLAP_REPEATS successive
    seeded permutations of the pool. A run measures whole rounds, so
    every seed runs the same multiset of queries in another order."""
    rng = random.Random(seed)
    while True:
        ops: list[str] = []
        for _ in range(OLAP_REPEATS):
            perm = list(OLAP_POOL)
            rng.shuffle(perm)
            ops += perm
        yield ops


# Maintained views: a MaterializedView with Sum/Min/Count indexes over
# events, one with a GroupIndex over orders, and a JoinAggView over
# orders joined with customer.
VIEWS = ("events_mv", "orders_mv", "orders_customer")
INSERTS_PER_LIFE = 3
BATCH_ROWS = 64
COMMAND_EVERY = 2
COMMAND_KEYS = (7, 17)  # few keys, so the warm-up can plan each once
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

# column names and Spark DDL of each batch, by (view, side)
BATCH_SCHEMA = {
    ("events_mv", "base"): "event_type string, user_id long, cents long",
    ("orders_mv", "base"): "o_orderstatus string, o_custkey long, cents long",
    ("orders_customer", "left"): "custkey long, cents long",
    ("orders_customer", "right"): "custkey long, c_mktsegment string",
}


@dataclass(frozen=True)
class MaintOp:
    kind: str  # init | insert (then a read of the view) | command
    view: str | None = None
    life: int = 0
    side: str | None = None
    rows: tuple = ()
    key: int | None = None


def _batch(rng: random.Random, view: str) -> tuple[str, tuple]:
    n = BATCH_ROWS
    if view == "events_mv":
        return "base", tuple(
            (rng.choice(EVENT_TYPES), rng.randrange(150), rng.randrange(50_000))
            for _ in range(n)
        )
    if view == "orders_mv":
        return "base", tuple(
            (rng.choice("FOP"), rng.randrange(1500), rng.randrange(100_000, 50_000_000))
            for _ in range(n)
        )
    if rng.random() < 0.5:
        return "left", tuple(
            (rng.randrange(1500), rng.randrange(100_000, 50_000_000)) for _ in range(n)
        )
    return "right", tuple((rng.randrange(1500), rng.choice(SEGMENTS)) for _ in range(n // 8))


def maintain_rounds(seed: int) -> Iterator[list[MaintOp]]:
    """Rounds of the maintain_index stream, one per view life: the three
    views are (re)built, then INSERTS_PER_LIFE cycles each insert one
    seeded batch into every view in a seeded order (each insert followed
    by a read of that view), and every COMMAND_EVERY cycles a DSL command
    with a seeded key runs. Every round holds the same op mix."""
    rng = random.Random(seed)
    life = 0
    while True:
        ops = [MaintOp("init", v, life) for v in VIEWS]
        for cycle in range(INSERTS_PER_LIFE):
            order = list(VIEWS)
            rng.shuffle(order)
            for v in order:
                side, rows = _batch(rng, v)
                ops.append(MaintOp("insert", v, life, side, rows))
            if cycle % COMMAND_EVERY == 0:
                ops.append(MaintOp("command", key=rng.choice(COMMAND_KEYS)))
        yield ops
        life += 1


ROUTES = ("get_artist_less_than", "get_album_and_artist")
SERVE_NS = tuple(range(1, 26, 4))  # the :n values (nation keys run 0..24)
# Two artist lookups per album join. An uneven mix keeps the median and
# the tail away from the boundary between the two routes' latencies.
ROUTE_MIX = ("get_artist_less_than", "get_artist_less_than", "get_album_and_artist")
# Requests per second, open loop. On a 4-core host one connection
# sustains about 3.5 req/s, so at 1.5 req/s a request (0.2-0.4 s) is
# almost always done before the next one is due: latency measures the
# request, not how requests happened to overlap on the shared session.
SERVE_RATE = 1.5
SERVE_ROUND = 24  # requests per round (16 s at SERVE_RATE)


def serve_rounds(seed: int) -> Iterator[list[tuple[float, str, int]]]:
    """Rounds of the serve_rest schedule: (due offset in seconds within
    the round, route, :n) at SERVE_RATE. Routes follow ROUTE_MIX in
    seeded order within each group of three; :n is seeded."""
    rng = random.Random(seed)
    while True:
        routes: list[str] = []
        while len(routes) < SERVE_ROUND:
            group = list(ROUTE_MIX)
            rng.shuffle(group)
            routes.extend(group)
        yield [(i / SERVE_RATE, routes[i], rng.choice(SERVE_NS)) for i in range(SERVE_ROUND)]
