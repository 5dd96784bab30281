"""Property-based agreement for the connected-components operators:
random small graphs — chains (diameter stress), cycles, self-loops,
duplicate edges, multiple components — against a driver-side union-find
model. Both the min-label-propagation and the large-star/small-star
contraction variants must label every node with its component's minimum
id."""

from __future__ import annotations

import pytest

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from fiat2_spark.operators.dedup import dup_clusters, dup_clusters_star

_SETTINGS = dict(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow],
)

_EDGES = st.lists(
    st.tuples(st.integers(0, 12), st.integers(0, 12)), min_size=1, max_size=20
)


def _model(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


@settings(**_SETTINGS)
@given(edges=_EDGES)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_dup_clusters_match_union_find(spark, edges):
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _model(edges)
    got = {r["doc"]: r["cluster"] for r in dup_clusters(pairs).collect()}
    got_star = {r["doc"]: r["cluster"] for r in dup_clusters_star(pairs).collect()}
    assert got == want
    assert got_star == want


def test_dup_clusters_chain_diameter(spark):
    """A 14-node chain: propagation needs ~diameter rounds (within the
    default budget), star contraction far fewer; both must agree with
    the model, and an undersized max_iter must raise, not return."""
    import pytest

    edges = [(i, i + 1) for i in range(13)]
    pairs = spark.createDataFrame(edges, "id_a long, id_b long")
    want = _model(edges)
    assert {r["doc"]: r["cluster"] for r in dup_clusters(pairs).collect()} == want
    assert {r["doc"]: r["cluster"] for r in dup_clusters_star(pairs).collect()} == want
    with pytest.raises(RuntimeError, match="converge"):
        dup_clusters(pairs, max_iter=2)


@settings(max_examples=6, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(edges=st.sets(
    st.tuples(st.integers(0, 7), st.integers(0, 7)).filter(lambda e: e[0] != e[1]),
    min_size=1, max_size=16,
))
def test_pagerank_matches_python_model(spark, edges):
    """The distributed PageRank loop vs a direct Python power iteration
    applying the identical 12dp-round discipline at every step — on
    random small digraphs including dangling nodes and sinks."""
    from fiat2_spark.workloads.graphs import pagerank

    nodes = sorted({v for e in edges for v in e})
    n = float(len(nodes))
    outdeg = {}
    for s, _ in edges:
        outdeg[s] = outdeg.get(s, 0) + 1
    from decimal import ROUND_HALF_UP, Decimal

    def r12(x: float) -> float:
        # round the way BOTH engines do: Spark's round(double, d) goes
        # through Double.toString (shortest round-trip decimal) then
        # BigDecimal HALF_UP, and DuckDB behaves identically (verified:
        # round(0.142857142857/2, 12) = ...429 in both, though the
        # binary value sits BELOW the half) — Python's built-in round()
        # uses the true binary value and disagrees exactly at printed
        # ties (hypothesis found edges={(0,2),(0,4),(0,5),(1,3),(1,6)}:
        # pr/2 of a 12dp value with odd last digit prints as a .5 tie)
        return float(
            Decimal(repr(float(x))).quantize(Decimal("1e-12"), rounding=ROUND_HALF_UP)
        )

    pr = {v: r12(1.0 / n) for v in nodes}
    for _ in range(3):
        # contributions accumulate in Decimal exactly as Spark's
        # DECIMAL(28,12) sum does — float accumulation could drift a ulp
        # across a 12dp rounding boundary
        sums: dict = {}
        for s, d in edges:
            c = r12(pr[s] / float(outdeg[s]))
            sums[d] = sums.get(d, Decimal(0)) + Decimal(f"{c:.12f}")
        pr = {
            v: r12(0.15 / n + 0.85 * float(sums.get(v, Decimal(0))))
            for v in nodes
        }

    e = spark.createDataFrame(sorted(edges), "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(e).collect()}
    assert got == pr


# -- SemDeDup differential vs a pure-Python model ---------------------------

def _py_semantic(vecs: dict[int, list[int]], k: int, iters: int,
                 t2_num: int = 4, t2_den: int = 25):
    """Exact Python mirror of `semantic_dedup` with q=1 (integer
    components, so quantization is the identity): Lloyd with init = the
    k SMALLEST ids' vectors (matching `lloyd_centroids`' rank-based
    seeding — robust to sparse/offset/negative id spaces), exact
    integer distances with ties on cid, floor-div centroid updates
    (empty clusters drop), one final assignment, then the keep-first
    cosine prune as the integer comparison
    t2_den·dot² > t2_num·|a|²·|b|² AND dot > 0."""
    def assign(cent):
        out = {}
        for vid, v in vecs.items():
            best = None
            for cid, qc in sorted(cent.items()):
                d = sum((a - b) * (a - b) for a, b in zip(v, qc))
                if best is None or d < best[0] or (d == best[0] and cid < best[1]):
                    best = (d, cid)
            out[vid] = best[1]
        return out

    cent = {vid: list(vecs[vid]) for vid in sorted(vecs)[:k]}
    for _ in range(iters):
        a = assign(cent)
        nxt: dict[int, list[int]] = {}
        for cid in set(a.values()):
            members = [vecs[vid] for vid, c in a.items() if c == cid]
            nxt[cid] = [
                sum(col) // len(members) for col in zip(*members)
            ]
        cent = nxt
    af = assign(cent)
    n2 = {vid: sum(x * x for x in v) for vid, v in vecs.items()}
    out = {}
    for vid in vecs:
        dup = False
        for other, v in vecs.items():
            if other >= vid or af[other] != af[vid]:
                continue
            dot = sum(a * b for a, b in zip(vecs[other], vecs[vid]))
            if dot > 0 and t2_den * dot * dot > t2_num * n2[other] * n2[vid]:
                dup = True
                break
        out[vid] = (af[vid], dup)
    return out


@settings(max_examples=5, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture, HealthCheck.too_slow])
@given(
    vecs=st.lists(
        st.lists(st.integers(-6, 6), min_size=4, max_size=4),
        min_size=3, max_size=10,
    )
)
@pytest.mark.slow  # >=15s model-differential sweep; default run deselects (pytest.ini)
def test_semantic_dedup_matches_python_model(spark, vecs):
    """semantic_dedup ≡ the exact Python model on random small integer
    vector tables — clustering, assignment ties, floor-div centroid
    updates, empty-cluster drop, and the keep-first prune all at once.
    This is the operator's engine-independent differential (the DuckDB
    oracle shares SQL semantics; this model shares nothing)."""
    from fiat2_spark.operators.dedup import semantic_dedup

    table = {i: v for i, v in enumerate(vecs)}
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in table.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cid"], r["is_dup"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", k=3, q=1, pair_salt=4
        ).collect()
    }
    want = _py_semantic(table, k=3, iters=2)
    assert got == want, f"\nvecs={table}\ngot={got}\nwant={want}"


def test_semantic_dedup_sparse_negative_ids(spark):
    """Regression for two silent-id-space bugs (ADVICE r8): (1)
    `lloyd_centroids` seeded with ``vid < k`` — a corpus whose ids are
    all ≥ k (or sparse/offset) yielded fewer/zero centroids and an
    empty result; (2) the pair-join salt used ``%``, whose
    sign-keeping semantics gave negative-vid witnesses a salt the
    probe-side explode over 0..pair_salt-1 never matches, silently
    missing their pairs. Ids here are sparse, offset AND negative;
    the near-duplicate pair's witness is the negative id."""
    from fiat2_spark.operators.dedup import semantic_dedup

    table = {
        -7: [5, 5, 0, 0],      # witness for 903's dup mark
        903: [5, 5, 0, 1],     # cosine-near -7 (well above t=0.4)
        100: [-5, 5, 0, 0],
        205: [0, 0, -6, 0],
        999: [0, 0, 0, 6],
    }
    df = spark.createDataFrame(
        [(i, [float(x) for x in v]) for i, v in table.items()],
        "vec_id long, embedding array<double>",
    )
    got = {
        r["vec_id"]: (r["cid"], r["is_dup"])
        for r in semantic_dedup(
            df, "vec_id", "embedding", k=3, q=1, pair_salt=4
        ).collect()
    }
    want = _py_semantic(table, k=3, iters=2)
    assert got == want, f"\ngot={got}\nwant={want}"
    assert got[903][1] is True and got[-7][1] is False


def test_dup_clusters_chain_converges(spark):
    """A chain component (diameter 4 — multiple min-label rounds) still
    reaches the transitive closure with the convergence flag riding the
    label-update row."""
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], "id_a long, id_b long"
    )
    got = {r["doc"]: r["cluster"] for r in dup_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10}
