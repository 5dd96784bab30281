"""Graph workloads — the reference's iterative/self-join examples:
triangle enumeration (Ex_Triangle.v:41), grandchildren self-join
(Ex_Family.v:30), BFS with anti-join (Ex_BFS.v:42).

The edge table is derived deterministically from the driver's parquet
(same derivation in the oracle SQL), since TESTDATA has no edge table.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from fiat2_spark.operators import relational as R
from fiat2_spark.session import block_ids, release_blocks
from fiat2_spark.workloads.util import registry, tbl

QUERIES, ORACLES, q = registry()


_EDGES_SQL = """
  SELECT DISTINCT CAST(p_partkey % 30 AS BIGINT) AS src,
                  CAST((p_size * 7 + p_partkey) % 30 AS BIGINT) AS dst
  FROM part
  WHERE p_partkey % 30 <> (p_size * 7 + p_partkey) % 30
"""


def _edges(spark, sf_dir):
    p = tbl(spark, sf_dir, "part")
    e = p.select(
        (F.col("p_partkey") % 30).cast("long").alias("src"),
        ((F.col("p_size") * 7 + F.col("p_partkey")) % 30).cast("long").alias("dst"),
    ).filter(F.col("src") != F.col("dst"))
    return e.distinct()


@q(
    "triangle",
    f"""
    WITH edges AS ({_EDGES_SQL})
    SELECT e1.src AS p1, e2.src AS p2, e3.src AS p3
    FROM edges e1
    JOIN edges e2 ON e2.src = e1.dst
    JOIN edges e3 ON e3.src = e2.dst AND e3.dst = e1.src
    WHERE e1.src < e2.src AND e2.src < e3.src
    """,
)
def triangle(spark, sf_dir):
    """Triangle enumeration — the triple self-join of Ex_Triangle.v:41.
    Three equi-joins on node keys: Catalyst plans hash joins; the
    ``src < src`` ordering constraint cuts each triangle to one canonical
    orientation. At 100 TB this is the classic worst-case join — the
    right plan partitions edges by key once and reuses the exchange."""
    e = _edges(spark, sf_dir)
    e1, e2, e3 = e.alias("e1"), e.alias("e2"), e.alias("e3")
    out = (
        e1.join(e2, F.col("e2.src") == F.col("e1.dst"))
        .join(e3, (F.col("e3.src") == F.col("e2.dst")) & (F.col("e3.dst") == F.col("e1.src")))
        .filter((F.col("e1.src") < F.col("e2.src")) & (F.col("e2.src") < F.col("e3.src")))
    )
    return out.select(
        F.col("e1.src").alias("p1"),
        F.col("e2.src").alias("p2"),
        F.col("e3.src").alias("p3"),
    )


@q(
    "grandchildren",
    """
    WITH parents AS (
      SELECT r_name AS parent, n_name AS child
      FROM region JOIN nation ON n_regionkey = r_regionkey
      UNION ALL
      SELECT n_name AS parent, s_name AS child
      FROM nation JOIN supplier ON s_nationkey = n_nationkey
    )
    SELECT q.child AS grandchild
    FROM parents p JOIN parents q ON q.parent = p.child
    WHERE p.parent = 'ASIA'
    """,
)
def grandchildren(spark, sf_dir):
    """Ex_Family.v:30: ``p,q <- parents, check(p.parent = person &&
    q.parent = p.child), ret q.child``. The conjunct split (person filter
    pushes to p's scan, the equi-conjunct drives the join) is the
    reference's swap_conjuncts + filter_pushdown — Catalyst does both."""
    r, n, s = (tbl(spark, sf_dir, t) for t in ("region", "nation", "supplier"))
    gen1 = r.join(n, F.col("n_regionkey") == F.col("r_regionkey")).select(
        F.col("r_name").alias("parent"), F.col("n_name").alias("child")
    )
    gen2 = n.join(s, F.col("s_nationkey") == F.col("n_nationkey")).select(
        F.col("n_name").alias("parent"), F.col("s_name").alias("child")
    )
    parents = R.union_all(gen1, gen2)
    p = parents.alias("p")
    qq = parents.alias("q")
    out = p.filter(F.col("p.parent") == "ASIA").join(
        qq, F.col("q.parent") == F.col("p.child")
    )
    return out.select(F.col("q.child").alias("grandchild"))


@q(
    "bfs",
    f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    walk(node, depth) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION
      SELECT e.dst, w.depth + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < 6
    )
    SELECT node, MIN(depth) AS depth FROM walk GROUP BY node
    """,
)
def bfs(spark, sf_dir):
    """Level-synchronous BFS with anti-join (Ex_BFS.v:42): the frontier
    expands through the edge list; visited nodes are excluded by
    left_anti — the reference's correlated-emptiness idiom. Iteration is
    driver-side orchestration over distributed joins (fiat2's CForeach);
    each level is one join + anti-join, and the visited set stays a
    DataFrame (no driver materialization). The oracle is a recursive CTE
    (UNION-dedup, depth-capped) — min depth = BFS depth for any graph of
    diameter < 6; the derived 30-node graph's source eccentricity is ≤3
    at every shipped SF (measured, see bfs_recursive_cte), and the
    driver loop's own 15 bound is a dead backstop behind the
    empty-frontier early exit."""
    e = _edges(spark, sf_dir).persist()
    # localCheckpoint (eager) per level truncates lineage: without it the
    # visited plan grows by one join+union per level and iteration k
    # re-derives all k-1 predecessors (unbounded plan depth — the classic
    # iterative-algorithm failure at scale). The loop owns its rounds: a
    # retired frontier/visited snapshot releases its blocks by id as soon
    # as superseded, so the result holds only the final visited one.
    visited = spark.createDataFrame([(0, 0)], "node long, depth long").localCheckpoint()
    frontier = visited
    depth = 0
    while depth < 15:
        depth += 1
        nxt = (
            frontier.join(e, e.src == frontier.node)
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("depth", F.lit(depth).cast("long")).localCheckpoint()
        )
        if nxt.isEmpty():
            release_blocks(spark, block_ids(nxt))
            break
        new_visited = visited.unionByName(nxt).localCheckpoint()
        release_blocks(spark, block_ids(visited, frontier))
        visited, frontier = new_visited, nxt
    if frontier is not visited:
        release_blocks(spark, block_ids(frontier))
    out = visited.select("node", "depth")
    e.unpersist()
    return out


# PageRank rounds of `pagerank` and its oracle
PAGERANK_ITERS = 3


def _pagerank_oracle() -> str:
    """Unrolled PageRank iterations as chained CTEs — same rounding/
    DECIMAL discipline as the Spark side, so the floats match bitwise."""
    base = f"""
    WITH edges AS ({_EDGES_SQL}),
    nodes AS (SELECT DISTINCT src AS node FROM edges
              UNION SELECT DISTINCT dst FROM edges),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    outdeg AS (SELECT src, CAST(COUNT(*) AS DOUBLE) AS deg FROM edges GROUP BY src),
    pr0 AS (SELECT node, round(1.0/n, 12) AS pr FROM nodes CROSS JOIN nn)"""
    for k in range(1, PAGERANK_ITERS + 1):
        base += f""",
    c{k} AS (
      SELECT e.dst AS node,
             CAST(round(p.pr/o.deg, 12) AS DECIMAL(28,12)) AS c
      FROM edges e JOIN pr{k-1} p ON p.node = e.src
      JOIN outdeg o ON o.src = e.src
    ),
    s{k} AS (SELECT node, SUM(c) AS sc FROM c{k} GROUP BY node),
    pr{k} AS (
      SELECT nd.node,
             round(0.15/n + 0.85*COALESCE(CAST(s.sc AS DOUBLE), 0.0), 12) AS pr
      FROM nodes nd CROSS JOIN nn LEFT JOIN s{k} s ON s.node = nd.node
    )"""
    return base + f"""
    SELECT node, pr FROM pr{PAGERANK_ITERS}"""


@q("pagerank3", _pagerank_oracle())
def pagerank3(spark, sf_dir):
    """Three PageRank iterations (damping 0.85) over the derived edge
    graph — the canonical iterative-join algorithm, driver-orchestrated
    like `bfs` but with a fixed unrolled step count so the oracle is an
    unrolled CTE chain. Per iteration: contribution = pr/out-degree
    rounded to 12dp and summed in DECIMAL (partial-agg order can't
    move a bit), then pr' = 0.15/N + 0.85·sum re-rounded to 12dp —
    both engines evaluate bit-identical doubles at every step.
    Dangling-node mass is NOT redistributed (documented departure from
    the lecture-notes formulation; the derived graph has none at the
    tested SFs and the oracle applies the identical rule). Each
    iteration is a broadcast-size join here; at scale pr and outdeg
    partition by node and the edge exchange is reused across
    iterations — the iterative-state discipline (`localCheckpoint`
    lineage truncation) follows `bfs`."""
    return pagerank(_edges(spark, sf_dir))


def pagerank(edges):
    """PAGERANK_ITERS rounds over an arbitrary (src, dst) edge
    DataFrame — see `pagerank3` for the determinism contract. Every
    checkpoint but the final rank snapshot is released before return."""
    spark = edges.sparkSession
    e = edges.persist()
    nodes = (
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct().localCheckpoint()
    )
    n = float(nodes.count())
    # attach each edge's out-degree ONCE before the loop (r12): the
    # former per-iteration e⋈outdeg re-ran the degree aggregate and a
    # second join every round — the degree of a static graph doesn't
    # change between iterations. Checkpoint blocks (batch contract);
    # at scale this is the reusable node-partitioned edge relation the
    # docstring's "edge exchange reused across iterations" refers to.
    ej = (
        e.join(
            e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("deg")),
            "src",
        )
        .select("src", "dst", "deg").localCheckpoint()
    )
    pr = nodes.select("node", F.round(F.lit(1.0) / F.lit(n), 12).alias("pr"))
    for i in range(PAGERANK_ITERS):
        contribs = (
            ej.join(pr, pr.node == ej.src)
            .select(
                F.col("dst").alias("node"),
                F.round(F.col("pr") / F.col("deg"), 12)
                .cast("decimal(28,12)")
                .alias("c"),
            )
        )
        sums = contribs.groupBy("node").agg(F.sum("c").alias("sc"))
        prev, pr = pr, (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                F.round(
                    F.lit(0.15) / F.lit(n)
                    + F.lit(0.85) * F.coalesce(F.col("sc").cast("double"), F.lit(0.0)),
                    12,
                ).alias("pr"),
            ).localCheckpoint()
        )
        # release the superseded snapshot (bfs discipline: lineage is
        # truncated per round AND retired state is dropped per round;
        # the first pr is a projection of `nodes`, never checkpointed)
        if i:
            release_blocks(spark, block_ids(prev))
    release_blocks(spark, block_ids(nodes, ej))
    e.unpersist()
    return pr


@q(
    "bfs_recursive_cte",
    f"""
    WITH RECURSIVE edges AS ({_EDGES_SQL}),
    walk(node, depth) AS (
      SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
      UNION
      SELECT e.dst, w.depth + 1
      FROM walk w JOIN edges e ON e.src = w.node
      WHERE w.depth < 6
    )
    SELECT node, MIN(depth) AS depth FROM walk GROUP BY node
    """,
)
def bfs_recursive_cte(spark, sf_dir):
    """The SAME reachability ask as `bfs`, but as ONE declarative
    statement through Spark 4's WITH RECURSIVE (SPARK-24497): the
    engine runs the fixpoint iteration (UnionLoop), not driver
    orchestration. Spark's recursive CTE supports only UNION ALL
    (UNION_NOT_SUPPORTED_IN_RECURSIVE_CTE), under which a cyclic
    graph's path count explodes past the recursion row limit — so the
    recursive term DISTINCTs its step output: the working set each
    round is the ≤|V| frontier, not the set of walks (exactly
    level-synchronous BFS), revisits at later depths are collapsed by
    the outer MIN(depth), and the result equals the oracle's
    UNION-dedup closure. The driver-orchestrated `bfs` remains the
    scale path (localCheckpoint lineage truncation, early exit on an
    empty frontier); this form is the parity proof that the SQL
    surface covers recursion.

    Depth cap: Spark's recursive CTE has no convergence test, so on
    this cyclic graph every round up to the cap runs a frontier join —
    the cap IS the cost. 6 is derived, not guessed: the part-derived
    30-node contraction has source eccentricity ≤3 at sf0.001/0.01/0.1
    (measured by uncapped closure; it FALLS with SF as the contraction
    densifies, so smaller test SFs are the worst case), doubled for
    margin. Sufficiency is asserted in tests/test_cluster_ops.py: the
    capped result must equal the driver `bfs` fixpoint, which exits on
    the true empty frontier."""
    from fiat2_spark.sources.io import register_views

    register_views(spark, sf_dir, ("part",))
    return spark.sql(
        f"""
        WITH RECURSIVE walk(node, depth) AS (
          SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
          UNION ALL
          SELECT DISTINCT e.dst, w.depth + 1
          FROM walk w JOIN ({_EDGES_SQL}) e ON e.src = w.node
          WHERE w.depth < 6
        )
        SELECT node, MIN(depth) AS depth FROM walk GROUP BY node
        """
    )
