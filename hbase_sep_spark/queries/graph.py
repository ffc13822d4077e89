"""Graph operators over the part↔supplier and user↔event-type edges.

PageRank, breadth-first levels and min-label propagation: each runs a
fixed number of rounds, so the plan is bounded and the result is
deterministic on both engines.
"""

from __future__ import annotations

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from hbase_sep_spark.io import t
from hbase_sep_spark.registry import register


_DAMP = 0.85
_PR_ITERS = 3


@register(
    "graph_pagerank",
    oracle=f"""
    WITH edges AS (
        SELECT DISTINCT 2 * l_partkey AS src, 2 * l_suppkey + 1 AS dst
        FROM lineitem
        UNION
        SELECT 2 * l_suppkey + 1 AS src, 2 * l_partkey AS dst FROM lineitem
    ),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
    deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY src),
    r0 AS (SELECT node, 1.0 / nn.n AS pr FROM nodes, nn),
    r1 AS (
        SELECT e.dst AS node,
               (1 - {_DAMP}) / max(nn.n) + {_DAMP} * sum(r.pr / d.deg) AS pr
        FROM edges e
        JOIN r0 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
        GROUP BY e.dst
    ),
    r2 AS (
        SELECT e.dst AS node,
               (1 - {_DAMP}) / max(nn.n) + {_DAMP} * sum(r.pr / d.deg) AS pr
        FROM edges e
        JOIN r1 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
        GROUP BY e.dst
    ),
    r3 AS (
        SELECT e.dst AS node,
               (1 - {_DAMP}) / max(nn.n) + {_DAMP} * sum(r.pr / d.deg) AS pr
        FROM edges e
        JOIN r2 r ON e.src = r.node JOIN deg d ON e.src = d.src, nn
        GROUP BY e.dst
    )
    SELECT node AS node_id,
           CAST(CASE WHEN node % 2 = 0 THEN 1 ELSE 0 END AS INT) AS is_part,
           round(pr, 8) AS pagerank
    FROM r3
    """,
    section="2.3",
)
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank, 3 fixed power iterations, over the bipartite
    part↔supplier co-occurrence graph derived from lineitem (edges in
    both directions, so every node has out- and in-degree ≥ 1 — no
    dangling-mass term needed). The fixed-point iteration pattern is
    the one every graph measure (centrality, label propagation,
    connected components) reduces to on Spark.

    Scale shape: see _pagerank_iterate. The iteration result is
    materialized with an eager localCheckpoint and the persisted edge
    table is RELEASED before returning (VERDICT-r13 item 1): the old
    session-lifetime persist pinned the edge table in the protected
    storage fraction for every query that ran after pagerank — at
    sf10 it was the direct cause of the SHJ hash-build OOM that
    forced round 13 to reject the measured-40%-win SMJ→SHJ threshold.
    The checkpoint holds only the node-cardinality rank table (≪
    edges), truncates the 15-Exchange iteration lineage, and is the
    same persist-discipline operators/dedup.py's CC loop and
    graph_bfs_levels already follow."""
    final, ew = _pagerank_iterate(spark, sf_dir)
    out = final.localCheckpoint(eager=True)
    ew.unpersist()
    return out


def _pagerank_iterate(spark: SparkSession, sf_dir: str):
    """Build the 3-iteration rank plan; returns (final_ranks_df,
    persisted_edges) — the caller materializes the former and MUST
    unpersist the latter.

    The weighted edge table (src, dst, deg) is built once and
    persisted for the iterations — without it every iteration's lazy
    plan re-derives the distinct+degree subtree from the scan (22
    parquet scans for 3 iterations, measured); with it each iteration
    is one cached-edge ⋈ ranks join plus a map-side-combinable sum on
    dst. The rank table is node-cardinality (≪ edges) and broadcasts
    here; at a scale where ranks outgrow broadcast the join degrades
    to a co-partitioned shuffle join on src, and you would persist +
    localCheckpoint ranks per iteration exactly as
    operators/dedup.py's CC loop does. The graph-size scalar n rides
    as a broadcast 1-row crossJoin, never a driver collect."""
    from pyspark import StorageLevel

    li = t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    e1 = li.select(
        (F.col("l_partkey") * 2).alias("src"),
        (F.col("l_suppkey") * 2 + 1).alias("dst"),
    )
    e2 = li.select(
        (F.col("l_suppkey") * 2 + 1).alias("src"),
        (F.col("l_partkey") * 2).alias("dst"),
    )
    edges = e1.union(e2).distinct()
    deg = edges.groupBy("src").agg(F.count(F.lit(1)).alias("deg"))
    # (src, dst, deg) — consumed 3× by the iteration chain and 2× for
    # nodes/n; registry memoization makes the persist once-per-session.
    ew = edges.join(deg, "src").persist(StorageLevel.MEMORY_AND_DISK)
    nodes = ew.select(F.col("src").alias("node")).distinct()
    nn = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))

    ranks = nodes.crossJoin(F.broadcast(nn)).select(
        "node", (F.lit(1.0) / F.col("n")).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            ew.join(ranks, ew["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
        )
        ranks = contrib.crossJoin(F.broadcast(nn)).select(
            F.col("dst").alias("node"),
            ((1 - _DAMP) / F.col("n") + _DAMP * F.col("c")).alias("pr"),
        )
    final = ranks.select(
        F.col("node").alias("node_id"),
        F.when(F.col("node") % 2 == 0, 1).otherwise(0).cast("int").alias("is_part"),
        F.round("pr", 8).alias("pagerank"),
    )
    return final, ew


@register("graph_label_propagation", section="ext", memoize=True)
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by synchronous min-label propagation over
    the supplier co-part graph (suppliers adjacent when they supply
    the same part), 3 rounds: every node adopts the minimum label in
    its closed neighborhood. On this graph the process converges to
    connected-component minima (the fixture graph is dense); the
    operator exists for the iterative-message-passing shape, which
    generalizes to the sparse graphs where LPA finds real communities.
    Rows-only (iterative, no SQL oracle): invariants are gated in
    tests — labels only decrease, every label is a real node id, and
    the fixed point matches connected components.

    Scale shape: the edge list builds from ONE distinct projection
    (part, supplier) self-joined on part — bucketed equi-join, never
    all-pairs on suppliers; each round is one join + min-aggregate
    on node id, with the label frame persisted per round (the
    dedup_clusters loop discipline, operators/dedup.py)."""
    li = t(spark, sf_dir, "lineitem").select(
        F.col("l_partkey").alias("p"), F.col("l_suppkey").alias("s")
    ).distinct()
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, (F.col("a.p") == F.col("b.p")) & (F.col("a.s") != F.col("b.s")))
        .select(F.col("a.s").alias("src"), F.col("b.s").alias("dst"))
        .distinct()
        .persist()
    )
    edges.count()  # materialize: every round re-reads the edge list
    labels = (
        li.select(F.col("s").alias("node")).distinct()
        .withColumn("label", F.col("node"))
        .persist()
    )
    labels.count()
    for _ in range(3):
        msgs = edges.join(
            labels, F.col("dst") == F.col("node")
        ).select(F.col("src").alias("node"), "label")
        nxt = (
            labels.select("node", "label")
            .unionByName(msgs)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .persist()
        )
        nxt.count()  # materialize BEFORE dropping the parent cache
        labels.unpersist()
        labels = nxt
    # Uncached result with truncated lineage so the loop's last
    # persist can be released (operators/dedup.py's discipline —
    # persisted frames are CacheManager-pinned forever, checkpoint
    # blocks are reaped once the result is GC'd).
    result = (
        labels.groupBy("label")
        .agg(F.count(F.lit(1)).cast("bigint").alias("community_size"))
        .orderBy("label")
        .localCheckpoint(eager=True)
    )
    labels.unpersist()
    edges.unpersist()
    return result


@register(
    "graph_bfs_levels",
    oracle="""
    WITH RECURSIVE e AS (
        SELECT DISTINCT l_partkey AS pk, l_suppkey AS sk FROM lineitem
    ),
    adj AS (
        SELECT 'p' || pk AS src, 's' || sk AS dst FROM e
        UNION ALL
        SELECT 's' || sk AS src, 'p' || pk AS dst FROM e
    ),
    bfs(node, lvl) AS (
        SELECT 'p1', 0
        UNION
        SELECT a.dst, b.lvl + 1
        FROM bfs b JOIN adj a ON a.src = b.node
        WHERE b.lvl < 6  -- 6-hop cap, mirrored by the impl's loop bound
    )
    SELECT node, CAST(min(lvl) AS INT) AS lvl
    FROM bfs GROUP BY node
    """,
    section="2.4",
)
def graph_bfs_levels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Breadth-first levels from part #1 over the part↔supplier
    bipartite graph (nodes 'p<key>' / 's<key>', an edge per distinct
    lineitem pair): each reachable node's hop distance — the
    traversal primitive under impact analysis ("which parts are ≤ N
    hops from this supplier") and graph-diameter audits.

    The oracle replays it as a DuckDB recursive CTE with UNION
    (distinct) recursion + min(level) — UNION ALL would enumerate
    PATHS (combinatorial in a dense bipartite graph); the distinct
    form is bounded by nodes × levels.

    Scale shape: classic iterative frontier expansion — per round,
    frontier ⋈ adjacency (hash equi-join on src), minus visited
    (LEFT ANTI), both key-partitioned; per-round persist() cuts the
    lineage (the CC/LPA discipline); rounds = graph diameter (3-4
    here). No path enumeration, no cartesian; state is one row per
    visited node."""
    edges = (
        t(spark, sf_dir, "lineitem")
        .select("l_partkey", "l_suppkey")
        .distinct()
    )
    adj = (
        edges.select(
            F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("src"),
            F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("dst"),
        )
        .unionByName(
            edges.select(
                F.concat(F.lit("s"), F.col("l_suppkey").cast("string")).alias("src"),
                F.concat(F.lit("p"), F.col("l_partkey").cast("string")).alias("dst"),
            )
        )
        .persist()
    )
    visited = spark.createDataFrame([("p1", 0)], "node string, lvl int").persist()
    frontier = visited
    retained = [adj, visited]
    # Both sides cap at 6 hops: the oracle's recursion bound is
    # lvl < 6, so the impl MUST stop at level 6 too — a deeper
    # exploration would emit rows the oracle never produces on a
    # sparser fixture (the current graphs have diameter ≤ 4).
    for lvl in range(1, 7):
        nxt = (
            frontier.join(adj, F.col("node") == F.col("src"))
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(visited, "node", "left_anti")
            .withColumn("lvl", F.lit(lvl).cast("int"))
            .persist()
        )
        retained.append(nxt)
        if nxt.count() == 0:
            break
        visited = visited.unionByName(nxt).persist()
        retained.append(visited)
        frontier = nxt
    # localCheckpoint materializes the result DISTRIBUTED (no driver
    # collect) so the per-round intermediates can be released — the
    # CC/LPA discipline (operators/dedup.py).
    out = (
        visited.select("node", F.col("lvl").cast("int").alias("lvl"))
        .localCheckpoint(eager=True)
    )
    for df in retained:
        df.unpersist()
    return out
