"""Graph-analytics tier: triangle counting and bounded multi-source
BFS over a co-purchase graph derived from the star schema.

The reference pipeline has no graph operators; this tier extends the
engine the same way ``graph_pagerank`` (queries/analytics.py) does —
iterative/combinatorial graph algorithms expressed as pure
join+aggregate dataflow, exact integer outputs so a DuckDB oracle can
hash-pin them (recursive CTE for BFS, the same wedge-closing joins for
triangles).

Graph: parts are nodes; an undirected edge connects two parts that
co-occur in >= 2 distinct orders (the weight threshold keeps the graph
sparse — the unthresholded co-purchase graph is near-complete at small
scale factors, which would make both algorithms degenerate).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.catalog import load_table
from bigdatafinalproject_hockey_spark.operators import bucketing as bucket_ops
from bigdatafinalproject_hockey_spark.queries.base import register

# Shared CTE head: canonical (p1 < p2) part co-purchase edges with
# >= 2 co-occurring LINE-ITEM PAIRS, exactly mirroring
# _copurchase_edges below. (COUNT(*) counts lineitem pairs, not
# distinct orders: one order holding repeated partkey lines can meet
# the threshold by itself — ADVICE r4. Both engines state and compute
# the same rule, deliberately: pair-count weighting is the standard
# co-occurrence strength signal and needs no DISTINCT shuffle.)
_EDGES_SQL = """
    edges AS (
      SELECT a.l_partkey AS p1, b.l_partkey AS p2
      FROM lineitem a
      JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_partkey < b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= 2
    )"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical (p1 < p2) part pairs with >= 2 co-occurring
    line-item pairs (NOT distinct orders — see _EDGES_SQL note).

    One self-join keyed on l_orderkey (pairs-per-order is bounded by
    order size, so the intermediate is sum-of-squares of order sizes,
    not |lineitem|²), then one aggregate on the pair key.
    """
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_partkey") < F.col("b.l_partkey"))
        .select(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .groupBy("p1", "p2")
        .agg(F.count(F.lit(1)).alias("w"))
        .filter(F.col("w") >= 2)
        .select("p1", "p2")
    )


def undirected_edges_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The UNDIRECTED co-purchase edge table ``(s, d)`` as a bucketed
    INGEST: the lineitem self-join + pair aggregate runs once per
    lineitem source version and lands as a parquet table bucketed (and
    sorted) on ``s`` — every graph query after that reads materialized
    edges instead of re-deriving them, and every join or aggregate
    keyed on ``s`` rides the bucket layout with NO edge-side Exchange
    (plan-locked in tests/test_plans.py::test_graph_edges_bucketed_ingest).

    At 100 TB the edge derivation is the expensive pass (a fact-table
    self-join), so it must be paid at ingest and amortized across
    pagerank iterations, BFS rounds, and triangle wedge joins — not
    per query. The files live in the sidecar store
    (operators/bucketing.cached_bucketed), reused across sessions; a
    refreshed lineitem re-ingests, an unchanged one re-declares the
    existing files."""
    edges = _copurchase_edges(spark, sf_dir)
    und = edges.select(F.col("p1").alias("s"), F.col("p2").alias("d")).unionByName(
        edges.select(F.col("p2").alias("s"), F.col("p1").alias("d"))
    )
    table = bucket_ops.cached_bucketed(
        und,
        "graph_copurchase_und",
        [os.path.join(sf_dir, "lineitem.parquet")],
        "v1",
        ["s"],
        16,
        sort_cols=["s"],
    )
    return spark.table(table)


@register(
    "graph_triangle_count",
    oracle=f"""
    WITH {_EDGES_SQL},
    deg AS (
      SELECT node, COUNT(*) AS d
      FROM (SELECT p1 AS node FROM edges
            UNION ALL SELECT p2 FROM edges)
      GROUP BY node
    ),
    oriented AS (
      -- orient each edge from the (degree, id)-smaller endpoint to the
      -- larger one; carry the destination's key for the wedge filter
      SELECT CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                  THEN e.p1 ELSE e.p2 END AS src,
             CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                  THEN e.p2 ELSE e.p1 END AS dst,
             CASE WHEN d1.d < d2.d OR (d1.d = d2.d AND e.p1 < e.p2)
                  THEN d2.d ELSE d1.d END AS dst_d
      FROM edges e
      JOIN deg d1 ON d1.node = e.p1
      JOIN deg d2 ON d2.node = e.p2
    ),
    tri AS (
      SELECT e1.src AS u, e1.dst AS v, e2.dst AS w
      FROM oriented e1
      JOIN oriented e2 ON e1.src = e2.src
       AND (e1.dst_d < e2.dst_d
            OR (e1.dst_d = e2.dst_d AND e1.dst < e2.dst))
      JOIN oriented e3 ON e3.src = e1.dst AND e3.dst = e2.dst
    )
    SELECT node AS p_partkey, COUNT(*) AS n_triangles
    FROM (SELECT u AS node FROM tri
          UNION ALL SELECT v FROM tri
          UNION ALL SELECT w FROM tri)
    GROUP BY node
    """,
)
def q_graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts via degree-ordered node iteration —
    the clustering-coefficient numerator / community-density signal
    over the co-purchase graph.

    Algorithm (the standard distributed triangle count, e.g. Suri &
    Vassilvitskii's MR node-iterator): orient every undirected edge
    from its (degree, id)-smaller endpoint to the larger one. The
    orientation is acyclic and gives every triangle {a,b,c} exactly
    one wedge a->b, a->c with b->c closing it, so one equi-join on the
    wedge apex plus one closing equi-join counts each triangle once —
    no all-pairs step anywhere.

    Scale shape: out-degree under degree-orientation is O(sqrt(m)), so
    the wedge join's fan-out is m^1.5 worst-case instead of sum of
    deg² — THE property that makes triangle counting survive skewed
    power-law graphs at 100 TB (a celebrity node's edges point INTO
    it, so it apexes no giant wedge set). All three joins key on
    integer node ids and shuffle-partition evenly; output is exact
    integers, hash-pinned by the identical SQL oracle.
    """
    und = undirected_edges_bucketed(spark, sf_dir)
    # canonical (p1 < p2) edges and per-node degrees, both straight off
    # the bucketed ingest: the degree aggregate groups on the bucket
    # key (undirected degree of n == out-rows of n in `und`), and the
    # p1-side degree join is bucket-co-partitioned — no edge-side
    # Exchange anywhere before orientation
    edges = und.filter(F.col("s") < F.col("d")).select(
        F.col("s").alias("p1"), F.col("d").alias("p2")
    )
    deg = und.groupBy(F.col("s").alias("node")).agg(
        F.count(F.lit(1)).alias("d")
    )
    d1 = deg.alias("d1")
    d2 = deg.alias("d2")
    keyed = (
        edges.join(d1, F.col("p1") == F.col("d1.node"))
        .join(d2, F.col("p2") == F.col("d2.node"))
        .select(
            "p1", "p2", F.col("d1.d").alias("dp1"), F.col("d2.d").alias("dp2")
        )
    )
    p1_is_src = (F.col("dp1") < F.col("dp2")) | (
        (F.col("dp1") == F.col("dp2")) & (F.col("p1") < F.col("p2"))
    )
    # The oriented edge list feeds all THREE wedge-join inputs, whose
    # differing join keys defeat ReusedExchange — localCheckpoint once
    # so orientation (two degree joins) is computed a single time. The
    # edge DERIVATION itself no longer recurs at all: it lives in the
    # bucketed ingest above.
    oriented = keyed.select(
        F.when(p1_is_src, F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(p1_is_src, F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        F.when(p1_is_src, F.col("dp2")).otherwise(F.col("dp1")).alias("dst_d"),
    ).localCheckpoint(eager=True)
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    wedge_order = (F.col("e1.dst_d") < F.col("e2.dst_d")) | (
        (F.col("e1.dst_d") == F.col("e2.dst_d"))
        & (F.col("e1.dst") < F.col("e2.dst"))
    )
    tri = (
        e1.join(e2, (F.col("e1.src") == F.col("e2.src")) & wedge_order)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst"))
            & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("u"),
            F.col("e1.dst").alias("v"),
            F.col("e2.dst").alias("w"),
        )
    )
    return (
        tri.select(F.explode(F.array("u", "v", "w")).alias("node"))
        .groupBy("node")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
        .select(F.col("node").alias("p_partkey"), "n_triangles")
    )


@register(
    "graph_bfs_hops",
    oracle=f"""
    WITH RECURSIVE {_EDGES_SQL},
    und AS (
      SELECT p1 AS s, p2 AS d FROM edges
      UNION ALL
      SELECT p2, p1 FROM edges
    ),
    r(node, hop) AS (
      SELECT p_partkey, 0 FROM part WHERE p_size = 50
      UNION
      SELECT u.d, r.hop + 1
      FROM r JOIN und u ON u.s = r.node
      WHERE r.hop < 4
    )
    SELECT node AS p_partkey, MIN(hop) AS hops
    FROM r
    GROUP BY node
    """,
)
def q_graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS: minimum hop distance (<= 4) from the
    seed set (parts with p_size = 50) over the undirected co-purchase
    graph — reachability / blast-radius analysis as iterative
    dataflow, the hop-count core of any distributed shortest-path.

    Frontier-based: each iteration expands ONLY the nodes first
    reached in the previous round (one join edges-keyed on the
    frontier, one anti-join against the visited set) — work per round
    is proportional to the frontier's out-edges, not the whole visited
    set, which is what keeps deep BFS linear-in-edges overall. Both
    per-round results are localCheckpoint-truncated so lineage stays
    O(1) per iteration instead of re-deriving every prior round
    (dedup/components.py's pattern). The edge table is the bucketed
    ingest (undirected_edges_bucketed, sorted+bucketed on ``s``):
    every round's frontier join reads the SAME co-partitioned edge
    files — edges are derived once per source version and never
    reshuffled, the 100 TB deployment shape.

    The DuckDB oracle is the textbook recursive CTE with the same hop
    bound; hop counts are exact integers, so the hash pin is exact.
    """
    und = undirected_edges_bucketed(spark, sf_dir)

    part = load_table(spark, "part", sf_dir)
    seeds = part.filter(F.col("p_size") == 50).select(
        F.col("p_partkey").alias("node"), F.lit(0).alias("hop")
    )
    dist = seeds.localCheckpoint(eager=True)
    frontier = dist
    for k in range(1, 5):
        nxt = (
            frontier.join(und, frontier.node == und.s)
            .select(F.col("d").alias("node"), F.lit(k).alias("hop"))
            .distinct()
            .join(dist, "node", "left_anti")
            .localCheckpoint(eager=True)
        )
        dist = dist.unionByName(nxt).localCheckpoint(eager=True)
        frontier = nxt
    return dist.select(F.col("node").alias("p_partkey"), F.col("hop").alias("hops"))
