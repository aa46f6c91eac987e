"""Connected components over a near-duplicate pair graph — turns
pairwise candidates (from jaccard/minhash/simhash/embedding dedup)
into DEDUP GROUPS: every document gets the min doc id of its cluster
as component id; keep one survivor per component.

Algorithm: iterative min-label propagation. Each round every node
takes the min of its own label and its neighbors' labels; converges
in O(component diameter) rounds. Near-dup graphs are unions of small
dense clusters (diameter ≈ 2-4), so a handful of rounds suffice; the
loop stops as soon as a round changes nothing.

Scale notes: each round is one join + one groupBy (two shuffles) over
the edge list. Each round's labels are localCheckpoint'ed — persist
alone is NOT enough for iterative algorithms: caching reuses the
computed rows but round N's LOGICAL plan still contains all N-1
predecessors, so plan objects (and the explain strings AQE renders on
every materialization) grow geometrically and a default-heap driver
OOMs around round 8 — while computing nothing. Checkpointing
truncates the lineage to the materialized result. On a cluster,
localCheckpoint trades executor-loss recoverability for speed; swap
in reliable checkpoint(dir) if that matters. For web-scale graphs
swap in the large-star/small-star algorithm (Kiveris et al.,
"Connected Components in MapReduce and Beyond", SoCC'14) — same
primitive ops, fewer rounds on high-degree skew.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 20,
) -> DataFrame:
    """Min-label propagation over an undirected edge list.

    Returns one row per node appearing in ``edges``: (node,
    component_id) where component_id is the minimum node id reachable.
    Deterministic — oracle-checkable against a recursive-CTE closure.
    """
    fwd = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    # Eager localCheckpoint: materializes AND truncates lineage, so
    # every round's plan is (checkpointed edges ⋈ checkpointed labels)
    # regardless of how expensive the upstream pair-generation was and
    # how many rounds have run. Old checkpoint RDDs are GC'd by the
    # ContextCleaner when the previous round's frame goes unreferenced.
    und = fwd.unionByName(
        edges.select(F.col(dst).alias("a"), F.col(src).alias("b"))
    ).localCheckpoint()
    labels = (
        und.select("a").distinct().select(
            F.col("a").alias("node"), F.col("a").alias("label")
        )
    ).localCheckpoint()
    changed = 0
    for _ in range(max_iter):
        # min label among each node's neighbors this round
        neighbor_min = (
            und.join(labels, und.b == labels.node)
            .groupBy("a")
            .agg(F.min("label").alias("nbr_label"))
            .select(F.col("a").alias("nm_node"), "nbr_label")
        )
        new_labels = (
            labels.join(neighbor_min, labels.node == neighbor_min.nm_node, "left")
            .select(
                "node",
                F.least(
                    F.col("label"), F.coalesce(F.col("nbr_label"), F.col("label"))
                ).alias("label"),
            )
            .localCheckpoint()
        )
        changed = (
            new_labels.select("node", F.col("label").alias("new_label"))
            .join(labels, "node")
            .filter(F.col("new_label") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    if changed > 0:
        # Exhausted max_iter before the fixed point: some component has
        # diameter > max_iter and its labels are NOT final — silent
        # wrong survivors downstream. Fail loudly; callers that accept
        # partial convergence can raise max_iter instead.
        raise RuntimeError(
            f"connected_components did not converge within {max_iter} "
            f"rounds ({changed} labels still changing) — a component has "
            f"diameter > {max_iter}; raise max_iter"
        )
    return labels.select("node", F.col("label").alias("component_id"))


def dedup_components(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    src: str = "doc_a",
    dst: str = "doc_b",
) -> DataFrame:
    """Assign every document its dedup component: min doc id of its
    near-dup cluster, or itself if unpaired. One survivor per
    component = ``component_id == doc_id`` rows."""
    comps = connected_components(pairs, src, dst)
    return (
        df.select(F.col(id_col))
        .join(comps, df[id_col] == comps.node, "left")
        .select(
            F.col(id_col),
            F.coalesce(F.col("component_id"), F.col(id_col)).alias("component_id"),
        )
    )
