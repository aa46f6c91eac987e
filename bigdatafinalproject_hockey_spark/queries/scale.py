"""Scale-path queries: as-of/range joins, multi-level and sketch
aggregates, IVF similarity search, stateful streaming, and the
partitioned parquet sink.

These go beyond the reference's own operator set (SURVEY.md §2) —
they are the operators a 100 TB training-data pipeline needs that
plain SQL shapes don't cover, each built on the same operator-library
conventions (UDF-free where possible, fixed-point money sums,
round-before-rank determinism).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.catalog import load_table
from bigdatafinalproject_hockey_spark.functions.numeric import (
    cents_expr,
    fixed_point_sum,
    fixed_point_sum_sql,
)
from bigdatafinalproject_hockey_spark.operators import (
    aggregates as agg_ops,
    bucketing as bucket_ops,
    joins as join_ops,
)
from bigdatafinalproject_hockey_spark import sidecar
from bigdatafinalproject_hockey_spark.queries.base import register
from bigdatafinalproject_hockey_spark.session import with_conf
from bigdatafinalproject_hockey_spark.functions.vectors import (
    as_double_array,
    cosine_expr,
)
from bigdatafinalproject_hockey_spark.operators.windows import topk_per_group
from bigdatafinalproject_hockey_spark.similarity import (
    _DUCK_L2FP,
    _sign_band_key_col,
    brute_force_cosine_topk,
    bucketed_ivf_assignment_from_keys,
    bucketed_ivf_assign_cte,
    bucketed_ivf_assign_cte_autokey,
    bucketed_ivf_assignment,
    class_mean_classify,
    computed_bits_per_band,
    ivf_cell_assignment,
    ivf_cosine_topk,
    ivfpq_rerank_topk,
    ivfpq_residual_topk,
    ivfpq_topk,
    lloyd_refine_sums,
    pq_adc_topk,
    pq_codebooks,
    pq_codebooks_lloyd,
    pq_encode,
    pq_lloyd_cte,
    semantic_dedup_from_assignment,
    semantic_dedup_survivors,
)
from bigdatafinalproject_hockey_spark.sources.parquet import (
    scan_parquet,
    sink_parquet,
)
from bigdatafinalproject_hockey_spark.streaming import (
    read_events_stream,
    run_stream_to_table,
    stateful_user_totals,
)

# ---------------------------------------------------------------------------
# joins beyond equi: as-of and range
# ---------------------------------------------------------------------------


@register(
    "join_asof",
    oracle=lambda: f"""
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS purchase_ts,
             {fixed_point_sum_sql("value")} AS purchase_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    )
    SELECT c.user_id, c.ts, c.event_id, p.purchase_ts, p.purchase_value
    FROM clicks c ASOF LEFT JOIN purch p
      ON c.user_id = p.user_id AND c.ts >= p.purchase_ts
    """,
)
def q_join_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click picks up the user's most recent purchase
    at-or-before it (trades⋈quotes shape). Implemented as union + one
    sort-shuffle + last-non-null carry-forward — linear in rows, never
    quadratic in matches (operators.joins.join_asof); the oracle is
    DuckDB's native ASOF LEFT JOIN."""
    events = load_table(spark, "events", sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", F.col("ts").alias("purchase_ts"))
        .agg(fixed_point_sum(F.col("value")).alias("purchase_value"))
    )
    return join_ops.join_asof(
        clicks, purchases, on=["user_id"], left_time="ts", right_time="purchase_ts"
    ).select("user_id", "ts", "event_id", "purchase_ts", "purchase_value")


@register(
    "join_range",
    oracle=lambda: f"""
    WITH bands AS (
      SELECT i AS band_id, i * 50000.0 AS lo, (i + 1) * 50000.0 AS hi
      FROM range(0, 10) t(i)
    )
    SELECT band_id, lo, hi,
           COUNT(*) AS n_orders,
           {fixed_point_sum_sql("o_totalprice")} AS total_price
    FROM orders JOIN bands ON o_totalprice >= lo AND o_totalprice < hi
    GROUP BY band_id, lo, hi
    """,
)
def q_join_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (band) join: orders binned into price intervals via a
    broadcast interval table — the fact side never shuffles for the
    join (operators.joins.join_range), then one grouped aggregate."""
    orders = load_table(spark, "orders", sf_dir)
    bands = spark.range(0, 10).select(
        F.col("id").alias("band_id"),
        (F.col("id") * 50000.0).alias("lo"),
        ((F.col("id") + 1) * 50000.0).alias("hi"),
    )
    joined = join_ops.join_range(orders, bands, "o_totalprice")
    return agg_ops.agg_group_multi(
        joined,
        ["band_id", "lo", "hi"],
        {
            "n_orders": F.count(F.lit(1)),
            "total_price": fixed_point_sum(F.col("o_totalprice")),
        },
    )


# ---------------------------------------------------------------------------
# multi-level + sketch aggregates
# ---------------------------------------------------------------------------


@register(
    "agg_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def q_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP subtotals — (flag, status), (flag), grand total in one
    shuffle. l_quantity is integral-valued, so the double sum is exact
    without fixed-point."""
    li = load_table(spark, "lineitem", sf_dir)
    return agg_ops.agg_rollup(
        li,
        ["l_returnflag", "l_linestatus"],
        {"n_rows": F.expr("count(1)"), "sum_qty": F.expr("sum(l_quantity)")},
    )


@register(
    "agg_cube",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def q_agg_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^k grouping sets in one pass."""
    li = load_table(spark, "lineitem", sf_dir)
    return agg_ops.agg_cube(
        li,
        ["l_returnflag", "l_linestatus"],
        {"n_rows": F.count(F.lit(1)), "sum_qty": F.sum("l_quantity")},
    )


@register(
    "agg_grouping_sets",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           SUM(l_quantity) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
    """,
)
def q_agg_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS — the generalization rollup/cube are
    sugar for: exactly the listed grouping combinations, still one
    shuffle (rows are expanded per set map-side, then a single hash
    aggregate). Here: per-flag and per-status marginals WITHOUT the
    pair-level or grand-total rows."""
    li = load_table(spark, "lineitem", sf_dir)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               COUNT(*) AS n_rows,
               SUM(l_quantity) AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        """,
        li=li,
    )


@register(
    "agg_approx",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           CAST(1 AS BIGINT) AS distinct_within_bound,
           CAST(1 AS BIGINT) AS p50_within_bound,
           CAST(1 AS BIGINT) AS p95_within_bound
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_agg_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct counts + Greenwald-Khanna quantiles per
    return flag — bounded-memory sketches, now ORACLE-CHECKABLE: the
    engine computes sketch AND exact per group and emits one
    within-bound flag per documented guarantee
    (operators.aggregates.agg_approx_checked); the oracle asserts the
    bounds hold (literal 1 per group) plus the exact row counts.
    Sketch internals stay engine-specific, the error CONTRACT is what
    gets hash-verified — raw estimates remain available via
    agg_ops.agg_approx."""
    li = load_table(spark, "lineitem", sf_dir)
    return agg_ops.agg_approx_checked(
        li,
        keys=["l_returnflag"],
        distinct_col="l_orderkey",
        quantile_col="l_extendedprice",
        quantiles=(0.5, 0.95),
    )


# ---------------------------------------------------------------------------
# IVF similarity search (deterministic centroids → fully oracle-checked)
# ---------------------------------------------------------------------------

_COS_SQL = (
    "ROUND(list_dot_product({a}, {b}) / "
    "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
)


# Shared IVF-assignment CTE prefix (DuckDB): every-50th-vector
# centroids (capped at 50 — see _ivf_centroids for the scale law),
# nearest-centroid cell per vector (rounded cosine, centroid-id
# tiebreak) — byte-identical semantics to
# similarity.ivf_cell_assignment so the oracles below can never
# drift from the Spark quantizer.
_IVF_ASSIGN_CTE = f"""
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
            WHERE vec_id % 50 = 0 AND vec_id < 2500),
    scored AS (
      SELECT e.vec_id, cent_id,
             {_COS_SQL.format(a="emb", b="cemb")} AS cs
      FROM e CROSS JOIN cent
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cent_id) AS rn
      FROM scored
    ),
    assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1)
"""


@register(
    "sim_ann_ivf",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    q AS (
      SELECT e.vec_id AS query_id, emb AS qemb, a.cell
      FROM e JOIN assign a ON e.vec_id = a.vec_id
      WHERE e.vec_id < 20
    ),
    cand AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a="qemb", b="c.emb")} AS cosine
      FROM q JOIN assign a ON q.cell = a.cell
             JOIN e c ON c.vec_id = a.vec_id
      WHERE c.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= 5
    """,
)
def q_sim_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF approximate nearest neighbors: deterministic coarse
    centroids (every 50th vector), nearest-centroid cell assignment,
    top-5 cosine within the query's cell (nprobe=1). Unlike seeded-hash
    LSH, reproducible in any engine → full value-hash oracle check."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 20).select("vec_id")
    return ivf_cosine_topk(emb, centroids, queries, k=5)


def _ivf_centroids(emb: DataFrame) -> DataFrame:
    """Deterministic IVF coarse centroids: every 50th vector, CAPPED
    at vec_id < 2500 (max 50 centroids). The cap is a no-op at every
    driver scale factor (sf0.1 tops out at vec_id 1999) so all oracle
    results are unchanged — its job is the SCALE LAW: an uncapped
    every-50th rule grows C linearly with the corpus, making the
    |corpus|×C assignment pass QUADRATIC in corpus size (a 10×
    embeddings probe would measure ~100×). Bounded C keeps assignment
    linear; a production deployment would use a KMeans-fit or
    √n-sized codebook, supplied to the same operators."""
    return emb.filter((F.col("vec_id") % 50 == 0) & (F.col("vec_id") < 2500))


@register(
    "sim_ann_ivf_multiprobe",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    qprobe AS (
      SELECT vec_id AS query_id, cent_id AS cell
      FROM ranked WHERE vec_id < 20 AND rn <= 2
    ),
    qv AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 20),
    cand AS (
      SELECT qp.query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a="qemb", b="c.emb")} AS cosine
      FROM qprobe qp
      JOIN qv USING (query_id)
      JOIN assign a ON qp.cell = a.cell
      JOIN e c ON c.vec_id = a.vec_id
      WHERE c.vec_id <> qp.query_id
    )
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM cand
    ) WHERE rnk <= 5
    """,
)
def q_sim_ann_ivf_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with nprobe=2 (round 6): each query also searches its
    runner-up centroid cell, recovering neighbors that sit just across
    a Voronoi boundary — the standard recall lever of inverted-file
    indexes (probe cost grows linearly in nprobe, candidate cells stay
    disjoint so no vector is scored twice). The capability existed in
    ``similarity.ivf_cosine_topk`` since round 5 with a recall test;
    this registers it on the driver surface with a full value-hash
    oracle (deterministic centroids → engine-reproducible)."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 20).select("vec_id")
    return ivf_cosine_topk(emb, centroids, queries, k=5, nprobe=2)


@register(
    "ann_recall_eval",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    q AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 20),
    bf_all AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a="qemb", b="c.emb")} AS cosine
      FROM q JOIN e c ON c.vec_id <> query_id
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM bf_all
      ) WHERE rnk <= 5
    ),
    ivf_cand AS (
      SELECT q.query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a="qemb", b="c.emb")} AS cosine
      FROM q
      JOIN assign qa ON qa.vec_id = q.query_id
      JOIN assign a ON a.cell = qa.cell
      JOIN e c ON c.vec_id = a.vec_id
      WHERE c.vec_id <> q.query_id
    ),
    ivf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                      ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM ivf_cand
      ) WHERE rnk <= 5
    )
    SELECT bf.query_id,
           CAST(COUNT(ivf.neighbor_id) AS BIGINT) AS n_hits,
           CAST(COUNT(ivf.neighbor_id) AS DOUBLE) / 5 AS recall
    FROM bf LEFT JOIN ivf
      ON bf.query_id = ivf.query_id AND bf.neighbor_id = ivf.neighbor_id
    GROUP BY bf.query_id
    """,
)
def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality QA (round 6): recall@5 of the IVF index (nprobe=1)
    against brute-force ground truth, per query — the measurement a
    production retrieval pipeline runs before trusting an approximate
    index ("measure, don't guess" applied to ANN itself). At 100 TB
    the ground-truth side runs over a SAMPLED query set (here the 20
    query vectors) while the index side is the deployed structure, so
    eval cost is bounded by the sample, not the corpus. Both sides
    share rounding (6 dp) and id tiebreaks, so the top-5 SETS are
    deterministic and the recall is engine-exact.

    Shuffle budget (round 7, VERDICT r6 item 7 — was 11 exchanges,
    3rd-highest in the registry): both legs now read ONE persisted
    quantizer assignment — the ground-truth side takes its corpus and
    query vectors from the assignment's (vid, emb) rows instead of
    re-scanning parquet, and the IVF side receives the same frame via
    ``ivf_cosine_topk(assignment=...)`` — and the two k-row result
    legs meet in a broadcast join (they were sort-merge-shuffled)."""
    from pyspark import StorageLevel

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    assign = ivf_cell_assignment(emb, centroids).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    queries = assign.filter(F.col("vid") < 20).select("vid", "emb")
    bf = brute_force_cosine_topk(
        assign, queries, id_col="vid", vec_col="emb", k=5
    ).select("query_id", "neighbor_id")
    ivf = ivf_cosine_topk(
        emb,
        centroids,
        queries.select("vid").withColumnRenamed("vid", "vec_id"),
        k=5,
        assignment=assign,
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit"))
    return (
        bf.join(F.broadcast(ivf), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit").alias("n_hits"),
            (F.count("hit") / F.lit(5.0)).alias("recall"),
        )
    )


@register(
    "dedup_semantic",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    pairs AS (
      SELECT b.vec_id AS dup_id
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      JOIN e x ON x.vec_id = a.vec_id
      JOIN e y ON y.vec_id = b.vec_id
      WHERE {_COS_SQL.format(a="x.emb", b="y.emb")} >= 0.3
    )
    SELECT vec_id, cell FROM assign
    WHERE vec_id NOT IN (SELECT dup_id FROM pairs)
    """,
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic deduplication (round 6; public method,
    Abbas et al. 2023): embeddings are clustered by the deterministic
    IVF coarse quantizer (every-50th-vector centroids — the SAME
    assignment as sim_ann_ivf, shared via
    similarity.ivf_cell_assignment), then near-duplicates are detected
    ONLY within a cell and one representative survives (conservative
    drop rule: any >=0.3-cosine lower-id witness in the cell drops a
    vector; survivors are pairwise below threshold within every cell —
    pinned by test). Cluster blocking bounds the pair count at
    Σ|cell|² — never |corpus|² — and every stage is an equi-join on
    ``cell``; the CODEBOOK is the caller's scale lever (C ∝ n keeps
    cells bounded at the cost of a larger assignment pass — real
    deployments fit a KMeans codebook sized to the corpus). With the
    codebook held fixed, a 10× corpus costs ~20× (the square law); the
    scale-safe twin is `dedup_semantic_scaled` below (corpus-scaled
    codebook + LSH-bucketed assignment, round 7), and the banded
    alternative is `dedup_embedding_cosine` (sign-projection LSH,
    plan-locked). Complements the text-side near-dup tier
    (MinHash/SimHash catch lexical dups; this catches semantic dups
    that share no tokens)."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    return semantic_dedup_survivors(emb, centroids, min_cosine=0.3)


def _parquet_num_rows(path: str) -> int:
    """Row count from parquet FOOTER metadata only (no data read) —
    the statistic a table catalog carries for free at 100 TB, and the
    input `dedup_semantic_autokey` sizes its key width from at plan
    time. Handles both a single file and a Spark-written directory of
    part files (an amplified corpus)."""
    import glob

    import pyarrow.parquet as pq

    if os.path.isfile(path):
        return pq.ParquetFile(path).metadata.num_rows
    return sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in glob.glob(os.path.join(path, "*.parquet"))
    )


def _emb_signkeys_bucketed(
    spark: SparkSession, sf_dir: str, bits_per_band: int = 8
) -> DataFrame:
    """Sign-LSH key sidecar ingest for the embeddings table: the 8
    band keys of every vector — the deterministic hyperplane
    projections `dedup_semantic_scaled`'s quantizer buckets on — are
    computed once per embeddings source version and stored columnar as
    (vid, emb, keys), vid-bucketed, in the sidecar store (the graph
    tier's edge-ingest pattern). Two reasons, one per scale regime: at
    100 TB LSH keys are ingest-time derived columns reused by every
    dedup/search run, never per-query recomputation over the raw
    vectors; and on a small box the 64-hyperplane expression forest
    costs ~3 s of data-independent Catalyst work per plan, which the
    sidecar removes from every query after the first.

    The entry is versioned by key width: keys of different widths are
    different derived columns, and `dedup_semantic_autokey` computes
    its width from the corpus size, so a corpus crossing a width
    boundary must re-ingest rather than read stale-width keys."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    emb = load_table(spark, "embeddings", sf_dir)
    base = emb.select(
        F.col("vec_id").alias("vid"), as_double_array("embedding").alias("emb")
    )
    keyed = base.select(
        "vid",
        "emb",
        F.array(
            *[_sign_band_key_col("emb", b, bits_per_band) for b in range(8)]
        ).alias("keys"),
    )
    table = bucket_ops.cached_bucketed(
        keyed,
        "emb_signkeys",
        [src],
        f"bits={bits_per_band}",
        ["vid"],
        16,
        sort_cols=["vid"],
    )
    return spark.table(table)


@register(
    "dedup_semantic_scaled",
    oracle=lambda: f"""
    WITH {bucketed_ivf_assign_cte(centroid_stride=50)},
    pairs AS (
      SELECT b.vec_id AS dup_id
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a="a.emb", b="b.emb")} >= 0.3
    )
    SELECT vec_id, cell FROM assign
    WHERE vec_id NOT IN (SELECT dup_id FROM pairs)
    """,
)
def q_dedup_semantic_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup with a CORPUS-SCALED codebook (round 7 — VERDICT r6
    item 3 closes `dedup_semantic`'s square law): centroids are every
    50th vector with NO cap, so C = n/50 keeps the target cell size
    ~50 and the within-cell pair scan Σ|cell|² ~LINEAR in the corpus.
    What made the cap necessary was the quantizer itself — flat
    nearest-centroid assignment is |corpus|×C, quadratic when C ∝ n —
    so assignment here is `similarity.bucketed_ivf_assignment`: each
    vector scores only centroids sharing a deterministic sign-LSH band
    bucket (~num_bands·C/2^bits candidates), one broadcast left join
    + one ranking window, with bucket-miss orphans falling back to
    self-limiting LSH singleton cells. Every stage is
    engine-reproducible (literal hyperplanes, rounded cosines), so
    unlike most ANN-accelerated dedup this variant carries a full
    value-hash oracle.

    FIXED-KEY-WIDTH LAW (what this static configuration does and does
    not fix, ADVICE r7): this query pins ``bits_per_band = 8`` — the
    oracle-checkable family — so while the within-cell pair scan is
    linear (C = n/50 keeps Σ|cell|² ∝ n), the ASSIGNMENT's candidate
    count per vector grows ∝ C/256 once 2^8 buckets stop resolving the
    codebook: the official x100 probe measured 165.8× (29.1M candidate
    cosines at 200k vectors) — quadratic regime. Linearity requires
    bits to grow ~log2 C; `dedup_semantic_autokey` below registers
    exactly that (similarity.computed_bits_per_band), is bit-identical
    to this query at driver SFs (the rule floors at 8 bits), and
    stays linear as the corpus grows.
    `dedup_semantic` above is the fixed-CODEBOOK twin recording the
    other law (cells grow when C is capped)."""
    keys = _emb_signkeys_bucketed(spark, sf_dir)
    assign = bucketed_ivf_assignment_from_keys(keys)
    return semantic_dedup_from_assignment(assign, min_cosine=0.3)


@register(
    "dedup_semantic_autokey",
    oracle=lambda: f"""
    WITH {bucketed_ivf_assign_cte_autokey(centroid_stride=50)},
    pairs AS (
      SELECT b.vec_id AS dup_id
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a="a.emb", b="b.emb")} >= 0.3
    )
    SELECT vec_id, cell FROM assign
    WHERE vec_id NOT IN (SELECT dup_id FROM pairs)
    """,
)
def q_dedup_semantic_autokey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`dedup_semantic_scaled` with the key width COMPUTED from the
    codebook size (round 8 — VERDICT r7 item 1, the registered form of
    the measured 12-bit fix): bits = max(8, ⌈log2 C⌉) via
    ``similarity.computed_bits_per_band``, where C = n/50 and n comes
    from parquet FOOTER row counts only (`_parquet_num_rows` — the
    catalog statistic, no data read). Candidate centroids per vector
    stay ~num_bands = O(1) as the corpus grows, which is what makes
    the WHOLE operator linear: assignment O(n·bands), pair scan
    Σ|cell|² ∝ n at target cell ~50. The key-ingest sidecar is
    versioned by the computed width, so a corpus crossing a width
    boundary re-ingests instead of reading stale-width keys.

    At every driver SF the rule lands on the 8-bit floor (C ≤ 40), so
    this query is BIT-IDENTICAL to `dedup_semantic_scaled` there —
    same sidecar, same oracle family, pinned by
    tests/test_similarity_scale.py's equality test — while at a
    100× corpus (200k vectors, C = 4000) it computes 12-bit keys
    (~8 candidates/vector), the configuration measured at the linear
    extrapolation of the 1× pair-scan cost (27.1 s, vs 165.8× for
    fixed 8-bit)."""
    n = _parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
    bits = computed_bits_per_band(max(n // 50, 1))
    keys = _emb_signkeys_bucketed(spark, sf_dir, bits_per_band=bits)
    assign = bucketed_ivf_assignment_from_keys(keys)
    return semantic_dedup_from_assignment(assign, min_cosine=0.3)


# Shared PQ CTE fragments (DuckDB): subvector split, deterministic
# per-subspace codebooks, integer squared-L2 scoring, argmin encode —
# value-identical to similarity.pq_encode (same rounding, same code
# tiebreak) so the PQ oracles can never drift from the Spark encoder.
# Each fragment is spelled once; an oracle picks the ones it needs.
#
# ``sub``: the 8 subvectors of 8 dims of each ``emb`` row of ``{src}``.
_PQ_SUB = """sub AS (
      SELECT vec_id, mm.m AS m, emb[mm.m * 8 + 1 : mm.m * 8 + 8] AS subv
      FROM {src}, LATERAL (SELECT unnest(range(8)) AS m) mm
    )"""

# ``pq_scored``/``enc``: each ``sub`` row's nearest ``cb`` code.
_PQ_ENCODE = f"""pq_scored AS (
      SELECT s.vec_id, s.m, c.code,
             {_DUCK_L2FP.format(a="s.subv", b="c.cvec")} AS d_fp
      FROM sub s JOIN cb c ON s.m = c.m
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                     ORDER BY d_fp, code) AS rn
        FROM pq_scored
      ) WHERE rn = 1
    )"""

# The chain after ``e`` (static codebooks: every 50th vector's
# subvectors, 16 codes) is separate so the IVF-PQ oracles can append
# it to the IVF assignment CTE, which defines the same ``e``.
_PQ_CHAIN = f"""{_PQ_SUB.format(src="e")},
    cb AS (
      SELECT m, vec_id // 50 AS code, subv AS cvec
      FROM sub WHERE vec_id % 50 = 0 AND vec_id < 800
    ),
    {_PQ_ENCODE}"""

_PQ_CTE = (
    "e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),\n    "
    + _PQ_CHAIN
)

# ``qsub``/``lut``: the 10 query vectors' subvectors and their exact
# distance to every ``cb`` code — the ADC lookup table.
_PQ_LUT = f"""qsub AS (SELECT vec_id AS query_id, m, subv AS qsub
             FROM sub WHERE vec_id < 10),
    lut AS (
      SELECT q.query_id, c.m, c.code,
             {_DUCK_L2FP.format(a="q.qsub", b="c.cvec")} AS d_fp
      FROM qsub q JOIN cb c ON q.m = c.m
    )"""


def _ivfpq_adc_ctes(nprobe: int = 1) -> str:
    """``qc``/``qsub``/``lut``/``cand``/``adc`` after the IVF
    assignment and a PQ chain: each query's ``nprobe`` nearest cells
    (the assignment's ranking), every other member of those cells, and
    its ADC distance summed from ``lut`` over its ``enc`` codes."""
    return f"""qc AS (SELECT vec_id AS query_id, cent_id AS cell
           FROM ranked WHERE vec_id < 10 AND rn <= {nprobe}),
    {_PQ_LUT},
    cand AS (
      SELECT qc.query_id, a.vec_id AS neighbor_id
      FROM qc JOIN assign a ON a.cell = qc.cell
      WHERE a.vec_id <> qc.query_id
    ),
    adc AS (
      SELECT c.query_id, c.neighbor_id,
             CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
      FROM cand c
      JOIN enc en ON en.vec_id = c.neighbor_id
      JOIN lut l ON l.query_id = c.query_id
                AND l.m = en.m AND l.code = en.code
      GROUP BY 1, 2
    )"""


# The 5 nearest ``adc`` neighbors per query, distance then id.
_ADC_TOP5 = """SELECT query_id, neighbor_id, adc_fp, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY adc_fp, neighbor_id) AS rnk
      FROM adc
    ) WHERE rnk <= 5"""

# ``shortlist``/``rr``: the 20 nearest ``adc`` neighbors per query,
# rescored by exact rounded cosine.
_PQ_RERANK_CTES = f"""shortlist AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_fp, neighbor_id) AS srnk
        FROM adc
      ) WHERE srnk <= 20
    ),
    rr AS (
      SELECT s.query_id, s.neighbor_id,
             {_COS_SQL.format(a="qe.emb", b="ne.emb")} AS cosine
      FROM shortlist s
      JOIN e qe ON qe.vec_id = s.query_id
      JOIN e ne ON ne.vec_id = s.neighbor_id
    )"""


@register(
    "embedding_pq_encode",
    oracle=f"""
    WITH {_PQ_CTE}
    SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS BIGINT) AS code
    FROM enc
    """,
)
def q_embedding_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (round 7; Jégou et al. 2011,
    public method): each vector is compressed to 8 code ids — one per
    disjoint 8-dim subvector, the id of its nearest per-subspace
    codebook entry (integer squared L2, code tiebreak). This is the
    memory form that keeps a 100 TB embedding corpus RAM-resident
    for search: 64 floats → 8 small codes per vector (32× at K≤256
    with one byte per code). Codebooks here are deterministic corpus
    subvectors (every 50th vector, 16 codes) so the encode is
    engine-reproducible and fully hash-checked; a production fit
    supplies `lloyd_refine_sums`-trained codebooks per subspace to
    the same operators. One broadcast codebook join + ONE shuffle
    (min_by partial aggregate — the exchange moves |corpus|×8 result
    rows, not the scored grid)."""
    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_codebooks(emb)
    return pq_encode(emb, cb).select(
        F.col("vid").alias("vec_id"), "m", "code"
    )


@register(
    "sim_ann_pq_adc",
    oracle=f"""
    WITH {_PQ_CTE},
    {_PQ_LUT},
    adc AS (
      SELECT l.query_id, en.vec_id AS neighbor_id,
             CAST(SUM(l.d_fp) AS BIGINT) AS adc_fp
      FROM enc en
      JOIN lut l ON l.m = en.m AND l.code = en.code
      WHERE en.vec_id <> l.query_id
      GROUP BY 1, 2
    )
    {_ADC_TOP5}
    """,
)
def q_sim_ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search via Asymmetric Distance Computation (round 7): per
    query, an exact query-subvector↔code distance table
    (|queries|×8×16 rows — broadcast), then every encoded corpus
    vector is scored by 8 table lookups + an INTEGER sum (associative
    — no float-order hazard in the hashed output) and the 5 nearest
    survive (distance, then neighbor id). The corpus crosses exactly
    two exchanges: the encode's min_by aggregate and the
    (query, neighbor) partial sum. This is PQ's memory-resident
    linear-scan form — the 100 TB deployment composes it with the IVF
    cell structure (IVF-PQ: probe a query's candidate cells only,
    ADC within them), both halves of which this engine ships
    (`sim_ann_ivf` / `similarity.ivf_cell_assignment`)."""
    emb = load_table(spark, "embeddings", sf_dir)
    cb = pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_adc_topk(emb, cb, queries)


@register(
    "sim_ann_ivfpq",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    {_PQ_CHAIN},
    {_ivfpq_adc_ctes()}
    {_ADC_TOP5}
    """,
)
def q_sim_ann_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ ANN (round 7) — the composition the `sim_ann_pq_adc`
    docstring promises: the IVF coarse quantizer bounds WHERE to look
    (each query scores only its own cell's ~|corpus|/C members — the
    exact assignment `sim_ann_ivf` and `dedup_semantic` share) and PQ
    bounds WHAT each look costs (candidates scored from their 8 code
    ids by integer table lookups; codes, not vectors, are what stays
    RAM-resident at 100 TB). This is the flagship production ANN
    index shape (FAISS IVFPQ), here as a pure DataFrame composition
    of two already-verified operators with a full value-hash oracle —
    every stage deterministic (rounded-integer distances, id
    tiebreaks). Recall vs exact search is measured by the same
    pattern as `ann_recall_eval`; raise nprobe / codebook size for
    the standard quality levers."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(emb, centroids, cb, queries)


def _fused_cell_codes(assign: DataFrame, codebooks: DataFrame) -> DataFrame:
    """(vec_id, cell, m, code) index rows from an assignment frame in
    ONE map stage (round 13): the codebook folds into a single
    broadcast row and each assigned vector computes its m codes with
    the shared ``_best_code_fold`` argmin, exploded per subspace —
    value-identical to joining a separate ``pq_encode`` leg back on
    vec_id (both are total functions of the row), with zero
    exchanges."""
    from bigdatafinalproject_hockey_spark.similarity import (
        _best_code_fold,
        _pack_codebooks,
    )

    width = 8  # dim // m for the engine's 64-d / 8-subspace PQ family
    return (
        assign.crossJoin(F.broadcast(_pack_codebooks(codebooks)))
        .select(
            F.col("vid").alias("vec_id"),
            "cell",
            F.explode(
                F.transform(
                    F.sequence(F.lit(0), F.lit(7)),
                    lambda mi: F.struct(
                        mi.cast("int").alias("m"),
                        _best_code_fold(
                            F.slice("emb", mi * width + 1, width),
                            F.element_at("cb_pack", mi + 1)["codes"],
                        ).alias("code"),
                    ),
                )
            ).alias("mc"),
        )
        .select(
            "vec_id", "cell", F.col("mc.m").alias("m"), F.col("mc.code").alias("code")
        )
    )


def _pq_fitted_codebook_sidecar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Lloyd PQ fit as an ingest sidecar: the 2-iteration fit is a
    per-corpus-version index build — at 100 TB it runs once per ingest
    and every search reads the trained codebooks, never re-fits — so,
    like the sign-LSH key sidecar, the fitted 128-row (m, code, cvec)
    table lands in the sidecar store and the per-query cost is one
    tiny-file read. Doubles round-trip parquet bit-exactly, so the
    sidecar is bit-identical to the live fit (tests/test_modules.py
    pins the equality); a per-run re-fit measured ~4.0 s, all of it
    amortizable build cost, none of it search.

    The fit plan is constructed only inside ``build``, on a store
    miss: building the multi-join graph costs ~100 py4j round-trips,
    which a warm search never pays."""

    def build(tmp: str) -> None:
        cb = pq_codebooks_lloyd(load_table(spark, "embeddings", sf_dir), iterations=2)
        cb.coalesce(1).write.mode("overwrite").parquet(tmp)

    path = sidecar.cached(
        "pq_cb_lloyd2", [os.path.join(sf_dir, "embeddings.parquet")], "iters=2", build
    )
    return spark.read.parquet(path)


@register(
    "sim_ann_ivfpq_fitted",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    {_PQ_SUB.format(src="e")},
    {pq_lloyd_cte(iterations=2)},
    {_PQ_ENCODE},
    {_ivfpq_adc_ctes()}
    {_ADC_TOP5}
    """,
)
def q_sim_ann_ivfpq_fitted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ over LLOYD-FITTED codebooks (round 8 — VERDICT r7
    item 5): the end-to-end fit → encode → search composition every
    PQ docstring deferred to ("a production fit supplies
    `lloyd_refine_sums`-trained codebooks"), registered with a full
    value-hash oracle. `similarity.pq_codebooks_lloyd` runs two
    k-means iterations per subspace from the deterministic init
    (E-step = the `pq_encode` nearest-code rule; M-step = exact
    integer sufficient statistics with one IEEE division, so the
    fitted centroids — and therefore every downstream code and ADC
    distance — are bit-identical in the unrolled DuckDB CTE chain,
    `similarity.pq_lloyd_cte`). The fit itself is an ingest-amortized
    sidecar (`_pq_fitted_codebook_sidecar` — an index BUILD runs once
    per corpus version, searches only read the trained table); the
    fitted 128-row codebook broadcasts into both the corpus encode
    and the query LUT, exactly as `sim_ann_ivfpq` uses the static
    init — search-path plan shape unchanged, recall improved by the
    fit. tests/test_modules.py pins the Lloyd guarantee (total encode
    distance non-increasing across iterations) and the sidecar's
    bit-equality to the live fit."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    cb = _pq_fitted_codebook_sidecar(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(emb, centroids, cb, queries)


@register(
    "sim_ann_ivfpq_multiprobe",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    {_PQ_CHAIN},
    {_ivfpq_adc_ctes(nprobe=2)}
    {_ADC_TOP5}
    """,
)
def q_sim_ann_ivfpq_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with nprobe=2 (round 8, VERDICT r7 item 8): the
    inverted-file recall lever (`sim_ann_ivf_multiprobe`'s runner-up
    Voronoi cell, recovering neighbors just across a cell boundary)
    composed with PQ code-table scoring — the standard
    quality-vs-cost knob of a production IVF-PQ index, exercised on
    the SAME already-green machinery (`similarity.ivfpq_topk` grew an
    ``nprobe`` arg whose probe list reproduces
    `ivf_cell_assignment`'s ordering exactly, so nprobe=1 callers are
    bit-unchanged — pinned by test). Probe cost doubles (2 cells of
    ~|corpus|/C candidates, still bounded), ADC cost per candidate is
    unchanged, and cells stay disjoint so no candidate is scored
    twice. Full value-hash oracle (probe list = the assignment CTE's
    ranking at rn <= 2)."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_topk(emb, centroids, cb, queries, nprobe=2)


@register(
    "sim_ann_ivfpq_rerank",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    {_PQ_CHAIN},
    {_ivfpq_adc_ctes()},
    {_PQ_RERANK_CTES}
    SELECT query_id, neighbor_id, cosine, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM rr
    ) WHERE rnk <= 5
    """,
)
def q_sim_ann_ivfpq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ + EXACT-rerank refine (round 9) — the production
    completion of the PQ family (FAISS IndexRefineFlat; Jégou et al.
    2011 §V): the compressed index picks a 20-candidate shortlist per
    query (cell probe + integer ADC over code ids), then only those
    candidates' ORIGINAL vectors are fetched and scored by true
    cosine, and the 5 best survive. The refine stage removes PQ
    quantization loss from the final ranking at a cost bounded by
    |queries| × shortlist — never by the corpus — which is why
    production indexes run compressed-first + exact-rerank instead of
    either extreme (`ann_recall_eval_pq` measures the lift: rerank
    recovers the cell probe's recall ceiling, vs ADC-only ranking).
    In DataFrame terms the candidate fetch is ONE broadcast-hash
    semi-join of the tiny shortlist against the corpus scan — no
    corpus shuffle, no second pass (similarity.ivfpq_rerank_topk).
    Deterministic throughout (rounded cosine, id tiebreaks): full
    value-hash oracle."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_rerank_topk(emb, centroids, cb, queries, k=5, shortlist=20)


@register(
    "ann_recall_eval_pq",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    {_PQ_CHAIN},
    {_ivfpq_adc_ctes()},
    {_PQ_RERANK_CTES},
    pqtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY adc_fp, neighbor_id) AS rnk
        FROM adc
      ) WHERE rnk <= 5
    ),
    rrtop AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM rr
      ) WHERE rnk <= 5
    ),
    bf_all AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             {_COS_SQL.format(a="q.emb", b="c.emb")} AS cosine
      FROM e q JOIN e c ON c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    ),
    bf AS (
      SELECT query_id, neighbor_id FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM bf_all
      ) WHERE rnk <= 5
    )
    SELECT b.query_id,
           CAST(COUNT(p.neighbor_id) AS BIGINT) AS n_hits_pq,
           COUNT(p.neighbor_id) / 5.0 AS recall_pq,
           CAST(COUNT(r.neighbor_id) AS BIGINT) AS n_hits_rerank,
           COUNT(r.neighbor_id) / 5.0 AS recall_rerank
    FROM bf b
    LEFT JOIN pqtop p ON p.query_id = b.query_id
                     AND p.neighbor_id = b.neighbor_id
    LEFT JOIN rrtop r ON r.query_id = b.query_id
                     AND r.neighbor_id = b.neighbor_id
    GROUP BY b.query_id
    """,
)
def q_ann_recall_eval_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the COMPRESSED index family against brute-force
    ground truth, per query (round 9): the measurement that justifies
    `sim_ann_ivfpq_rerank`'s refine stage — ADC-only ranking pays the
    PQ quantization loss inside the probed cell (round-8 committed
    recall ~0.28-0.36 on this corpus), while the exact rerank of the
    same index's 20-candidate shortlist recovers the cell probe's
    recall ceiling at |queries|×20 exact scores. Same eval shape as
    `ann_recall_eval` (sampled query set bounds the ground-truth cost
    at 100 TB; shared rounding + id tiebreaks make the top-5 SETS
    deterministic), extended to score BOTH PQ variants in one pass.

    Shuffle budget: all three legs read ONE persisted quantizer
    assignment (`ann_recall_eval`'s round-7 sharing lever, via
    ``ivfpq_topk(assignment=...)``), the ADC and rerank legs derive
    from ONE persisted k=20 shortlist (the ADC top-5 IS the
    shortlist's first 5 rows — same ranking), and the rerank's
    vectors come from the assignment's own (vid, emb) rows — no
    second corpus scan; the tiny result legs meet the ground truth
    in broadcast joins. A naive three-independent-legs composition
    measured 17 exchanges; this shape audits at a fraction of that.

    Cache lifetime (ADVICE r9): `assign` and `shortlist` persist
    WITHOUT an unpersist — deliberately. The query returns a lazy
    DataFrame, so an in-function unpersist would evict the blocks
    before the caller materializes them and re-run every shared leg.
    This follows the package-wide convention
    (`semantic_dedup_from_assignment` is the precedent): persisted
    intermediates live until the caller's per-tier
    ``spark.catalog.clearCache()`` reclaims them."""
    from pyspark import StorageLevel

    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    # Both persists below are released by the caller's per-tier
    # spark.catalog.clearCache() (bench + driver), NOT in-function —
    # see "Cache lifetime" in the docstring (VERDICT r10 item 6).
    assign = ivf_cell_assignment(emb, centroids).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    q_assign = assign.filter(F.col("vid") < 10)
    bf = brute_force_cosine_topk(
        assign, q_assign.select("vid", "emb"), id_col="vid", vec_col="emb", k=5
    ).select("query_id", "neighbor_id")
    queries = emb.filter(F.col("vec_id") < 10)
    shortlist = ivfpq_topk(
        emb, centroids, cb, queries, k=20, assignment=assign
    ).persist(StorageLevel.MEMORY_AND_DISK)
    pq = shortlist.filter(F.col("rnk") <= 5).select(
        "query_id", "neighbor_id", F.lit(1).alias("hit_pq")
    )
    scored = (
        assign.select(
            F.col("vid").alias("neighbor_id"), F.col("emb").alias("nemb")
        )
        .join(
            F.broadcast(shortlist.select("query_id", "neighbor_id")),
            "neighbor_id",
        )
        .join(
            F.broadcast(
                q_assign.select(
                    F.col("vid").alias("query_id"), F.col("emb").alias("qemb")
                )
            ),
            "query_id",
        )
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qemb"), F.col("nemb")), 6).alias(
                "cosine"
            ),
        )
    )
    rr = topk_per_group(
        scored, ["query_id"], "cosine DESC, neighbor_id", 5
    ).select("query_id", "neighbor_id", F.lit(1).alias("hit_rr"))
    return (
        bf.join(F.broadcast(pq), ["query_id", "neighbor_id"], "left")
        .join(F.broadcast(rr), ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count("hit_pq").alias("n_hits_pq"),
            (F.count("hit_pq") / F.lit(5.0)).alias("recall_pq"),
            F.count("hit_rr").alias("n_hits_rerank"),
            (F.count("hit_rr") / F.lit(5.0)).alias("recall_rerank"),
        )
    )


@register(
    "ann_index_delta",
    oracle=lambda: f"""
    WITH params AS (SELECT (COUNT(*) * 4) // 5 AS cut FROM embeddings),
    e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
    base AS (SELECT * FROM e WHERE vec_id < (SELECT cut FROM params)),
    delta AS (SELECT * FROM e WHERE vec_id >= (SELECT cut FROM params)),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM base
             WHERE vec_id % 50 = 0 AND vec_id < 2500),
    scored AS (
      SELECT d.vec_id, cent_id,
             {_COS_SQL.format(a="d.emb", b="cemb")} AS cs
      FROM delta d CROSS JOIN cent
    ),
    ranked AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cent_id) AS rn
      FROM scored
    ),
    assign AS (SELECT vec_id, cent_id AS cell FROM ranked WHERE rn = 1),
    dsub AS (
      SELECT vec_id, mm.m AS m, emb[mm.m * 8 + 1 : mm.m * 8 + 8] AS subv
      FROM delta, LATERAL (SELECT unnest(range(8)) AS m) mm
    ),
    cb AS (
      SELECT mm.m AS m, vec_id // 50 AS code,
             emb[mm.m * 8 + 1 : mm.m * 8 + 8] AS cvec
      FROM base, LATERAL (SELECT unnest(range(8)) AS m) mm
      WHERE vec_id % 50 = 0 AND vec_id < 800
    ),
    pq_scored AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(ROUND(ROUND(list_sum(list_transform(
                 list_zip(s.subv, c.cvec),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) * 1000000)
               AS BIGINT) AS d_fp
      FROM dsub s JOIN cb c ON s.m = c.m
    ),
    enc AS (
      SELECT vec_id, m, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                     ORDER BY d_fp, code) AS rn
        FROM pq_scored
      ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell, CAST(en.m AS INT) AS m,
           CAST(en.code AS BIGINT) AS code
    FROM assign a JOIN enc en ON en.vec_id = a.vec_id
    """,
)
def q_ann_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ANN INDEX MAINTENANCE (round 9) — the missing
    quarter of the inverted-file lifecycle the engine now covers
    end-to-end: build (`sim_ann_ivfpq_fitted`'s Lloyd-fit sidecar),
    search (`sim_ann_ivfpq` + `_multiprobe` + `_rerank`), quality QA
    (`ann_recall_eval_pq`) — and now INGEST: newly-arriving vectors
    (here the deterministic top 20% of ids, the same
    base-vs-delta convention as `dedup_incremental`/`merge_scd2`)
    are assigned to the FROZEN coarse quantizer and PQ-encoded
    against the FROZEN codebooks, producing exactly the
    (vec_id, cell, m, code) rows a 100 TB deployment appends to its
    index store — no rebuild, no re-encoding of the resident corpus,
    cost ∝ |delta|. Freezing is the production contract (FAISS
    `add()` after `train()`): centroids and codebooks derive from
    BASE rows only, so arriving data can never silently shift cell
    boundaries or code meanings under the already-stored vectors;
    periodic refits are the separate, deliberate
    `codebook_kmeans_refine` / `pq_codebooks_lloyd` step.

    Plan shape (round 13): ONE delta scan, zero exchanges — the
    frozen centroid and codebook tables fold into single broadcast
    rows and every delta row computes its cell (argmax fold) and its
    m codes (argmin folds) inside one projection, exploded straight
    to the (vec_id, cell, m, code) append rows. The round-12 form
    ran the assignment window + the encode min_by aggregate as two
    shuffled legs and re-joined them on vec_id; the per-row
    composition is value-identical (both legs were total functions
    of the row). Fully deterministic → full value-hash oracle (the
    cut is (4/5)·COUNT(*) in both engines)."""
    emb = load_table(spark, "embeddings", sf_dir)
    n = _parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
    cut = (n * 4) // 5
    base = emb.filter(F.col("vec_id") < cut)
    delta = emb.filter(F.col("vec_id") >= cut)
    centroids = _ivf_centroids(base)
    cb = pq_codebooks(base)
    assign = ivf_cell_assignment(delta, centroids)
    return _fused_cell_codes(assign, cb)


@register(
    "pipeline_embedding_curation",
    oracle=lambda: f"""
    WITH {bucketed_ivf_assign_cte_autokey(centroid_stride=50)},
    pairs AS (
      SELECT b.vec_id AS dup_id
      FROM assign a
      JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE {_COS_SQL.format(a="a.emb", b="b.emb")} >= 0.3
    ),
    surv AS (
      SELECT vec_id, emb FROM assign
      WHERE vec_id NOT IN (SELECT dup_id FROM pairs)
    ),
    cent2 AS (SELECT vec_id AS cent_id, emb AS cemb FROM surv
              WHERE vec_id % 50 = 0 AND vec_id < 2500),
    scored2 AS (
      SELECT s.vec_id, cent_id,
             {_COS_SQL.format(a="s.emb", b="cemb")} AS cs
      FROM surv s CROSS JOIN cent2
    ),
    ranked2 AS (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cent_id) AS rn
      FROM scored2
    ),
    assign2 AS (SELECT vec_id, cent_id AS cell FROM ranked2 WHERE rn = 1),
    ssub AS (
      SELECT vec_id, mm.m AS m, emb[mm.m * 8 + 1 : mm.m * 8 + 8] AS subv
      FROM surv, LATERAL (SELECT unnest(range(8)) AS m) mm
    ),
    cb2 AS (
      SELECT mm.m AS m, vec_id // 50 AS code,
             emb[mm.m * 8 + 1 : mm.m * 8 + 8] AS cvec
      FROM surv, LATERAL (SELECT unnest(range(8)) AS m) mm
      WHERE vec_id % 50 = 0 AND vec_id < 800
    ),
    pq2 AS (
      SELECT s.vec_id, s.m, c.code,
             CAST(ROUND(ROUND(list_sum(list_transform(
                 list_zip(s.subv, c.cvec),
                 z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) * 1000000)
               AS BIGINT) AS d_fp
      FROM ssub s JOIN cb2 c ON s.m = c.m
    ),
    enc2 AS (
      SELECT vec_id, m, code FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                     ORDER BY d_fp, code) AS rn
        FROM pq2
      ) WHERE rn = 1
    )
    SELECT a.vec_id, a.cell, CAST(en.m AS INT) AS m,
           CAST(en.code AS BIGINT) AS code
    FROM assign2 a JOIN enc2 en ON en.vec_id = a.vec_id
    """,
)
def q_pipeline_embedding_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The embedding-side DAY-0 pipeline, composed end-to-end
    (round 9) — the vector twin of `pipeline_document_curation`:
    (1) semantic-dedup the corpus with the production configuration
    (`dedup_semantic_autokey`'s corpus-scaled codebook + computed-
    width LSH-bucketed assignment, reading the ingest-amortized key
    sidecar), then (2) build the compressed search index over the
    SURVIVORS — IVF cell assignment + PQ encoding against
    survivor-derived centroids/codebooks — emitting the
    (vec_id, cell, m, code) rows the serving layer loads. This is
    the order production curation runs (dedup BEFORE indexing: near-
    duplicate vectors waste index space and crowd top-k results with
    copies), and each half is this engine's already-oracle-green
    machinery, so the composition carries a full value-hash oracle
    (the adaptive-width CTE chained into the index-build CTE).
    Codebook rows keep their vec_id-derived code ids when a stride
    row is deduped away (deterministic gaps, mirrored in SQL).
    Scale: stage 1 is the measured-linear autokey operator; stage 2
    touches survivors only — one scan each half, broadcast frozen
    tables, bounded windows."""
    keys = _emb_signkeys_bucketed(
        spark,
        sf_dir,
        bits_per_band=computed_bits_per_band(
            max(
                _parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
                // 50,
                1,
            )
        ),
    )
    assign = bucketed_ivf_assignment_from_keys(keys)
    surv = semantic_dedup_from_assignment(assign, min_cosine=0.3)
    # Survivor VECTORS come from the assignment the dedup half just
    # persisted (it carries (vid, cell, emb)) — no parquet re-scan;
    # the index half reads cached compact rows.
    surv_emb = assign.select(
        F.col("vid").alias("vec_id"), F.col("emb").alias("embedding")
    ).join(surv.select("vec_id"), "vec_id")
    centroids = _ivf_centroids(surv_emb)
    cb = pq_codebooks(surv_emb)
    a2 = ivf_cell_assignment(surv_emb, centroids)
    # Round 13: cell + codes composed in ONE map pass over the
    # survivors (shared folds — see _fused_cell_codes) instead of two
    # shuffled legs re-joined on vec_id.
    return _fused_cell_codes(a2, cb)


@register(
    "sim_ann_ivfpq_residual",
    oracle=lambda: f"""
    WITH {_IVF_ASSIGN_CTE},
    resid AS (
      SELECT a.vec_id, a.cell,
             list_transform(list_zip(e.emb, c.cemb),
                            z -> z[1] - z[2]) AS emb
      FROM assign a
      JOIN e ON e.vec_id = a.vec_id
      JOIN cent c ON c.cent_id = a.cell
    ),
    {_PQ_SUB.format(src="resid")},
    cb AS (
      SELECT m, (vec_id - 7) // 50 AS code, subv AS cvec
      FROM sub WHERE vec_id % 50 = 7 AND vec_id < 807
    ),
    {_PQ_ENCODE},
    {_ivfpq_adc_ctes()}
    {_ADC_TOP5}
    """,
)
def q_sim_ann_ivfpq_residual(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (round 8) — the configuration
    production inverted-file indexes ship (FAISS IndexIVFPQ default;
    Jégou et al. 2011 §III): PQ quantizes r = v − centroid(cell(v))
    instead of the raw vector, so the code budget resolves the
    within-cell detail that actually ranks neighbors (the coarse
    quantizer already explained the between-cell variance). Same
    search cost and plan shape as `sim_ann_ivfpq`; the residual
    subtraction is one exact IEEE op per component, mirrored verbatim
    in the oracle's list_transform, so the whole composition stays
    value-hash-checkable. MEASURED LAW (see
    `similarity.ivfpq_residual_topk`): the lever presumes tight
    cells; on the driver's near-isotropic synthetic corpus it
    measures worse than raw-vector PQ (within-cell recall@5 0.28 vs
    0.36 at sf0.01) — shipped as the production SHAPE with its law
    recorded, exactly as the square-law twins are.
    tests/test_modules.py pins the asymmetric-exactness invariant:
    candidates whose residuals ARE codebook entries score their exact
    within-cell distance (encode error 0 ⇒ ADC = exact on the fp
    grid)."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    return ivfpq_residual_topk(emb, centroids, queries)


@register(
    "codebook_kmeans_refine",
    oracle=f"""
    WITH {_IVF_ASSIGN_CTE},
    comp AS (
      SELECT a.cell, i.i AS pos,
             CAST(ROUND(e.emb[CAST(i.i + 1 AS INT)] * 1000000) AS BIGINT) AS vq
      FROM assign a
      JOIN e ON e.vec_id = a.vec_id,
           LATERAL (SELECT unnest(range(len(e.emb))) AS i) i
    )
    SELECT cell, CAST(pos AS INT) AS pos,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           CAST(SUM(vq) AS BIGINT) AS sum_q
    FROM comp GROUP BY cell, pos
    """,
)
def q_codebook_kmeans_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One Lloyd (k-means) codebook-refinement step over the IVF
    quantizer (round 7): assign every vector to its nearest centroid
    (the E-step — the exact assignment `sim_ann_ivf` and
    `dedup_semantic` share), then compute each cell's refined centroid
    as exact integer sufficient statistics (the M-step —
    `similarity.lloyd_refine_sums`; per-(cell, component) member count
    + quantized component sum, one shuffle of |cells|×dim partial rows
    after map-side combine). This is the codebook-FIT step the IVF
    tier's docstrings defer to: iterate E/M k times
    (`lloyd_refine_centroids` re-enters `ivf_cosine_topk`) for a full
    Lloyd fit whose per-iteration cost is one corpus scan — corpus
    never shuffles. Emitting the sufficient statistics instead of the
    divided means keeps the surface bit-exact across engines (no
    float-division rounding in the hashed output); the division is
    one IEEE op the consumer applies identically everywhere."""
    emb = load_table(spark, "embeddings", sf_dir)
    centroids = _ivf_centroids(emb)
    assign = ivf_cell_assignment(emb, centroids)
    return lloyd_refine_sums(assign)


@register(
    "ml_centroid_classify",
    oracle=lambda: f"""
    WITH e AS (
      SELECT vec_id, label, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    comp AS (
      SELECT label, i.i AS pos,
             CAST(ROUND(emb[CAST(i.i + 1 AS INT)] * 1000000) AS BIGINT) AS vq
      FROM e, LATERAL (SELECT unnest(range(len(emb))) AS i) i
    ),
    sums AS (
      SELECT label, pos, CAST(SUM(vq) AS BIGINT) AS s, COUNT(*) AS n
      FROM comp GROUP BY 1, 2
    ),
    means AS (
      SELECT label AS cand,
             list(s / n / 1000000.0 ORDER BY pos) AS cmean
      FROM sums GROUP BY label
    ),
    scored AS (
      SELECT e.vec_id, e.label, m.cand,
             {_COS_SQL.format(a="emb", b="cmean")} AS cs
      FROM e CROSS JOIN means m
    )
    SELECT vec_id, label, cand AS pred_label, cs AS cosine,
           cand = label AS correct
    FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY cs DESC, cand) AS rn
      FROM scored
    ) WHERE rn = 1
    """,
)
def q_ml_centroid_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-class-mean (Rocchio) embedding classification
    (round 6): one distributed pass computes per-class mean vectors
    with INTEGER-quantized component sums (a parallel double sum is
    partition-order-dependent in its last bits; integer sums are
    exact and associative, so the class means — and therefore the
    oracle comparison — are bit-stable in any engine at any
    parallelism), then every vector is assigned to its most
    cosine-similar class mean. The mean table is |classes| rows and
    broadcasts, so classification is a map-side pass — the prototype
    baseline a labeling pipeline runs before training anything
    heavier (complements sim_knn_classify, which votes over top-k
    neighbors instead of prototypes)."""
    emb = load_table(spark, "embeddings", sf_dir)
    return class_mean_classify(emb)


# ---------------------------------------------------------------------------
# stateful streaming
# ---------------------------------------------------------------------------


@register(
    "stream_stateful_totals",
    oracle=lambda: f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {fixed_point_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_stream_stateful_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming operator (applyInPandasWithState):
    per-user running totals accumulated in keyed GroupState over the
    replayed event stream; the finite replay's final update per key
    equals the batch GROUP BY oracle (fixed-point cents both sides)."""
    stream = read_events_stream(spark, sf_dir)
    totals = stateful_user_totals(stream)
    return run_stream_to_table(spark, totals, output_mode="update")


@register(
    "join_bloom_pruned",
    oracle=lambda: f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {fixed_point_sum_sql("l_extendedprice")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
)
def q_join_bloom_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Selective dim-filtered fact ⋈ dim as a SHUFFLE join (merge
    hint) — the shape Spark's runtime bloom-filter semi-join reduction
    (spark.sql.optimizer.runtime.bloomFilter.*) is built for: the
    planner builds a bloom filter over the FILTERED orders keys and
    injects a might_contain() predicate into the lineitem scan side,
    so ~80% of fact rows drop BEFORE the shuffle instead of after the
    join. At 100 TB this is THE lever for selective fact⋈dim shuffle
    joins (broadcast handles small dims; bloom handles the
    too-big-to-broadcast-but-selective ones). The join carries NO
    strategy hint — InjectRuntimeFilter skips hinted joins, and at
    real scale the dim exceeds the broadcast threshold naturally,
    yielding the shuffle join + bloom combination; the filter also
    only fires above the default 10 GB application-side threshold, so
    tests/test_plans.py simulates scale (broadcast off, thresholds
    down) and locks the might_contain injection. At sf sizes under a
    plain session the same plan simply broadcasts — bloom pruning is
    semantics-free either way, so the oracle is the plain filtered
    join."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_extendedprice"
    )
    orders = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
    )
    joined = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return agg_ops.agg_group_multi(
        joined,
        ["o_orderpriority"],
        {
            "n_items": F.count(F.lit(1)),
            "revenue": fixed_point_sum(F.col("l_extendedprice")),
        },
    )


@register(
    "mv_incremental_agg",
    oracle=lambda: f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {fixed_point_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY user_id
    """,
)
def q_mv_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized-view maintenance: a per-user aggregate
    table kept current by MERGING each arriving batch's partial
    aggregate into the persisted store — never re-scanning history.
    Three disjoint batches (event_id mod 3) replay an ingest timeline;
    per batch: aggregate ONLY the batch (count + int64 cents — both
    MERGEABLE aggregates), union with the store, re-aggregate by key,
    overwrite the store parquet, read back (restart-safe: each step
    recovers from disk like a real nightly job). Per-batch cost is
    O(batch + |store keys|), independent of history length — the
    incremental-view shape every 100 TB metrics pipeline uses; avg
    and other derived measures come out of the stored sums at read
    time. The oracle is the full one-shot aggregate, which the
    incremental fold must equal exactly (integer cents make the merge
    order-free)."""
    path = os.path.join(sidecar.scratch("mv_user_totals"), "store")
    events = load_table(spark, "events", sf_dir)
    store: DataFrame | None = None
    for k in range(3):
        batch = events.filter(F.col("event_id") % 3 == k)
        part = batch.groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_expr(F.col("value"))).alias("cents"),
        )
        merged = (
            part
            if store is None
            else store.unionByName(part)
            .groupBy("user_id")
            .agg(
                F.sum("n_events").alias("n_events"),
                F.sum("cents").alias("cents"),
            )
        )
        merged.write.mode("overwrite").parquet(f"{path}_b{k}")
        store = spark.read.parquet(f"{path}_b{k}")
    assert store is not None
    return store.select(
        "user_id",
        "n_events",
        (F.col("cents").cast("double") / 100.0).alias("sum_value"),
    )


def _register_stream_stateful_totals_tws() -> None:
    """AUTO-PROMOTION of the transformWithStateInPandas twin (round
    13, VERDICT r12 item 8): the TWS Python worker requires
    google.protobuf, absent from this container (no installs), so
    the operator is exercised by an availability-skipped test here —
    but the registration is now CONDITIONAL on the shared
    ``streaming.tws_available()`` gate instead of a hand-maintained
    note: an environment that has protobuf gets the registered driver
    row (same GROUP BY oracle as ``stream_stateful_totals``)
    automatically. ``scripts/oracle_check.py`` prints the gate's
    verdict + reason every run, and tests/test_modules.py asserts the
    registration state matches the gate's condition."""
    from bigdatafinalproject_hockey_spark.streaming import tws_available

    if not tws_available()[0]:
        return

    @register(
        "stream_stateful_totals_tws",
        oracle=lambda: f"""
    SELECT user_id,
           COUNT(*) AS n_events,
           {fixed_point_sum_sql("value")} AS sum_value
    FROM events
    GROUP BY user_id
    """,
    )
    def q_stream_stateful_totals_tws(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """transformWithStateInPandas per-user running totals — the
        Spark-4 arbitrary-stateful API twin of
        ``stream_stateful_totals`` (see
        streaming.stateful_user_totals_tws for the full method);
        registered only where the environment can start the TWS
        worker (``tws_available``). Requires the RocksDB state store
        provider, which the stream gets in a cloned session."""
        from bigdatafinalproject_hockey_spark.streaming import (
            stateful_user_totals_tws,
        )

        totals = stateful_user_totals_tws(read_events_stream(spark, sf_dir))
        rocksdb = {
            "spark.sql.streaming.stateStore.providerClass":
                "org.apache.spark.sql.execution.streaming.state."
                "RocksDBStateStoreProvider",
        }
        return run_stream_to_table(
            spark, with_conf(totals, rocksdb), output_mode="update"
        )


_register_stream_stateful_totals_tws()


# ---------------------------------------------------------------------------
# partitioned parquet sink (pruning-ready layout)
# ---------------------------------------------------------------------------


@register(
    "sink_parquet_partitioned",
    oracle="""
    SELECT o_orderkey, o_orderstatus, o_totalprice,
           CAST(year(o_orderdate) AS INTEGER) AS order_year
    FROM orders
    WHERE year(o_orderdate) = 1998
    """,
)
def q_sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hive-partitioned parquet sink + pruned read-back: orders land
    partitioned by year, then a one-year filter reads ONLY that
    directory (PartitionFilters in the plan — asserted in
    tests/test_modules.py). The layout pattern for 100 TB event data:
    partition by coarse time, prune at planning time."""
    path = sidecar.scratch("orders_by_year")
    orders = load_table(spark, "orders", sf_dir).withColumn(
        "order_year", F.year("o_orderdate")
    )
    sink_parquet(
        orders.select(
            "o_orderkey", "o_orderstatus", "o_totalprice", "order_year"
        ),
        path,
        partition_by=["order_year"],
    )
    return (
        scan_parquet(spark, path)
        .filter(F.col("order_year") == 1998)
        .select(
            "o_orderkey",
            "o_orderstatus",
            "o_totalprice",
            F.col("order_year").cast("int").alias("order_year"),
        )
    )


@register(
    "scan_schema_evolution",
    oracle="""
    SELECT o_orderkey, o_totalprice, CAST(NULL AS VARCHAR) AS o_priority_class
    FROM orders WHERE o_orderkey % 2 = 0
    UNION ALL
    SELECT o_orderkey, o_totalprice, o_orderpriority AS o_priority_class
    FROM orders WHERE o_orderkey % 2 = 1
    """,
)
def q_scan_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution across file generations — the unavoidable lake
    reality at 100 TB (a column added mid-corpus): generation v1 files
    carry (key, price), generation v2 adds a priority column; one
    mergeSchema read unifies both under the superset schema with NULLs
    where v1 predates the column. Spark merges parquet footers at
    planning time — per-file schemas stay intact on disk (no rewrite
    of petabytes), and column pruning/pushdown still work per file.
    The oracle is the explicit union with a typed NULL."""
    path = sidecar.scratch("schema_evolution")
    orders = load_table(spark, "orders", sf_dir)
    v1 = orders.filter(F.col("o_orderkey") % 2 == 0).select(
        "o_orderkey", "o_totalprice"
    )
    v2 = orders.filter(F.col("o_orderkey") % 2 == 1).select(
        "o_orderkey",
        "o_totalprice",
        F.col("o_orderpriority").alias("o_priority_class"),
    )
    v1.write.mode("overwrite").parquet(os.path.join(path, "gen=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "gen=2"))
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .select("o_orderkey", "o_totalprice", "o_priority_class")
    )


@register(
    "join_skew_salted",
    oracle=lambda: f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {fixed_point_sum_sql("l_extendedprice")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_skew_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ dim through the SALTED join (operators/joins.join_salted):
    each left row carries a deterministic salt in [0, 8), the right
    side replicates 8×, and a hot key's rows spread over 8 shuffle
    partitions instead of one straggler task — the manual skew fix for
    engines/plans where AQE skew splitting can't fire (broadcast-
    disabled sort-merge, skewed agg feeding the join). Salting is pure
    partitioning: the joined VALUES are invariant, so the oracle is
    the plain join+aggregate — the driver hash-checks that the salt
    plumbing never leaks into results."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    joined = join_ops.join_salted(li, orders, ["orderkey"], salt=8)
    return agg_ops.agg_group_multi(
        joined,
        ["o_orderpriority"],
        {
            "n_items": F.count(F.lit(1)),
            "revenue": fixed_point_sum(F.col("l_extendedprice")),
        },
    )


# ---------------------------------------------------------------------------
# bucketed co-located join: shuffle once at write, never at query time
# ---------------------------------------------------------------------------


@register(
    "join_bucketed",
    oracle=lambda: f"""
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           {fixed_point_sum_sql("l_extendedprice")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact ⋈ fact with the shuffle paid at INGEST, not per query:
    lineitem and orders are written as co-bucketed tables (same key,
    same bucket count), so the join reads bucket pairs co-located and
    the planner elides both Exchange nodes (locked in
    tests/test_plans.py::test_bucketed_join_no_shuffle). The reference
    re-shuffles its join inputs every run (reference
    code/experiment.py:502-541); at 100 TB the bucketed layout turns
    the dominant network cost into a one-time write-side cost shared
    by every subsequent query on the key.

    Bucketing changes layout only, never values — the oracle is the
    plain join+aggregate."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_orderkey").alias("orderkey"), "l_extendedprice"
    )
    orders = load_table(spark, "orders", sf_dir).select(
        F.col("o_orderkey").alias("orderkey"), "o_orderpriority"
    )
    # idempotent ingest: re-bucketing is skipped while the source files
    # are unchanged — queries pay the shuffle-free join only, which is
    # the operator's entire value at scale
    li_table, orders_table = (
        bucket_ops.cached_bucketed(
            df,
            f"{name}_bkt",
            [os.path.join(sf_dir, f"{name}.parquet")],
            "v1",
            ["orderkey"],
            8,
            sort_cols=["orderkey"],
        )
        for name, df in (("lineitem", li), ("orders", orders))
    )
    joined = bucket_ops.join_cobucketed(
        spark, li_table, orders_table, on=["orderkey"]
    )
    return agg_ops.agg_group_multi(
        joined,
        ["o_orderpriority"],
        {
            "n_items": F.count(F.lit(1)),
            "revenue": fixed_point_sum(F.col("l_extendedprice")),
        },
    )


# ---------------------------------------------------------------------------
# slowly-changing dimension (type 2): versioned merge + point-in-time join
# ---------------------------------------------------------------------------


# The SCD2 oracles' open customer snapshot, and q_merge_scd2's updates
# batch with the versions it really changes (no-op updates dropped).
_SCD2_CUR_CTE = """cur AS (
      SELECT c_custkey, c_mktsegment,
             TIMESTAMP '1995-01-01' AS valid_from
      FROM customer
    )"""
_SCD2_CHG_CTES = """upd AS (
      SELECT c_custkey,
             CASE WHEN c_custkey % 14 = 0 THEN c_mktsegment
                  ELSE 'PROMO-' || CAST(c_custkey % 3 AS VARCHAR)
             END AS c_mktsegment,
             TIMESTAMP '1999-06-01' AS eff_date
      FROM customer WHERE c_custkey % 7 = 0
    ),
    chg AS (
      SELECT u.c_custkey, u.c_mktsegment, u.eff_date
      FROM upd u JOIN cur c ON u.c_custkey = c.c_custkey
      WHERE u.c_mktsegment IS DISTINCT FROM c.c_mktsegment
    )"""


@register(
    "merge_scd2",
    oracle=f"""
    WITH {_SCD2_CUR_CTE},
    {_SCD2_CHG_CTES}
    SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
           g.eff_date AS valid_to,
           CAST(CASE WHEN g.c_custkey IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM cur c LEFT JOIN chg g ON c.c_custkey = g.c_custkey
    UNION ALL
    SELECT c_custkey, c_mktsegment, eff_date AS valid_from,
           CAST(NULL AS TIMESTAMP) AS valid_to, CAST(1 AS BIGINT) AS is_current
    FROM chg
    """,
)
def q_merge_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 dimension merge (operators/scd.merge_scd2): an
    updates batch (every 7th customer re-segmented, effective
    1999-06-01) merges into the open customer snapshot, closing the
    prior version and inserting the new one — while NO-OP updates
    (every 14th key: value unchanged) must NOT fabricate a version.

    Scale shape: cost ∝ |updates batch|, never ∝ history — unchanged
    rows pass through with one (broadcastable) left join against the
    batch's closing keys; there is no global window over the dimension.
    At 100 TB this is the copy-on-write-touched-files-only merge every
    table format (Delta/Iceberg/Hudi) implements; here it is the pure
    dataflow, oracle-checked including the no-op trap."""
    from bigdatafinalproject_hockey_spark.operators import scd as scd_ops

    cust = load_table(spark, "customer", sf_dir)
    current = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
    )
    updates = cust.filter(F.col("c_custkey") % 7 == 0).select(
        "c_custkey",
        F.when(F.col("c_custkey") % 14 == 0, F.col("c_mktsegment"))
        .otherwise(
            F.concat(F.lit("PROMO-"), (F.col("c_custkey") % 3).cast("string"))
        )
        .alias("c_mktsegment"),
        F.lit("1999-06-01").cast("timestamp").alias("eff_date"),
    )
    return scd_ops.merge_scd2(
        current, updates, key="c_custkey", tracked=["c_mktsegment"]
    )


@register(
    "join_scd2_pointintime",
    oracle=lambda: f"""
    WITH {_SCD2_CUR_CTE},
    {_SCD2_CHG_CTES},
    hist AS (
      SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
             g.eff_date AS valid_to
      FROM cur c LEFT JOIN chg g ON c.c_custkey = g.c_custkey
      UNION ALL
      SELECT c_custkey, c_mktsegment, eff_date, CAST(NULL AS TIMESTAMP)
      FROM chg
    )
    SELECT h.c_mktsegment AS segment_asof,
           COUNT(*) AS n_orders,
           {fixed_point_sum_sql("o_totalprice")} AS revenue
    FROM orders o JOIN hist h
      ON o.o_custkey = h.c_custkey
     AND o.o_orderdate >= h.valid_from
     AND (h.valid_to IS NULL OR o.o_orderdate < h.valid_to)
    GROUP BY h.c_mktsegment
    """,
)
def q_join_scd2_pointintime(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup over the SCD2 history built by
    merge_scd2: each order joins the customer-segment version VALID AT
    its order date (operators/scd.pointintime_lookup) — pre-1999
    orders see the original segment, later ones the promo segment —
    then revenue aggregates by as-of segment.

    Scale shape: one equi-join shuffle on the business key; the
    interval predicate filters the ≤2 versions per key after the hash
    match, so there is no band-join blow-up. This is how leakage-free
    training joins against mutable dimensions are done (feature value
    as of event time, never today's value — same discipline as the
    reference's leakage-free windows, reference
    code/experiment.py:416-472, applied to dimension state)."""
    from bigdatafinalproject_hockey_spark.operators import scd as scd_ops

    hist = q_merge_scd2(spark, sf_dir).drop("is_current")
    orders = load_table(spark, "orders", sf_dir).select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    joined = scd_ops.pointintime_lookup(
        orders, hist, key_left="o_custkey", key_right="c_custkey",
        fact_date_col="o_orderdate",
    )
    return agg_ops.agg_group_multi(
        joined.select(F.col("c_mktsegment").alias("segment_asof"), "o_totalprice"),
        ["segment_asof"],
        {
            "n_orders": F.count(F.lit(1)),
            "revenue": fixed_point_sum(F.col("o_totalprice")),
        },
    )


# ---------------------------------------------------------------------------
# Z-order clustering: multi-dimensional data-skipping layout
# ---------------------------------------------------------------------------


def _zorder_sql() -> str:
    from bigdatafinalproject_hockey_spark.operators.partitioning import (
        zvalue_sql,
    )

    return f"""
    WITH keyed AS (
      SELECT o_custkey % 1024 AS x,
             CAST(FLOOR(o_totalprice / 600.0) AS BIGINT) % 1024 AS y
      FROM orders
    ),
    z AS (SELECT x, y, {zvalue_sql("x", "y", 10)} AS zval FROM keyed)
    SELECT zval >> 16 AS z_bucket,
           COUNT(*) AS n_rows,
           MIN(x) AS min_x, MAX(x) AS max_x,
           MIN(y) AS min_y, MAX(y) AS max_y
    FROM z GROUP BY 1
    """


@register("sort_zorder", oracle=lambda: _zorder_sql())
def q_sort_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering of orders on (customer, price-band)
    — the multi-dimensional data-skipping layout (Delta/Iceberg
    Z-ORDER BY): interleaving the two keys' bits
    (operators/partitioning.zvalue_expr) and range-partitioning by the
    result gives every partition/file a TIGHT min/max range on BOTH
    dimensions, so a selective predicate on either one prunes most
    files; a plain sort on one key leaves the other's per-file range
    at full width. The query emits per-z-bucket bounding boxes — the
    file-statistics view a scan planner would prune against; with 10
    bits per dim and 16 buckets, every box is provably ≤ 1/4 of each
    dimension's range (locked in tests/test_modules.py). Pure integer
    shift/mask arithmetic, one aggregate shuffle, no UDF."""
    from bigdatafinalproject_hockey_spark.operators.partitioning import (
        zvalue_expr,
    )

    orders = load_table(spark, "orders", sf_dir)
    keyed = orders.select(
        (F.col("o_custkey") % 1024).alias("x"),
        (F.floor(F.col("o_totalprice") / 600.0).cast("long") % 1024).alias("y"),
    )
    z = keyed.select("x", "y", zvalue_expr("x", "y", 10).alias("zval"))
    return z.groupBy(F.shiftright("zval", 16).alias("z_bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.min("x").alias("min_x"),
        F.max("x").alias("max_x"),
        F.min("y").alias("min_y"),
        F.max("y").alias("max_y"),
    )


# ---------------------------------------------------------------------------
# manifest-pruned scan: file-level data skipping
# ---------------------------------------------------------------------------


def _orders_clustered(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """Ingest half of `scan_files_pruned`: orders range-clustered on
    o_orderdate into 16 files, and the per-file min/max manifest over
    them. The manifest records absolute file paths, so it is its own
    store entry keyed on the published data files. Returns (data
    directory, manifest directory)."""
    from bigdatafinalproject_hockey_spark.operators import manifest as mf

    def build_data(tmp: str) -> None:
        (
            load_table(spark, "orders", sf_dir)
            .repartitionByRange(16, "o_orderdate")
            .sortWithinPartitions("o_orderdate")
            .write.mode("overwrite")
            .parquet(tmp)
        )

    data_path = sidecar.cached(
        "orders_clustered", [os.path.join(sf_dir, "orders.parquet")], "v1", build_data
    )

    def build_manifest(tmp: str) -> None:
        mf.build_minmax_manifest(spark, data_path, ["o_orderdate"]).write.mode(
            "overwrite"
        ).parquet(tmp)

    return data_path, sidecar.cached("orders_manifest", [data_path], "v1", build_manifest)


@register(
    "scan_files_pruned",
    oracle=lambda: f"""
    SELECT o_orderstatus,
           COUNT(*) AS n_orders,
           {fixed_point_sum_sql("o_totalprice")} AS revenue
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1999-01-01'
      AND o_orderdate <= TIMESTAMP '1999-06-30'
    GROUP BY o_orderstatus
    """,
)
def q_scan_files_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-pruned scan (operators/manifest): orders are ingested
    range-clustered on o_orderdate into 16 files with a per-file
    min/max manifest (one row per FILE — built once, with the ingest,
    both steps kept in the sidecar store); a six-month query
    then consults the manifest FIRST and hands Spark only the ~2-3
    files whose [min,max] intersects the range. The other files are
    never listed into tasks or opened — the Delta/Iceberg
    data-skipping pattern, which at 100 TB turns a narrow time-range
    scan from tens of thousands of files into a handful. Pruning is
    sound (skipped files provably hold no matching row) and the
    residual row filter still applies, so the oracle is the plain
    filter+aggregate over the unpruned table;
    tests/test_modules.py locks that the pruned read opens <40% of
    the files while matching the unpruned result."""
    from bigdatafinalproject_hockey_spark.operators import manifest as mf

    _data_path, man_path = _orders_clustered(spark, sf_dir)
    manifest = spark.read.parquet(man_path)
    lo, hi = "1999-01-01", "1999-06-30"
    pruned, _n = mf.scan_pruned(
        spark, manifest, "o_orderdate", F.lit(lo).cast("timestamp"),
        F.lit(hi).cast("timestamp"),
    )
    return (
        pruned.filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") <= F.lit(hi).cast("timestamp"))
        )
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_point_sum(F.col("o_totalprice")).alias("revenue"),
        )
    )


def _lineitem_rowgroup_clustered(spark: SparkSession, sf_dir: str) -> str:
    """Ingest half of the row-group skipping tier: lineitem
    range-clustered on ship DATE into 4 files written with a small
    parquet block size, so each file carries MANY row groups whose
    footer min/max intervals tile the date range — the layout a
    date-clustered 100 TB ingest produces naturally (row groups are
    parquet's unit of both I/O and statistics; files would be ~1 GB,
    row groups ~128 MB). Kept in the sidecar store like every other
    ingest; the write is one repartitionByRange shuffle, paid once per
    source version."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.to_date("l_shipdate").alias("ship_date"),
        "l_orderkey",
        "l_partkey",
        "l_returnflag",
        "l_quantity",
        "l_extendedprice",
    )

    def build(tmp: str) -> None:
        (
            li.repartitionByRange(4, "ship_date")
            .sortWithinPartitions("ship_date")
            .write.mode("overwrite")
            .option("parquet.block.size", 32 * 1024)
            .parquet(tmp)
        )

    return sidecar.cached(
        "lineitem_rgclustered", [os.path.join(sf_dir, "lineitem.parquet")], "v1", build
    )


@register(
    "scan_rowgroups_pruned",
    oracle=lambda: f"""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           {fixed_point_sum_sql("l_quantity")} AS sum_qty,
           {fixed_point_sum_sql("l_extendedprice")} AS sum_price
    FROM lineitem
    WHERE CAST(l_shipdate AS DATE) >= DATE '1997-03-01'
      AND CAST(l_shipdate AS DATE) <= DATE '1997-06-30'
    GROUP BY l_returnflag
    """,
)
def q_scan_rowgroups_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROW-GROUP data skipping (round 8, VERDICT r7 item 8 — the
    intra-file tier below `scan_files_pruned`'s file granularity):
    lineitem is ingested date-clustered with many row groups per file
    (`_lineitem_rowgroup_clustered`); a four-month query then scans
    every file's FOOTER — distributed, metadata-only
    (`manifest.rowgroups_in_range`) — and reads ONLY the row groups
    whose [min, max] ship-date interval intersects the range, via the
    row-group-addressed Arrow reader (`manifest.read_rowgroups`;
    Spark's public reader takes whole files, so the skipping tier
    brings its own). ~4 months of ~7 years of dates → >90% of row
    groups never have a data page decoded. Pruning is sound (skipped
    groups provably hold no matching row; missing stats are kept) and
    the residual filter still applies, so the oracle is the plain
    filter+aggregate over the unpruned table; tests/test_modules.py
    locks the <40% read fraction and the pruned-vs-unpruned equality."""
    import datetime

    from bigdatafinalproject_hockey_spark.operators import manifest as mf

    data_path = _lineitem_rowgroup_clustered(spark, sf_dir)
    lo = datetime.date(1997, 3, 1)
    hi = datetime.date(1997, 6, 30)
    cols = ["ship_date", "l_returnflag", "l_quantity", "l_extendedprice"]
    survivors, _total = mf.rowgroups_in_range(
        spark, data_path, "ship_date", lo, hi
    )
    schema = spark.read.parquet(data_path).select(*cols).schema
    rows = mf.read_rowgroups(spark, survivors, cols, schema)
    return (
        rows.filter(
            (F.col("ship_date") >= F.lit(lo)) & (F.col("ship_date") <= F.lit(hi))
        )
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            fixed_point_sum(F.col("l_quantity")).alias("sum_qty"),
            fixed_point_sum(F.col("l_extendedprice")).alias("sum_price"),
        )
    )


@register(
    "stream_scd2_cdc",
    oracle=f"""
    WITH {_SCD2_CUR_CTE},
    upd AS (
      SELECT c_custkey,
             'PROMO-' || CAST(c_custkey % 3 AS VARCHAR) AS new_seg,
             TIMESTAMP '1999-06-01' + INTERVAL (c_custkey % 3) DAY AS eff_date
      FROM customer WHERE c_custkey % 7 = 0
    )
    SELECT c.c_custkey, c.c_mktsegment, c.valid_from,
           u.eff_date AS valid_to,
           CAST(CASE WHEN u.c_custkey IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_current
    FROM cur c LEFT JOIN upd u ON c.c_custkey = u.c_custkey
    UNION ALL
    SELECT c_custkey, new_seg, eff_date, CAST(NULL AS TIMESTAMP),
           CAST(1 AS BIGINT)
    FROM upd
    """,
)
def q_stream_scd2_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CDC into a versioned dimension: three micro-batches of
    customer re-segmentations (disjoint key sets, distinct effective
    dates) replay through foreachBatch, each applying one
    merge_scd2 against the persisted store
    (streaming.scd2_cdc_apply) — the Debezium-topic→MERGE-into-dim
    flow every lakehouse runs. Because every update genuinely changes
    its segment and the batches touch disjoint keys, the composed
    history has a closed form the oracle states directly; the
    streaming side must converge to it through three real
    store-read→merge→store-write round-trips (restart-safe,
    batch-id-keyed overwrites)."""
    import glob as _glob
    import shutil

    from bigdatafinalproject_hockey_spark.streaming import scd2_cdc_apply

    work = sidecar.scratch("scd2_cdc")
    stage = os.path.join(work, "src")
    os.makedirs(stage)
    cust = load_table(spark, "customer", sf_dir)
    for k in range(3):
        upd_k = cust.filter(
            (F.col("c_custkey") % 7 == 0) & (F.col("c_custkey") % 3 == k)
        ).select(
            "c_custkey",
            F.concat(F.lit("PROMO-"), F.lit(str(k))).alias("c_mktsegment"),
            F.lit(f"1999-06-0{k + 1}").cast("timestamp").alias("eff_date"),
        )
        tmp = os.path.join(work, f"tmp_{k}")
        upd_k.coalesce(1).write.mode("overwrite").parquet(tmp)
        part = _glob.glob(os.path.join(tmp, "part-*.parquet"))[0]
        shutil.copy(part, os.path.join(stage, f"upd_{k}.parquet"))
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_mktsegment", T.StringType()),
            T.StructField("eff_date", T.TimestampType()),
        ]
    )
    updates = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    initial = cust.select(
        "c_custkey",
        "c_mktsegment",
        F.lit("1995-01-01").cast("timestamp").alias("valid_from"),
    )
    return scd2_cdc_apply(
        spark,
        updates,
        initial,
        key="c_custkey",
        tracked=["c_mktsegment"],
        store_path=os.path.join(work, "store"),
    )


@register(
    "join_dpp",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INTEGER) AS order_year,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_price
    FROM orders
    WHERE year(o_orderdate) % 2 = 1
    GROUP BY 1
    """,
)
def q_join_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic partition pruning — the mechanism that makes
    fact ⋈ filtered-dim cheap on a partitioned 100 TB lake: the dim
    filter (``year_parity = 1``) is NOT known at planning time (it
    lives in another table), so static partition pruning can't fire;
    Spark instead reuses the dim's broadcast result as a runtime IN
    filter on the fact's PARTITION column, and the fact scan skips
    whole directories of the hive layout (``dynamicpruningexpression``
    in the scan's PartitionFilters — plan-locked in
    tests/test_plans.py). Without DPP this query reads every
    partition and throws half away after the join.

    Staging (kept in the sidecar store, once per orders version):
    orders land hive-partitioned by order_year (the
    sink_parquet_partitioned layout), plus a tiny year-dim carrying
    the parity attribute."""

    def build(tmp: str) -> None:
        orders = load_table(spark, "orders", sf_dir)
        sink_parquet(
            orders.select(
                "o_orderkey",
                "o_totalprice",
                F.year("o_orderdate").alias("order_year"),
            ),
            os.path.join(tmp, "fact"),
            partition_by=["order_year"],
        )
        sink_parquet(
            orders.select(F.year("o_orderdate").alias("order_year"))
            .distinct()
            .select(
                "order_year",
                (F.col("order_year") % 2).cast("int").alias("year_parity"),
            ),
            os.path.join(tmp, "dim"),
        )

    stage = sidecar.cached(
        "orders_dpp", [os.path.join(sf_dir, "orders.parquet")], "v1", build
    )
    fact_path, dim_path = os.path.join(stage, "fact"), os.path.join(stage, "dim")
    fact = scan_parquet(spark, fact_path)
    dim = scan_parquet(spark, dim_path).filter(F.col("year_parity") == 1)
    return (
        fact.join(F.broadcast(dim), "order_year")
        .groupBy(F.col("order_year").cast("int").alias("order_year"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_point_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "join_interval_binned",
    oracle="""
    SELECT e.event_id AS error_id,
           x.event_id AS event_id,
           e.user_id,
           x.event_type
    FROM events e JOIN events x
      ON e.user_id = x.user_id
     AND x.ts >= e.ts
     AND x.ts < e.ts + INTERVAL 10 MINUTE
    WHERE e.event_type = 'error'
      AND x.event_type <> 'error'
    """,
)
def q_join_interval_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-overlap join WITHOUT a broadcast: which events fall in
    the 10-minute window after each error, per user (incident
    blast-radius analysis). join_range broadcasts its interval table —
    fine for a handful of bands, impossible when the interval side is
    itself a 100 TB fact. The scalable shape is BINNING: each interval
    explodes to the (two) 10-minute epoch bins it can touch, each
    point event carries its one bin, and the join becomes an EQUI join
    on (user_id, bin) that Spark hash-partitions like any other —
    followed by the exact row-local containment filter. Bin width
    tunes replication (interval_len/bin_len + 1 copies) against
    per-bucket pair fan-in; a 10-min window over 10-min bins
    replicates each interval to exactly its two candidate bins (k and
    k+1, always distinct). No pair survives twice: a point's single
    bin matches exactly one of them.
    The oracle is the plain (quadratic-shaped) interval theta-join."""
    ev = load_table(spark, "events", sf_dir)
    bin_len = 600  # seconds; = the interval length → ≤2 bins/interval
    e_sec = F.unix_timestamp("ts")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("e_ts"),
        F.explode(
            F.array(
                F.floor(e_sec / bin_len),
                F.floor(e_sec / bin_len) + 1,
            )
        ).alias("bin"),
    )
    points = ev.filter(F.col("event_type") != "error").select(
        F.col("event_id").alias("event_id"),
        F.col("user_id").alias("x_user"),
        F.col("ts").alias("x_ts"),
        "event_type",
        F.floor(e_sec / bin_len).alias("bin"),
    )
    return (
        errors.join(
            points,
            (errors.user_id == points.x_user) & (errors.bin == points.bin),
        )
        .filter(
            (F.col("x_ts") >= F.col("e_ts"))
            & (F.col("x_ts") < F.col("e_ts") + F.expr("INTERVAL 10 MINUTES"))
        )
        .select("error_id", "event_id", "user_id", "event_type")
    )


@register(
    "agg_sketch_rollup",
    oracle="""
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           true AS within_bound
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGEABLE sketch rollup — the piece agg_approx doesn't show:
    per-(day, event_type) HLL partials are materialized once to a
    sketch store (the nightly-job pattern), and the per-type distinct
    estimate is a UNION OF STORED SKETCHES — raw events are never
    rescanned for the rollup. At 100 TB this is the only viable
    distinct-users dashboard: partials are a few KB per group,
    re-aggregate along any dimension, and absorb late days by
    appending a partial. Datasketches HLL (Spark 3.5+ built-ins:
    hll_sketch_agg / hll_union_agg / hll_sketch_estimate), error
    ~1.6% at lgK=12.

    Verification mirrors agg_approx: the engine
    compares its own estimate against the exact count within the
    documented bound and emits the boolean; the oracle emits literal
    true — a sketch estimate can never hash-match an exact oracle
    directly."""
    ev = load_table(spark, "events", sf_dir)

    def build(tmp: str) -> None:
        (
            ev.groupBy(F.to_date("ts").alias("day"), "event_type")
            .agg(F.hll_sketch_agg("user_id").alias("sk"))
            .write.mode("overwrite")
            .parquet(tmp)
        )

    # sketch partials are rebuilt whenever the source file changes —
    # never served stale across a testdata refresh
    store = sidecar.cached(
        "hll_store", [os.path.join(sf_dir, "events.parquet")], "v1", build
    )
    merged = (
        spark.read.parquet(store)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"))
    )
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return exact.join(merged, "event_type").select(
        "event_type",
        "exact_users",
        (
            F.abs(F.col("est") - F.col("exact_users"))
            <= F.col("exact_users") * 0.05 + F.lit(3)
        ).alias("within_bound"),
    )


@register(
    "mv_incremental_join",
    oracle="""
    SELECT event_id, user_id, c_mktsegment, value
    FROM events JOIN customer ON user_id = c_custkey
    """,
)
def q_mv_incremental_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental maintenance of a JOIN view — the delta-join rule
    (ΔA ⋈ B ∪ A ⋈ ΔB) that mv_incremental_agg's mergeable-aggregate
    trick cannot express: when BOTH join sides receive batches, each
    arriving delta joins only against the OTHER side's accumulated
    store, and the union of all contributions reconstructs the full
    join without ever re-joining history against history.

    Replayed timeline: events arrive in 3 batches (ΔA, event_id mod
    3) interleaved with the customer dimension in 2 batches (ΔB,
    c_custkey mod 2). Every pair of batches meets exactly once —
    the later-arriving side's delta picks it up — so the final view
    equals the one-shot join EXACTLY (the oracle).

    An insert-only join view is APPEND-ONLY (new rows on either side
    only ever ADD join rows), so the store is a contribution LOG: each
    step writes ONLY its delta's join output to a step-keyed parquet
    directory and the view is the multi-path read of all step dirs.
    Per-step cost — compute AND write — is O(Δ ⋈ store), never
    O(A ⋈ B) and never O(|view|): rewriting the accumulated view per
    batch (the naive form) is an O(history)
    write per step, which at 100 TB ingest rates is a nightly rebuild
    wearing an incremental costume. Restart-safe the same way
    mv_incremental_agg is: a re-run step overwrites its OWN dir with
    identical content (deterministic batch slicing), never touching
    other steps. Updates/deletes would add retraction rows to the log
    plus a merge-on-read compaction — out of scope here. Spark
    broadcasts the small delta side of each step automatically."""
    path = sidecar.scratch("mv_join_view")
    events = load_table(spark, "events", sf_dir).select(
        "event_id", "user_id", "value"
    )
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey", "c_mktsegment"
    )
    ev_b = [events.filter(F.col("event_id") % 3 == k) for k in range(3)]
    cu_b = [cust.filter(F.col("c_custkey") % 2 == j) for j in range(2)]
    timeline = [("A", 0), ("B", 0), ("A", 1), ("B", 1), ("A", 2)]
    a_store = b_store = None
    step_dirs: list[str] = []
    for step, (side, k) in enumerate(timeline):
        if side == "A":
            delta = ev_b[k]
            contrib = (
                None
                if b_store is None
                else delta.join(
                    b_store, delta.user_id == b_store.c_custkey
                )
            )
            a_store = delta if a_store is None else a_store.unionByName(delta)
        else:
            delta = cu_b[k]
            contrib = a_store.join(delta, a_store.user_id == delta.c_custkey)
            b_store = delta if b_store is None else b_store.unionByName(delta)
        if contrib is None:
            continue
        step_dir = os.path.join(path, f"s{step}")
        out = contrib.select("event_id", "user_id", "c_mktsegment", "value")
        out.write.mode("overwrite").parquet(step_dir)
        step_dirs.append(step_dir)
    assert step_dirs
    return spark.read.parquet(*step_dirs)


@register(
    "join_asof_nearest",
    oracle=lambda: f"""
    WITH clicks AS (
      SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS pts,
             {fixed_point_sum_sql("value")} AS pvalue
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, ts
    ),
    prev AS (
      SELECT c.user_id, c.event_id, c.ts,
             p.pts AS prev_ts, p.pvalue AS prev_value
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts >= p.pts
    ),
    nxt AS (
      SELECT c.user_id, c.event_id,
             p.pts AS next_ts, p.pvalue AS next_value
      FROM clicks c ASOF LEFT JOIN purch p
        ON c.user_id = p.user_id AND c.ts <= p.pts
    )
    SELECT p.user_id, p.event_id, p.ts,
           CASE
             WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
             WHEN next_ts IS NULL THEN 'prev'
             WHEN prev_ts IS NULL THEN 'next'
             WHEN epoch_us(p.ts) - epoch_us(prev_ts)
                  <= epoch_us(next_ts) - epoch_us(p.ts) THEN 'prev'
             ELSE 'next'
           END AS direction,
           CASE
             WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
             WHEN next_ts IS NULL THEN prev_ts
             WHEN prev_ts IS NULL THEN next_ts
             WHEN epoch_us(p.ts) - epoch_us(prev_ts)
                  <= epoch_us(next_ts) - epoch_us(p.ts) THEN prev_ts
             ELSE next_ts
           END AS nearest_ts,
           CASE
             WHEN prev_ts IS NULL AND next_ts IS NULL THEN NULL
             WHEN next_ts IS NULL THEN prev_value
             WHEN prev_ts IS NULL THEN next_value
             WHEN epoch_us(p.ts) - epoch_us(prev_ts)
                  <= epoch_us(next_ts) - epoch_us(p.ts) THEN prev_value
             ELSE next_value
           END AS nearest_value
    FROM prev p JOIN nxt n ON p.user_id = n.user_id
                          AND p.event_id = n.event_id
    """,
)
def q_join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEAREST-direction as-of join — each click matches its closest
    purchase in EITHER direction (sensor alignment, quote matching
    where the fresher of before/after wins), ties broken toward the
    earlier (prev) row. Composed from the linear as-of operator run
    twice: backward as-is, forward by running the SAME backward
    operator over negated epoch-micros (order reversal turns
    carry-forward into carry-backward — no second code path to trust),
    then one equi-join picks the smaller |Δt| per click with integer
    microsecond arithmetic. Cost: two sort-shuffles + one equi-join,
    all linear; a fused single-sort variant (both frames over one
    window) would halve the sorts if this ever dominates a pipeline.
    The oracle runs DuckDB's native ASOF in both directions and
    applies the same tie rule."""
    events = load_table(spark, "events", sf_dir)
    clicks = events.filter(F.col("event_type") == "click").select(
        "user_id", "ts", "event_id"
    )
    purchases = events.filter(F.col("event_type") == "purchase").groupBy(
        "user_id", F.col("ts").alias("pts")
    ).agg(fixed_point_sum(F.col("value")).alias("pvalue"))

    prev = join_ops.join_asof(
        clicks,
        purchases.select(
            "user_id",
            F.col("pts").alias("prev_ts"),
            F.col("pvalue").alias("prev_value"),
        ),
        on=["user_id"],
        left_time="ts",
        right_time="prev_ts",
    ).select("user_id", "event_id", "ts", "prev_ts", "prev_value")

    clicks_neg = clicks.select(
        "user_id", "event_id", (-F.unix_micros("ts")).alias("nts")
    )
    purch_neg = purchases.select(
        "user_id",
        (-F.unix_micros("pts")).alias("pnts"),
        F.col("pts").alias("next_ts"),
        F.col("pvalue").alias("next_value"),
    )
    nxt = join_ops.join_asof(
        clicks_neg,
        purch_neg,
        on=["user_id"],
        left_time="nts",
        right_time="pnts",
    ).select("user_id", "event_id", "next_ts", "next_value")

    j = prev.join(nxt, ["user_id", "event_id"])
    d_prev = F.unix_micros("ts") - F.unix_micros("prev_ts")
    d_next = F.unix_micros("next_ts") - F.unix_micros("ts")
    both_null = F.col("prev_ts").isNull() & F.col("next_ts").isNull()
    pick_prev = F.col("next_ts").isNull() | (
        F.col("prev_ts").isNotNull() & (d_prev <= d_next)
    )

    def pick(prev_col, next_col):
        return F.when(both_null, F.lit(None)).when(
            pick_prev, F.col(prev_col)
        ).otherwise(F.col(next_col))

    return j.select(
        "user_id",
        "event_id",
        "ts",
        F.when(both_null, F.lit(None).cast("string"))
        .when(pick_prev, F.lit("prev"))
        .otherwise(F.lit("next"))
        .alias("direction"),
        pick("prev_ts", "next_ts").alias("nearest_ts"),
        pick("prev_value", "next_value").alias("nearest_value"),
    )


@register(
    "join_lateral_topn",
    oracle="""
    SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
    FROM orders o,
    LATERAL (SELECT l_linenumber, l_extendedprice FROM lineitem
             WHERE l_orderkey = o.o_orderkey
             ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
    WHERE o.o_totalprice > 400000
    """,
)
def q_join_lateral_topn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery join — top-2 priciest line items
    PER qualifying order, written the way an analyst writes it
    (per-row subquery with ORDER BY ... LIMIT) and decorrelated by
    Catalyst into a set-based plan instead of executing per row.
    This is the SQL-surface twin of topk_per_group: same semantics,
    but arriving via the optimizer's DecorrelateInnerQuery /
    RewriteLateralSubquery path — worth covering separately because
    it's the shape migrated warehouse SQL actually contains. The
    deterministic ORDER BY tie-break (price, then line number) makes
    the LIMIT cut engine-exact; DuckDB runs the identical LATERAL
    text."""
    load_table(spark, "orders", sf_dir).createOrReplaceTempView("lat_orders")
    load_table(spark, "lineitem", sf_dir).createOrReplaceTempView("lat_li")
    return spark.sql(
        """
        SELECT o.o_orderkey, t.l_linenumber, t.l_extendedprice
        FROM lat_orders o,
        LATERAL (SELECT l_linenumber, l_extendedprice FROM lat_li
                 WHERE l_orderkey = o.o_orderkey
                 ORDER BY l_extendedprice DESC, l_linenumber LIMIT 2) t
        WHERE o.o_totalprice > 400000
        """
    )


@register(
    "analytics_ab_test",
    oracle="""
    WITH assign AS (
      SELECT user_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)),
                                            1, 4)) AS BIGINT) % 2 = 0
                  THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' AND value > 150
                      THEN 1 ELSE 0 END) AS converted
      FROM events GROUP BY user_id
    ),
    v AS (
      SELECT variant, COUNT(*) AS n_users,
             CAST(SUM(converted) AS BIGINT) AS n_converted
      FROM assign GROUP BY variant
    ),
    wide AS (
      SELECT
        (SELECT n_users FROM v WHERE variant = 'A') AS n_a,
        (SELECT n_converted FROM v WHERE variant = 'A') AS c_a,
        (SELECT n_users FROM v WHERE variant = 'B') AS n_b,
        (SELECT n_converted FROM v WHERE variant = 'B') AS c_b
    )
    SELECT n_a, c_a, n_b, c_b,
           ROUND(CAST(c_a AS DOUBLE) / n_a, 6) AS rate_a,
           ROUND(CAST(c_b AS DOUBLE) / n_b, 6) AS rate_b,
           ROUND(
             (CAST(c_a AS DOUBLE) / n_a - CAST(c_b AS DOUBLE) / n_b)
             / sqrt((CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1 - CAST(c_a + c_b AS DOUBLE) / (n_a + n_b))
                    * (1.0 / n_a + 1.0 / n_b)),
             6) AS z_score
    FROM wide
    """,
)
def q_analytics_ab_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion A/B test evaluation — the experimentation
    primitive: users assigned to variants by a deterministic md5 hash
    bit (the engine-portable twin of a production bucketing hash, so
    assignment is reproducible across engines AND across reruns —
    never RAND()), conversion = any purchase above 150 (every user purchases
    SOMETHING in this fixture, so the raw any-purchase rate is a
    degenerate 100% — the thresholded goal is the realistic readout),
    and the pooled
    two-proportion z-statistic computed from exact integer counts
    with the identical expression tree on both engines (IEEE division
    and sqrt are exactly rounded, so even before the 6-dp rounding the
    doubles agree).

    Scale shape: one per-user aggregate (the conversion flag), then
    ONE conditional global aggregate produces the whole 2×2 table in
    a single row (no per-variant filter branches to re-join) —
    experiment readouts over 100 TB of raw events reduce to the same
    two shuffles as a count."""
    ev = load_table(spark, "events", sf_dir)
    assign = ev.groupBy("user_id").agg(
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") > 150),
                1,
            ).otherwise(0)
        ).alias("converted")
    ).select(
        F.when(
            F.conv(
                F.substring(F.md5(F.col("user_id").cast("string")), 1, 4),
                16,
                10,
            ).cast("long")
            % 2
            == 0,
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "converted",
    )
    is_a = F.col("variant") == "A"
    wide = assign.agg(
        F.count(F.when(is_a, 1)).alias("n_a"),
        F.sum(F.when(is_a, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_a"),
        F.count(F.when(~is_a, 1)).alias("n_b"),
        F.sum(F.when(~is_a, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c_b"),
    )
    rate_a = F.col("c_a").cast("double") / F.col("n_a")
    rate_b = F.col("c_b").cast("double") / F.col("n_b")
    pooled = (F.col("c_a") + F.col("c_b")).cast("double") / (
        F.col("n_a") + F.col("n_b")
    )
    z = (rate_a - rate_b) / F.sqrt(
        pooled
        * (1 - pooled)
        * (1.0 / F.col("n_a") + 1.0 / F.col("n_b"))
    )
    return wide.select(
        "n_a",
        "c_a",
        "n_b",
        "c_b",
        F.round(rate_a, 6).alias("rate_a"),
        F.round(rate_b, 6).alias("rate_b"),
        F.round(z, 6).alias("z_score"),
    )
