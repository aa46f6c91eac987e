"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: exact, O(queries × corpus) — the baseline
  and the correctness oracle. Fine when the query set is small or the
  corpus is broadcastable.
- LSH-bucketed ANN (deterministic sign-projection / p-stable
  projections): sub-linear candidate generation — the 100 TB path,
  where neither side fits anywhere.

Both keep all arithmetic in Catalyst higher-order expressions
(functions.vectors) — no Python UDFs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.functions.vectors import (
    as_double_array,
    cosine_expr,
    dot_expr,
    norm_expr,
)
from bigdatafinalproject_hockey_spark.operators.partitioning import ensure_parallelism
from bigdatafinalproject_hockey_spark.operators.windows import topk_per_group


# ---------------------------------------------------------------------------
# Round-13 optimization helpers: broadcast single-row candidate tables
# + expression-level argmax/argmin folds.
#
# The quantizer/encode steps of the IVF/PQ family are argmax problems
# over a SMALL candidate set (≤50 centroids, 16 codes/subspace) per
# corpus row. Through round 12 they were computed by exploding the
# (row × candidate) grid and ranking it back down — a window rank
# (Sort + Exchange + Sort + Window) for the cell assignment, and a
# struct-ordered min_by for the PQ encode, which Spark cannot
# hash-aggregate (struct ordering keys force SortAggregate with a
# flanking Sort on BOTH sides of its exchange). At 100× corpus scale
# that shuffles and sorts a |corpus|×C grid whose rows carry the full
# 64-d vector, to answer a question that never needed to leave the
# row: which candidate is nearest?
#
# Round 13 replaces that shape (guide §2.3 "shuffle keys/metadata,
# not payloads", §2.4 "remove shuffles outright"): the candidate set
# is folded into ONE broadcast row (an array of structs, each
# carrying its precomputed norm), crossJoined (1-row broadcast
# nested loop — the allowlisted pattern) into the corpus scan, and
# the argmax runs as a Catalyst `aggregate` fold inside the
# projection. The assignment/encode stage becomes a pure map — zero
# exchange, zero sort — and downstream consumers shuffle only what
# they always needed (cells, codes). Tie-breaking is encoded
# explicitly in the fold's comparison (score, then candidate id), so
# results are bit-identical to the window-rank form: same rounded
# scores, same winner on ties, same NULL (zero-vector) handling.
# ---------------------------------------------------------------------------


def _pack_centroids(
    centroids: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """ONE-row frame: ``cents`` = array of (cent_id, cemb, cnorm)
    structs sorted by cent_id, for broadcast into a per-row argmax
    fold. The norm is precomputed once per centroid here (and once
    per corpus row by the caller) so the fold's per-candidate work is
    a single dot product instead of dot + two norms — bit-identical,
    the norm subexpression is simply evaluated once (guide §1.2
    "per-task work")."""
    cent = centroids.select(
        F.col(id_col).cast("long").alias("cent_id"),
        as_double_array(vec_col).alias("cemb"),
    )
    return cent.select(
        F.struct(
            F.col("cent_id"), F.col("cemb"), norm_expr("cemb").alias("cnorm")
        ).alias("c")
    ).agg(F.array_sort(F.collect_list("c")).alias("cents"))


def _best_cell_fold(
    emb: Column, vnorm: Column, cents: Column, round_decimals: int = 6
) -> Column:
    """Argmax over a packed centroid array: struct(cs, cell) of the
    candidate with the highest ROUNDED cosine, centroid-id tiebreak —
    exactly the (cs DESC NULLS LAST, cent_id ASC) window-rank rule the
    round-12 form applied to the exploded grid. NULL cosines (zero
    vectors) never replace the accumulator; if every candidate's
    cosine is NULL the result cell is NULL (callers supply their own
    fallback, mirroring rank-1-of-all-NULLs semantics)."""

    # Two layers so each cosine is computed exactly ONCE per
    # candidate: HOF lambdas get no common-subexpression elimination,
    # so a fold whose comparison mentions `cs` three times would
    # evaluate three dot products per candidate. transform() scores,
    # aggregate() compares struct fields (cheap attribute reads).
    scored = F.transform(
        cents,
        lambda x: F.struct(
            F.round(
                F.when(
                    vnorm * x["cnorm"] > 0,
                    dot_expr(emb, x["cemb"]) / (vnorm * x["cnorm"]),
                ),
                round_decimals,
            ).alias("cs"),
            x["cent_id"].alias("cell"),
        ),
    )

    def step(acc, x):
        better = (x["cs"] > acc["cs"]) | (
            (x["cs"] == acc["cs"])
            & (acc["cell"].isNull() | (x["cell"] < acc["cell"]))
        )
        return F.when(better, x).otherwise(acc)

    init = F.struct(
        F.lit(-2.0).alias("cs"), F.lit(None).cast("long").alias("cell")
    )
    return F.aggregate(scored, init, step)


# Packed-ordinal argmax for the BUCKETED assignment (round 13): the
# banded candidate join must stay a broadcast HASH join (a single-row
# map would pay O(|map|) per lookup — Spark map element_at is a linear
# scan), so the per-vector argmax over its ~num_bands candidate rows
# is computed by packing (rounded cosine, centroid id) into ONE
# non-negative long and taking MAX — a plain HashAggregate with
# map-side partial combine, instead of the round-12 window rank whose
# exchange sorted the exploded rows twice. The encoding is exact:
# cs is already on the 1e-6 grid (F.round(cs, 6)), so
# csq = round(cs * 1e6) is an integer in [-1e6, 1e6] recovering the
# grid losslessly, and ord = (csq + OFF) * 2^40 + (2^40 - 1 - cent_id)
# orders identically to (cs DESC, cent_id ASC). cent_id must stay
# below 2^40 (~1.1e12) — the bench's 100× offset ids top out ~1e10.
_ORD_OFF = 2_000_000
_ORD_M = 1 << 40


def _packed_cs_ord(cs: Column, cent_id: Column) -> Column:
    """(csq + OFF) * M + (M - 1 - cent_id); NULL iff cs is NULL."""
    csq = F.round(cs * 1_000_000).cast("long")
    return (csq + F.lit(_ORD_OFF)) * F.lit(_ORD_M) + (
        F.lit(_ORD_M - 1) - cent_id
    )


def _packed_ord_cell(bord: Column) -> Column:
    """Decode the centroid id back out of a packed ordinal."""
    return F.lit(_ORD_M - 1) - F.pmod(bord, F.lit(_ORD_M))


def brute_force_cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_decimals: int = 6,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (small by contract); the corpus streams
    — one pass, no shuffle until the per-query top-k, which moves only
    k rows per query. Scores are rounded BEFORE ranking so ranking is
    stable across engines; ties break on neighbor id.

    Output: query_id, neighbor_id, cosine, rnk.
    """
    # Round 13: norms are computed once per query and once per corpus
    # row (materialized columns) instead of once per PAIR — the scored
    # grid's per-pair work drops to a single dot product.
    # Bit-identical: same sqrt/multiply/divide over the same values.
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("q_emb")
    ).withColumn("q_n", norm_expr("q_emb"))
    c = ensure_parallelism(corpus).select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("c_emb")
    ).withColumn("c_n", norm_expr("c_emb"))
    scored = c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id")).select(
        "query_id",
        "neighbor_id",
        F.round(
            F.when(
                F.col("q_n") * F.col("c_n") > 0,
                dot_expr(F.col("q_emb"), F.col("c_emb"))
                / (F.col("q_n") * F.col("c_n")),
            ),
            round_decimals,
        ).alias("cosine"),
    )
    top = topk_per_group(
        scored, ["query_id"], "cosine DESC, neighbor_id", k
    )
    return top.select(
        "query_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk")
    )


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.95,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (id_a < id_b) above a
    similarity threshold — brute-force within-block form; use
    ann_lsh_near_pairs at corpus scale."""
    df = ensure_parallelism(df)
    a = df.select(F.col(id_col).alias("id_a"), as_double_array(vec_col).alias("e_a"))
    b = df.select(F.col(id_col).alias("id_b"), as_double_array(vec_col).alias("e_b"))
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a",
            "id_b",
            F.round(cosine_expr(F.col("e_a"), F.col("e_b")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
    )


def ivf_cell_assignment(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_decimals: int = 6,
    widen: bool = True,
    packed: DataFrame | None = None,
) -> DataFrame:
    """Nearest-centroid cell assignment — the IVF coarse quantizer as
    a standalone op: the (tiny) centroid set is folded into ONE
    broadcast row and each corpus row computes its argmax cell inside
    the projection (rounded cosine, centroid-id tiebreak — the same
    rule the round-12 window rank applied to the exploded grid, so
    the output is bit-identical). Through round 12 this exploded a
    |corpus|×C grid and ranked it back down with a window — an
    Exchange + two Sorts carrying the full vector per scored row;
    the fold form is a PURE MAP stage: zero exchange, zero sort
    (round 13, guide §2.4). Output: vid, cell, emb (double array),
    vnorm (the precomputed vector norm, for downstream cosine
    consumers to reuse). Shared by ``ivf_cosine_topk`` (candidate
    cells) and semantic dedup (cluster blocking) so the two can never
    diverge on assignment semantics."""
    c = corpus.select(F.col(id_col).alias("vid"), as_double_array(vec_col).alias("emb"))
    # ``widen=False`` skips the scan-layout repartition for callers
    # folding a few-row slice (e.g. the query-side cell lookup), where
    # a 32-way round-robin of 10 rows is pure overhead; ``packed``
    # lets a caller that assigns two frames against the SAME centroid
    # set (ivfpq_topk) share one packed row.
    if widen:
        c = ensure_parallelism(c)
    c = c.withColumn("vnorm", norm_expr("emb"))
    if packed is None:
        packed = _pack_centroids(centroids, id_col, vec_col)
    best = _best_cell_fold(
        F.col("emb"), F.col("vnorm"), F.col("cents"), round_decimals
    )
    return (
        c.crossJoin(F.broadcast(packed))
        .withColumn("best", best)
        .select(
            "vid",
            # all-NULL-cosine rows (zero vectors) take the smallest
            # centroid id — rank-1 of a DESC NULLS LAST ordering, as
            # before.
            F.coalesce(
                F.col("best.cell"), F.element_at("cents", 1)["cent_id"]
            ).alias("cell"),
            "emb",
            "vnorm",
        )
    )


def ivf_cosine_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    query_ids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    round_decimals: int = 6,
    nprobe: int = 1,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """IVF (inverted-file) approximate nearest neighbors: assign every
    vector to its nearest centroid, then search within the query's
    ``nprobe`` nearest cells.

    This is the coarse-quantization scale path: with C centroids the
    per-query work drops from |corpus| to ~nprobe×|corpus|/C, and the
    cell assignment is a broadcast map over one corpus scan. Centroids
    are supplied by the caller (deterministic subset or a KMeans fit),
    so the whole computation is engine-reproducible — unlike
    seeded-hash LSH this variant IS oracle-checkable. Raising
    ``nprobe`` trades linearly more candidate scoring for recall
    (recovers neighbors that fall just across a Voronoi boundary);
    tests/test_modules.py pins the recall improvement.

    ``query_ids``: one column ``id_col`` selecting query vectors (must
    exist in the corpus). Output: query_id, neighbor_id, cosine, rnk.

    ``assignment``: optionally a precomputed (and ideally persisted)
    (vid, cell, emb) frame from ``ivf_cell_assignment`` over the same
    corpus/centroids — callers that need the assignment for another
    leg too (ann_recall_eval's ground-truth side) pass it here so the
    quantizer pass materializes once per QUERY, not once per leg.
    """
    cent = centroids.select(
        F.col(id_col).alias("cent_id"), as_double_array(vec_col).alias("cemb")
    )
    # Round 13: the fold-form assignment is a pure map stage, so this
    # op no longer persists it — there is only ONE corpus-sized
    # consumer left (the per-cell candidate join below; the query
    # side reads |queries| rows from a separate broadcast-pruned
    # scan instead of the corpus-sized assignment). A caller-supplied
    # ``assignment`` (ann_recall_eval's persisted multi-leg share) is
    # honored unchanged.
    assign = (
        assignment
        if assignment is not None
        else ivf_cell_assignment(corpus, centroids, id_col, vec_col, round_decimals)
    )
    # Query-side probe list: re-rank the (tiny, broadcast) centroid set
    # per query vector and take the nprobe nearest cells. For nprobe=1
    # this reproduces the stored assignment exactly (same ordering,
    # same tiebreak), so the oracle-checked registered query is
    # unchanged; for nprobe>1 each query also searches runner-up cells.
    # Corpus vectors keep their single home cell — cells stay disjoint,
    # so no candidate is scored twice.
    q_base = (
        assign
        if assignment is not None
        else corpus.select(
            F.col(id_col).alias("vid"), as_double_array(vec_col).alias("emb")
        )
    )
    q_vecs = q_base.join(
        F.broadcast(query_ids.select(F.col(id_col).alias("vid"))), "vid"
    ).select("vid", "emb")
    q_scored = q_vecs.crossJoin(F.broadcast(cent)).select(
        "vid",
        "emb",
        "cent_id",
        F.round(cosine_expr(F.col("emb"), F.col("cemb")), round_decimals).alias("cs"),
    )
    q = topk_per_group(
        q_scored, ["vid"], "cs DESC, cent_id", nprobe
    ).select(
        F.col("vid").alias("query_id"),
        F.col("emb").alias("qemb"),
        norm_expr(F.col("emb")).alias("qnorm"),
        F.col("cent_id").alias("cell"),
    )
    # The probe list is |queries|×nprobe rows — a sample by contract —
    # so broadcast it into the per-cell candidate join: the corpus-
    # sized assignment streams from its map/persisted form with NO
    # repartition-by-cell shuffle (round 7, VERDICT r6 item 7 — this
    # was a SortMergeJoin that re-shuffled the whole assignment).
    # Norms are precomputed once per side (the assignment's vnorm
    # column when present) so the per-candidate work is one dot
    # product — bit-identical cosine, same expression shape.
    nvorm = (
        F.col("vnorm") if "vnorm" in assign.columns else norm_expr(F.col("emb"))
    )
    cand = F.broadcast(q).join(assign, "cell").filter(
        F.col("vid") != F.col("query_id")
    ).select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        F.round(
            F.when(
                F.col("qnorm") * nvorm > 0,
                dot_expr(F.col("qemb"), F.col("emb")) / (F.col("qnorm") * nvorm),
            ),
            round_decimals,
        ).alias("cosine"),
    )
    top = topk_per_group(
        cand, ["query_id"], "cosine DESC, neighbor_id", k
    )
    return top.select(
        "query_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk")
    )


def class_mean_classify(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
    quant: int = 1_000_000,
    round_decimals: int = 6,
) -> DataFrame:
    """Nearest-class-mean (Rocchio) classification over an embedding
    column — the cheapest useful embedding classifier and the standard
    prototype baseline: one distributed pass computes each class's
    mean vector, then every vector is assigned to the class whose mean
    it is most cosine-similar to.

    Determinism across engines: a parallel double sum is
    order-dependent in its last bits, so components are quantized to
    ``1/quant`` units and summed as INTEGERS (exact, associative, any
    partition order), and each mean component is the integer sum
    divided by the class count — the same IEEE division everywhere.
    Scale design: posexplode → groupBy(label, pos) integer sums is one
    shuffle of dims×classes partial rows (map-side combine does the
    heavy lifting); the resulting class-mean table is CLASSES rows —
    broadcast — so classification is a map-side pass over the corpus,
    exactly the shape that survives a 100 TB corpus with a bounded
    class count.

    Output: vec_id, label (true), pred_label, cosine (to the winning
    class mean, rounded), correct (boolean)."""
    q = corpus.select(
        F.col(id_col).alias("vec_id"),
        F.col(label_col).alias("label"),
        as_double_array(vec_col).alias("emb"),
    )
    comp = q.select(
        "label", F.posexplode("emb").alias("pos", "v")
    ).select(
        "label",
        "pos",
        F.round(F.col("v") * quant).cast("long").alias("vq"),
    )
    sums = comp.groupBy("label", "pos").agg(
        F.sum("vq").alias("s"), F.count(F.lit(1)).alias("n")
    )
    means = (
        sums.groupBy("label")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        (F.col("s") / F.col("n") / F.lit(float(quant))).alias(
                            "m"
                        ),
                    )
                )
            ).alias("pairs")
        )
        .select(
            F.col("label").alias("cand"),
            F.transform("pairs", lambda p: p["m"]).alias("cmean"),
        )
    )
    # Round 13: the |classes|-row mean table folds into ONE broadcast
    # row and each vector computes its argmax class inside the
    # projection — the classification pass is a pure map (zero
    # exchange), where round 12 exploded a |corpus|×classes grid and
    # ranked it back down through a window exchange. Ordering
    # (cs DESC NULLS LAST, label ASC) and the emitted rounded cosine
    # are bit-identical: same per-pair expression, explicit tiebreak
    # in the fold, NULL cosines never replace the accumulator, and an
    # all-NULL row degrades to (first label, NULL cosine) exactly as
    # rank-1-of-all-NULLs did.
    packed = means.select(
        F.struct(
            F.col("cand"), F.col("cmean"), norm_expr("cmean").alias("cnorm")
        ).alias("e")
    ).agg(F.array_sort(F.collect_list("e")).alias("cands"))
    vnorm = norm_expr(F.col("emb"))
    scored_arr = F.transform(
        F.col("cands"),
        lambda x: F.struct(
            F.round(
                F.when(
                    F.col("vnorm") * x["cnorm"] > 0,
                    dot_expr(F.col("emb"), x["cmean"])
                    / (F.col("vnorm") * x["cnorm"]),
                ),
                round_decimals,
            ).alias("cs"),
            x["cand"].alias("cand"),
        ),
    )

    def step(acc, x):
        better = (x["cs"] > acc["cs"]) | (
            (x["cs"] == acc["cs"]) & (x["cand"] < acc["cand"])
        )
        return F.when(better, x).otherwise(acc)

    label_type = dict(means.dtypes)["cand"]
    init = F.struct(
        F.lit(-2.0).alias("cs"), F.lit(None).cast(label_type).alias("cand")
    )
    best = F.aggregate(scored_arr, init, step)
    out = (
        q.crossJoin(F.broadcast(packed))
        .withColumn("vnorm", vnorm)
        .withColumn("best", best)
    )
    return out.select(
        "vec_id",
        "label",
        F.coalesce(
            F.col("best.cand"), F.element_at("cands", 1)["cand"]
        ).alias("pred_label"),
        F.when(F.col("best.cand").isNotNull(), F.col("best.cs")).alias(
            "cosine"
        ),
        (
            F.coalesce(F.col("best.cand"), F.element_at("cands", 1)["cand"])
            == F.col("label")
        ).alias("correct"),
    )


def computed_bits_per_band(
    num_centroids: int,
    num_bands: int = 8,
    target_candidates: int = 8,
    floor: int = 8,
) -> int:
    """Sign-LSH key width that keeps the bucketed quantizer LINEAR as
    the codebook grows with the corpus (round 8 — VERDICT r7 item 1):
    expected RANDOM centroid candidates per vector in
    ``bucketed_ivf_assignment`` are ``num_bands × C / 2^bits``, so
    pinning that at ``target_candidates`` gives

        bits = ⌈log2(num_bands × C / target_candidates)⌉
             = ⌈log2 C⌉                    (num_bands == target)

    floored at ``floor`` (the oracle-pinned driver-scale family; fewer
    bits at tiny C would only add candidates, never lose them). The
    100× probe measured both regimes directly: at 200k vectors
    (C = 4000) the FIXED 8-bit width scores 29.1M candidate cosines
    (∝ C/256 per vector — quadratic, official x100 165.8×), while this
    rule's 12-bit width (~8 candidates/vector) runs the same operator
    at the linear extrapolation of the 1× pair-scan cost. At every
    driver SF (≤ 2000 vectors, C ≤ 40) the rule lands exactly on the
    8-bit floor, so the computed-width path is bit-identical to the
    static 8-bit oracle family there (pinned by test). True
    nearest-centroid collisions are geometry-driven (clustered
    vectors agree with their centroid's sign bits far above the 2^-bits
    random rate), so raising bits with C prunes the RANDOM candidate
    mass while keeping the recall mass — the orphan fallback stays
    conservative either way."""
    import math

    raw = math.ceil(
        math.log2(max(num_bands * max(num_centroids, 1) / target_candidates, 1))
    )
    return max(floor, raw)


def _sign_band_key_col(
    emb_col: str, band: int, bits_per_band: int = 8, dim: int = 64
) -> Column:
    """Integer sign-LSH key of one band (``bits_per_band`` sign bits of
    deterministic hyperplane projections) — the same key family as
    ``cosine_lsh_near_pairs`` (identical ``hyperplane_signs`` matrix),
    exposed standalone so the bucketed IVF assignment below shares its
    literals with a SQL oracle.

    Built as ONE ``F.expr`` string, not per-literal ``F.lit`` Columns:
    a band is bits×dim ≈ 512 literals, and driving each through py4j
    costs seconds of driver time per query build (measured: ~11 s for
    8 bands two-sided) — the JVM parses the equivalent SQL string in
    milliseconds. The lambda shapes mirror ``functions.vectors
    .dot_expr`` exactly (zip_with multiply, sequential aggregate) so
    the arithmetic is bit-identical to the Column form."""
    signs = hyperplane_signs((band + 1) * bits_per_band, dim)
    bits = []
    for i in range(bits_per_band):
        row = ", ".join(f"{s:.1f}D" for s in signs[band * bits_per_band + i])
        proj = (
            f"aggregate(zip_with({emb_col}, array({row}), "
            f"(x, y) -> x * y), 0.0D, (acc, x) -> acc + x)"
        )
        bits.append(f"(CASE WHEN {proj} >= 0 THEN {1 << i} ELSE 0 END)")
    return F.expr("(" + " + ".join(bits) + ")")


def _sign_band_key_sql(
    emb_expr: str, band: int, bits_per_band: int = 8, dim: int = 64
) -> str:
    """DuckDB twin of ``_sign_band_key_col`` — identical hyperplane
    literals, identical bit packing."""
    signs = hyperplane_signs((band + 1) * bits_per_band, dim)
    bits = []
    for i in range(bits_per_band):
        row = ",".join(str(int(s)) for s in signs[band * bits_per_band + i])
        bits.append(
            f"(CASE WHEN list_dot_product({emb_expr}, [{row}]::DOUBLE[]) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return "(" + " + ".join(bits) + ")"


def bucketed_ivf_assignment(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    bits_per_band: int = 8,
    num_bands: int = 8,
    round_decimals: int = 6,
) -> DataFrame:
    """IVF cell assignment that stays LINEAR when the codebook grows
    with the corpus — the missing piece that let ``ivf_cell_assignment``
    force a bounded C (VERDICT r6 item 3: flat nearest-centroid search
    is |corpus|×C, so C ∝ n makes the quantizer itself quadratic).

    Instead of scoring every centroid, each vector scores only the
    centroids that share a sign-LSH band bucket with it (the
    deterministic hyperplane family of ``cosine_lsh_near_pairs``, so a
    DuckDB oracle embeds identical literals): expected candidates per
    vector ≈ num_bands × C / 2^bits_per_band, so ``bits_per_band``
    grows ~log2(C) at larger corpora and the assignment pass is
    O(n × num_bands) — one broadcast left join, one ranking window.

    Vectors colliding with no centroid fall back to a deterministic
    singleton-family cell, ``-1 - band0_key`` (disjoint from centroid
    ids, which are ≥ 0): orphans are deduped only against LSH-similar
    orphans. The orphan population is self-limiting — its per-bucket
    size is n·exp(-num_bands·C/2^bits)/2^bits, which peaks at a small
    constant when C ∝ n — and on clustered production embeddings (the
    SemDeDup regime, where vectors sit near a codebook centroid)
    orphans are rare; on adversarially uniform data the fallback is
    conservative (near-dups missed, never falsely dropped).

    Output: vid, cell (long), emb (double array).
    """
    base = ensure_parallelism(corpus).select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("emb")
    )
    keyed = base.select(
        "vid",
        "emb",
        F.array(
            *[
                _sign_band_key_col("emb", b, bits_per_band, dim)
                for b in range(num_bands)
            ]
        ).alias("keys"),
    )
    # NOTE: do not also project keys[0] here — CollapseProject would
    # inline the full 64-hyperplane array expression TWICE (once for
    # the element, once for the generator), doubling both analysis
    # and per-row eval. The orphan fallback key is recomputed after
    # the ranking window instead, where it touches n rows once.
    exploded = keyed.select(
        "vid",
        "emb",
        F.posexplode("keys").alias("band", "key"),
    )
    cent = centroids.select(
        F.col(id_col).alias("cent_id"), as_double_array(vec_col).alias("cemb")
    )
    ck = cent.select(
        "cent_id",
        "cemb",
        F.posexplode(
            F.array(
                *[
                    _sign_band_key_col("cemb", b, bits_per_band, dim)
                    for b in range(num_bands)
                ]
            )
        ).alias("band", "key"),
    )
    # Packed-ordinal argmax instead of a window rank (round 13): all
    # of a vector's candidate rows come out of one posexplode, so the
    # partial MAX collapses them map-side and the exchange carries one
    # compact row per vector — no sorts, no SortAggregate (a
    # struct-keyed max_by would force one). Ordering/tiebreak/NULL
    # semantics are identical to the old (cs DESC NULLS LAST,
    # cent_id ASC NULLS LAST) rank-1: MAX skips NULL ordinals, and an
    # all-NULL group (no bucket hit) yields NULL → the orphan
    # fallback cell.
    scored = exploded.join(F.broadcast(ck), ["band", "key"], "left").select(
        "vid",
        "emb",
        _packed_cs_ord(
            F.round(cosine_expr(F.col("emb"), F.col("cemb")), round_decimals),
            F.col("cent_id").cast("long"),
        ).alias("ord"),
    )
    best = scored.groupBy("vid", "emb").agg(F.max("ord").alias("bord"))
    return best.select(
        "vid",
        F.coalesce(
            _packed_ord_cell(F.col("bord")),
            F.lit(-1) - _sign_band_key_col("emb", 0, bits_per_band, dim),
        )
        .cast("long")
        .alias("cell"),
        "emb",
        norm_expr("emb").alias("vnorm"),
    )


def bucketed_ivf_assignment_from_keys(
    keys_df: DataFrame,
    centroid_stride: int = 50,
    round_decimals: int = 6,
) -> DataFrame:
    """``bucketed_ivf_assignment`` over PRECOMPUTED sign-LSH keys —
    the ingest-amortized form (round 7): the 64-hyperplane key
    expressions dominate the per-run cost of the from-scratch form
    (measured: ~3 s of Catalyst work per plan, data-independent), and
    at 100 TB LSH keys are computed once at ingest and stored
    columnar beside the vectors, not re-derived per query. This
    variant reads a (vid, emb, keys) sidecar (see
    queries/scale.py:_emb_signkeys_bucketed), takes the codebook as
    every ``centroid_stride``-th row OF THE SIDECAR (same rows, same
    stored keys), and runs the identical candidate join / ranking /
    orphan fallback — byte-identical output to the from-scratch form
    by construction, which the shared DuckDB oracle (recomputing keys
    from raw embeddings) verifies end-to-end.

    Output: vid, cell (long), emb (double array)."""
    cent = keys_df.filter(F.col("vid") % centroid_stride == 0)
    ck = cent.select(
        F.col("vid").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.posexplode("keys").alias("band", "key"),
    )
    # keys is a STORED column here, so projecting keys[0] beside the
    # generator duplicates an attribute reference, not an expression
    # forest (unlike the from-scratch form, which recomputes the
    # orphan key after the window for exactly that reason).
    exploded = keys_df.select(
        "vid",
        "emb",
        F.col("keys")[0].alias("key0"),
        F.posexplode("keys").alias("band", "key"),
    )
    # Packed-ordinal argmax — see bucketed_ivf_assignment above for
    # the round-13 rationale and the exactness argument.
    scored = exploded.join(F.broadcast(ck), ["band", "key"], "left").select(
        "vid",
        "emb",
        "key0",
        _packed_cs_ord(
            F.round(cosine_expr(F.col("emb"), F.col("cemb")), round_decimals),
            F.col("cent_id").cast("long"),
        ).alias("ord"),
    )
    best = scored.groupBy("vid", "emb", "key0").agg(F.max("ord").alias("bord"))
    return best.select(
        "vid",
        F.coalesce(_packed_ord_cell(F.col("bord")), F.lit(-1) - F.col("key0"))
        .cast("long")
        .alias("cell"),
        "emb",
        norm_expr("emb").alias("vnorm"),
    )


def bucketed_ivf_assign_cte(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 50,
    dim: int = 64,
    bits_per_band: int = 8,
    num_bands: int = 8,
) -> str:
    """DuckDB CTE chain replicating ``bucketed_ivf_assignment`` over an
    every-``centroid_stride``-th-vector codebook EXACTLY (same
    hyperplane literals, same band keys, same rounded-cosine ranking,
    same orphan fallback). Ends with ``assign(vec_id, cell, emb)`` —
    compose with a trailing query."""
    cos = (
        "ROUND(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )
    vkeys = ", ".join(
        _sign_band_key_sql("emb", b, bits_per_band, dim) for b in range(num_bands)
    )
    ckeys = ", ".join(
        _sign_band_key_sql("cemb", b, bits_per_band, dim) for b in range(num_bands)
    )
    return f"""
    e AS (SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS emb FROM {table}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
             WHERE vec_id % {centroid_stride} = 0),
    vk AS (
      SELECT vec_id, emb, keys[1] AS key0, i AS band, keys[i + 1] AS key
      FROM (SELECT vec_id, emb, [{vkeys}] AS keys FROM e),
           range({num_bands}) t(i)
    ),
    ck AS (
      SELECT cent_id, cemb, i AS band, keys[i + 1] AS key
      FROM (SELECT cent_id, cemb, [{ckeys}] AS keys FROM cent),
           range({num_bands}) t(i)
    ),
    cand AS (
      SELECT vk.vec_id, vk.emb, vk.key0, ck.cent_id,
             {cos.format(a="vk.emb", b="ck.cemb")} AS cs
      FROM vk LEFT JOIN ck ON vk.band = ck.band AND vk.key = ck.key
    ),
    ranked_assign AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id
        ORDER BY cs DESC NULLS LAST, cent_id ASC NULLS LAST) AS rn
      FROM cand
    ),
    assign AS (
      SELECT vec_id,
             CAST(COALESCE(cent_id, -1 - key0) AS BIGINT) AS cell,
             emb
      FROM ranked_assign WHERE rn = 1
    )
"""


# Key widths the width-adaptive oracle below embeds literal hyperplane
# families for: 8 (every driver SF), 9 (the bench's 10× corpus), 12
# (the 100× corpus), with headroom to 13 — i.e. corpora up to
# stride × 2^13 = 409,600 vectors at stride 50. Beyond that the CASE
# falls through to DuckDB error() (loud, never a silent-width
# mismatch); widen this tuple if a larger fixture ever needs an oracle.
AUTOKEY_ORACLE_WIDTHS = tuple(range(8, 14))


def bucketed_ivf_assign_cte_autokey(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_stride: int = 50,
    dim: int = 64,
    num_bands: int = 8,
    widths: tuple = AUTOKEY_ORACLE_WIDTHS,
) -> str:
    """Width-ADAPTIVE DuckDB twin of ``bucketed_ivf_assignment`` for
    the computed-key-width path (round 9 — ADVICE r8 medium): the
    static ``bucketed_ivf_assign_cte`` pins one ``bits_per_band``, so
    registering it as `dedup_semantic_autokey`'s oracle left every
    >8-bit configuration — the one large corpora use —
    verification-blind, and would spuriously fail on any corpus with
    C > 256 (n ≳ 13k at stride 50).

    This CTE recomputes the QUERY'S OWN width rule in SQL —

        bits = GREATEST(8, CEIL(LOG2(GREATEST(COUNT(*) // stride, 1))))

    exactly ``computed_bits_per_band(max(n // stride, 1))`` (the rule
    reduces to ⌈log2 C⌉ at num_bands == target_candidates; COUNT(*) is
    the same total the Spark side reads from parquet footers) — and
    CASE-selects the matching literal hyperplane key family per row.
    Families are NOT prefix-shareable (band b bit i uses hyperplane
    row b·bits+i, so every width is a different matrix slice), hence
    one literal array per supported width; DuckDB's CASE is lazy, so
    only the selected family is evaluated (probed in round 9: the
    non-taken error() branch does not fire). Ends with
    ``assign(vec_id, cell, emb)`` like the static form."""
    cos = (
        "ROUND(list_dot_product({a}, {b}) / "
        "(sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"
    )

    def keys_case(expr: str) -> str:
        branches = " ".join(
            "WHEN {w} THEN [{arr}]".format(
                w=w,
                arr=", ".join(
                    _sign_band_key_sql(expr, b, w, dim) for b in range(num_bands)
                ),
            )
            for w in widths
        )
        return (
            f"CASE (SELECT bits FROM params) {branches} "
            f"ELSE error('bucketed_ivf_assign_cte_autokey: computed key "
            f"width beyond the oracle family (supported "
            f"{widths[0]}-{widths[-1]})') END"
        )

    return f"""
    params AS (
      SELECT GREATEST(8, CAST(CEIL(LOG2(GREATEST(COUNT(*) // {centroid_stride}, 1))) AS INT)) AS bits
      FROM {table}
    ),
    e AS (SELECT {id_col} AS vec_id, {vec_col}::DOUBLE[] AS emb FROM {table}),
    cent AS (SELECT vec_id AS cent_id, emb AS cemb FROM e
             WHERE vec_id % {centroid_stride} = 0),
    vk AS (
      SELECT vec_id, emb, keys[1] AS key0, i AS band, keys[i + 1] AS key
      FROM (SELECT vec_id, emb, {keys_case("emb")} AS keys FROM e),
           range({num_bands}) t(i)
    ),
    ck AS (
      SELECT cent_id, cemb, i AS band, keys[i + 1] AS key
      FROM (SELECT cent_id, cemb, {keys_case("cemb")} AS keys FROM cent),
           range({num_bands}) t(i)
    ),
    cand AS (
      SELECT vk.vec_id, vk.emb, vk.key0, ck.cent_id,
             {cos.format(a="vk.emb", b="ck.cemb")} AS cs
      FROM vk LEFT JOIN ck ON vk.band = ck.band AND vk.key = ck.key
    ),
    ranked_assign AS (
      SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id
        ORDER BY cs DESC NULLS LAST, cent_id ASC NULLS LAST) AS rn
      FROM cand
    ),
    assign AS (
      SELECT vec_id,
             CAST(COALESCE(cent_id, -1 - key0) AS BIGINT) AS cell,
             emb
      FROM ranked_assign WHERE rn = 1
    )
"""


# --- product quantization (PQ) ---------------------------------------------
# PQ (Jégou et al., "Product quantization for nearest neighbor
# search", TPAMI 2011 — public method) compresses each vector to M
# small code ids by quantizing M disjoint subvectors against per-
# subspace codebooks, then answers queries with Asymmetric Distance
# Computation: per query, an M×K lookup table of exact
# query-subvector↔code distances, so a candidate's approximate
# distance is M table lookups + adds over its CODES — the memory
# form that lets a 100 TB embedding corpus live RAM-resident
# (64 floats → M bytes per vector at K ≤ 256). Deterministic
# everywhere: codebooks are fixed corpus subvectors, distances are
# rounded-then-integer, ties break on code/neighbor id.

PQ_SUBSPACES = 8
PQ_CODES = 16
PQ_STRIDE = 50  # codebook rows: vec_id % stride == 0, first PQ_CODES


def pq_subvectors(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
) -> DataFrame:
    """Split each vector into ``m`` disjoint subvectors: one row per
    (vid, m, subv) — a map-side posexplode, no shuffle."""
    width = dim // m
    base = df.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("emb")
    )
    return base.select(
        "vid",
        F.posexplode(
            F.array(
                *[F.slice("emb", i * width + 1, width) for i in range(m)]
            )
        ).alias("m", "subv"),
    )


def _l2sq_fp(a: Column, b: Column) -> Column:
    """Squared L2 of two double arrays as a 1e-6-grid integer: round
    to 6 dp first (the engine's cross-engine determinism contract),
    then scale to avoid any float accumulation in downstream SUMs."""
    sq = F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return F.round(F.round(sq, 6) * 1_000_000).cast("long")


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    stride: int = PQ_STRIDE,
) -> DataFrame:
    """Deterministic per-subspace codebooks: the subvectors of every
    ``stride``-th corpus vector, first ``codes`` of them —
    code id = vec_id / stride. (A production fit runs
    ``lloyd_refine_sums`` per subspace instead; the operator contract
    is identical.) Output: m, code, cvec — m×codes rows, broadcast."""
    cb = corpus.filter(
        (F.col(id_col) % stride == 0) & (F.col(id_col) < stride * codes)
    )
    return pq_subvectors(cb, id_col, vec_col, dim, m).select(
        "m",
        (F.col("vid") / stride).cast("long").alias("code"),
        F.col("subv").alias("cvec"),
    )


def pq_codebooks_lloyd(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    stride: int = PQ_STRIDE,
    iterations: int = 2,
    quant: int = 1_000_000,
    init: DataFrame | None = None,
) -> DataFrame:
    """Lloyd-FITTED per-subspace PQ codebooks (round 8 — VERDICT r7
    item 5: the production fit every PQ docstring deferred to, now a
    registered composition): starting from the deterministic
    ``pq_codebooks`` init, run ``iterations`` k-means steps per
    subspace — E-step assigns each subvector to its nearest code
    (integer squared L2, code tiebreak — the ``pq_encode`` rule),
    M-step refines each (m, code) centroid as the exact
    integer-sufficient-statistics mean (the ``lloyd_refine_sums``
    trick: quantized component sums + counts, ONE IEEE division
    ``sum/n/quant`` applied identically in the DuckDB oracle, so the
    fitted centroids are bit-identical across engines). Codes that
    attract no members keep their previous centroid (left join +
    coalesce — deterministic, no RNG re-seeding).

    Per-iteration cost: one broadcast codebook join over |corpus|×m
    subvector rows (map-side ×codes scoring), one min_by shuffle of
    |corpus|×m result rows, one (m, code, pos) integer-sum shuffle of
    m×codes×width partial rows after map-side combine — the corpus
    itself never shuffles, so a 100 TB fit is iterations× linear
    scans (production fits subsample first; the operator is
    sample-agnostic). Output: m, code, cvec — m×codes rows,
    broadcastable.

    ``init`` overrides the starting codebook (m, code, cvec) — the
    residual family passes its offset-grid init here, since the
    default un-offset grid over residuals is degenerate (see
    ``ivfpq_residual_topk``)."""
    sub = pq_subvectors(corpus, id_col, vec_col, dim, m)
    cb = (
        init
        if init is not None
        else pq_codebooks(corpus, id_col, vec_col, dim, m, codes, stride)
    )
    for _ in range(iterations):
        scored = sub.join(F.broadcast(cb), "m").select(
            "vid",
            "m",
            "subv",
            "code",
            _l2sq_fp(F.col("subv"), F.col("cvec")).alias("d_fp"),
        )
        enc = (
            scored.groupBy("vid", "m")
            .agg(
                F.min_by(
                    F.struct(F.col("code"), F.col("subv")),
                    F.struct("d_fp", "code"),
                ).alias("best")
            )
            .select(
                "m",
                F.col("best.code").alias("code"),
                F.col("best.subv").alias("subv"),
            )
        )
        comp = enc.select(
            "m", "code", F.posexplode("subv").alias("pos", "v")
        ).select(
            "m",
            "code",
            "pos",
            F.round(F.col("v") * quant).cast("long").alias("vq"),
        )
        refined = (
            comp.groupBy("m", "code", "pos")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("vq").alias("sq"))
            .groupBy("m", "code")
            .agg(
                F.array_sort(
                    F.collect_list(
                        F.struct(
                            F.col("pos"),
                            (
                                F.col("sq") / F.col("n") / F.lit(float(quant))
                            ).alias("c"),
                        )
                    )
                ).alias("pairs")
            )
            .select(
                "m", "code", F.transform("pairs", lambda p: p["c"]).alias("rvec")
            )
        )
        cb = cb.join(refined, ["m", "code"], "left").select(
            "m", "code", F.coalesce("rvec", "cvec").alias("cvec")
        )
    return cb


_DUCK_L2FP = (
    "CAST(ROUND(ROUND(list_sum(list_transform(list_zip({a}, {b}), "
    "z -> (z[1] - z[2]) * (z[1] - z[2]))), 6) * 1000000) AS BIGINT)"
)


def pq_lloyd_cte(
    iterations: int = 2,
    codes: int = PQ_CODES,
    stride: int = PQ_STRIDE,
    quant: int = 1_000_000,
) -> str:
    """DuckDB CTE chain replicating ``pq_codebooks_lloyd`` EXACTLY
    (same init, same E/M rules, same integer statistics, same single
    division) — unrolled over ``iterations``. Assumes a prior ``sub``
    CTE (vec_id, m, subv — the ``_PQ_SUB`` shape) and ends with
    ``cb(m, code, cvec)`` holding the fitted codebooks, so the
    standard PQ score/encode tail composes unchanged."""
    parts = [
        f"""cb0 AS (
      SELECT m, vec_id // {stride} AS code, subv AS cvec
      FROM sub WHERE vec_id % {stride} = 0 AND vec_id < {stride * codes}
    )"""
    ]
    for i in range(1, iterations + 1):
        d = _DUCK_L2FP.format(a="s.subv", b="c.cvec")
        parts.append(f"""fit_scored{i} AS (
      SELECT s.vec_id, s.m, s.subv, c.code, {d} AS d_fp
      FROM sub s JOIN cb{i - 1} c ON s.m = c.m
    ),
    fit_enc{i} AS (
      SELECT m, code, subv FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
                                     ORDER BY d_fp, code) AS rn
        FROM fit_scored{i}
      ) WHERE rn = 1
    ),
    fit_comp{i} AS (
      SELECT m, code, j.j AS pos,
             CAST(ROUND(subv[CAST(j.j + 1 AS INT)] * {quant}) AS BIGINT) AS vq
      FROM fit_enc{i}, LATERAL (SELECT unnest(range(len(subv))) AS j) j
    ),
    fit_ref{i} AS (
      SELECT m, code, list(c ORDER BY pos) AS rvec FROM (
        SELECT m, code, pos,
               CAST(SUM(vq) AS BIGINT) / COUNT(*) / {float(quant)} AS c
        FROM fit_comp{i} GROUP BY 1, 2, 3
      ) GROUP BY 1, 2
    ),
    cb{i} AS (
      SELECT c.m, c.code, COALESCE(r.rvec, c.cvec) AS cvec
      FROM cb{i - 1} c
      LEFT JOIN fit_ref{i} r ON r.m = c.m AND r.code = c.code
    )""")
    parts.append(f"cb AS (SELECT m, code, cvec FROM cb{iterations})")
    return ",\n    ".join(parts)


def _pack_codebooks(codebooks: DataFrame) -> DataFrame:
    """ONE-row frame: ``cb_pack`` = array indexed by subspace m, each
    element struct(m, codes) with the subspace's (code, cvec) structs
    sorted by code — the broadcast form the round-13 encode fold
    consumes. Built from the same (m, code, cvec) table every PQ
    caller already has, so static, Lloyd-fitted, and residual
    codebooks all pack identically. ONE global aggregate (the per-m
    regrouping happens as an expression over the single collected
    row) so the pack costs a single tiny exchange, not a
    groupBy-then-global pair."""
    flat = codebooks.agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("m"), F.col("code"), F.col("cvec")))
        ).alias("flat")
    )
    ms = F.sequence(
        F.lit(0), F.array_max(F.transform("flat", lambda e: e["m"]))
    )
    return flat.select(
        F.transform(
            ms,
            lambda mi: F.struct(
                mi.alias("m"),
                F.transform(
                    F.filter("flat", lambda e: e["m"] == mi),
                    lambda e: F.struct(e["code"].alias("code"), e["cvec"].alias("cvec")),
                ).alias("codes"),
            ),
        ).alias("cb_pack")
    )


def _best_code_fold(subv: Column, codes: Column) -> Column:
    """Argmin over one subspace's packed (code, cvec) array: the code
    with the smallest integer squared L2, code-id tiebreak — exactly
    the round-12 ``min_by(code, struct(d_fp, code))`` rule, which
    Spark could only run as a SortAggregate (struct ordering keys
    have no mutable buffer). Scoring and comparison are split across
    transform/aggregate so each distance is computed once."""
    scored = F.transform(
        codes,
        lambda x: F.struct(
            _l2sq_fp(subv, x["cvec"]).alias("d"), x["code"].alias("code")
        ),
    )

    def step(acc, x):
        better = (x["d"] < acc["d"]) | (
            (x["d"] == acc["d"]) & (x["code"] < acc["code"])
        )
        return F.when(better, x).otherwise(acc)

    init = F.struct(
        F.lit((1 << 62)).cast("long").alias("d"),
        F.lit(None).cast("long").alias("code"),
    )
    return F.aggregate(scored, init, step)["code"]


def pq_encode(
    corpus: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
) -> DataFrame:
    """PQ encoding: each (vector, subspace) takes the code of its
    nearest codebook entry (integer squared L2, code-id tiebreak).

    Round 13: the codebook is folded into ONE broadcast row and the
    argmin runs as an expression fold inside the projection — a PURE
    MAP stage. The round-12 form exploded a |corpus|×m×codes scored
    grid and collapsed it with ``min_by(code, struct(d_fp, code))``,
    whose struct ordering key forced a SortAggregate (Sort → partial
    SortAggregate → Exchange → Sort → final SortAggregate); the fold
    computes the same winner (same distances, same tiebreak) with
    zero exchange and zero sort.

    Output: vid, m, code."""
    return pq_subvectors(corpus, id_col, vec_col, dim, m).crossJoin(
        F.broadcast(_pack_codebooks(codebooks))
    ).select(
        "vid",
        "m",
        _best_code_fold(
            F.col("subv"), F.element_at("cb_pack", F.col("m") + 1)["codes"]
        ).alias("code"),
    )


def pq_adc_topk(
    corpus: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    k: int = 5,
) -> DataFrame:
    """Asymmetric Distance Computation top-k: per query, build the
    exact query-subvector↔code distance table (|queries|×m×codes
    rows — tiny, broadcast), then score every encoded corpus vector
    by joining its codes against the table and SUMMING INTEGER
    subdistances (associative — no float-order hazard), and keep the
    k nearest (distance then id). The corpus moves through one
    min_by encode shuffle and one (query, neighbor) partial-sum
    shuffle; at 100 TB this is the memory-resident linear-scan form —
    compose with the IVF cell structure (IVF-PQ) to probe only
    candidate cells instead of the full corpus.

    Output: query_id, neighbor_id, adc_fp, rnk."""
    # Round 13: the encode half is now the shuffle-free fold form
    # (see pq_encode) — this op keeps its one (query, neighbor)
    # partial-sum exchange, which IS its linear-scan contract.
    enc = pq_encode(corpus, codebooks, id_col, vec_col, dim, m)
    # ``queries`` carries its own vectors (same contract as
    # brute_force_cosine_topk) — typically a filtered corpus slice.
    qsub = pq_subvectors(queries, id_col, vec_col, dim, m).select(
        F.col("vid").alias("query_id"), "m", F.col("subv").alias("qsub")
    )
    lut = qsub.join(F.broadcast(codebooks), "m").select(
        "query_id",
        "m",
        "code",
        _l2sq_fp(F.col("qsub"), F.col("cvec")).alias("d_fp"),
    )
    adc = (
        enc.join(F.broadcast(lut), ["m", "code"])
        .filter(F.col("vid") != F.col("query_id"))
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("d_fp").alias("adc_fp"))
    )
    top = topk_per_group(
        adc, ["query_id"], "adc_fp, neighbor_id", k
    )
    return top.select(
        "query_id", "neighbor_id", "adc_fp", F.col("rnk").cast("long").alias("rnk")
    )


def _pack_query_luts(
    queries: DataFrame,
    codebooks: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
) -> DataFrame:
    """ONE-row frame: ``luts`` = array of (query_id, lut) structs
    sorted by query id, where ``lut`` is the query's ADC distance
    table as nested arrays — lut[m][code] (both sides dense by the
    codebook's construction, whatever the actual code count at this
    corpus size). The broadcast form of the round-12
    (query_id, m, code, d_fp) LUT rows, same ``_l2sq_fp``
    distances."""
    width = dim // m
    q = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qemb")
    )
    # Per-query LUT computed row-locally from the packed codebook
    # (one nested transform per query row) — no per-(query, m, code)
    # row explosion, no groupBy chain; the only exchange is the final
    # single-row collect.
    lut = F.transform(
        F.col("cb_pack"),
        lambda e: F.transform(
            e["codes"],
            lambda c: _l2sq_fp(
                F.slice("qemb", e["m"] * width + 1, width), c["cvec"]
            ),
        ),
    )
    per_q = q.crossJoin(F.broadcast(_pack_codebooks(codebooks))).select(
        "query_id", lut.alias("lut")
    )
    return per_q.select(
        F.struct(F.col("query_id"), F.col("lut")).alias("e")
    ).agg(F.array_sort(F.collect_list("e")).alias("luts"))




def ivfpq_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    k: int = 5,
    nprobe: int = 1,
    assignment: DataFrame | None = None,
) -> DataFrame:
    """IVF-PQ: the composition that serves ANN at 100 TB (the
    flagship inverted-file + product-quantization index shape, Jégou
    et al. 2011). The IVF coarse quantizer bounds WHERE to look (a
    query scores only its own Voronoi cell's members — ~|corpus|/C
    candidates instead of the corpus), and PQ bounds WHAT each look
    costs (candidates are scored from their 8 code ids by integer
    table lookups — the codes, not the vectors, are what stays
    RAM-resident). Both halves are this engine's existing operators
    (``ivf_cell_assignment`` + ``pq_encode``/ADC), so the composition
    is engine-reproducible end-to-end and fully value-hash-checkable.

    ``queries`` carries its own vectors (a filtered corpus slice) and
    must appear in the corpus (their cell comes from the shared
    assignment). Output: query_id, neighbor_id, adc_fp, rnk.

    ``nprobe`` composes the inverted-file recall lever with PQ
    scoring (round 8): each query also searches its ``nprobe - 1``
    runner-up Voronoi cells — the probe list re-ranks the broadcast
    centroid set per query with exactly ``ivf_cell_assignment``'s
    ordering (rounded cosine desc, centroid-id tiebreak), so
    ``nprobe=1`` reproduces the stored home cell bit-for-bit and the
    registered nprobe=1 queries are unchanged. Corpus vectors keep
    their single home cell (cells stay disjoint — no candidate is
    scored twice); probe cost grows linearly in nprobe, ADC cost per
    candidate is unchanged.

    ``assignment`` lets a caller that already computed (and
    persisted) the quantizer assignment share it instead of paying a
    second assignment pass — the exchange-sharing lever
    ``ivf_cosine_topk`` grew in round 7 (VERDICT r6 item 7), used by
    ``ann_recall_eval_pq`` to feed one persisted assignment to the
    ground-truth, ADC, and rerank legs. Must be
    ``ivf_cell_assignment``'s own output (vid, cell, emb) over the
    same corpus; ``None`` computes it fresh (bit-identical).
    """
    packed_cents = _pack_centroids(centroids, id_col, vec_col)
    assign = (
        assignment
        if assignment is not None
        else ivf_cell_assignment(
            corpus, centroids, id_col, vec_col, packed=packed_cents
        )
    )
    if nprobe == 1:
        if assignment is None:
            # Round 13: a query's home cell is the same argmax fold
            # the corpus assignment runs — computing it directly on
            # the |queries| rows (bit-identical by construction)
            # avoids joining the corpus-sized assignment just to look
            # up a handful of cells.
            q_cells = ivf_cell_assignment(
                queries, centroids, id_col, vec_col,
                widen=False, packed=packed_cents,
            ).select(F.col("vid").alias("query_id"), "cell")
        else:
            q_cells = (
                queries.select(F.col(id_col).alias("query_id"))
                .join(assign, F.col("query_id") == F.col("vid"))
                .select("query_id", "cell")
            )
    else:
        # Per-query probe list: re-rank the (tiny, broadcast) centroid
        # set and keep the nprobe nearest cells — ivf_cosine_topk's
        # multiprobe rule verbatim, so the two inverted-file surfaces
        # can never diverge on probe semantics.
        cent = centroids.select(
            F.col(id_col).alias("cent_id"), as_double_array(vec_col).alias("cemb")
        )
        q_vecs = queries.select(
            F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qemb")
        )
        q_scored = q_vecs.crossJoin(F.broadcast(cent)).select(
            "query_id",
            "cent_id",
            F.round(cosine_expr(F.col("qemb"), F.col("cemb")), 6).alias("cs"),
        )
        q_cells = topk_per_group(
            q_scored, ["query_id"], "cs DESC, cent_id", nprobe
        ).select("query_id", F.col("cent_id").alias("cell"))
    cand = (
        F.broadcast(q_cells)
        .join(assign.select("vid", "cell"), "cell")
        .filter(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid")
    )
    # Round 13: encode ONLY the candidates (guide §3.2 — pre-filter
    # the big side): the candidate list re-attaches to the corpus
    # scan by ONE broadcast hash join, and each joined row computes
    # its m codes + its ADC sum INSIDE the projection (the encode
    # fold of pq_encode per subspace, then integer LUT lookups
    # against the packed per-query distance table). The round-12
    # form encoded the ENTIRE corpus (a |corpus|×m×codes scored grid
    # through a struct-keyed SortAggregate) and re-joined it to the
    # candidates by a sort-merge join — two corpus-sized exchanges
    # and four sorts for codes of which only the probed cells' rows
    # were ever read. Distances, code tiebreaks, and the integer ADC
    # sum are unchanged expression-for-expression, so adc_fp is
    # bit-identical.
    luts = _pack_query_luts(queries, codebooks, id_col, vec_col, dim, m)
    width = dim // m
    base = corpus.select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("emb")
    )
    cand_rows = (
        base.join(F.broadcast(cand), "vid")
        .crossJoin(F.broadcast(_pack_codebooks(codebooks)))
        .crossJoin(F.broadcast(luts))
    )
    codes_tree = F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda mi: _best_code_fold(
            F.slice("emb", mi * width + 1, width),
            F.element_at("cb_pack", mi + 1)["codes"],
        ),
    )
    lut_tree = F.element_at(
        F.filter("luts", lambda l: l["query_id"] == F.col("query_id")), 1
    )["lut"]
    adc_fp = F.aggregate(
        F.zip_with(
            codes_tree,
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, mi: F.struct(c.alias("c"), mi.alias("mi")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc
        + F.element_at(
            F.element_at(lut_tree, x["mi"] + 1), (x["c"] + 1).cast("int")
        ),
    )
    adc = cand_rows.select(
        "query_id",
        F.col("vid").alias("neighbor_id"),
        adc_fp.alias("adc_fp"),
    )
    top = topk_per_group(
        adc, ["query_id"], "adc_fp, neighbor_id", k
    )
    return top.select(
        "query_id", "neighbor_id", "adc_fp", F.col("rnk").cast("long").alias("rnk")
    )


def ivfpq_rerank_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    codebooks: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    k: int = 5,
    shortlist: int = 20,
    nprobe: int = 1,
) -> DataFrame:
    """IVF-PQ with an EXACT-rerank refine stage (round 9) — the
    production completion of the PQ family (FAISS's IndexRefineFlat
    pattern, Jégou et al. 2011 §V): the compressed index answers
    WHICH ``shortlist`` candidates to look at (IVF cell probe + ADC
    over code ids — cheap, RAM-resident), then the ORIGINAL vectors
    of just those candidates are fetched and scored exactly, and the
    k best by true cosine survive. This removes the PQ quantization
    loss from the final ranking at a bounded exact-scoring cost:
    |queries| × shortlist vectors instead of the corpus
    (`ann_recall_eval_pq` measures the lift — rerank recovers the
    recall ceiling of the cell probe itself).

    At 100 TB the candidate fetch is the id-lookup against the vector
    store; in DataFrame terms that is ONE broadcast-hash semi-join of
    the (query_id, neighbor_id) shortlist — |queries| × shortlist
    rows, always tiny — against the corpus scan: no corpus shuffle,
    no second pass, and the exact scoring touches only the joined
    rows. Output: query_id, neighbor_id, cosine, rnk — deterministic
    (rounded cosine, neighbor-id tiebreak), so fully value-hash
    checkable like the rest of the family."""
    adc_top = ivfpq_topk(
        corpus, centroids, codebooks, queries, id_col, vec_col, dim, m,
        k=shortlist, nprobe=nprobe,
    ).select("query_id", "neighbor_id")
    nvec = corpus.select(
        F.col(id_col).alias("neighbor_id"), as_double_array(vec_col).alias("nemb")
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"), as_double_array(vec_col).alias("qemb")
    )
    scored = (
        nvec.join(F.broadcast(adc_top), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_expr(F.col("qemb"), F.col("nemb")), 6).alias("cosine"),
        )
    )
    top = topk_per_group(
        scored, ["query_id"], "cosine DESC, neighbor_id", k
    )
    return top.select(
        "query_id", "neighbor_id", "cosine", F.col("rnk").cast("long").alias("rnk")
    )


def ivfpq_residual_topk(
    corpus: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    m: int = PQ_SUBSPACES,
    codes: int = PQ_CODES,
    stride: int = PQ_STRIDE,
    offset: int = 7,
    k: int = 5,
) -> DataFrame:
    """IVF-PQ with RESIDUAL encoding (round 8) — the configuration
    production IVF-PQ indexes actually ship (FAISS `IndexIVFPQ`
    default; Jégou et al. 2011 §III): PQ quantizes each vector's
    RESIDUAL r = v − centroid(cell(v)) instead of the raw vector.
    Residuals concentrate near the origin (the coarse quantizer has
    already explained the between-cell variance), so the same code
    budget spends its resolution on the within-cell detail that
    actually ranks neighbors — the standard accuracy lever beyond
    nprobe/codebook size, here with zero extra search cost: the
    query's residual w.r.t. its probed cell feeds the same broadcast
    LUT, candidates are scored by the same integer code-lookup sums.

    Every stage stays engine-reproducible: the residual subtraction
    is one exact IEEE op per component (mirrored verbatim in the
    DuckDB oracle), the codebooks are the deterministic
    every-``stride``-th init over RESIDUALS, and distances go through
    the same rounded-integer grid as the whole PQ family. The init
    is OFFSET off the stride grid (``vid % stride == offset``):
    the un-offset grid rows ARE the IVF centroids, whose residuals
    are ≈0 — a degenerate all-near-zero codebook (measured: ~2×
    WORSE quantization error than raw-vector PQ); offsetting picks
    genuine within-cell residuals (a production fit Lloyd-refines
    from here, as the raw-vector family does).

    MEASURED CORPUS-DEPENDENCE (round 8, recorded like every other
    law in this engine): residual encoding presumes TIGHT cells —
    real embedding corpora, where the coarse quantizer removes most
    of the norm and residuals live in a small ball the code budget
    can resolve. On the driver's near-isotropic synthetic embeddings
    (50-centroid sampled codebook, loose Voronoi cells) the lever
    measures WORSE than raw-vector PQ: within-cell recall@5 vs exact
    0.28 (residual) / 0.18 (residual + Lloyd fit) against 0.36
    (raw init) / 0.44 (raw + Lloyd fit — the fit itself is a
    measured win, pinned by test) at sf0.01. The operator is the
    production SHAPE (FAISS default), shipped with its law stated,
    exactly as `dedup_semantic` ships its square law. nprobe is
    fixed at 1
    (the home cell) so query residuals and candidate codes share one
    centroid by construction; a multiprobe variant computes one
    query residual per probed cell (LUT grows ×nprobe, still
    broadcast-size).

    Output: query_id, neighbor_id, adc_fp, rnk."""
    from pyspark import StorageLevel

    # (vid, cell, emb) referenced by the residual pass, the query
    # cell lookup, and the candidate join — materialize once.
    assign = ivf_cell_assignment(corpus, centroids, id_col, vec_col).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    cent = centroids.select(
        F.col(id_col).alias("cell"), as_double_array(vec_col).alias("cemb")
    )
    resid = assign.join(F.broadcast(cent), "cell").select(
        "vid",
        "cell",
        F.zip_with("emb", "cemb", lambda a, b: a - b).alias("resid"),
    )
    rcb = pq_subvectors(
        resid.filter(
            (F.col("vid") % stride == offset)
            & (F.col("vid") < stride * codes + offset)
        ),
        "vid",
        "resid",
        dim,
        m,
    ).select(
        "m",
        ((F.col("vid") - offset) / stride).cast("long").alias("code"),
        F.col("subv").alias("cvec"),
    )
    enc = pq_encode(resid, rcb, "vid", "resid", dim, m)
    q_res = resid.join(
        F.broadcast(queries.select(F.col(id_col).alias("vid"))), "vid"
    )
    qsub = pq_subvectors(q_res, "vid", "resid", dim, m).select(
        F.col("vid").alias("query_id"), "m", F.col("subv").alias("qsub")
    )
    lut = qsub.join(F.broadcast(rcb), "m").select(
        "query_id",
        "m",
        "code",
        _l2sq_fp(F.col("qsub"), F.col("cvec")).alias("d_fp"),
    )
    q_cells = (
        queries.select(F.col(id_col).alias("query_id"))
        .join(assign, F.col("query_id") == F.col("vid"))
        .select("query_id", "cell")
    )
    cand = (
        F.broadcast(q_cells)
        .join(assign.select("vid", "cell"), "cell")
        .filter(F.col("vid") != F.col("query_id"))
        .select("query_id", "vid")
    )
    # Round 13: the candidate list is |queries|×cell-size rows —
    # broadcast it into the (now map-only) encode leg so the join
    # never shuffles the encoded corpus (guide §3.1).
    adc = (
        enc.join(F.broadcast(cand), "vid")
        .join(F.broadcast(lut), ["query_id", "m", "code"])
        .groupBy("query_id", F.col("vid").alias("neighbor_id"))
        .agg(F.sum("d_fp").alias("adc_fp"))
    )
    top = topk_per_group(
        adc, ["query_id"], "adc_fp, neighbor_id", k
    )
    return top.select(
        "query_id", "neighbor_id", "adc_fp", F.col("rnk").cast("long").alias("rnk")
    )


def lloyd_refine_sums(
    assign: DataFrame, quant: int = 1_000_000
) -> DataFrame:
    """One Lloyd (k-means) codebook-update step as exact integer
    sufficient statistics: per (cell, component), the count of member
    vectors and the sum of ``quant``-quantized component values. The
    refined centroid is ``sum_q / (n_members * quant)`` — division is
    left to the caller (``lloyd_refine_centroids``) so this frame is
    bit-exact at any parallelism and engine (the same
    integer-quantized-sum trick as ``class_mean_classify``).

    This is the codebook-FIT step every IVF docstring in this module
    defers to ("a production deployment fits a KMeans codebook"):
    assignment (E-step) is ``ivf_cell_assignment`` or the linear
    ``bucketed_ivf_assignment``; this is the M-step; iterate the pair
    k times for a k-iteration Lloyd fit. Cost: posexplode →
    groupBy(cell, pos) integer sums — ONE shuffle of |cells|×dim
    partial rows after map-side combine, independent of corpus size.

    Input: (vid, cell, emb). Output: cell, pos, n_members, sum_q.
    """
    comp = assign.select(
        "cell", F.posexplode("emb").alias("pos", "v")
    ).select(
        "cell",
        "pos",
        F.round(F.col("v") * quant).cast("long").alias("vq"),
    )
    return comp.groupBy("cell", "pos").agg(
        F.count(F.lit(1)).alias("n_members"),
        F.sum("vq").alias("sum_q"),
    )


def lloyd_refine_centroids(
    assign: DataFrame, quant: int = 1_000_000
) -> DataFrame:
    """The M-step's centroids as (cell, cmean array<double>) — the
    frame a next Lloyd iteration (or ``ivf_cosine_topk``) consumes.
    Built from ``lloyd_refine_sums`` with the one IEEE division done
    identically everywhere: sum_q / n_members / quant."""
    sums = lloyd_refine_sums(assign, quant)
    return (
        sums.groupBy("cell")
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("pos"),
                        (
                            F.col("sum_q")
                            / F.col("n_members")
                            / F.lit(float(quant))
                        ).alias("m"),
                    )
                )
            ).alias("pairs")
        )
        .select(
            "cell", F.transform("pairs", lambda p: p["m"]).alias("cmean")
        )
    )


def semantic_dedup_from_assignment(
    assign: DataFrame,
    id_col: str = "vec_id",
    min_cosine: float = 0.3,
    round_decimals: int = 6,
) -> DataFrame:
    """Within-cell semantic dedup over a precomputed (vid, cell, emb)
    assignment — the survivor half of ``semantic_dedup_survivors``,
    split out so any quantizer (flat ``ivf_cell_assignment`` or the
    linear ``bucketed_ivf_assignment``) can feed the same drop rule.

    Output: vec_id, cell (the survivors)."""
    from pyspark import StorageLevel

    # The assignment feeds THREE consumers below (both pair sides +
    # the anti-join base); persist the compact (vid, cell, emb) rows
    # so the quantizer pass runs once.
    assign = assign.persist(StorageLevel.MEMORY_AND_DISK)
    # Round 13: reuse the assignment's precomputed vector norm (when
    # its producer supplies one) so the within-cell pair scan costs
    # ONE dot product per pair instead of dot + two norms —
    # bit-identical cosine (same sqrt/multiply/divide expression over
    # the same values, the norms simply evaluated once per vector).
    has_norm = "vnorm" in assign.columns
    norm_a = (
        F.col("n_a") if has_norm else norm_expr(F.col("e_a"))
    )
    norm_b = (
        F.col("n_b") if has_norm else norm_expr(F.col("e_b"))
    )
    extra_a = [F.col("vnorm").alias("n_a")] if has_norm else []
    extra_b = [F.col("vnorm").alias("n_b")] if has_norm else []
    a = assign.select(
        F.col("vid").alias("id_a"), F.col("cell"), F.col("emb").alias("e_a"),
        *extra_a,
    )
    b = assign.select(
        F.col("vid").alias("id_b"), F.col("cell"), F.col("emb").alias("e_b"),
        *extra_b,
    )
    pair_cos = F.round(
        F.when(
            norm_a * norm_b > 0,
            dot_expr(F.col("e_a"), F.col("e_b")) / (norm_a * norm_b),
        ),
        round_decimals,
    )
    dropped = (
        a.join(b, "cell")
        .filter(F.col("id_a") < F.col("id_b"))
        .filter(pair_cos >= F.lit(min_cosine))
        .select(F.col("id_b").alias("vid"))
        .distinct()
    )
    return assign.join(dropped, "vid", "left_anti").select(
        F.col("vid").alias(id_col), "cell"
    )


def semantic_dedup_survivors(
    corpus: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    min_cosine: float = 0.3,
    round_decimals: int = 6,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540 — public method): cluster embeddings with a
    coarse quantizer, compare pairs ONLY within a cluster, and keep
    one representative among near-duplicates. The cluster blocking is
    what makes it scale: pair count is Σ|cell|², bounded by the
    quantizer's cell sizes, never the |corpus|² all-pairs blow-up —
    at 100 TB you raise the centroid count so cells stay
    executor-sized and every stage is an equi-join on ``cell``.

    Drop rule (the conservative, set-based variant): a vector is
    dropped iff ANY lower-id vector in its cell has rounded cosine
    >= ``min_cosine`` with it. This is deterministic and
    engine-reproducible in one pass; the sequential greedy variant
    (compare only against previously KEPT vectors) would need a
    per-cell fold. Both yield a survivor set that is pairwise
    BELOW the threshold within every cell (if a and b both survive
    with a < b, then b had no >=θ lower-id witness — including a),
    which is the property that matters and is pinned by a test.

    Output: vec_id, cell (the survivors)."""
    assign = ivf_cell_assignment(corpus, centroids, id_col, vec_col, round_decimals)
    return semantic_dedup_from_assignment(assign, id_col, min_cosine, round_decimals)


_MASK64 = (1 << 64) - 1


from bigdatafinalproject_hockey_spark.functions.hashing import (  # noqa: E402
    splitmix64 as _splitmix64,
)


def hyperplane_signs(num_planes: int, dim: int) -> list[list[float]]:
    """Deterministic ±1 random-hyperplane matrix for sign-projection
    (SimHash-style) cosine LSH.

    The matrix is a pure function of (plane, dim) — no RNG state — so
    BOTH the Spark plan and a SQL oracle can embed the identical
    literals and reproduce the exact same bucketing. Verified balanced:
    every row sums within ±26 of 0 and every row-pair dot is |·| ≤ 32
    at (128, 64), consistent with iid ±1.
    """
    return [
        [1.0 if _splitmix64(p << 16 | d) & 1 == 0 else -1.0 for d in range(dim)]
        for p in range(num_planes)
    ]


def cosine_lsh_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    min_cosine: float = 0.3,
    bits_per_band: int = 8,
    num_bands: int = 16,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via DETERMINISTIC banded
    sign-projection LSH + exact cosine refine — the sub-quadratic
    replacement for the all-pairs self-join.

    Candidate generation: each vector gets ``num_bands`` integer bucket
    keys (one per band; ``bits_per_band`` sign bits of deterministic
    hyperplane projections, hyperplane_signs above). Only vectors
    sharing a (band, key) bucket are compared; the exact rounded cosine
    then thresholds the survivors. Pairs colliding in several bands are
    deduplicated (the cosine is a pure function of the pair).

    Scale shape (mirrors dedup/minhash.py): one narrow scan computes
    all projections, the exploded bucket table is repartitioned BY the
    join keys so both self-join sides end at the same canonical
    exchange — the 128-projection pass runs once into the shuffle and
    ReusedExchange feeds the second side (no cache copy, round 4) —
    and no UDFs anywhere. Per-bucket work is
    |bucket|² — bits_per_band controls bucket granularity and should
    grow ~log2(n) at larger corpora (16-20 bits at 10⁹ vectors).

    Recall is regime-dependent as in any sign-LSH: near-certain for
    true near-duplicates (collision prob per bit = 1 - θ/π ⇒ ≥99.9%
    recall at cosine ≥ 0.95 with the defaults) and partial near the
    low threshold; tests/test_properties.py pins both empirically.

    Vectors must have exactly ``dim`` entries (shorter arrays yield
    NULL projections → no buckets → excluded, matching the oracle).
    """
    signs = hyperplane_signs(num_bands * bits_per_band, dim)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("emb")
    )

    def band_key(b: int) -> Column:
        key: Column = F.lit(0)
        for i in range(bits_per_band):
            row = signs[b * bits_per_band + i]
            proj = dot_expr(F.col("emb"), F.array(*[F.lit(s) for s in row]))
            key = key + F.when(proj >= 0, F.lit(1 << i)).otherwise(F.lit(0))
        return key

    keyed = base.select(
        "vid", "emb", F.array(*[band_key(b) for b in range(num_bands)]).alias("keys")
    )
    exploded = keyed.select(
        "vid", "emb", F.posexplode("keys").alias("band", "key")
    ).repartition("band", "key")
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(b, on=["band", "key"], how="inner")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(cosine_expr(F.col("a.emb"), F.col("b.emb")), 6).alias("cosine"),
        )
        .filter(F.col("cosine") >= min_cosine)
        .dropDuplicates(["id_a", "id_b"])
    )


def cosine_lsh_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int = 64,
    min_cosine: float = 0.3,
    bits_per_band: int = 8,
    num_bands: int = 16,
) -> str:
    """DuckDB SQL replicating cosine_lsh_near_pairs EXACTLY — same
    literal hyperplanes (generated from the same Python matrix), same
    band keys, same rounded-cosine refine — so the driver's value-hash
    compare holds on an approximate operator."""
    signs = hyperplane_signs(num_bands * bits_per_band, dim)

    def key_expr(b: int) -> str:
        bits = []
        for i in range(bits_per_band):
            row = ",".join(str(int(s)) for s in signs[b * bits_per_band + i])
            bits.append(
                f"(CASE WHEN list_dot_product(emb, [{row}]::DOUBLE[]) >= 0 "
                f"THEN {1 << i} ELSE 0 END)"
            )
        return "(" + " + ".join(bits) + ")"

    keys_list = ", ".join(key_expr(b) for b in range(num_bands))
    return f"""
    WITH e AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS emb FROM {table}),
    keyed AS (SELECT {id_col}, emb, [{keys_list}] AS keys FROM e),
    k AS (
      SELECT {id_col}, emb, i AS band, keys[i + 1] AS key
      FROM keyed, range({num_bands}) t(i)
    ),
    p AS (
      SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
             ROUND(list_dot_product(a.emb, b.emb) /
                   (sqrt(list_dot_product(a.emb, a.emb)) *
                    sqrt(list_dot_product(b.emb, b.emb))), 6) AS cosine
      FROM k a JOIN k b
        ON a.band = b.band AND a.key = b.key AND a.{id_col} < b.{id_col}
    )
    SELECT DISTINCT id_a, id_b, cosine FROM p WHERE cosine >= {min_cosine}
    """


def gaussian_projections(num: int, dim: int) -> list[list[float]]:
    """Deterministic approximately-N(0,1) projection vectors for
    L2 (p-stable) LSH — Irwin-Hall: sum of 12 splitmix64-derived
    uniforms minus 6. Pure function of (projection, dim), so the Spark
    plan and a SQL oracle embed the identical float literals and
    reproduce the exact same bucketing (same trick as
    hyperplane_signs above; Datar et al., "Locality-sensitive hashing
    scheme based on p-stable distributions", SoCG'04)."""
    out = []
    for p in range(num):
        row = []
        for d in range(dim):
            s = 0.0
            for k in range(12):
                s += _splitmix64(((p * dim + d) << 8) | k) / float(_MASK64 + 1)
            row.append(s - 6.0)
        out.append(row)
    return out


def _l2_expr(a: Column, b: Column) -> Column:
    """Sequential-order Euclidean distance of two double arrays."""
    return F.sqrt(
        F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
    )


def ann_lsh_near_pairs(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    max_l2: float = 5.0,
    dim: int = 64,
) -> DataFrame:
    """Approximate near-neighbor pairs via DETERMINISTIC
    random-projection (p-stable) LSH over L2 distance — the
    sub-quadratic scale path. Each vector gets one integer bucket key
    per hash table: floor(round(v·w / bucket_length, 6)) with literal
    projection vectors (gaussian_projections). Bucket collisions bound
    the candidate set; the exact rounded-L2 filter runs only on
    candidates; pairs colliding in several tables deduplicate.

    Replaces MLlib's BucketedRandomProjectionLSH (Spark-seeded →
    unverifiable): identical dataflow shape, but the literal
    projections make the operator reproducible in DuckDB for a full
    value-hash check (ann_lsh_oracle_sql). The projection is rounded
    to 6dp BEFORE floor on both sides so a last-ulp difference at a
    bucket boundary cannot split engines.

    Cross-engine fp assumption (ADVICE r3 item 5): the 6-dp round
    shrinks but does not ELIMINATE the boundary case — it relies on
    Spark's sequential fold and DuckDB's list_dot_product accumulating
    the dot product closely enough that no last-ulp difference flips
    the 6th decimal (and hence a floor'd bucket or a hashed distance).
    On the fixed testdata embeddings this holds (driver-verified);
    adversarial fixtures sitting exactly on a x.xxxxxx5 / bucket edge
    could split engines — the recall/property tests therefore compare
    distances with an epsilon, not exact equality, on synthetic
    vectors (same pragmatic contract as cosine_lsh_near_pairs).

    Scale shape (mirrors cosine_lsh_near_pairs): one narrow scan
    computes all keys, the exploded (table, key) rows repartition BY
    the join keys so both self-join sides share one materialized
    exchange (ReusedExchange, no cache copy — round 4); no further
    exchanges, no UDFs. Output: id_a, id_b, l2_dist.
    """
    projs = gaussian_projections(num_hash_tables, dim)
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("vid"), as_double_array(vec_col).alias("emb")
    )

    def key(t: int) -> Column:
        proj = dot_expr(F.col("emb"), F.array(*[F.lit(w) for w in projs[t]]))
        return F.floor(F.round(proj / bucket_length, 6))

    keyed = base.select(
        "vid", "emb",
        F.array(*[key(t) for t in range(num_hash_tables)]).alias("keys"),
    )
    exploded = keyed.select(
        "vid", "emb", F.posexplode("keys").alias("tbl", "key")
    ).repartition("tbl", "key")
    a, b = exploded.alias("a"), exploded.alias("b")
    return (
        a.join(b, on=["tbl", "key"], how="inner")
        .filter(F.col("a.vid") < F.col("b.vid"))
        .select(
            F.col("a.vid").alias("id_a"),
            F.col("b.vid").alias("id_b"),
            F.round(_l2_expr(F.col("a.emb"), F.col("b.emb")), 6).alias("l2_dist"),
        )
        .filter(F.col("l2_dist") <= max_l2)
        .dropDuplicates(["id_a", "id_b"])
    )


def ann_lsh_oracle_sql(
    table: str = "embeddings",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_length: float = 2.0,
    num_hash_tables: int = 4,
    max_l2: float = 5.0,
    dim: int = 64,
) -> str:
    """DuckDB SQL replicating ann_lsh_near_pairs EXACTLY — identical
    literal projections, bucket keys, and rounded-L2 refine."""
    projs = gaussian_projections(num_hash_tables, dim)

    def key_expr(t: int) -> str:
        row = ",".join(repr(w) for w in projs[t])
        return (
            f"CAST(floor(round(list_dot_product(emb, [{row}]::DOUBLE[]) / "
            f"{bucket_length!r}, 6)) AS BIGINT)"
        )

    keys_list = ", ".join(key_expr(t) for t in range(num_hash_tables))
    return f"""
    WITH e AS (SELECT {id_col}, {vec_col}::DOUBLE[] AS emb FROM {table}),
    keyed AS (SELECT {id_col}, emb, [{keys_list}] AS keys FROM e),
    k AS (
      SELECT {id_col}, emb, i AS tbl, keys[i + 1] AS key
      FROM keyed, range({num_hash_tables}) t(i)
    ),
    p AS (
      SELECT a.{id_col} AS id_a, b.{id_col} AS id_b,
             ROUND(sqrt(list_sum(list_transform(
                 list_zip(a.emb, b.emb),
                 z -> (z[1] - z[2]) * (z[1] - z[2])))), 6) AS l2_dist
      FROM k a JOIN k b
        ON a.tbl = b.tbl AND a.key = b.key AND a.{id_col} < b.{id_col}
    )
    SELECT DISTINCT id_a, id_b, l2_dist FROM p WHERE l2_dist <= {max_l2!r}
    """
