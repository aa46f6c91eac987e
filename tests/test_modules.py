"""Unit tests for module-level behaviors the oracle suite can't see:
null-sentinel CSV parsing, single-pass ML evaluation math, simhash
properties, multimodal batch extraction, dedup survivor determinism,
key-consistent sampling."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatafinalproject_hockey_spark.dedup.exact import dedup_exact_keep_first
from bigdatafinalproject_hockey_spark.dedup.simhash import (
    hamming_expr,
    simhash_fingerprints,
)
from bigdatafinalproject_hockey_spark.ml import (
    BinaryMetrics,
    baselines,
    baselines_from_counts,
    evaluate_binary,
)
from bigdatafinalproject_hockey_spark.multimodal import (
    attach_binary_payload,
    extract_features_batched,
)
from bigdatafinalproject_hockey_spark.operators.sampling import sample_by_key
from bigdatafinalproject_hockey_spark.sources.csv import scan_csv

TMP = "/root/repo/.tmp"


def test_scan_csv_null_sentinels(spark, tmp_path):
    """\\N and empty fields must both land as real NULLs with explicit
    schema (the reference's events-file quirk, FIXTURES.md §A1)."""
    p = os.path.join(TMP, "null_sentinel.csv")
    os.makedirs(TMP, exist_ok=True)
    with open(p, "w") as f:
        f.write("id,name,score\n")
        f.write("1,alice,3.5\n")
        f.write("2,\\N,\\N\n")
        f.write("3,,\n")
    schema = T.StructType(
        [
            T.StructField("id", T.LongType()),
            T.StructField("name", T.StringType()),
            T.StructField("score", T.DoubleType()),
        ]
    )
    df = scan_csv(spark, p, schema)
    rows = {r["id"]: (r["name"], r["score"]) for r in df.collect()}
    assert rows[1] == ("alice", 3.5)
    assert rows[2] == (None, None)
    assert rows[3] == (None, None)


def test_cast_types_invalid_values_become_null(spark):
    """Cells that do not parse as the target type cast to NULL under
    the session's ANSI mode instead of failing the job."""
    from bigdatafinalproject_hockey_spark.operators.scalar import cast_types

    df = spark.createDataFrame([(0, "1"), (1, "abc"), (2, "2.5")], ["i", "v"])
    out = cast_types(df.withColumn("d", F.col("v")), {"d": "double", "v": "int"})
    rows = [(r["d"], r["v"]) for r in out.orderBy("i").collect()]
    assert rows == [(1.0, 1), (None, None), (2.5, None)]


def test_scan_csv_named_types_columns_by_header(spark, tmp_path):
    """Named columns get their types wherever the header puts them, the
    rest stay strings, and a malformed number reads as NULL."""
    from bigdatafinalproject_hockey_spark.sources.csv import scan_csv_named

    p = tmp_path / "named.csv"
    p.write_text("note,score,id\nx,3.5,1\ny,n/a,2\nz,\\N,3\n")
    df = scan_csv_named(spark, str(p), {"id": T.LongType(), "score": T.DoubleType()})
    assert df.dtypes == [("note", "string"), ("score", "double"), ("id", "bigint")]
    rows = [tuple(r) for r in df.orderBy("id").collect()]
    assert rows == [("x", 3.5, 1), ("y", None, 2), ("z", None, 3)]


def test_evaluate_binary_single_pass(spark):
    rows = (
        [(1.0, 1.0)] * 10  # tp
        + [(0.0, 0.0)] * 20  # tn
        + [(0.0, 1.0)] * 5  # fp (pred 1, label 0)
        + [(1.0, 0.0)] * 15  # fn (pred 0, label 1)
    )
    df = spark.createDataFrame(
        [(lbl, prd) for lbl, prd in rows], ["label", "prediction"]
    )
    m = evaluate_binary(df, with_auc=False)
    assert (m.tp, m.tn, m.fp, m.fn) == (10, 20, 5, 15)
    assert abs(m.accuracy - 30 / 50) < 1e-12
    assert abs(m.precision - 10 / 15) < 1e-12
    assert abs(m.recall - 10 / 25) < 1e-12


def test_binary_metrics_degenerate():
    m = BinaryMetrics(tp=0, tn=0, fp=0, fn=0)
    assert m.accuracy == 0.0 and m.precision == 0.0 and m.f1 == 0.0


def test_baselines_math(spark):
    df = spark.createDataFrame([(1.0,)] * 6 + [(0.0,)] * 4, ["label"])
    b = baselines(df)
    assert abs(b["majority"] - 0.6) < 1e-12
    assert abs(b["weighted_random"] - (0.36 + 0.16)) < 1e-12
    assert b == baselines_from_counts(10, 6)


def test_simhash_identical_docs_distance_zero(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the dog"),
            (2, "the quick brown fox jumps over the dog"),
            (3, "completely different words entirely here"),
        ],
        ["doc_id", "text"],
    )
    fps = simhash_fingerprints(df, "text", "doc_id")
    a = fps.alias("a").filter(F.col("doc_id") == 1)
    b = fps.alias("b").filter(F.col("doc_id") == 2)
    c = fps.alias("c").filter(F.col("doc_id") == 3)
    d_ab = (
        a.crossJoin(b.select(F.col("simhash").alias("sh2")))
        .select(hamming_expr(F.col("simhash"), F.col("sh2")).alias("d"))
        .first()["d"]
    )
    d_ac = (
        a.crossJoin(c.select(F.col("simhash").alias("sh3")))
        .select(hamming_expr(F.col("simhash"), F.col("sh3")).alias("d"))
        .first()["d"]
    )
    assert d_ab == 0
    assert d_ac > 10  # unrelated docs are far in hamming space


def test_multimodal_batch_extraction(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "")], ["doc_id", "text"])
    media = attach_binary_payload(df, "text", "doc_id")
    out = {r["doc_id"]: r for r in extract_features_batched(media).collect()}
    assert out[1]["n_bytes"] == 3
    assert abs(out[1]["feat_mean"] - (97 + 98 + 99) / 3) < 1e-9
    assert out[2]["n_bytes"] == 0 and out[2]["feat_mean"] == 0.0


def test_multimodal_resize_shapes(spark):
    """Binary-in/binary-out resize plumbing: constant output size,
    deterministic content, empty payload handled."""
    from bigdatafinalproject_hockey_spark.multimodal import (
        attach_binary_payload,
        resize_batched,
    )

    df = spark.createDataFrame([(1, "abcd"), (2, "")], ["doc_id", "text"])
    media = attach_binary_payload(df, "text", "doc_id")
    out = {r["doc_id"]: r for r in resize_batched(media, 4, 2).collect()}
    assert bytes(out[1]["media"]) == b"abcdabcd"  # cycled to 4*2
    assert bytes(out[2]["media"]) == bytes(8)  # zero-filled
    assert out[1]["width"] == 4 and out[1]["height"] == 2


def test_dedup_keep_first_deterministic(spark):
    df = spark.createDataFrame(
        [(5, "same text"), (2, "same text"), (9, "other"), (7, "Same  text ")],
        ["doc_id", "text"],
    )
    kept = dedup_exact_keep_first(df, "text", "doc_id")
    ids = sorted(r["doc_id"] for r in kept.collect())
    # "Same  text " normalizes differently from "same text" (case kept)
    assert ids == [2, 7, 9]


def test_agg_approx_error_bounds(spark, sf_dir):
    """Sketch aggregates must land near the exact answers: HLL distinct
    within its 5% rsd (generously 3x), GK quantiles within the rank
    error implied by accuracy."""
    from bigdatafinalproject_hockey_spark.operators.aggregates import agg_approx

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    approx = {
        r["l_returnflag"]: r
        for r in agg_approx(
            li, ["l_returnflag"], "l_orderkey", "l_extendedprice"
        ).collect()
    }
    exact = {
        r["l_returnflag"]: r
        for r in li.groupBy("l_returnflag")
        .agg(
            F.countDistinct("l_orderkey").alias("nd"),
            F.expr("percentile(l_extendedprice, array(0.5, 0.95))").alias("qs"),
        )
        .collect()
    }
    for flag, ex in exact.items():
        ap = approx[flag]
        assert abs(ap["approx_distinct"] - ex["nd"]) <= max(0.15 * ex["nd"], 5)
        for got, want in zip(ap["approx_quantiles"], ex["qs"]):
            assert abs(got - want) <= 0.05 * abs(want) + 1e-9


def test_partitioned_sink_prunes(spark, sf_dir):
    """A filter on the hive partition key must reach the scan as a
    PartitionFilter (planning-time directory pruning), not a data
    filter."""
    from bigdatafinalproject_hockey_spark.sources.parquet import (
        scan_parquet,
        sink_parquet,
    )

    path = os.path.join(TMP, "prune_check")
    orders = spark.read.parquet(f"{sf_dir}/orders.parquet").withColumn(
        "order_year", F.year("o_orderdate")
    )
    sink_parquet(orders, path, partition_by=["order_year"])
    plan = (
        scan_parquet(spark, path)
        .filter(F.col("order_year") == 1998)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "order_year" in plan.split("PartitionFilters")[1].split("]")[0]


def test_bucketed_join_has_no_shuffle(spark, sf_dir):
    """Two tables bucketed on the join key with equal bucket counts
    must sort-merge join with ZERO exchanges — the co-located join
    layout for repeated big⋈big joins."""
    from bigdatafinalproject_hockey_spark.sources.parquet import sink_bucketed_table

    import shutil

    orders = spark.read.parquet(f"{sf_dir}/orders.parquet")
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    for t in ("b_orders", "b_lineitem"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.rmtree(f"/root/repo/spark-warehouse/{t}", ignore_errors=True)
    sink_bucketed_table(orders, "b_orders", ["o_orderkey"], 4, sort_by=["o_orderkey"])
    sink_bucketed_table(li, "b_lineitem", ["l_orderkey"], 4, sort_by=["l_orderkey"])
    # force the sort-merge path: at test scale the planner would rather
    # broadcast the small side (which ignores bucketing entirely)
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.autoBroadcastJoinThreshold",
            "spark.sql.adaptive.autoBroadcastJoinThreshold",
        )
    }
    try:
        for k in saved:
            spark.conf.set(k, "-1")
        joined = spark.table("b_orders").join(
            spark.table("b_lineitem"),
            F.col("o_orderkey") == F.col("l_orderkey"),
        )
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan
        assert joined.count() == li.count()
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_join_asof_semantics(spark):
    """Inclusive as-of matching, null for rows with no prior right row,
    and the name-collision guard."""
    import datetime as dt

    import pytest as _pytest

    from bigdatafinalproject_hockey_spark.operators.joins import join_asof

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame(
        [(1, t(5), "a"), (1, t(10), "b"), (2, t(3), "c")],
        ["k", "ts", "tag"],
    )
    right = spark.createDataFrame(
        [(1, t(5), 100.0), (1, t(9), 200.0), (2, t(4), 300.0)],
        ["k", "rts", "val"],
    )
    out = {
        r["tag"]: r
        for r in join_asof(left, right, ["k"], "ts", "rts").collect()
    }
    assert out["a"]["val"] == 100.0  # equal timestamp is visible (>=)
    assert out["b"]["val"] == 200.0  # latest prior, not first
    assert out["c"]["val"] is None  # right row is in the future → null
    with _pytest.raises(ValueError, match="collide"):
        join_asof(left, right.withColumnRenamed("val", "tag"), ["k"], "ts", "rts")


def test_connected_components_vs_union_find(spark):
    """Label propagation must reach the same partition of nodes as a
    driver-side union-find on a graph with a chain (slow-converging),
    a triangle, and an isolated pair."""
    from bigdatafinalproject_hockey_spark.dedup.components import (
        connected_components,
    )

    edges = [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11), (11, 12), (10, 12), (20, 21)]
    parent: dict[int, int] = {}

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
    want = {n: find(n) for n in parent}

    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(df).collect()
    }
    assert got == want


def test_join_salted_matches_plain_join(spark):
    """Salting must be semantics-preserving: same multiset of joined
    rows as the plain equi-join, including duplicate left keys."""
    from bigdatafinalproject_hockey_spark.operators.joins import join_salted

    left = spark.createDataFrame(
        [("hot", i) for i in range(500)] + [("cold", 0), ("miss", 1)],
        ["k", "v"],
    )
    right = spark.createDataFrame(
        [("hot", 1.5), ("cold", 2.5), ("unmatched", 9.9)], ["k", "w"]
    )
    salted = join_salted(left, right, ["k"], salt=8)
    plain = left.join(right, ["k"])
    assert salted.count() == plain.count() == 501
    assert sorted(salted.columns) == sorted(plain.columns)
    hot_vs = sorted(r["v"] for r in salted.filter(F.col("k") == "hot").collect())
    assert hot_vs == list(range(500))


import pytest as _pt


@_pt.mark.parametrize("kind", ["rf", "lr", "gbt", "mlp"])
def test_ml_all_classifiers_train_and_beat_chance(spark, kind):
    """All four reference model configs (SURVEY.md §2.14) must train,
    predict, and separate an easy synthetic signal."""
    import random

    from bigdatafinalproject_hockey_spark.ml import evaluate_binary, train_pipeline

    rng = random.Random(42)
    rows = []
    for _ in range(400):
        x1, x2 = rng.uniform(-1, 1), rng.uniform(-1, 1)
        label = 1.0 if x1 + 0.5 * x2 + rng.gauss(0, 0.2) > 0 else 0.0
        rows.append((label, x1, x2, rng.uniform(-1, 1)))
    df = spark.createDataFrame(rows, ["label", "f1", "f2", "noise"])
    train, test = df.randomSplit([0.75, 0.25], seed=42)
    model = train_pipeline(train, ["f1", "f2", "noise"], kind)
    m = evaluate_binary(model.transform(test))
    assert m.n > 50
    assert m.accuracy > 0.7, f"{kind}: accuracy {m.accuracy}"
    assert m.auc is not None and m.auc > 0.75, f"{kind}: auc {m.auc}"


def test_feature_importances_topk(spark):
    """Tree-ensemble importances must rank the true signal above noise
    (reference code/experiment.py:39-54 surface)."""
    import random

    from bigdatafinalproject_hockey_spark.ml import (
        feature_importances_topk,
        train_pipeline,
    )

    rng = random.Random(7)
    rows = [
        (
            1.0 if (x := rng.uniform(-1, 1)) > 0 else 0.0,
            x,
            rng.uniform(-1, 1),
        )
        for _ in range(300)
    ]
    df = spark.createDataFrame(rows, ["label", "signal", "noise"])
    model = train_pipeline(df, ["signal", "noise"], "rf")
    top = feature_importances_topk(model, ["signal", "noise"], k=2)
    assert top[0][1] == "signal"


def test_sample_by_key_is_key_consistent(spark, sf_dir):
    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    sampled = sample_by_key(li, ["l_orderkey"], fraction=0.3, seed=42)
    # every sampled order keeps ALL its lineitems
    full_counts = li.groupBy("l_orderkey").count().withColumnRenamed("count", "full")
    samp_counts = sampled.groupBy("l_orderkey").count()
    joined = samp_counts.join(full_counts, "l_orderkey")
    assert joined.filter(F.col("count") != F.col("full")).count() == 0
    frac = samp_counts.count() / full_counts.count()
    assert 0.2 < frac < 0.4


def test_minhash_signature_slots_are_independent(spark):
    """Regression guard for the transform-lambda arity trap: a
    two-parameter lambda is read as (element, index), which once bound
    the per-slot hash seed to the array index and silently collapsed
    all k minhash functions into one (every signature slot identical —
    LSH degraded to a single hash table). Distinct slots must disagree
    somewhere on a multi-shingle doc."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.dedup.minhash import (
        minhash_signature_expr,
        shingle_hashes_from_token_hashes_expr,
    )

    df = spark.createDataFrame(
        [("the quick brown fox jumps over the lazy dog and runs away fast",)],
        ["text"],
    )
    toks = df.select(F.split(F.lower("text"), " ").alias("tk"))
    th = toks.select(F.transform("tk", lambda t: F.xxhash64(t)).alias("th"))
    hs = th.select(shingle_hashes_from_token_hashes_expr("th", 3).alias("hs"))
    sig = hs.select(minhash_signature_expr(F.col("hs"), 16).alias("sig")).collect()[0][
        "sig"
    ]
    assert len(sig) == 16
    assert len(set(sig)) > 1, "all minhash slots identical — seed not varying"


def test_minhash_recall_on_synthetic_near_dups(spark):
    """Planted near-duplicates (small token edits) must be recovered;
    unrelated docs must not pair. End-to-end guard on the banding
    S-curve + signature estimator."""
    from bigdatafinalproject_hockey_spark.dedup.minhash import minhash_candidate_pairs

    base = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet "
            "kilo lima mike november oscar papa quebec romeo sierra tango")
    rows = [
        (1, base),
        (2, base.replace("echo", "exx")),          # near-dup of 1
        (3, base.replace("tango", "tzz")),         # near-dup of 1
        (4, "one two three four five six seven eight nine ten eleven twelve "
            "thirteen fourteen fifteen sixteen seventeen eighteen nineteen twenty"),
        (5, "zz yy xx ww vv uu tt ss rr qq pp oo nn mm ll kk jj ii hh gg"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r.doc_a, r.doc_b)
        for r in minhash_candidate_pairs(
            df, "text", "doc_id", shingle_n=3, max_jaccard_distance=0.5
        ).collect()
    }
    assert (1, 2) in pairs and (1, 3) in pairs
    assert not any(4 in p or 5 in p for p in pairs)


def test_join_asof_takes_most_recent_row_atomically(spark):
    """ASOF must return the single most recent right row INCLUDING its
    NULLs (DuckDB ASOF semantics) — never stitch a NULL payload cell
    from an older right row (per-column last(ignorenulls) bug)."""
    import datetime as dt

    from bigdatafinalproject_hockey_spark.operators.joins import join_asof

    t = lambda s: dt.datetime(2024, 1, 1, 0, 0, s)  # noqa: E731
    left = spark.createDataFrame([(1, t(10), "b")], ["k", "ts", "tag"])
    right = spark.createDataFrame(
        [(1, t(5), 100.0, "old"), (1, t(9), None, "new")],
        "k int, rts timestamp, val double, src string",
    )
    row = join_asof(left, right, ["k"], "ts", "rts").collect()[0]
    assert row["src"] == "new"
    assert row["val"] is None  # the most recent row's NULL, not 100.0


def test_join_salted_rejects_right_preserving_joins(spark):
    """Right-side replication breaks right/full semantics — must raise."""
    from bigdatafinalproject_hockey_spark.operators.joins import join_salted

    left = spark.createDataFrame([("a", 1)], ["k", "v"])
    right = spark.createDataFrame([("a", 2.0)], ["k", "w"])
    for how in ("right", "full", "outer", "right_outer"):
        with _pt.raises(ValueError, match="semantics-preserving"):
            join_salted(left, right, ["k"], salt=4, how=how)
    assert join_salted(left, right, ["k"], salt=4, how="left").count() == 1


def test_connected_components_raises_on_non_convergence(spark):
    """A component with diameter > max_iter must fail loudly, not
    return silently-wrong labels; the AQE cached-plan conf must be
    restored either way."""
    from bigdatafinalproject_hockey_spark.dedup.components import (
        connected_components,
    )

    key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    prior = spark.conf.get(key, None)
    chain = [(i, i + 1) for i in range(8)]
    df = spark.createDataFrame(chain, ["doc_a", "doc_b"])
    with _pt.raises(RuntimeError, match="did not converge"):
        connected_components(df, max_iter=2)
    assert spark.conf.get(key, None) == prior
    # and a sufficient max_iter still converges to one component
    out = connected_components(df, max_iter=10).collect()
    assert {r["component_id"] for r in out} == {0}
    assert spark.conf.get(key, None) == prior


def test_stateful_cents_rounding_matches_cents_expr_on_negatives(spark):
    """The streaming state accumulator's numpy rounding must agree with
    cents_expr / DuckDB ROUND (half away from zero) for NEGATIVE values
    too: -1.005 → -101 cents, not -100."""
    import numpy as np

    from bigdatafinalproject_hockey_spark.functions.numeric import cents_expr

    vals = [-1.005, -2.5, -0.005, -0.004, 3.5, 1.005, 0.0]
    df = spark.createDataFrame([(v,) for v in vals], ["value"])
    spark_cents = [
        r["c"] for r in df.select(cents_expr(F.col("value")).alias("c")).collect()
    ]
    v = np.array(vals, dtype="float64")
    np_cents = np.copysign(np.floor(np.abs(v) * 100.0 + 0.5), v).astype("int64")
    assert spark_cents == list(np_cents)


def test_document_fixtures_are_ascii():
    """The multimodal oracles compare byte-framing (Python) against
    character-framing (DuckDB VARCHAR); both sides filter to ASCII
    rows, and this pins that the filter is currently a NO-OP — if a
    future fixture adds non-ASCII documents, this fails visibly
    instead of silently shrinking the compared row set."""
    import duckdb

    con = duckdb.connect()
    for sf in ("0.001", "0.01"):
        n = con.execute(
            f"SELECT count(*) FROM read_parquet('/root/testdata/sf{sf}/documents.parquet') "
            "WHERE octet_length(encode(text)) <> length(text)"
        ).fetchone()[0]
        assert n == 0, f"sf{sf}: {n} non-ASCII documents"


def test_ivf_multiprobe_improves_recall(spark):
    """nprobe>1 must recover neighbors that sit just across a Voronoi
    cell boundary: recall@5 vs brute force is strictly monotone
    non-decreasing in nprobe on the fixture embeddings, and nprobe=2
    must beat nprobe=1 on random-ish vectors (cell-edge losses are
    common there)."""
    from bigdatafinalproject_hockey_spark.similarity import (
        brute_force_cosine_topk,
        ivf_cosine_topk,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    queries = emb.filter(F.col("vec_id") < 20)

    truth = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_cosine_topk(emb, queries, k=5).collect()
    }

    def recall(nprobe: int) -> float:
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in ivf_cosine_topk(
                emb, centroids, queries.select("vec_id"), k=5, nprobe=nprobe
            ).collect()
        }
        return len(got & truth) / len(truth)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 <= r4
    assert r2 > r1, f"nprobe=2 recall {r2:.2f} not above nprobe=1 {r1:.2f}"
    assert r4 >= 0.5


def test_ivf_centroid_cap_bounds_codebook(spark):
    """The scale law behind queries/scale.py:_ivf_centroids: the
    codebook must NOT grow with the corpus (uncapped every-50th makes
    the |corpus|×C assignment pass quadratic). The cap is a no-op at
    every driver scale factor and a hard bound beyond them."""
    from bigdatafinalproject_hockey_spark.queries.scale import _ivf_centroids

    # no-op at driver SFs: capped == uncapped on the real table
    emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet")
    uncapped = emb.filter(F.col("vec_id") % 50 == 0)
    assert _ivf_centroids(emb).count() == uncapped.count()

    # hard bound on a 100k-id corpus: exactly 50 centroids, not 2000
    big = spark.range(0, 100_000).select(F.col("id").alias("vec_id"))
    assert _ivf_centroids(big).count() == 50


def test_sample_temperature_flattens_skew(spark):
    """α=0.5 temperature sampling on a skewed corpus must (a) cut the
    dominant group's share of the SAMPLE below its share of the input,
    (b) keep the rare group whole when its rate caps at 1.0, and
    (c) land near the requested budget (hash-uniform draw, so the
    realized count concentrates around Σ n_g·p_g)."""
    from bigdatafinalproject_hockey_spark.operators.sampling import (
        sample_temperature,
    )

    rows = [(i, "big") for i in range(1600)] + [
        (10_000 + i, "rare") for i in range(25)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "grp"])
    kept = sample_temperature(
        df, key_col="doc_id", group_col="grp", budget_frac=0.4
    ).collect()
    by = {"big": 0, "rare": 0}
    for r in kept:
        by[r["grp"]] += 1
    # rare rate caps at 1.0: B=650, w ∝ {40, 5} → rare rate = 650·5/45/25 > 1
    assert by["rare"] == 25
    # dominant group flattened: input share 98.5%, sample share must drop
    assert by["big"] / len(kept) < 1600 / 1625
    # expected big keeps: 650·(40/45)/1600·1600 ≈ 577; hash-uniform
    # concentration keeps the realized count within a loose band
    assert 450 < by["big"] < 700
    # every kept row carries its group rate
    assert all(0.0 < r["keep_prob"] <= 1.0 for r in kept)


def test_class_mean_classify_beats_random(spark):
    """Nearest-class-mean must carry real signal on the fixture
    embeddings: with 10 balanced classes random assignment scores
    ~10%, the prototype classifier must clearly beat that, every
    vector gets exactly one prediction, and the winning cosine is a
    valid similarity."""
    from bigdatafinalproject_hockey_spark.similarity import class_mean_classify

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    out = class_mean_classify(emb).collect()
    assert len(out) == emb.count()
    assert len({r["vec_id"] for r in out}) == len(out)
    acc = sum(r["correct"] for r in out) / len(out)
    assert acc > 0.3, f"accuracy {acc:.2f} not above random-ish baseline"
    assert all(-1.0 <= r["cosine"] <= 1.0 for r in out)


def test_semantic_dedup_survivor_invariants(spark):
    """dedup_semantic's survivor contract: (a) survivors + dropped
    partition the corpus, (b) within every cell the SURVIVING vectors
    are pairwise BELOW the cosine threshold (if a<b both survived, b
    had no >=θ lower-id witness — including a), (c) the minimum id of
    every cell always survives (it has no lower-id witness at all)."""
    from bigdatafinalproject_hockey_spark.similarity import (
        ivf_cell_assignment,
        semantic_dedup_survivors,
    )
    from bigdatafinalproject_hockey_spark.functions.vectors import (
        as_double_array,
        cosine_expr,
    )

    theta = 0.3
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    surv = semantic_dedup_survivors(emb, centroids, min_cosine=theta)
    rows = surv.collect()
    survivors = {r["vec_id"] for r in rows}
    assert 0 < len(survivors) < emb.count()  # non-trivial at θ=0.3

    assign = ivf_cell_assignment(emb, centroids).collect()
    cells = {r["vid"]: r["cell"] for r in assign}
    assert survivors <= set(cells)
    # (c) min id of every cell survives
    min_per_cell: dict = {}
    for vid, cell in cells.items():
        min_per_cell[cell] = min(min_per_cell.get(cell, vid), vid)
    assert set(min_per_cell.values()) <= survivors

    # (b) surviving pairs within a cell are all below θ (checked
    # engine-side with the same rounded-cosine expression)
    kept = surv.join(
        emb.select("vec_id", as_double_array("embedding").alias("emb")),
        "vec_id",
    )
    a = kept.select(
        F.col("vec_id").alias("ia"), F.col("cell"), F.col("emb").alias("ea")
    )
    b = kept.select(
        F.col("vec_id").alias("ib"), F.col("cell"), F.col("emb").alias("eb")
    )
    over = (
        a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .filter(F.round(cosine_expr(F.col("ea"), F.col("eb")), 6) >= theta)
        .count()
    )
    assert over == 0, f"{over} surviving in-cell pairs at or above θ"


def test_bucketed_ivf_assignment_invariants(spark):
    """bucketed_ivf_assignment (round 7, the linear quantizer behind
    dedup_semantic_scaled): (a) exactly one cell per vector, (b) cells
    are either a real centroid id (≥0) or an orphan fallback in
    [-2^bits, -1], (c) an assigned vector's cell really is one of its
    sign-LSH candidate centroids and is cosine-optimal among them,
    (d) an orphan's cell is exactly -1 - its band-0 key."""
    from bigdatafinalproject_hockey_spark.similarity import (
        _sign_band_key_col,
        bucketed_ivf_assignment,
    )
    from bigdatafinalproject_hockey_spark.functions.vectors import (
        as_double_array,
    )
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    cent_ids = {r["vec_id"] for r in centroids.select("vec_id").collect()}
    out = bucketed_ivf_assignment(emb, centroids).collect()
    assert len(out) == emb.count()
    assert len({r["vid"] for r in out}) == len(out)

    # recompute band keys + cosines in numpy to audit the assignment
    keyed = emb.select(
        "vec_id",
        as_double_array("embedding").alias("emb"),
        F.array(
            *[_sign_band_key_col("embedding", b) for b in range(8)]
        ).alias("keys"),
    ).collect()
    vecs = {r["vec_id"]: np.array(r["emb"]) for r in keyed}
    keys = {r["vec_id"]: list(r["keys"]) for r in keyed}

    def cos(a, b):
        return round(
            float(a @ b / (np.sqrt(a @ a) * np.sqrt(b @ b))), 6
        )

    n_assigned = 0
    for r in out:
        vid, cell = r["vid"], r["cell"]
        cands = {
            c
            for c in cent_ids
            if any(keys[c][b] == keys[vid][b] for b in range(8))
        } - ({vid} if vid not in cent_ids else set())
        if cell >= 0:
            n_assigned += 1
            assert cell in cands, (vid, cell)
            best = max(cos(vecs[vid], vecs[c]) for c in cands)
            assert cos(vecs[vid], vecs[cell]) == best
        else:
            assert not cands or cands == {vid}
            assert cell == -1 - keys[vid][0], (vid, cell)
    assert n_assigned > 0  # the bucketing finds real candidates


def test_semantic_dedup_scaled_survivor_invariants(spark):
    """dedup_semantic_scaled keeps the survivor contract under the
    bucketed quantizer: surviving vectors are pairwise BELOW the
    cosine threshold within every cell, and every cell's minimum id
    survives."""
    from bigdatafinalproject_hockey_spark.similarity import (
        bucketed_ivf_assignment,
        semantic_dedup_from_assignment,
    )
    from bigdatafinalproject_hockey_spark.functions.vectors import (
        as_double_array,
        cosine_expr,
    )

    theta = 0.3
    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = emb.filter(F.col("vec_id") % 50 == 0)
    assign = bucketed_ivf_assignment(emb, centroids)
    surv = semantic_dedup_from_assignment(assign, min_cosine=theta)
    rows = surv.collect()
    survivors = {r["vec_id"] for r in rows}
    assert 0 < len(survivors) <= emb.count()

    cells = {r["vid"]: r["cell"] for r in assign.collect()}
    min_per_cell: dict = {}
    for vid, cell in cells.items():
        min_per_cell[cell] = min(min_per_cell.get(cell, vid), vid)
    assert set(min_per_cell.values()) <= survivors

    kept = surv.join(
        emb.select("vec_id", as_double_array("embedding").alias("emb")),
        "vec_id",
    )
    a = kept.select(
        F.col("vec_id").alias("ia"), F.col("cell"), F.col("emb").alias("ea")
    )
    b = kept.select(
        F.col("vec_id").alias("ib"), F.col("cell"), F.col("emb").alias("eb")
    )
    over = (
        a.join(b, "cell")
        .filter(F.col("ia") < F.col("ib"))
        .filter(F.round(cosine_expr(F.col("ea"), F.col("eb")), 6) >= theta)
        .count()
    )
    assert over == 0, f"{over} surviving in-cell pairs at or above θ"


def test_pq_encode_and_adc_are_exact(spark):
    """Product quantization (round 7): (a) every (vector, subspace)
    code is the true argmin over the codebook (numpy audit, same
    rounding), (b) an ADC score is EXACTLY the sum of the query's LUT
    entries at the candidate's codes — the operator's defining
    identity, (c) ADC ranks correlate with true distance: the mean
    TRUE squared distance of each query's ADC top-5 beats the corpus
    mean (PQ with 16 codes per subspace is coarse, but it must do
    better than chance even on near-uniform vectors)."""
    import numpy as np

    from bigdatafinalproject_hockey_spark.similarity import (
        pq_adc_topk,
        pq_codebooks,
        pq_encode,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cb_df = pq_codebooks(emb)
    enc = {(r["vid"], r["m"]): r["code"] for r in pq_encode(emb, cb_df).collect()}
    vecs = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.collect()
    }
    cb = {(r["m"], r["code"]): np.array(r["cvec"]) for r in cb_df.collect()}

    def d_fp(a, b):
        return int(round(round(float(((a - b) ** 2).sum()), 6) * 1_000_000))

    # (a) argmin audit on a sample (code count is corpus-dependent:
    # 10 at sf0.01 — only vec_ids 0..450 exist — capped at 16)
    codes = sorted({c for (_, c) in cb})
    for vid in list(vecs)[:40]:
        for m in range(8):
            sub = vecs[vid][m * 8 : (m + 1) * 8]
            best = min((d_fp(sub, cb[(m, c)]), c) for c in codes)[1]
            assert enc[(vid, m)] == best, (vid, m)

    # (b) ADC reconstruction + (c) quality
    top = pq_adc_topk(emb, cb_df, emb.filter(F.col("vec_id") < 10)).collect()
    assert {r["query_id"] for r in top} == set(range(10))
    all_sq = None
    for r in top:
        q, n = r["query_id"], r["neighbor_id"]
        expect = sum(
            d_fp(vecs[q][m * 8 : (m + 1) * 8], cb[(m, enc[(n, m)])])
            for m in range(8)
        )
        assert r["adc_fp"] == expect, (q, n)
    mat = np.stack([vecs[v] for v in sorted(vecs)])
    for q in range(10):
        d_true = ((mat - vecs[q]) ** 2).sum(axis=1)
        corpus_mean = float(d_true.mean())
        picked = [r["neighbor_id"] for r in top if r["query_id"] == q]
        picked_mean = float(
            np.mean([((vecs[n] - vecs[q]) ** 2).sum() for n in picked])
        )
        assert picked_mean < corpus_mean, (q, picked_mean, corpus_mean)


def test_ivfpq_composes_its_two_verified_halves(spark):
    """sim_ann_ivfpq must be EXACTLY the composition of its parts:
    (a) every returned neighbor lives in the query's IVF cell,
    (b) each (query, neighbor) ADC score equals the PQ-ADC score of
    the same pair from the full-corpus scan, and (c) the result is
    the full-scan ADC ranking RESTRICTED to the cell (no candidate
    inside the cell was skipped)."""
    from bigdatafinalproject_hockey_spark.queries.scale import _ivf_centroids
    from bigdatafinalproject_hockey_spark.similarity import (
        ivf_cell_assignment,
        ivfpq_topk,
        pq_adc_topk,
        pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    ivfpq = ivfpq_topk(emb, centroids, cb, queries).collect()
    cells = {
        r["vid"]: r["cell"] for r in ivf_cell_assignment(emb, centroids).collect()
    }
    # full-scan ADC over ALL candidates (k large enough to cover cells)
    full = pq_adc_topk(emb, cb, queries, k=10**9).collect()
    full_fp = {(r["query_id"], r["neighbor_id"]): r["adc_fp"] for r in full}

    by_query: dict = {}
    for r in ivfpq:
        q, n = r["query_id"], r["neighbor_id"]
        assert cells[n] == cells[q], (q, n)  # (a)
        assert r["adc_fp"] == full_fp[(q, n)], (q, n)  # (b)
        by_query.setdefault(q, []).append((r["adc_fp"], n))
    for q, got in by_query.items():
        in_cell = sorted(
            (fp, n)
            for (qq, n), fp in full_fp.items()
            if qq == q and cells[n] == cells[q]
        )[: len(got)]
        assert sorted(got) == in_cell, q  # (c)


def test_lloyd_refine_improves_codebook(spark):
    """One Lloyd M-step must not increase within-cell SSE under the
    FIXED assignment (the cell mean is the SSE-minimizing point —
    k-means' monotone-improvement guarantee), and the emitted integer
    sufficient statistics must reproduce the exact member counts and
    quantized sums."""
    import numpy as np

    from bigdatafinalproject_hockey_spark.functions.vectors import (
        as_double_array,
    )
    from bigdatafinalproject_hockey_spark.queries.scale import _ivf_centroids
    from bigdatafinalproject_hockey_spark.similarity import (
        ivf_cell_assignment,
        lloyd_refine_centroids,
        lloyd_refine_sums,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = _ivf_centroids(emb)
    assign = ivf_cell_assignment(emb, centroids)
    rows = assign.collect()
    vecs = {r["vid"]: np.array(r["emb"]) for r in rows}
    cells: dict = {}
    for r in rows:
        cells.setdefault(r["cell"], []).append(r["vid"])

    # sufficient statistics are exact
    stats = lloyd_refine_sums(assign).collect()
    by_cell_pos = {(r["cell"], r["pos"]): r for r in stats}
    for cell, members in cells.items():
        m = np.stack([vecs[v] for v in members])
        for pos in (0, len(m[0]) - 1):
            rec = by_cell_pos[(cell, pos)]
            assert rec["n_members"] == len(members)
            assert rec["sum_q"] == int(
                np.round(m[:, pos] * 1_000_000).astype(np.int64).sum()
            )

    # SSE under the refined centroids <= SSE under the originals
    old_cent = {
        r["vec_id"]: np.array(r["emb"])
        for r in centroids.select(
            "vec_id", as_double_array("embedding").alias("emb")
        ).collect()
    }
    new_cent = {
        r["cell"]: np.array(r["cmean"])
        for r in lloyd_refine_centroids(assign).collect()
    }
    for cell, members in cells.items():
        m = np.stack([vecs[v] for v in members])
        sse_old = float(((m - old_cent[cell]) ** 2).sum())
        sse_new = float(((m - new_cent[cell]) ** 2).sum())
        assert sse_new <= sse_old + 1e-6, (cell, sse_old, sse_new)


def test_pq_lloyd_fit_improves_encode_distance(spark):
    """The iterated PQ fit (round 8, `pq_codebooks_lloyd`) must carry
    k-means' monotone guarantee end-to-end: total nearest-code encode
    distance (the quantity PQ minimizes per subspace) is non-increasing
    as iterations grow — fitted codebooks encode the corpus at least
    as tightly as the deterministic init, strictly tighter in practice."""
    from pyspark.sql import functions as SF

    from bigdatafinalproject_hockey_spark.similarity import (
        pq_codebooks,
        pq_codebooks_lloyd,
        pq_subvectors,
        _l2sq_fp,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    sub = pq_subvectors(emb)

    def total_encode_dist(cb) -> int:
        scored = sub.join(SF.broadcast(cb), "m").select(
            "vid", "m", _l2sq_fp(SF.col("subv"), SF.col("cvec")).alias("d_fp")
        )
        best = scored.groupBy("vid", "m").agg(SF.min("d_fp").alias("d"))
        return best.agg(SF.sum("d")).collect()[0][0]

    d0 = total_encode_dist(pq_codebooks(emb))
    d1 = total_encode_dist(pq_codebooks_lloyd(emb, iterations=1))
    d2 = total_encode_dist(pq_codebooks_lloyd(emb, iterations=2))
    assert d1 <= d0
    assert d2 <= d1
    assert d2 < d0  # the fit actually moves at this corpus


def test_scaled_codebook_grows_with_corpus(spark):
    """The inverse lock of test_ivf_centroid_cap_bounds_codebook:
    dedup_semantic_scaled's codebook MUST grow with the corpus
    (C = n/50 keeps target cell size ~50 so Σ|cell|² stays linear) —
    that is the whole point of the round-7 twin. The quadratic
    quantizer risk the old cap guarded against is retired by the
    LSH-bucketed assignment, whose per-vector candidate count is
    bands·C/2^bits, not C."""
    big = spark.range(0, 100_000).select(F.col("id").alias("vec_id"))
    assert big.filter(F.col("vec_id") % 50 == 0).count() == 2000


def test_scan_chunked_splits(spark):
    """maxPartitionBytes must bound per-task input: shrinking it from
    the default to 64 KiB multiplies scan partitions, and the
    associative aggregate is bit-identical across chunkings."""
    path = "/root/testdata/sf0.01/lineitem.parquet"
    prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    base = spark.read.parquet(path)
    n_default = base.rdd.getNumPartitions()
    expect = base.groupBy("l_returnflag").count().collect()
    try:
        spark.conf.set("spark.sql.files.maxPartitionBytes", str(64 * 1024))
        chunked = spark.read.parquet(path)
        assert chunked.rdd.getNumPartitions() > max(n_default, 4)
        got = chunked.groupBy("l_returnflag").count().collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, expect))
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", prev)


def test_ml_variants_emit_reference_metric_schema(spark):
    """All four classifier queries (lr/rf/gbt/mlp) must execute and
    emit the reference's metric row schema (VERDICT r2 item 8: the
    _rf/_gbt/_mlp variants had never been externally run). Model
    internals stay rows-only by nature; this pins the contract:
    schema, model tag, metric ranges, and that tree ensembles report
    a feature importance while lr/mlp report NULL."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    want_cols = [
        "model", "n_test", "accuracy", "precision", "recall", "f1",
        "auc", "baseline_majority", "baseline_weighted",
        "top_feature", "top_feature_importance",
    ]
    for name, kind in [
        ("ml_train_eval", "lr"),
        ("ml_train_eval_rf", "rf"),
        ("ml_train_eval_gbt", "gbt"),
        ("ml_train_eval_mlp", "mlp"),
    ]:
        df = QUERIES[name](spark, "/root/testdata/sf0.001")
        assert df.columns == want_cols, (name, df.columns)
        [row] = df.collect()
        assert row["model"] == kind
        assert row["n_test"] > 0
        for metric in ("accuracy", "precision", "recall", "f1", "auc"):
            assert 0.0 <= row[metric] <= 1.0, (name, metric, row[metric])
        if kind in ("rf", "gbt"):
            assert row["top_feature"] is not None
            assert row["top_feature_importance"] > 0
        else:
            assert row["top_feature"] is None


def test_tws_gate_condition_and_auto_promotion():
    """VERDICT r12 item 8: the TWS availability gate must be exactly
    'google.protobuf importable' (the same condition this file's TWS
    test skips on), the reason string must name it, and the
    conditional driver-row registration must match the gate's verdict
    — so an environment that gains protobuf auto-promotes the
    operator with no code change."""
    import importlib.util

    from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL, QUERIES
    from bigdatafinalproject_hockey_spark.streaming import tws_available

    ok, reason = tws_available()
    try:
        # find_spec raises when even the parent package is absent
        importable = importlib.util.find_spec("google.protobuf") is not None
    except ModuleNotFoundError:
        importable = False
    assert ok == importable
    assert "google.protobuf" in reason
    assert ("stream_stateful_totals_tws" in QUERIES) == ok
    if ok:
        assert "stream_stateful_totals_tws" in ORACLE_SQL


def test_stateful_user_totals_tws_matches_batch(spark):
    """transformWithStateInPandas twin of stateful_user_totals:
    availability-gated (the TWS Python worker needs google.protobuf,
    absent from some containers) — on capable environments the
    streamed totals must equal the batch GROUP BY."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.catalog import load_table
    from bigdatafinalproject_hockey_spark.functions.numeric import fixed_point_sum
    from bigdatafinalproject_hockey_spark.streaming import (
        read_events_stream,
        run_stream_to_table,
        stateful_user_totals_tws,
    )

    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    )
    try:
        stream = read_events_stream(spark, "/root/testdata/sf0.001")
        got = {
            r["user_id"]: (r["n_events"], r["sum_value"])
            for r in run_stream_to_table(
                spark, stateful_user_totals_tws(stream), output_mode="update"
            ).collect()
        }
    finally:
        if old is not None:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)
        else:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
    want = {
        r["user_id"]: (r["n_events"], r["sum_value"])
        for r in load_table(spark, "events", "/root/testdata/sf0.001")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            fixed_point_sum(F.col("value")).alias("sum_value"),
        )
        .collect()
    }
    assert got == want


def test_evaluate_binary_df_matches_driver_math(spark):
    """The distributed single-job evaluator must reproduce the
    driver-math original (evaluate_binary + baselines) cell for cell
    and metric for metric, including the rank-sum AUC identity, on a
    frame with ties, both classes, and both prediction values."""
    import math

    from bigdatafinalproject_hockey_spark.ml import (
        baselines,
        evaluate_binary,
        evaluate_binary_df,
    )

    rows = [
        # (label, prediction, score) — score ties across labels on 2.0
        (1, 1, 3.0), (1, 1, 2.0), (1, 0, 2.0), (1, 0, 0.5),
        (0, 1, 2.0), (0, 0, 1.0), (0, 0, 0.5), (0, 0, -1.0),
    ]
    df = spark.createDataFrame(rows, "label int, prediction int, score double")
    [got] = evaluate_binary_df(df, score_col="score").collect()

    m = evaluate_binary(df, with_auc=False)
    assert (got["tp"], got["tn"], got["fp"], got["fn"]) == (m.tp, m.tn, m.fp, m.fn)
    assert got["n_test"] == m.n
    assert got["accuracy"] == round(m.accuracy, 6)
    assert got["precision"] == round(m.precision, 6)
    assert got["recall"] == round(m.recall, 6)
    assert math.isclose(got["f1"], m.f1, abs_tol=1e-6)
    b = baselines(df)
    assert got["baseline_majority"] == round(b["majority"], 6)
    assert got["baseline_coin"] == 0.5
    assert math.isclose(got["baseline_weighted"], b["weighted_random"], abs_tol=1e-6)
    # tie-aware Mann-Whitney AUC by hand: midranks over
    # sorted scores [-1, .5, .5, 1, 2, 2, 2, 3]
    # pos scores: 3.0→rank 8; 2.0→midrank 6; 2.0→6; 0.5→2.5 ⇒ R+=22.5
    npos, nneg = 4, 4
    want_auc = (22.5 - npos * (npos + 1) / 2) / (npos * nneg)
    assert got["auc"] == round(want_auc, 6)


def test_evaluate_binary_df_degenerate_classes(spark):
    """Single-class input: AUC falls back to 0.5, divisions guard."""
    from bigdatafinalproject_hockey_spark.ml import evaluate_binary_df

    df = spark.createDataFrame(
        [(1, 1, 2.0), (1, 0, 1.0)], "label int, prediction int, score double"
    )
    [got] = evaluate_binary_df(df, score_col="score").collect()
    assert got["auc"] == 0.5
    assert got["recall"] == 0.5  # tp=1, fn=1
    assert got["baseline_majority"] == 1.0


def test_merge_scd2_noop_new_and_changed_keys(spark):
    """The three SCD2 merge cases in one fixture: a changed key closes
    its old version and opens a new one; a NO-OP update (same tracked
    value, including the NULL==NULL case) must not fabricate a
    version; a key new to the dimension inserts an open row."""
    from bigdatafinalproject_hockey_spark.operators.scd import (
        merge_scd2,
        pointintime_lookup,
    )

    current = spark.createDataFrame(
        [
            (1, "A", "2020-01-01"),
            (2, "B", "2020-01-01"),
            (3, None, "2020-01-01"),
        ],
        "k int, seg string, valid_from string",
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp"))
    updates = spark.createDataFrame(
        [
            (1, "Z", "2021-06-01"),   # changed
            (2, "B", "2021-06-01"),   # no-op
            (3, None, "2021-06-01"),  # no-op with NULLs (eqNullSafe trap)
            (9, "N", "2021-06-01"),   # brand-new key
        ],
        "k int, seg string, eff_date string",
    ).withColumn("eff_date", F.col("eff_date").cast("timestamp"))
    out = merge_scd2(current, updates, key="k", tracked=["seg"])
    rows = {
        (r.k, r.seg, str(r.valid_from)[:10], r.valid_to and str(r.valid_to)[:10], r.is_current)
        for r in out.collect()
    }
    assert rows == {
        (1, "A", "2020-01-01", "2021-06-01", 0),
        (1, "Z", "2021-06-01", None, 1),
        (2, "B", "2020-01-01", None, 1),
        (3, None, "2020-01-01", None, 1),
        (9, "N", "2021-06-01", None, 1),
    }
    # point-in-time: a fact before the change sees v1, after sees v2
    facts = spark.createDataFrame(
        [(1, "2021-01-01"), (1, "2021-12-01")], "fk int, d string"
    ).withColumn("d", F.col("d").cast("timestamp"))
    got = {
        (str(r.d)[:10], r.seg)
        for r in pointintime_lookup(
            facts, out, key_left="fk", key_right="k", fact_date_col="d"
        ).collect()
    }
    assert got == {("2021-01-01", "A"), ("2021-12-01", "Z")}


def test_zorder_buckets_bound_both_dimensions(spark):
    """Z-order locality: with 10 bits/dim and 16 top-bit buckets,
    every bucket's bounding box spans ≤ 1/4 of EACH dimension's range
    — the property that makes per-file min/max stats prunable on
    either predicate. A single-column sort cannot give this (the
    second dimension's per-bucket range stays at full width)."""
    from bigdatafinalproject_hockey_spark.queries.scale import q_sort_zorder

    rows = q_sort_zorder(spark, "/root/testdata/sf0.001").collect()
    # sf0.001 has only 150 customers (x < 256 ⇒ x's top bits are 0),
    # so only the x-low buckets materialize; the BOUND is what matters
    assert len(rows) >= 4
    for r in rows:
        assert r.max_x - r.min_x <= 256, r
        assert r.max_y - r.min_y <= 256, r


def test_manifest_pruned_scan_opens_fewer_files(spark):
    """The manifest must actually skip files: a six-month predicate
    over 16 date-range-clustered files should open well under half of
    them, and the pruned+residual-filtered result must equal the full
    scan's (pruning is sound, never semantic)."""
    from bigdatafinalproject_hockey_spark.operators import manifest as mf
    from bigdatafinalproject_hockey_spark.queries.scale import (
        q_scan_files_pruned,
    )

    sf_dir = "/root/testdata/sf0.001"
    # run the query once to materialize the clustered layout + manifest
    got = {
        (r.o_orderstatus, r.n_orders, r.revenue)
        for r in q_scan_files_pruned(spark, sf_dir).collect()
    }
    manifest = spark.read.parquet("/root/repo/.tmp/orders_manifest_sf0_001")
    n_total = manifest.count()
    lo = F.lit("1999-01-01").cast("timestamp")
    hi = F.lit("1999-06-30").cast("timestamp")
    _pruned, n_read = mf.scan_pruned(spark, manifest, "o_orderdate", lo, hi)
    assert n_total == 16
    assert n_read <= 6, f"pruning ineffective: {n_read}/{n_total} files"
    full = spark.read.parquet("/root/repo/.tmp/orders_clustered_sf0_001")
    expect = {
        (r.o_orderstatus, r.n_orders, r.revenue)
        for r in (
            full.filter((F.col("o_orderdate") >= lo) & (F.col("o_orderdate") <= hi))
            .groupBy("o_orderstatus")
            .agg(
                F.count(F.lit(1)).alias("n_orders"),
                F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias("cents"),
            )
            .select(
                "o_orderstatus",
                "n_orders",
                (F.col("cents").cast("double") / 100.0).alias("revenue"),
            )
            .collect()
        )
    }
    assert got == expect


def test_stream_scd2_cdc_rerun_is_idempotent(spark):
    """Re-running the whole CDC replay (fresh checkpoint, re-staged
    source, batch-id-keyed store overwrites) must converge to the
    identical version history — the restart/backfill scenario."""
    from bigdatafinalproject_hockey_spark.queries.scale import q_stream_scd2_cdc

    sf = "/root/testdata/sf0.001"
    a = {tuple(r) for r in q_stream_scd2_cdc(spark, sf).collect()}
    b = {tuple(r) for r in q_stream_scd2_cdc(spark, sf).collect()}
    assert a == b
    assert len(a) > 0


def test_phash_integer_spec(spark):
    """phash_batched must match the pure-Python spec (blocks by
    p*60//n, cross-multiplied means) — including the empty payload and
    the shorter-than-60-bytes path where block indices skip."""
    from bigdatafinalproject_hockey_spark.multimodal import (
        attach_binary_payload,
        phash_batched,
    )

    rows = [(1, "abcabcabcXYZ" * 20), (2, "abc"), (3, "")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    media = attach_binary_payload(df, "text", "doc_id")
    got = {r.doc_id: r.phash for r in phash_batched(
        media.select("doc_id", "media")).collect()}

    def spec(s: str) -> int:
        b = s.encode()
        n = len(b)
        if n == 0:
            return 0
        total = sum(b)
        sums = [0] * 60
        cnts = [0] * 60
        for p, v in enumerate(b):
            k = (p * 60) // n
            sums[k] += v
            cnts[k] += 1
        return sum(
            1 << k for k in range(60) if sums[k] * n > total * cnts[k]
        )

    for doc_id, text in rows:
        assert got[doc_id] == spec(text), doc_id


def test_late_side_output_rerun_is_idempotent(spark):
    """Re-running the late-accounting replay (fresh checkpoint,
    existing staged files) must produce the identical window store and
    late-ledger count — the backfill/restart scenario for the
    foreachBatch watermark operator."""
    from bigdatafinalproject_hockey_spark.queries.advanced import (
        q_stream_late_data_accounting,
    )

    sf = "/root/testdata/sf0.001"
    a = {tuple(r) for r in q_stream_late_data_accounting(spark, sf).collect()}
    b = {tuple(r) for r in q_stream_late_data_accounting(spark, sf).collect()}
    assert a == b
    late = [r for r in a if r[0] == "late"]
    assert len(late) == 1 and late[0][2] > 0


def test_merge_scd2_collapses_multi_update_batch(spark):
    """A batch carrying SEVERAL rows for one key (normal CDC shape)
    must collapse to the latest row per key — without the collapse the
    current row fanned into duplicate closed versions and TWO open
    rows per key (review r4)."""
    from bigdatafinalproject_hockey_spark.operators.scd import merge_scd2

    current = spark.createDataFrame(
        [(1, "A", "2020-01-01")], "k int, seg string, valid_from string"
    ).withColumn("valid_from", F.col("valid_from").cast("timestamp"))
    updates = spark.createDataFrame(
        [(1, "B", "2021-01-01"), (1, "C", "2021-06-01")],
        "k int, seg string, eff_date string",
    ).withColumn("eff_date", F.col("eff_date").cast("timestamp"))
    out = merge_scd2(current, updates, key="k", tracked=["seg"]).collect()
    open_rows = [r for r in out if r.is_current == 1]
    closed_rows = [r for r in out if r.is_current == 0]
    assert len(open_rows) == 1 and open_rows[0].seg == "C"
    assert str(open_rows[0].valid_from)[:10] == "2021-06-01"
    assert len(closed_rows) == 1 and closed_rows[0].seg == "A"


def test_phash_oracle_handles_non_ascii(spark):
    """The phash DuckDB oracle must iterate BYTES, not characters —
    ord/substr counts code points and diverges from the engine's raw
    UTF-8 byte hash on any non-ASCII text (review r4). Run both sides
    over a corpus with multibyte characters and compare."""
    import duckdb

    from bigdatafinalproject_hockey_spark.multimodal import (
        attach_binary_payload,
        phash_batched,
    )
    from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL

    rows = [(1, "café au lait " * 30), (2, "naïve Übermaß 中文" * 20), (3, "plain ascii " * 25)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    media = attach_binary_payload(df, "text", "doc_id")
    got = {r.doc_id: r.phash for r in phash_batched(
        media.select("doc_id", "media")).collect()}

    con = duckdb.connect()
    con.execute("CREATE TABLE documents(doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    want = {
        r[0]: r[1]
        for r in con.execute(ORACLE_SQL["multimodal_phash_dedup"]).fetchall()
    }
    con.close()
    assert got == want


def test_ewma_half_exact_recursion(spark):
    """ewma_half must equal the hand-rolled add-then-halve recursion
    bit-for-bit, order the groups however it likes."""
    from bigdatafinalproject_hockey_spark.operators.grouped import ewma_half

    rows = [(1, i, v) for i, v in enumerate([100, 50, 75, 300, 1])] + [
        (2, 0, 7)
    ]
    df = spark.createDataFrame(rows, "g int, t int, x long")
    out = {
        (r.g, r.t): r.ewma
        for r in ewma_half(df, ["g"], ["t"], "x").collect()
    }
    e = 0.0
    for i, v in enumerate([100, 50, 75, 300, 1]):
        e = float(v) if i == 0 else (e + v) * 0.5
        assert out[(1, i)] == e  # exact, not approx
    assert out[(2, 0)] == 7.0
    # constant series stays constant forever (fixed point of the fold)
    const = spark.createDataFrame(
        [(1, t, 42) for t in range(60)], "g int, t int, x long"
    )
    vals = {r.ewma for r in ewma_half(const, ["g"], ["t"], "x").collect()}
    assert vals == {42.0}


def test_containment_pairs_directed_and_scored(spark):
    """The contained side must be the smaller token set, and a strict
    subset must score exactly 1.0 even when Jaccard is low."""
    from bigdatafinalproject_hockey_spark.dedup.jaccard import containment_pairs

    docs = spark.createDataFrame(
        [
            (1, "alpha beta"),                       # subset of doc 2
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "iota kappa"),                       # unrelated
        ],
        "doc_id long, text string",
    )
    out = containment_pairs(docs, "text", "doc_id", threshold=0.9).collect()
    assert len(out) == 1
    row = out[0]
    assert (row.contained, row.container) == (1, 2)
    assert row.containment == 1.0


def test_text_sink_null_sentinel_roundtrip(spark, tmp_path):
    """Null fields must survive the delimited-text round-trip — the
    sentinel encoding exists because concat_ws silently drops nulls
    and misaligns every following field."""
    from pyspark.sql import types as TT

    from bigdatafinalproject_hockey_spark.sources.text import scan_text, sink_text

    schema = TT.StructType(
        [
            TT.StructField("id", TT.LongType()),
            TT.StructField("name", TT.StringType()),
            TT.StructField("score", TT.DoubleType()),
        ]
    )
    df = spark.createDataFrame(
        [(1, None, 2.5), (2, "b", None), (3, "", 0.0)], schema
    )
    path = str(tmp_path / "txt")
    sink_text(df, path)
    back = scan_text(spark, path, schema)
    got = sorted(
        [(r.id, r.name, r.score) for r in back.collect()]
    )
    # empty string is NOT null — the sentinel keeps the two distinct,
    # unlike CSV's ambiguous empty field
    assert got == [(1, None, 2.5), (2, "b", None), (3, "", 0.0)]


def test_holt_linear_half_fixed_point_and_two_step(spark):
    """A constant series is a fixed point of Holt (level = x, trend =
    0, forecast = x); a two-point series must match the hand-rolled
    recursion exactly."""
    from bigdatafinalproject_hockey_spark.operators.grouped import (
        holt_linear_half,
    )

    const = spark.createDataFrame(
        [(1, t, 42) for t in range(50)], "g int, t int, x long"
    )
    row = holt_linear_half(const, ["g"], ["t"], "x").collect()[0]
    assert (row.level, row.trend, row.forecast) == (42.0, 0.0, 42.0)

    two = spark.createDataFrame([(1, 0, 100), (1, 1, 200)], "g int, t int, x long")
    r = holt_linear_half(two, ["g"], ["t"], "x").collect()[0]
    lvl = (200 + (100.0 + 0.0)) * 0.5          # 150.0
    trend = ((lvl - 100.0) + 0.0) * 0.5        # 25.0
    assert (r.level, r.trend, r.forecast) == (lvl, trend, lvl + trend)
    assert r.n_points == 2


def test_text_sink_regex_metachar_separator(spark, tmp_path):
    """The separator is a LITERAL (ADVICE r4): '|' or '.' as sep must
    split field-wise, not regex-wise."""
    from pyspark.sql import types as TT

    from bigdatafinalproject_hockey_spark.sources.text import scan_text, sink_text

    schema = TT.StructType(
        [
            TT.StructField("id", TT.LongType()),
            TT.StructField("name", TT.StringType()),
        ]
    )
    # values avoid the separator chars themselves — delimited text
    # without escaping cannot carry its own separator (documented
    # caller contract); the bug being locked here is regex-metachar
    # interpretation, which mis-split EVERY value ('ab c' under
    # sep='.' became single chars)
    df = spark.createDataFrame([(1, "ab c"), (2, None)], schema)
    for sep in ("|", ".", "$^"):
        path = str(tmp_path / f"txt_{ord(sep[0])}")
        sink_text(df, path, sep=sep)
        back = scan_text(spark, path, schema, sep=sep)
        assert sorted((r.id, r.name) for r in back.collect()) == [
            (1, "ab c"),
            (2, None),
        ], f"sep={sep!r}"


def test_ppm_codec_roundtrip_and_strictness():
    """decode_ppm is a real P6 parser: round-trips encode_ppm exactly
    and rejects malformed payloads loudly (VERDICT r4 item 8)."""
    import numpy as np
    import pytest as _pytest

    from bigdatafinalproject_hockey_spark.multimodal import (
        decode_ppm,
        encode_ppm,
    )

    rng = np.random.default_rng(42)
    arr = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    payload = encode_ppm(arr)
    assert payload.startswith(b"P6\n5 7\n255\n")
    back = decode_ppm(payload)
    assert back.shape == (7, 5, 3)
    assert np.array_equal(back, arr)

    # whitespace-tolerant header (netpbm allows any whitespace runs)
    alt = b"P6  5\n 7\t255\n" + arr.tobytes()
    assert np.array_equal(decode_ppm(alt), arr)

    with _pytest.raises(ValueError, match="not a binary PPM"):
        decode_ppm(b"P5\n5 7\n255\n" + arr.tobytes())
    with _pytest.raises(ValueError, match="maxval"):
        decode_ppm(b"P6\n5 7\n65535\n" + arr.tobytes())
    with _pytest.raises(ValueError, match="raster length"):
        decode_ppm(b"P6\n5 7\n255\n" + arr.tobytes()[:-1])
    with _pytest.raises(ValueError, match="malformed"):
        decode_ppm(b"P6\nx y\n255\n")


def test_png_codec_roundtrip_and_strictness():
    """decode_png is a real stdlib-zlib PNG decoder: exact round-trip
    through every scanline filter type, CRC enforcement, profile
    enforcement, truncation detection (round 6, VERDICT r5 item 7)."""
    import struct
    import zlib

    import numpy as np
    import pytest as _pytest

    from bigdatafinalproject_hockey_spark.multimodal import (
        _PNG_SIG,
        _png_chunk,
        decode_png,
        encode_png,
    )

    rng = np.random.default_rng(42)
    arr = rng.integers(0, 256, size=(7, 5, 3), dtype=np.uint8)
    for ft in range(5):
        payload = encode_png(arr, filter_type=ft)
        assert payload.startswith(_PNG_SIG)
        assert np.array_equal(decode_png(payload), arr), f"filter {ft}"

    with _pytest.raises(ValueError, match="not a PNG"):
        decode_png(b"P6\n5 7\n255\n" + arr.tobytes())
    # flip one raster byte inside IDAT → chunk CRC must catch it
    good = bytearray(encode_png(arr, filter_type=2))
    good[len(good) // 2] ^= 0xFF
    with _pytest.raises(ValueError, match="CRC mismatch"):
        decode_png(bytes(good))
    with _pytest.raises(ValueError, match="missing IHDR or IEND"):
        decode_png(encode_png(arr)[:-12])  # IEND stripped
    # unsupported profile: 16-bit depth in an otherwise-valid stream
    ihdr = struct.pack(">IIBBBBB", 5, 7, 16, 2, 0, 0, 0)
    bad_profile = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * (7 * 31)))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="unsupported PNG profile"):
        decode_png(bad_profile)
    # decompressed raster shorter than h*(1+stride)
    short = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 7, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", zlib.compress(b"\x00" * 10))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="raster length"):
        decode_png(short)
    # ADVICE r6: malformed-input classes that used to escape as
    # struct.error / zlib.error must surface as the documented
    # ValueError — (a) IHDR whose data is not 13 bytes,
    ihdr12 = _PNG_SIG + _png_chunk(b"IHDR", b"\x00" * 12)
    with _pytest.raises(ValueError, match="IHDR length"):
        decode_png(ihdr12)
    # (b) no IDAT chunk at all,
    no_idat = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 7, 8, 2, 0, 0, 0))
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="no IDAT"):
        decode_png(no_idat)
    # (c) IDAT bytes that pass CRC framing but are not valid DEFLATE
    bad_deflate = (
        _PNG_SIG
        + _png_chunk(b"IHDR", struct.pack(">IIBBBBB", 5, 7, 8, 2, 0, 0, 0))
        + _png_chunk(b"IDAT", b"\x00not-deflate")
        + _png_chunk(b"IEND", b"")
    )
    with _pytest.raises(ValueError, match="inflate failed"):
        decode_png(bad_deflate)


def test_wav_codec_roundtrip_and_strictness():
    """decode_wav is a real hand-rolled RIFF/PCM parser (round 7,
    VERDICT r6 item 8): exact round-trip for mono and stereo,
    size-field validation, chunk-walk bounds, profile enforcement."""
    import struct

    import numpy as np
    import pytest as _pytest

    from bigdatafinalproject_hockey_spark.multimodal import (
        decode_wav,
        encode_wav,
    )

    rng = np.random.default_rng(42)
    for ch in (1, 2):
        arr = rng.integers(-32768, 32768, size=(100, ch)).astype(np.int16)
        payload = encode_wav(arr, 16000)
        assert payload[:4] == b"RIFF" and payload[8:12] == b"WAVE"
        back, rate = decode_wav(payload)
        assert rate == 16000 and back.shape == (100, ch)
        assert np.array_equal(back, arr)

    mono = encode_wav(np.zeros((10, 1), dtype=np.int16), 8000)
    with _pytest.raises(ValueError, match="not a RIFF"):
        decode_wav(b"FORM" + mono[4:])
    # RIFF size field lying about the payload length
    lied = bytearray(mono)
    lied[4:8] = struct.pack("<I", len(mono))  # off by 8
    with _pytest.raises(ValueError, match="RIFF size"):
        decode_wav(bytes(lied))
    # chunk that declares more data than the payload holds (RIFF size
    # field itself consistent, so the chunk-walk bound must catch it)
    overrun = b"WAVE" + b"fmt " + struct.pack("<I", 100) + b"\x00\x00"
    with _pytest.raises(ValueError, match="truncated WAV chunk"):
        decode_wav(b"RIFF" + struct.pack("<I", len(overrun)) + overrun)
    # non-PCM format code in an otherwise-valid stream
    ieee = bytearray(mono)
    fmt_at = mono.index(b"fmt ") + 8
    ieee[fmt_at : fmt_at + 2] = struct.pack("<H", 3)  # IEEE float
    with _pytest.raises(ValueError, match="unsupported WAV profile"):
        decode_wav(bytes(ieee))
    # data chunk must precede fmt → error
    def chunk(cid, data):
        return cid + struct.pack("<I", len(data)) + data

    body = b"WAVE" + chunk(b"data", b"\x00\x00")
    with _pytest.raises(ValueError, match="before fmt"):
        decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    # odd-sized unknown chunk exercises the word-alignment pad walk
    fmt16 = struct.pack("<HHIIHH", 1, 1, 8000, 16000, 2, 16)
    body = (
        b"WAVE"
        + chunk(b"LIST", b"abc")  # 3 bytes → 1 pad byte
        + b"\x00"
        + chunk(b"fmt ", fmt16)
        + chunk(b"data", b"\x01\x00\x02\x00")
    )
    arr, rate = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert rate == 8000 and arr.tolist() == [[1], [2]]


def test_decode_image_dispatches_on_magic():
    """decode_image routes P6 → PPM parser, PNG signature → PNG
    pipeline, and anything else → the permanent compressed-codec
    stub (NotImplementedError, not silence)."""
    import numpy as np
    import pytest as _pytest

    from bigdatafinalproject_hockey_spark.multimodal import (
        decode_image,
        encode_png,
        encode_ppm,
    )

    rng = np.random.default_rng(3)
    arr = rng.integers(0, 256, size=(4, 6, 3), dtype=np.uint8)
    assert np.array_equal(decode_image(encode_ppm(arr)), arr)
    assert np.array_equal(decode_image(encode_png(arr, filter_type=4)), arr)
    with _pytest.raises(NotImplementedError, match="JPEG"):
        decode_image(b"\xff\xd8\xff\xe0 fake jpeg bytes")


def test_decode_features_reads_png_header_not_id(spark):
    """PNG twin of the header-not-id check: a PNG whose IHDR disagrees
    with the id-derived law must be reported as the IHDR says, through
    the same batched decode stage the registered query uses."""
    import numpy as np
    import pandas as pd

    from bigdatafinalproject_hockey_spark.multimodal import (
        decode_features_batched,
        encode_png,
    )

    arr = np.full((2, 9, 3), 7, dtype=np.uint8)
    pdf = pd.DataFrame(
        {"doc_id": [123], "media": [encode_png(arr, filter_type=3)]}
    )
    df = spark.createDataFrame(pdf, schema="doc_id long, media binary")
    row = decode_features_batched(df).collect()[0]
    assert (row.width, row.height) == (9, 2)
    assert row.sum_r == row.sum_g == row.sum_b == 7 * 18


def test_decode_features_reads_header_not_id(spark):
    """The decoded dimensions must come from the PARSED HEADER: a
    payload whose header disagrees with the id-derived law must be
    reported as the header says (proving the decode is real, not an
    echo of the generator)."""
    import numpy as np
    import pandas as pd

    from bigdatafinalproject_hockey_spark.multimodal import (
        decode_features_batched,
        encode_ppm,
    )

    arr = np.full((2, 9, 3), 7, dtype=np.uint8)
    pdf = pd.DataFrame({"doc_id": [123], "media": [encode_ppm(arr)]})
    df = spark.createDataFrame(pdf, schema="doc_id long, media binary")
    row = decode_features_batched(df).collect()[0]
    assert (row.width, row.height) == (9, 2)
    assert row.sum_r == row.sum_g == row.sum_b == 7 * 18


def test_holt_hof_equals_arrow_fold_bitexact(spark):
    """The JVM aggregate() HOF fold and the applyInPandas fold must
    produce bit-identical doubles — same IEEE operation sequence, two
    execution paths (round 5; the registered ts_holt_forecast rides
    the HOF, the Arrow twin stays as the general sequential path)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.catalog import load_table
    from bigdatafinalproject_hockey_spark.functions.numeric import cents_expr
    from bigdatafinalproject_hockey_spark.operators.grouped import (
        holt_linear_half,
        holt_linear_half_hof,
    )

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id", "ts", "event_id", cents_expr(F.col("value")).alias("cents")
    )
    cols = ["user_id", "n_points", "level", "trend", "forecast"]
    a = (
        holt_linear_half(ev, ["user_id"], ["ts", "event_id"], "cents")
        .toPandas().sort_values("user_id").reset_index(drop=True)[cols]
    )
    b = (
        holt_linear_half_hof(ev, ["user_id"], ["ts", "event_id"], "cents")
        .toPandas().sort_values("user_id").reset_index(drop=True)[cols]
    )
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_ewma_partitioned_equals_grouped_bitexact(spark):
    """The partition-amortized mapInPandas EWMA must equal the
    per-group applyInPandas fold bit-for-bit — same numpy operation
    sequence, group boundaries respected across Arrow batches
    (round 5; the registered ts_ewma rides the partitioned form)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.catalog import load_table
    from bigdatafinalproject_hockey_spark.functions.numeric import cents_expr
    from bigdatafinalproject_hockey_spark.operators.grouped import (
        ewma_half,
        ewma_half_partitioned,
    )

    ev = load_table(spark, "events", "/root/testdata/sf0.001").select(
        "user_id", "event_id", "ts", cents_expr(F.col("value")).alias("cents")
    )
    cols = ["user_id", "event_id", "ewma"]
    a = (
        ewma_half(ev, ["user_id"], ["ts", "event_id"], "cents")
        .select(*cols).toPandas()
        .sort_values(["user_id", "event_id"]).reset_index(drop=True)
    )
    b = (
        ewma_half_partitioned(ev, ["user_id"], ["ts", "event_id"], "cents")
        .select(*cols).toPandas()
        .sort_values(["user_id", "event_id"]).reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(a, b, check_exact=True)


def test_ewma_partitioned_state_survives_batch_boundary(spark):
    """One group's rows split across Arrow batches within a partition
    must continue the SAME fold (the accumulator carries over), and a
    new group at a batch boundary must reset it."""
    import pandas as pd

    from bigdatafinalproject_hockey_spark.operators.grouped import (
        ewma_half_partitioned,
    )

    n = 5000  # far beyond one Arrow batch at the configured batch size
    prev = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "100")
    try:
        pdf = pd.DataFrame(
            {"g": [1] * n + [2] * n, "t": list(range(n)) * 2,
             "x": [100.0] * (2 * n)}
        )
        df = spark.createDataFrame(pdf, schema="g long, t long, x double")
        out = (
            ewma_half_partitioned(df, ["g"], ["t"], "x")
            .toPandas().sort_values(["g", "t"]).reset_index(drop=True)
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    # constant series: e is exactly 100.0 at every step IFF the fold
    # never restarts mid-group (a restart would also yield 100.0...
    # so use a two-value series instead for a real signal)
    assert (out["ewma"] == 100.0).all()
    # alternating series: e_t depends on the whole prefix; spot-check
    # the recursion against a local replay for group 1
    pdf2 = pd.DataFrame(
        {"g": [1] * 300, "t": list(range(300)),
         "x": [float(100 + (i % 7)) for i in range(300)]}
    )
    df2 = spark.createDataFrame(pdf2, schema="g long, t long, x double")
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "16")
    try:
        got = (
            ewma_half_partitioned(df2, ["g"], ["t"], "x")
            .toPandas().sort_values("t")["ewma"].to_numpy()
        )
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", prev)
    e = None
    for i, v in enumerate(pdf2["x"]):
        e = v if i == 0 else (e + v) * 0.5
        assert got[i] == e, i


def test_mv_join_view_store_is_contribution_log(spark):
    """The insert-only join view's store must hold each step's DELTA
    contribution only — never the accumulated view (a per-step
    O(history) rewrite is a rebuild wearing an incremental costume).
    Pins: step dirs partition the view (sum of step rows == view
    rows, no overlap) and no single step dir holds the whole view."""
    import glob as _glob
    import os as _os

    from bigdatafinalproject_hockey_spark.queries import QUERIES
    from bigdatafinalproject_hockey_spark.queries.scale import TMP_DIR

    sf_dir = "/root/testdata/sf0.001"
    view = QUERIES["mv_incremental_join"](spark, sf_dir)
    n_view = view.count()
    assert n_view > 0
    tag = "".join(
        c if c.isalnum() else "_" for c in sf_dir.rstrip("/").rsplit("/", 1)[-1]
    )
    step_dirs = sorted(_glob.glob(_os.path.join(TMP_DIR, f"mv_join_view_{tag}_s*")))
    assert len(step_dirs) == 4  # steps 1..4 contribute; step 0 has no B side
    per_step = [spark.read.parquet(d).count() for d in step_dirs]
    assert sum(per_step) == n_view
    assert max(per_step) < n_view  # no dir holds the accumulated view


def test_rowgroup_pruned_scan_reads_fewer_groups(spark):
    """The row-group tier must actually skip INTRA-file (round 8):
    a four-month predicate over the date-clustered layout keeps well
    under half of the row groups, the layout carries MULTIPLE row
    groups (the tier below `scan_files_pruned`'s 16-file pruning),
    and the pruned+residual-filtered result equals the full scan's
    (pruning is sound, never semantic)."""
    import datetime

    from bigdatafinalproject_hockey_spark.operators import manifest as mf
    from bigdatafinalproject_hockey_spark.queries.scale import (
        _lineitem_rowgroup_clustered,
        q_scan_rowgroups_pruned,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = {
        (r.l_returnflag, r.n_rows, r.sum_qty, r.sum_price)
        for r in q_scan_rowgroups_pruned(spark, sf_dir).collect()
    }
    data_path = _lineitem_rowgroup_clustered(spark, sf_dir)
    lo = datetime.date(1997, 3, 1)
    hi = datetime.date(1997, 6, 30)
    survivors, n_total = mf.rowgroups_in_range(
        spark, data_path, "ship_date", lo, hi
    )
    assert n_total >= 8, f"layout degenerated to {n_total} row groups"
    assert len(survivors) / n_total <= 0.4, (
        f"pruning ineffective: {len(survivors)}/{n_total} row groups"
    )
    full = spark.read.parquet(data_path)
    expect = {
        (r.l_returnflag, r.n_rows, r.sum_qty, r.sum_price)
        for r in (
            full.filter(
                (F.col("ship_date") >= F.lit(lo)) & (F.col("ship_date") <= F.lit(hi))
            )
            .groupBy("l_returnflag")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                (
                    F.sum(F.round(F.col("l_quantity") * 100).cast("long"))
                    .cast("double")
                    / 100.0
                ).alias("sum_qty"),
                (
                    F.sum(F.round(F.col("l_extendedprice") * 100).cast("long"))
                    .cast("double")
                    / 100.0
                ).alias("sum_price"),
            )
            .collect()
        )
    }
    assert got == expect


def test_rowgroup_reader_missing_stats_are_kept(spark, tmp_path):
    """Soundness edge: a layout whose stat column has NO footer
    statistics must keep every row group (skip only on proof)."""
    import os

    import pandas as pd
    import pyarrow as pa
    import pyarrow.parquet as pq

    from bigdatafinalproject_hockey_spark.operators import manifest as mf

    path = str(tmp_path / "nostats")
    os.makedirs(path, exist_ok=True)
    tbl = pa.Table.from_pandas(pd.DataFrame({"k": [1, 2, 3], "v": [1.0, 2.0, 3.0]}))
    pq.write_table(
        tbl, os.path.join(path, "part-0.parquet"), write_statistics=False
    )
    survivors, n_total = mf.rowgroups_in_range(spark, path, "k", 100, 200)
    assert n_total == 1
    assert len(survivors) == 1  # no stats -> must read


def test_ivfpq_multiprobe_dominates_single_probe(spark):
    """nprobe=2 IVF-PQ must (a) always probe the home cell first —
    every nprobe=1 candidate stays a candidate, so each query's k-th
    best ADC distance is monotone non-increasing in nprobe — and
    (b) actually exercise the recall lever on the fixture corpus
    (some query's top-5 changes)."""
    from bigdatafinalproject_hockey_spark.queries.scale import (
        _ivf_centroids,
    )
    from bigdatafinalproject_hockey_spark.similarity import (
        ivfpq_topk,
        pq_codebooks,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    queries = emb.filter(F.col("vec_id") < 10)

    def by_query(nprobe: int) -> dict:
        out: dict = {}
        rows = ivfpq_topk(emb, centroids, cb, queries, nprobe=nprobe).collect()
        for r in rows:
            out.setdefault(r["query_id"], []).append(
                (r["rnk"], r["neighbor_id"], r["adc_fp"])
            )
        return {q: sorted(v) for q, v in out.items()}

    one, two = by_query(1), by_query(2)
    assert set(one) == set(two)
    changed = 0
    for q in one:
        d1 = [t[2] for t in one[q]]
        d2 = [t[2] for t in two[q]]
        assert len(d2) == len(d1)
        for a, b in zip(d2, d1):
            assert a <= b, f"query {q}: nprobe=2 rank distance {a} > {b}"
        if one[q] != two[q]:
            changed += 1
    assert changed >= 1, "nprobe=2 changed no query's top-5 on the fixture"


def test_pq_fitted_sidecar_bit_equals_live_fit(spark):
    """The fitted-codebook ingest sidecar must be BIT-identical to
    the live 2-iteration Lloyd fit (doubles round-trip parquet
    exactly): amortizing the index build to ingest may never change a
    single centroid component — that is what lets the DuckDB oracle
    keep recomputing the fit from raw embeddings while the Spark
    query reads the sidecar."""
    from bigdatafinalproject_hockey_spark.catalog import load_table
    from bigdatafinalproject_hockey_spark.queries.scale import (
        _pq_fitted_codebook_sidecar,
    )
    from bigdatafinalproject_hockey_spark.similarity import pq_codebooks_lloyd

    sf_dir = "/root/testdata/sf0.001"
    sidecar = {
        (r["m"], r["code"]): tuple(r["cvec"])
        for r in _pq_fitted_codebook_sidecar(spark, sf_dir).collect()
    }
    emb = load_table(spark, "embeddings", sf_dir)
    live = {
        (r["m"], r["code"]): tuple(r["cvec"])
        for r in pq_codebooks_lloyd(emb, iterations=2).collect()
    }
    assert sidecar == live


def _within_cell_exact(spark, emb, cents, queries):
    """(query, neighbor) -> exact fp L2 over each query's home cell."""
    from bigdatafinalproject_hockey_spark.similarity import (
        _l2sq_fp,
        ivf_cell_assignment,
    )

    assign = ivf_cell_assignment(emb, cents)
    qcv = (
        queries.select(F.col("vec_id").alias("query_id"))
        .join(assign, F.col("query_id") == F.col("vid"))
        .select("query_id", "cell", F.col("emb").alias("qemb"))
    )
    cand = (
        F.broadcast(qcv)
        .join(assign.select("vid", "cell", "emb"), "cell")
        .filter(F.col("vid") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vid").alias("neighbor_id"),
            _l2sq_fp(F.col("qemb"), F.col("emb")).alias("exact_fp"),
        )
    )
    return {
        (r["query_id"], r["neighbor_id"]): r["exact_fp"] for r in cand.collect()
    }


def test_residual_adc_exact_on_codebook_members(spark):
    """The asymmetric-exactness invariant unique to residual IVF-PQ:
    a candidate whose residual IS a codebook entry (the offset-grid
    init rows, vid % 50 == 7) has encode error 0, so its ADC score
    equals the exact within-cell distance up to the per-subspace
    1e-6 rounding grid (8 subspaces -> |err| <= 8 grid units), while
    general candidates carry five-orders-of-magnitude quantization
    error. This is the property that makes ADC 'asymmetric': the
    query side is never quantized."""
    from bigdatafinalproject_hockey_spark.queries.scale import _ivf_centroids
    from bigdatafinalproject_hockey_spark.similarity import ivfpq_residual_topk

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _within_cell_exact(spark, emb, cents, queries)
    adc = {
        (r["query_id"], r["neighbor_id"]): r["adc_fp"]
        for r in ivfpq_residual_topk(emb, cents, queries, k=10**6).collect()
    }
    members = [k for k in exact if k[1] % 50 == 7 and k[1] < 807]
    assert members, "fixture has no codebook-member candidates"
    for k in members:
        assert abs(adc[k] - exact[k]) <= 8, (k, adc[k], exact[k])
    others = [abs(adc[k] - exact[k]) for k in exact if k not in set(members)]
    assert sum(others) / len(others) > 1000  # general pairs are approximate


def test_pq_lloyd_fit_improves_within_cell_recall(spark):
    """The Lloyd fit must improve the RANKING, not just the encode
    distance (which tests/test_modules.py already pins monotone):
    recall@5 of IVF-PQ against the exact within-cell ranking is
    strictly higher with the 2-iteration fitted codebooks than with
    the sampled init on the fixture corpus (measured 0.44 vs 0.36 at
    sf0.01 — the round-8 basis for registering
    `sim_ann_ivfpq_fitted`)."""
    import collections

    from bigdatafinalproject_hockey_spark.queries.scale import _ivf_centroids
    from bigdatafinalproject_hockey_spark.similarity import (
        ivfpq_topk,
        pq_codebooks,
        pq_codebooks_lloyd,
    )

    emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    cents = _ivf_centroids(emb)
    queries = emb.filter(F.col("vec_id") < 10)
    exact = _within_cell_exact(spark, emb, cents, queries)
    by_q = collections.defaultdict(list)
    for (q, n), d in exact.items():
        by_q[q].append((d, n))
    truth = {q: set(n for _, n in sorted(v)[:5]) for q, v in by_q.items()}

    def recall(cb) -> float:
        got = collections.defaultdict(set)
        for r in ivfpq_topk(emb, cents, cb, queries).collect():
            got[r["query_id"]].add(r["neighbor_id"])
        return sum(len(got[q] & truth[q]) for q in truth) / (5 * len(truth))

    r_init = recall(pq_codebooks(emb))
    r_fit = recall(pq_codebooks_lloyd(emb))
    assert r_fit > r_init, f"fit did not improve recall: {r_fit} <= {r_init}"
