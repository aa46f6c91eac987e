"""Streaming, sessionization, ML, and source/sink queries.

Covers SURVEY.md §2.1 (scan/sink), §2.12 (streaming extension) and
§2.14 (ML surface). The streaming aggregate runs a REAL Structured
Streaming query (file replay → watermark → windowed agg → memory
sink) whose complete-mode result equals the batch oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark import sidecar
from bigdatafinalproject_hockey_spark.catalog import SCHEMAS, load_table
from bigdatafinalproject_hockey_spark.functions.numeric import cents_expr
from bigdatafinalproject_hockey_spark.operators.sampling import split_temporal
from bigdatafinalproject_hockey_spark.queries.base import register
from bigdatafinalproject_hockey_spark.sources.csv import scan_csv, sink_csv
from bigdatafinalproject_hockey_spark.streaming import (
    read_events_stream,
    read_events_stream_replayed,
    run_stream_to_table,
    sessionize,
    sliding_agg,
    static_enrich_agg,
    stream_dedup,
    stream_dedup_within_watermark,
    tumbling_agg,
)

@register(
    "stream_tumbling_agg",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM events
    GROUP BY 1, 2
    """,
)
def q_stream_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked tumbling-window aggregate executed as a REAL
    streaming query (availableNow file replay → memory sink, complete
    mode). Epoch-aligned windows match the batch time_bucket oracle."""
    stream = read_events_stream(spark, sf_dir)
    agg = tumbling_agg(stream, window_duration="1 day", watermark_delay="1 hour")
    return run_stream_to_table(spark, agg, output_mode="complete")


@register(
    "stream_static_enrich",
    oracle="""
    SELECT c_mktsegment,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1
    """,
)
def q_stream_static_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment as a REAL streaming query: the events
    file stream broadcast-joins the static customer dimension and
    aggregates revenue per market segment (complete-mode keyed state,
    bounded by segment cardinality). The oracle is the equivalent
    batch join+aggregate."""
    stream = read_events_stream(spark, sf_dir)
    dim = load_table(spark, "customer", sf_dir)
    agg = static_enrich_agg(stream, dim)
    return run_stream_to_table(spark, agg, output_mode="complete")


@register(
    "stream_sliding_agg",
    oracle="""
    WITH expanded AS (
      SELECT time_bucket(INTERVAL '12 hours', ts) AS window_start,
             event_type, value
      FROM events
      UNION ALL
      SELECT time_bucket(INTERVAL '12 hours', ts) - INTERVAL '12 hours',
             event_type, value
      FROM events
    )
    SELECT window_start, event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM expanded
    GROUP BY 1, 2
    """,
)
def q_stream_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window (1 day every 12 h) streaming aggregate: every
    event belongs to exactly duration/slide = 2 epoch-aligned windows;
    the oracle expands each event into both window starts and groups."""
    stream = read_events_stream(spark, sf_dir)
    agg = sliding_agg(
        stream, window_duration="1 day", slide="12 hours", watermark_delay="1 hour"
    )
    return run_stream_to_table(spark, agg, output_mode="complete")


@register(
    "stream_dedup",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def q_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming dedup as a REAL streaming query: the source is
    self-unioned so every event arrives twice; watermarked
    dropDuplicates emits each exactly once (append mode). Surviving
    copies are byte-identical, so the output value-matches the plain
    batch table regardless of which copy won."""
    stream = read_events_stream(spark, sf_dir)
    deduped = stream_dedup(stream, watermark_delay="1 hour")
    return run_stream_to_table(spark, deduped, output_mode="append")


@register(
    "stream_dedup_within_watermark",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def q_stream_dedup_within_watermark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-state streaming dedup as a REAL streaming query: the
    events table is REPLAYED as two separate micro-batches (an
    at-least-once source redelivering a whole partition), and
    dropDuplicatesWithinWatermark emits each event once while evicting
    key state as the watermark advances — the deployable alternative
    to plain dropDuplicates' forever-state (see
    streaming.stream_dedup_within_watermark). Surviving copies are
    byte-identical, so the result value-matches the batch table."""
    stream = read_events_stream_replayed(spark, sf_dir, copies=2)
    deduped = stream_dedup_within_watermark(stream, watermark_delay="1 hour")
    return run_stream_to_table(spark, deduped, output_mode="append")


@register(
    "sessionize_events",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM s
    GROUP BY user_id, sess_id
    """,
)
def q_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity) via the built-in
    session_window — the oracle is the classic gaps-and-islands SQL.
    Spark semantics: a session's window extends gap past the last
    event; an event at exactly +gap starts a NEW session (oracle uses
    >= accordingly)."""
    events = load_table(spark, "events", sf_dir)
    return sessionize(events, gap="30 minutes")


@register(
    "scan_jsonl_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def q_scan_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL sink + explicit-schema JSONL scan: the pretraining-corpus
    interchange format (one document object per line). Values must
    round-trip losslessly against the parquet original — exercises
    JSON escaping of arbitrary text payloads and null handling."""
    from bigdatafinalproject_hockey_spark.sources.jsonl import scan_jsonl, sink_jsonl

    path = sidecar.scratch("jsonl_roundtrip_documents")
    df = load_table(spark, "documents", sf_dir)
    sink_jsonl(df, path)
    return scan_jsonl(spark, path, SCHEMAS["documents"])


@register(
    "scan_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def q_scan_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSV sink + explicit-schema CSV scan (SURVEY.md §2.1): write the
    customer table to CSV, read it back typed, values identical to the
    parquet original. Exercises header handling, null sentinels, and
    full-precision double round-trip."""
    path = sidecar.scratch("csv_roundtrip_customer")
    df = load_table(spark, "customer", sf_dir)
    sink_csv(df, path)
    return scan_csv(spark, path, SCHEMAS["customer"])


def _ml_train_eval(spark: SparkSession, sf_dir: str, kind: str) -> DataFrame:
    """Shared body for the four classifier queries: features from the
    star schema, temporal split, train with the reference's
    hyperparameters (ml.classifier / ml.mlp_classifier,
    reference code/experiment.py:697-785), then one collect of
    ``ml.evaluate_model``'s row for the metrics, AUC and baselines (vs
    the reference's six jobs, SURVEY.md §3.3). Tree ensembles also
    report their top feature importance (reference
    code/experiment.py:39-54). Returns one metrics row built on the
    driver, so its plan has no exchange."""
    from bigdatafinalproject_hockey_spark.ml import (
        evaluate_model,
        feature_importances_topk,
        train_pipeline,
    )

    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    per_order = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("f_qty"),
        F.avg("l_discount").alias("f_disc"),
        F.avg("l_extendedprice").alias("f_price"),
        F.count(F.lit(1)).alias("f_lines"),
    )
    data = (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
        .withColumn("label", F.when(F.col("o_orderstatus") == "F", 1.0).otherwise(0.0))
        .withColumn("order_year", F.year("o_orderdate"))
        .select("label", "order_year", "f_qty", "f_disc", "f_price", "f_lines")
    )
    train, test = split_temporal(data, "order_year")
    feats = ["f_qty", "f_disc", "f_price", "f_lines"]
    model = train_pipeline(train, feats, kind)
    m = evaluate_model(model, test)
    row = {
        "model": kind,
        "n_test": float(m.n_test),
        **{
            k: m[k]
            for k in (
                "accuracy", "precision", "recall", "f1", "auc",
                "baseline_majority", "baseline_weighted",
            )
        },
    }
    if kind in ("rf", "gbt"):
        imp, name = feature_importances_topk(model, feats, k=1)[0]
        row["top_feature"] = name
        row["top_feature_importance"] = float(imp)
    else:
        row["top_feature"] = None
        row["top_feature_importance"] = None
    schema = (
        "model string, n_test double, accuracy double, precision double, "
        "recall double, f1 double, auc double, baseline_majority double, "
        "baseline_weighted double, top_feature string, "
        "top_feature_importance double"
    )
    return spark.createDataFrame([row], schema=schema)


@register("ml_train_eval")  # model internals → rows-only check
def q_ml_train_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (reference code/experiment.py:743-758)."""
    return _ml_train_eval(spark, sf_dir, "lr")


@register("ml_train_eval_rf")  # model internals → rows-only check
def q_ml_train_eval_rf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random forest, numTrees=200 maxDepth=10 seed=42 (reference
    code/experiment.py:697-710), with top feature importance."""
    return _ml_train_eval(spark, sf_dir, "rf")


@register("ml_train_eval_gbt")  # model internals → rows-only check
def q_ml_train_eval_gbt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gradient-boosted trees, maxIter=100 maxDepth=8 (reference
    code/experiment.py:711-742), with top feature importance."""
    return _ml_train_eval(spark, sf_dir, "gbt")


@register("ml_train_eval_mlp")  # model internals → rows-only check
def q_ml_train_eval_mlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilayer perceptron, layers [n, 64, 32, 2] (reference
    code/experiment.py:767-785)."""
    return _ml_train_eval(spark, sf_dir, "mlp")


@register(
    "sink_console",
    oracle="""
    SELECT label, prediction, n FROM (
      SELECT l_returnflag AS label, l_linestatus AS prediction,
             COUNT(*) AS n
      FROM lineitem GROUP BY 1, 2
      ORDER BY label, prediction
    ) LIMIT 20
    """,
)
def q_sink_console(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Console sink (SURVEY.md §2.1; reference code/experiment.py:678-680):
    the displayed confusion-matrix-style table — grouped counts,
    ordered by the group keys, capped at ``df.show()``'s implicit
    20-row limit. This query returns exactly the rows ``.show()``
    renders (the CLI wires the actual print, __main__.py --show).
    ``orderBy().limit(20)`` plans as TakeOrderedAndProject — a 20-row
    heap per partition, never a full sort of the grouped result."""
    li = load_table(spark, "lineitem", sf_dir).select(
        F.col("l_returnflag").alias("label"),
        F.col("l_linestatus").alias("prediction"),
    )
    return (
        li.groupBy("label", "prediction")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("label", "prediction")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Shared feature/label construction for the deterministic ML-eval tier
# (ml_eval_deterministic / _calibration / _kfold / _pr_curve): ONE
# definition each side (review r4 — the block was copy-pasted 4×, a
# single-side edit would silently desynchronize the others).
# ---------------------------------------------------------------------------

_ML_PER_ORDER_CTE = """per_order AS (
      SELECT l_orderkey,
             SUM(l_quantity) AS f_qty,
             SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS f_cents,
             COUNT(*) AS f_lines
      FROM lineitem GROUP BY l_orderkey
    )"""

# per_order + label/year join + temporal test split + double score —
# the prefix shared by the single-split eval queries.
_ML_TEST_CTE = f"""{_ML_PER_ORDER_CTE},
    data AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS label,
             year(o_orderdate) AS order_year, f_qty, f_cents, f_lines
      FROM orders JOIN per_order ON o_orderkey = l_orderkey
    ),
    test AS (
      SELECT label,
             2.0 * (f_cents % 500) + f_qty - 3.0 * f_lines AS score
      FROM data
      WHERE order_year = (SELECT MAX(order_year) FROM data)
    )"""


def _ml_labeled_data(spark: SparkSession, sf_dir: str, *, keep_key: bool = False):
    """The eval tier's feature/label frame: per-order aggregates joined
    to orders, binary label from priority, order_year for the temporal
    split. ``keep_key`` retains o_orderkey (fold assignment)."""
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    per_order = li.groupBy("l_orderkey").agg(
        F.sum("l_quantity").alias("f_qty"),
        F.sum(cents_expr(F.col("l_extendedprice"))).alias("f_cents"),
        F.count(F.lit(1)).alias("f_lines"),
    )
    cols = ["label", "order_year", "f_qty", "f_cents", "f_lines"]
    if keep_key:
        cols = ["o_orderkey", *cols]
    return (
        orders.join(per_order, orders.o_orderkey == per_order.l_orderkey)
        .withColumn(
            "label",
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0),
        )
        .withColumn("order_year", F.year("o_orderdate"))
        .select(*cols)
    )


def _ml_score_expr():
    """The closed-form literal linear score (double, integer-exact
    operands)."""
    return (
        F.lit(2.0) * (F.col("f_cents") % 500)
        + F.col("f_qty")
        - F.lit(3.0) * F.col("f_lines")
    )


@register(
    "ml_eval_deterministic",
    oracle=f"""
    WITH {_ML_TEST_CTE},
    scored AS (
      SELECT label,
             CASE WHEN score > 600.0 THEN 1 ELSE 0 END AS prediction,
             RANK() OVER (ORDER BY score)
               + (COUNT(*) OVER (PARTITION BY score) - 1) / 2.0 AS midrank
      FROM test
    ),
    cells AS (
      SELECT COUNT(*) AS n_test,
             COUNT(CASE WHEN label = 1 THEN 1 END) AS npos,
             COUNT(CASE WHEN prediction = 1 AND label = 1 THEN 1 END) AS tp,
             COUNT(CASE WHEN prediction = 0 AND label = 0 THEN 1 END) AS tn,
             COUNT(CASE WHEN prediction = 1 AND label = 0 THEN 1 END) AS fp,
             COUNT(CASE WHEN prediction = 0 AND label = 1 THEN 1 END) AS fn,
             SUM(CASE WHEN label = 1 THEN midrank END) AS pos_ranksum
      FROM scored
    )
    SELECT 'deterministic_linear' AS model,
           n_test, tp, tn, fp, fn,
           ROUND((tp + tn) / n_test, 6) AS accuracy,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE ROUND(tp / (tp + fp), 6) END AS "precision",
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE ROUND(tp / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                ELSE ROUND(2 * tp / (2 * tp + fp + fn), 6) END AS f1,
           CASE WHEN npos = 0 OR npos = n_test THEN 0.5
                ELSE ROUND((pos_ranksum - npos * (npos + 1) / 2.0)
                           / (npos * (n_test - npos)), 6)
           END AS auc,
           ROUND(GREATEST(npos, n_test - npos) / n_test, 6)
               AS baseline_majority,
           0.5 AS baseline_coin,
           ROUND((npos / n_test) * (npos / n_test)
                 + ((n_test - npos) / n_test) * ((n_test - npos) / n_test), 6)
               AS baseline_weighted
    FROM cells
    """,
)
def q_ml_eval_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's ML *evaluation* math, oracle-checkable: a
    closed-form literal linear rule scores the test split (training is
    the only non-deterministic stage, so it is replaced by a fixed
    predictor), then ml.evaluate_binary_df computes the ENTIRE
    evaluation surface distributed in one job — confusion matrix +
    accuracy/precision/recall/F1 (reference code/experiment.py:617-688),
    tie-aware rank-sum AUC (≡ trapezoidal areaUnderROC, 636-642), and
    the majority/coin-flip/weighted baselines (793-823).

    Feature/score arithmetic is integer-exact (cents, counts, integral
    quantity sums), so score ordering, ranks, and every metric are
    bit-identical across engines before the final 6-dp round."""
    from bigdatafinalproject_hockey_spark.ml import evaluate_binary_df

    _train, test = split_temporal(
        _ml_labeled_data(spark, sf_dir), "order_year"
    )
    scored = test.select("label", _ml_score_expr().alias("score")).withColumn(
        "prediction", F.when(F.col("score") > 600.0, 1).otherwise(0)
    )
    metrics = evaluate_binary_df(scored, score_col="score")
    return metrics.select(
        F.lit("deterministic_linear").alias("model"),
        "n_test", "tp", "tn", "fp", "fn",
        "accuracy", "precision", "recall", "f1", "auc",
        "baseline_majority", "baseline_coin", "baseline_weighted",
    )


@register(
    "scan_chunked",
    oracle="""
    SELECT l_returnflag,
           COUNT(*) AS n_rows,
           SUM(l_quantity) AS sum_qty
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_scan_chunked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-parallel scan (reference scan_chunked: bounded-memory
    chunked CSV reads, code/create_subsample.py:54-70). Spark's native
    form is split-based scanning — ``spark.sql.files.maxPartitionBytes``
    bounds per-task input, so no task ever holds the whole file
    (tests/test_modules.py::test_scan_chunked_splits locks that the
    split count scales and values are chunk-invariant). On top,
    ``ensure_parallelism`` re-chunks a compact scan across all cores
    before the aggregate. The aggregate is associative, so the result
    is independent of the chunking — which is exactly what the oracle
    checks."""
    from bigdatafinalproject_hockey_spark.operators.partitioning import (
        ensure_parallelism,
    )

    li = load_table(spark, "lineitem", sf_dir).select("l_returnflag", "l_quantity")
    chunked = ensure_parallelism(li)
    return chunked.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("l_quantity").alias("sum_qty"),
    )


@register(
    "ml_eval_calibration",
    oracle=f"""
    WITH {_ML_PER_ORDER_CTE},
    data AS (
      SELECT CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS label,
             year(o_orderdate) AS order_year, f_qty, f_cents, f_lines
      FROM orders JOIN per_order ON o_orderkey = l_orderkey
    ),
    test AS (
      SELECT label,
             LEAST(GREATEST(
                 2 * (f_cents % 500) + CAST(f_qty AS BIGINT) - 3 * f_lines,
                 0), 1000) AS p_units
      FROM data
      WHERE order_year = (SELECT MAX(order_year) FROM data)
    )
    SELECT CAST(FLOOR(LEAST(p_units, 999) / 100) AS BIGINT) AS bin,
           COUNT(*) AS n,
           CAST(SUM(label) AS BIGINT) AS n_pos,
           CAST(SUM(p_units) AS BIGINT) AS sum_p_units,
           CAST(SUM((p_units - 1000 * label) * (p_units - 1000 * label))
                AS BIGINT) AS brier_units,
           CAST(SUM(p_units) AS DOUBLE) / (1000.0 * COUNT(*)) AS mean_p,
           CAST(SUM(label) AS DOUBLE) / COUNT(*) AS pos_rate
    FROM test
    GROUP BY 1
    """,
)
def q_ml_eval_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration analysis of the deterministic closed-form predictor
    (the round-4 companion to ml_eval_deterministic, extending the
    reference's evaluation surface, code/experiment.py:617-688, with
    the reliability diagram every probabilistic scorer needs): the
    integer-exact linear score is clamped into [0, 1000] probability
    micro-units, binned into deciles, and each bin reports count,
    positives, summed predicted mass, and the Brier contribution —
    ALL in integer units, so every cell is bit-identical across
    engines; the two ratio columns are each ONE IEEE division of
    integer-exact operands (no round — same discipline as
    text_quality_classifier).

    One hash-aggregate shuffle over the test split; calibration of a
    100 TB eval set is the same single pass."""
    _train, test = split_temporal(
        _ml_labeled_data(spark, sf_dir), "order_year"
    )
    score_int = (
        F.lit(2) * (F.col("f_cents") % 500)
        + F.col("f_qty").cast("long")
        - F.lit(3) * F.col("f_lines")
    )
    scored = test.select(
        "label",
        F.least(F.greatest(score_int, F.lit(0)), F.lit(1000)).alias("p_units"),
    )
    binned = scored.groupBy(
        F.floor(F.least(F.col("p_units"), F.lit(999)) / 100)
        .cast("long")
        .alias("bin")
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("label").cast("long").alias("n_pos"),
        F.sum("p_units").cast("long").alias("sum_p_units"),
        F.sum(
            (F.col("p_units") - 1000 * F.col("label"))
            * (F.col("p_units") - 1000 * F.col("label"))
        )
        .cast("long")
        .alias("brier_units"),
    )
    return binned.select(
        "bin",
        "n",
        "n_pos",
        "sum_p_units",
        "brier_units",
        (F.col("sum_p_units").cast("double") / (F.lit(1000.0) * F.col("n"))).alias(
            "mean_p"
        ),
        (F.col("n_pos").cast("double") / F.col("n")).alias("pos_rate"),
    )


@register(
    "scan_csv_quarantine",
    oracle=f"""
    SELECT o_orderstatus AS bucket,
           COUNT(*) AS n_rows,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
               AS total_cents
    FROM orders
    GROUP BY o_orderstatus
    UNION ALL
    SELECT '_QUARANTINED', 7, 0
    """,
)
def q_scan_csv_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Malformed-record quarantine ingest — the robustness pattern a
    100 TB CSV/JSONL backfill cannot live without: the scan runs in
    PERMISSIVE mode with columnNameOfCorruptRecord, so broken lines
    (wrong arity, unparseable numerics) land in a corrupt-record
    column instead of killing the job or silently vanishing
    (FAILFAST/DROPMALFORMED). Good rows aggregate normally; corrupt
    rows are counted into a '_QUARANTINED' bucket — in production
    they'd be sunk to a quarantine table for replay after the
    upstream fix. The fixture: orders written to CSV by the engine
    itself plus a bad-lines file appended beside it (7 garbage rows);
    the oracle knows the clean aggregate and the injected count."""
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("_corrupt", T.StringType()),
        ]
    )

    def build(tmp: str) -> None:
        raw = os.path.join(tmp, "csv")
        (
            load_table(spark, "orders", sf_dir)
            .select("o_orderkey", "o_orderstatus", "o_totalprice")
            .write.mode("overwrite")
            .option("header", "false")
            .csv(raw)
        )
        with open(os.path.join(raw, "bad.csv"), "w") as fh:
            for i in range(7):
                fh.write(f"garbage-line-{i},not;a,valid,row,{i},,\n")
        # Spark refuses a query that references ONLY the corrupt column
        # of a raw CSV scan (internal-only columns must be materialized
        # first); the parse lands in parquet once — which is also where
        # a real quarantine table would live for post-fix replay.
        (
            spark.read.schema(schema)
            .option("header", "false")
            .option("mode", "PERMISSIVE")
            .option("columnNameOfCorruptRecord", "_corrupt")
            .csv(raw)
            .write.mode("overwrite")
            .parquet(os.path.join(tmp, "parsed"))
        )

    stage = sidecar.cached(
        "csv_quarantine", [os.path.join(sf_dir, "orders.parquet")], "v1", build
    )
    df = spark.read.parquet(os.path.join(stage, "parsed"))
    good = df.filter(F.col("_corrupt").isNull())
    bad = df.filter(F.col("_corrupt").isNotNull())
    report_good = good.groupBy(F.col("o_orderstatus").alias("bucket")).agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(cents_expr(F.col("o_totalprice"))).alias("total_cents"),
    )
    report_bad = bad.agg(
        F.count(F.lit(1)).alias("n_rows")
    ).select(
        F.lit("_QUARANTINED").alias("bucket"),
        "n_rows",
        F.lit(0).cast("long").alias("total_cents"),
    )
    return report_good.unionByName(report_bad)


@register(
    "ml_eval_kfold",
    oracle=f"""
    WITH {_ML_PER_ORDER_CTE},
    scored AS (
      SELECT o_orderkey % 5 AS fold,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS label,
             2.0 * (f_cents % 500) + f_qty - 3.0 * f_lines AS score
      FROM orders JOIN per_order ON o_orderkey = l_orderkey
    ),
    ranked AS (
      SELECT fold, label,
             CASE WHEN score > 600.0 THEN 1 ELSE 0 END AS prediction,
             RANK() OVER (PARTITION BY fold ORDER BY score)
               + (COUNT(*) OVER (PARTITION BY fold, score) - 1) / 2.0
                 AS midrank
      FROM scored
    ),
    cells AS (
      SELECT fold,
             COUNT(*) AS n_test,
             COUNT(CASE WHEN label = 1 THEN 1 END) AS npos,
             COUNT(CASE WHEN prediction = 1 AND label = 1 THEN 1 END) AS tp,
             COUNT(CASE WHEN prediction = 0 AND label = 0 THEN 1 END) AS tn,
             COUNT(CASE WHEN prediction = 1 AND label = 0 THEN 1 END) AS fp,
             COUNT(CASE WHEN prediction = 0 AND label = 1 THEN 1 END) AS fn,
             SUM(CASE WHEN label = 1 THEN midrank END) AS pos_ranksum
      FROM ranked GROUP BY fold
    )
    SELECT fold, n_test, tp, tn, fp, fn,
           ROUND((tp + tn) / n_test, 6) AS accuracy,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE ROUND(tp / (tp + fp), 6) END AS "precision",
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE ROUND(tp / (tp + fn), 6) END AS recall,
           CASE WHEN 2 * tp + fp + fn = 0 THEN 0.0
                ELSE ROUND(2 * tp / (2 * tp + fp + fn), 6) END AS f1,
           CASE WHEN npos = 0 OR npos = n_test THEN 0.5
                ELSE ROUND((pos_ranksum - npos * (npos + 1) / 2.0)
                           / (npos * (n_test - npos)), 6)
           END AS auc
    FROM cells
    """,
)
def q_ml_eval_kfold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-fold evaluation of the deterministic closed-form predictor —
    the cross-validation companion to ml_eval_deterministic: rows hash
    into 5 folds (o_orderkey % 5 — the portable stand-in for the
    md5-bucket split_hash discipline), and ml.evaluate_binary_grouped
    computes the FULL per-fold evaluation surface (confusion cells +
    accuracy/precision/recall/F1 + tie-aware rank-sum AUC) in ONE
    grouped aggregation with fold-partitioned midrank windows — k
    folds never mean k jobs. With a real learner the per-fold model
    would retrain on the other folds (non-deterministic across
    engines, which is exactly why the fixed linear rule stands in;
    reference evaluation surface: code/experiment.py:617-688)."""
    from bigdatafinalproject_hockey_spark.ml import evaluate_binary_grouped

    scored = (
        _ml_labeled_data(spark, sf_dir, keep_key=True)
        .select(
            (F.col("o_orderkey") % 5).alias("fold"),
            "label",
            _ml_score_expr().alias("score"),
        )
        .withColumn(
            "prediction", F.when(F.col("score") > 600.0, 1).otherwise(0)
        )
    )
    return evaluate_binary_grouped(scored, "fold", score_col="score")


@register(
    "stream_late_data_accounting",
    oracle="""
    SELECT CAST(time_bucket(INTERVAL '1 day', ts) AS VARCHAR) AS key,
           event_type,
           COUNT(*) AS n
    FROM events WHERE ts >= TIMESTAMP '2024-01-11 00:00:00'
    GROUP BY 1, 2
    UNION ALL
    SELECT 'late', 'dropped_by_watermark', COUNT(*)
    FROM events WHERE ts < TIMESTAMP '2024-01-11 00:00:00'
    """,
)
def q_stream_late_data_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late-data accounting for a streaming windowed aggregate — the
    observability contract Spark does not provide natively (measured
    on this shape: watermarked aggregation folds late rows into their
    windows in update AND append mode, numRowsDroppedByWatermark 0 —
    late data simply vanishes into restated aggregates). The engine
    therefore implements the Flink-style late SIDE OUTPUT itself
    (streaming.late_side_output_agg): the event table is split into an
    on-time file (ts >= Jan 11, containing the stream's max
    timestamps) and a late file (ts < Jan 11), staged to replay
    on-time-first (mtime order, maxFilesPerTrigger=1); after batch 1
    the running watermark stands at max(ts) - 1 h, so batch 2's rows
    are all older than it and divert to the late ledger instead of
    restating closed windows. Output: the per-(day, type) on-time
    aggregate plus one ledger row — in production the alert threshold
    (late/total > eps -> upstream lag investigation). Both halves have
    closed forms the oracle states directly."""
    import glob as _glob
    import shutil

    from bigdatafinalproject_hockey_spark.streaming import (
        late_side_output_agg,
    )

    cutoff = F.lit("2024-01-11 00:00:00").cast("timestamp")

    def build(stage: str) -> None:
        ev = load_table(spark, "events", sf_dir)
        for fname, part_df, mt in (
            ("ontime.parquet", ev.filter(F.col("ts") >= cutoff), 1_000_000_000),
            ("late.parquet", ev.filter(F.col("ts") < cutoff), 1_000_000_100),
        ):
            tmp = os.path.join(stage, "_write")
            part_df.coalesce(1).write.mode("overwrite").parquet(tmp)
            dst = os.path.join(stage, fname)
            shutil.copy(_glob.glob(os.path.join(tmp, "part-*.parquet"))[0], dst)
            os.utime(dst, (mt, mt))
            shutil.rmtree(tmp)

    stage = sidecar.cached(
        "late_acct_src", [os.path.join(sf_dir, "events.parquet")], "v1", build
    )
    stream = (
        spark.readStream.schema(SCHEMAS["events"])
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )
    store, n_late = late_side_output_agg(
        spark,
        stream,
        store_path=os.path.join(sidecar.scratch("late_acct"), "store"),
        watermark_delay_seconds=3600,
    )
    windows = store.select(
        F.col("window_start").cast("string").alias("key"),
        "event_type",
        F.col("n").cast("long").alias("n"),
    )
    late_row = spark.createDataFrame(
        [("late", "dropped_by_watermark", n_late)],
        "key string, event_type string, n long",
    )
    return windows.unionByName(late_row)


_PR_THRESHOLDS = [float(t) for t in range(0, 1000, 100)]


@register(
    "ml_eval_pr_curve",
    oracle=lambda: f"""
    WITH {_ML_TEST_CTE},
    th AS (SELECT unnest([{", ".join(str(t) for t in _PR_THRESHOLDS)}])
             AS threshold),
    cells AS (
      SELECT threshold,
             COUNT(CASE WHEN score > threshold AND label = 1 THEN 1 END) AS tp,
             COUNT(CASE WHEN score > threshold AND label = 0 THEN 1 END) AS fp,
             COUNT(CASE WHEN score <= threshold AND label = 1 THEN 1 END) AS fn
      FROM test CROSS JOIN th
      GROUP BY threshold
    )
    SELECT threshold, tp, fp, fn,
           CASE WHEN tp + fp = 0 THEN 0.0
                ELSE ROUND(tp / (tp + fp), 6) END AS "precision",
           CASE WHEN tp + fn = 0 THEN 0.0
                ELSE ROUND(tp / (tp + fn), 6) END AS recall
    FROM cells
    """,
)
def q_ml_eval_pr_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision-recall curve of the deterministic predictor: the
    threshold sweep behind choosing an operating point, which the
    single-threshold evaluation (ml_eval_deterministic) and the
    probability-calibration bins (ml_eval_calibration) don't give.
    Ten literal thresholds explode against the scored test split and
    ONE conditional aggregate yields every (tp, fp, fn) cell — a
    single pass regardless of how many thresholds, vs the naive
    one-job-per-threshold loop. Counts are exact integers; ratios
    round at 6 dp like the rest of the eval surface. At 100 TB the
    explode is a constant-factor map-side amplification feeding
    10-group partial aggregation — no extra shuffle."""
    _train, test = split_temporal(
        _ml_labeled_data(spark, sf_dir), "order_year"
    )
    scored = test.select("label", _ml_score_expr().alias("score"))
    swept = scored.select(
        "label",
        "score",
        F.explode(
            F.array(*[F.lit(t) for t in _PR_THRESHOLDS])
        ).alias("threshold"),
    )
    hit = F.col("score") > F.col("threshold")
    pos = F.col("label") == 1
    cells = swept.groupBy("threshold").agg(
        F.count(F.when(hit & pos, 1)).alias("tp"),
        F.count(F.when(hit & ~pos, 1)).alias("fp"),
        F.count(F.when(~hit & pos, 1)).alias("fn"),
    )
    def ratio(num, den):
        return F.when(den == 0, F.lit(0.0)).otherwise(
            F.round(num.cast("double") / den, 6)
        )
    return cells.select(
        "threshold", "tp", "fp", "fn",
        ratio(F.col("tp"), F.col("tp") + F.col("fp")).alias("precision"),
        ratio(F.col("tp"), F.col("tp") + F.col("fn")).alias("recall"),
    )


@register(
    "stream_chained_agg",
    oracle="""
    WITH w1 AS (
      SELECT time_bucket(INTERVAL '1 day', ts) AS ws, event_type,
             COUNT(*) AS n_events,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS value_cents
      FROM events GROUP BY 1, 2
    )
    SELECT ws AS window_start,
           CAST(COUNT(*) AS BIGINT) AS n_types,
           CAST(SUM(n_events) AS BIGINT) AS n_events,
           CAST(SUM(value_cents) AS DOUBLE) / 100 AS sum_value
    FROM w1 GROUP BY ws
    """,
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHAINED stateful streaming aggregations — two windowed
    aggregates in one continuous query (Spark >= 3.4 multiple-
    stateful-operator support): per-(day, event_type) count/sum, then
    a second streaming aggregate rolling those finalized rows up to
    per-day totals and type counts. The first agg's output carries
    event-time through ``window_time``, so the second agg re-windows
    on it and maintains its own watermark-bounded state — no batch
    round-trip between the levels, which is the point: a metrics
    pipeline (raw -> 1-min -> 1-day rollups) stays one query with one
    failure domain instead of two jobs and an intermediate topic.

    Append mode is required for chaining; finalized level-1 windows
    flow into level 2 only once the watermark closes them. On the
    finite replay the far-future flush batch
    (read_events_stream_with_flush) closes every real window; the
    flush sentinels' own 2035 window is never finalized, so it never
    contaminates the output — no post-filter needed. Oracle: the
    equivalent two-level batch rollup."""
    from bigdatafinalproject_hockey_spark.streaming import (
        read_events_stream_with_flush,
    )

    stream = read_events_stream_with_flush(spark, sf_dir)
    w1 = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(cents_expr(F.col("value"))).alias("value_cents"),
        )
    )
    w2 = (
        w1.groupBy(F.window(F.window_time("window"), "1 day").alias("window2"))
        .agg(
            F.count(F.lit(1)).alias("n_types"),
            F.sum("n_events").alias("n_events"),
            (F.sum("value_cents").cast("double") / 100).alias("sum_value"),
        )
    )
    out = w2.select(
        F.col("window2.start").alias("window_start"),
        "n_types",
        "n_events",
        "sum_value",
    )
    return run_stream_to_table(spark, out, output_mode="append")


@register(
    "scan_text_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def q_scan_text_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Delimited-text sink + typed text scan (sources/text.py): the
    one-record-per-line flat-file format that still carries plenty of
    corpus interchange. Round-trips the documents table losslessly —
    nulls survive via an explicit sentinel (concat_ws alone would drop
    them and misalign fields), and typing on read is split + casts,
    all codegen'd at scan parallelism. Completes the format matrix
    alongside the CSV, JSONL, ORC, and parquet round-trips."""
    from bigdatafinalproject_hockey_spark.sources.text import scan_text, sink_text

    path = sidecar.scratch("text_roundtrip_documents")
    df = load_table(spark, "documents", sf_dir)
    sink_text(df, path)
    return scan_text(spark, path, SCHEMAS["documents"])


@register(
    "scan_binary_files",
    oracle="""
    SELECT doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents
    """,
)
def q_scan_binary_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blob-directory ingest via Spark's binaryFile source — how a
    multimodal corpus actually enters the engine (files, not rows).
    Each document's bytes are staged once as doc_<id>.bin; the
    distributed scan lists the directory, reads each blob executor-
    side (no driver I/O), parses the id from the filename, and emits
    exact length + content digest. Values must equal the table the
    files derive from — proving the bytes, not just the row count,
    survived ingestion. See sources/binary.py for the 100 TB listing/
    packing notes (parallelism = files; maxPartitionBytes packs small
    blobs per task)."""
    from bigdatafinalproject_hockey_spark.sources.binary import (
        scan_binary_files,
        stage_payload_files,
    )

    src = os.path.join(sf_dir, "documents.parquet")
    stage = sidecar.cached(
        "binary_payloads", [src], "v1", lambda d: stage_payload_files(src, d)
    )
    return scan_binary_files(spark, stage)


@register(
    "scan_custom_datasource",
    oracle="""
    SELECT CAST(i AS BIGINT) AS id,
           CAST((i * 2654435761) % 4294967296 AS BIGINT) AS h,
           ['alpha', 'beta', 'gamma', 'delta',
            'epsilon'][((i * 2654435761) % 4294967296) % 5 + 1] AS label
    FROM range(2000) t(i)
    """,
)
def q_scan_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom connector through the Python Data Source API (Spark 4):
    a pure-Python source whose ``partitions()`` splits the scan into
    ranges Spark schedules as independent executor-side tasks — the
    extension point for systems Spark has no reader for. The demo
    generator derives every row from its id by Knuth's multiplicative
    hash, so the oracle reproduces the scan value-for-value with
    integer arithmetic — checking the full path (schema declaration,
    partition planning, per-split reads, reassembly), not just row
    counts. See sources/pyds.py for the connector anatomy."""
    from bigdatafinalproject_hockey_spark.sources.pyds import (
        register_range_rows,
    )

    register_range_rows(spark)
    return (
        spark.read.format("range_rows")
        .option("n_rows", "2000")
        .option("n_parts", "8")
        .load()
    )


@register(
    "stream_custom_datasource",
    oracle="""
    SELECT CAST(i AS BIGINT) AS id,
           CAST((i * 2654435761) % 4294967296 AS BIGINT) AS h,
           ['alpha', 'beta', 'gamma', 'delta',
            'epsilon'][((i * 2654435761) % 4294967296) % 5 + 1] AS label
    FROM range(2000) t(i)
    """,
)
def q_stream_custom_datasource(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING custom connector (Python Data Source API,
    simpleStreamReader): the same deterministic generator delivered
    as micro-batches through user-defined OFFSETS — initialOffset →
    read(start) advancing 500 rows per batch, readBetweenOffsets
    replaying committed ranges on recovery. This is the shape of a
    real Python connector to an offset-addressable system (a queue,
    a change log) when no JVM connector exists. The query drains the
    stream to a memory sink and must reproduce the full row set
    value-for-value — offsets lost or double-read would show as
    missing/duplicate ids against the arithmetic oracle.

    The drain uses a continuous trigger polled to the known terminal
    count (the simple-reader prefetch model exposes only one pending
    batch to availableNow, which would stop after 500 rows). The poll
    reads the query's progress reports, which count the rows each
    committed batch wrote to the sink, so waiting runs no Spark job."""
    import time
    import uuid

    from bigdatafinalproject_hockey_spark.sources.pyds import (
        register_range_rows_stream,
    )

    register_range_rows_stream(spark)
    n_rows = 2000
    name = f"pyds_stream_{uuid.uuid4().hex[:8]}"
    stream = (
        spark.readStream.format("range_rows_stream")
        .option("n_rows", str(n_rows))
        .option("batch_rows", "500")
        .load()
    )
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="0 seconds")
        .start()
    )

    def drained() -> int:
        return sum(p["numInputRows"] for p in q.recentProgress)

    try:
        deadline = time.time() + 120
        while time.time() < deadline:
            if drained() >= n_rows:
                break
            time.sleep(0.2)
        else:
            # A hung micro-batch must fail HERE, not surface later as
            # an opaque oracle hash mismatch on a partial table
            # (ADVICE r4).
            raise TimeoutError(
                f"custom streaming source drained only "
                f"{drained()}/{n_rows} rows in 120s"
            )
    finally:
        q.stop()
    return spark.table(name)


@register(
    "stream_fanout_multi_sink",
    oracle="""
    SELECT event_type AS grp,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM events GROUP BY event_type
    UNION ALL
    SELECT '__raw_total__',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
    FROM events
    """,
)
def q_stream_fanout_multi_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-sink FANOUT from one stream — the write-once/serve-twice
    pattern every ingest pipeline ends up needing: each micro-batch is
    computed ONCE inside foreachBatch (persisted so both consumers see
    the same evaluation) and lands in TWO stores — the raw archive
    (replay/audit) and a pre-aggregated per-type partials store
    (serving). Both writes are batch-id-keyed directory overwrites
    (``ingest_batch=<id>``), the same crash-consistency pattern as
    foreach_batch_upsert: a retried batch redoes exactly its own
    directories in both sinks, so the two stores can never diverge
    permanently — without needing a cross-store transaction.

    The aggregate store holds MERGEABLE partials (count + int64
    cents) per batch; serving re-aggregates partials, never raw rows
    — at 100 TB the serving read is O(batches × types), not
    O(events). The result checks BOTH sinks against one oracle: the
    per-type rollup from the partials store plus a raw-archive total
    row."""
    base = sidecar.scratch("fanout")
    raw_path, agg_path, ckpt = (os.path.join(base, d) for d in ("raw", "agg", "ckpt"))

    stream = read_events_stream(spark, sf_dir)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        b = batch_df.persist()
        try:
            b.write.mode("overwrite").parquet(
                f"{raw_path}/ingest_batch={batch_id}"
            )
            b.groupBy("event_type").agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(cents_expr(F.col("value"))).alias("cents"),
            ).write.mode("overwrite").parquet(
                f"{agg_path}/ingest_batch={batch_id}"
            )
        finally:
            b.unpersist()

    q = (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    served = (
        spark.read.parquet(agg_path)
        .groupBy("event_type")
        .agg(
            F.sum("n").cast("long").alias("n_events"),
            (F.sum("cents").cast("double") / 100).alias("sum_value"),
        )
        .select(F.col("event_type").alias("grp"), "n_events", "sum_value")
    )
    raw_total = spark.read.parquet(raw_path).agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.sum(cents_expr(F.col("value"))).cast("double") / 100).alias(
            "sum_value"
        ),
    ).select(F.lit("__raw_total__").alias("grp"), "n_events", "sum_value")
    return served.unionByName(raw_total)


@register(
    "stream_session_dynamic_gap",
    oracle="""
    WITH e AS (
      SELECT user_id, ts, event_id, value,
             ts + CASE WHEN event_type = 'purchase' THEN INTERVAL 60 MINUTE
                       ELSE INTERVAL 30 MINUTE END AS e_end
      FROM events
    ),
    o AS (
      SELECT *, MAX(e_end) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      FROM e
    ),
    s AS (
      SELECT *, CASE WHEN prev_max IS NULL OR ts >= prev_max
                     THEN 1 ELSE 0 END AS ns
      FROM o
    ),
    g AS (
      SELECT *, SUM(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS UNBOUNDED PRECEDING) AS sess
      FROM s
    )
    SELECT user_id, MIN(ts) AS session_start, MAX(e_end) AS session_end,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM g GROUP BY user_id, sess
    """,
)
def q_stream_session_dynamic_gap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows with a DYNAMIC, per-event gap — purchases hold
    a session open for 60 minutes, everything else 30 — run as a real
    streaming query (session_window with a gap EXPRESSION, Spark
    3.2+). Fixed-gap sessionization treats a user mid-checkout the
    same as one idly browsing; per-event-type gaps are how production
    funnels actually define engagement. Each event claims the
    interval [ts, ts + gap(event)); overlapping claims merge, and the
    merged session's end is the max claimed end.

    The oracle is the interval-merge formulation in plain SQL: a
    running max of claimed ends per user (an event starts a new
    session iff its ts reaches every previous claim's end — note >=,
    matching Spark's half-open windows), islands numbered by the
    cumulative new-session flag. Session bounds, counts, and cent
    sums all hash-match exactly."""
    stream = read_events_stream(spark, sf_dir)
    gap = F.when(F.col("event_type") == "purchase", "60 minutes").otherwise(
        "30 minutes"
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy("user_id", F.session_window("ts", gap).alias("sw"))
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            (F.sum(cents_expr(F.col("value"))).cast("double") / 100).alias(
                "sum_value"
            ),
        )
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_stream_to_table(spark, agg, output_mode="complete")
