"""Physical-plan regression tests — lock in the scale properties the
engine is designed around. A correctness-preserving refactor that
silently turns a broadcast join into a sort-merge join, loses filter
pushdown, or doubles the window shuffles would pass every value test;
these assertions catch it at plan level.
"""

from __future__ import annotations

import pytest

from bigdatafinalproject_hockey_spark.queries import QUERIES

SF = "/root/testdata/sf0.001"


def plan_of(spark, name: str) -> str:
    return (
        QUERIES[name](spark, SF)._jdf.queryExecution().executedPlan().toString()
    )


def test_join_star_all_broadcast(spark):
    """Fact ⋈ dims must be broadcast-hash all the way — zero shuffle
    joins; the only Exchange allowed is the final aggregation's."""
    plan = plan_of(spark, "join_star")
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert plan.count("BroadcastHashJoin") >= 4
    assert plan.count("Exchange hashpartitioning") <= 1


def test_join_star_scan_pruned_and_pushed(spark):
    """The lineitem scan must read only the needed columns and carry
    pushed filters (declarative plan → Catalyst does this for free;
    keep it that way)."""
    plan = plan_of(spark, "join_star")
    scan = plan.split("file:")[1] if "file:" in plan else plan
    li_scan = [s for s in plan.split("FileScan parquet") if "lineitem" in s][0]
    assert "PushedFilters: [" in li_scan
    assert "l_comment" not in li_scan  # no such col, but guard the idea
    read_schema = li_scan.split("ReadSchema:")[1]
    # projection pruning: only join keys + measures, not the full row
    assert "l_returnflag" not in read_schema
    assert "l_shipdate" not in read_schema


def test_expanding_window_single_exchange(spark):
    """One window spec = exactly one hash-partition Exchange."""
    plan = plan_of(spark, "win_expanding_avg")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" in plan


# Python→JVM commands that building ``win_expanding_avg`` sends once
# its table's read is resolved: measured 171, plus 25%. Its window
# measures are one SQL string each; as Column calls over a Window spec
# they cost 296.
WIN_EXPANDING_BUILD_PY4J_BUDGET = 214


def test_win_expanding_avg_build_py4j_budget(spark, count_py4j):
    """Building a registry window query stays a few SQL-text calls."""
    QUERIES["win_expanding_avg"](spark, SF)  # resolve the events read
    df, n_sent = count_py4j(lambda: QUERIES["win_expanding_avg"](spark, SF))
    assert n_sent <= WIN_EXPANDING_BUILD_PY4J_BUDGET
    assert df.columns == ["user_id", "event_id", "prior_avg_value", "prior_avg_filled"]


def test_pipeline_windows_share_one_exchange(spark):
    """Both window passes partition by the same key and must reuse ONE
    exchange+sort, not re-shuffle per frame; plus one for the
    per-order aggregate."""
    plan = plan_of(spark, "pipeline_features")
    assert plan.count("Exchange hashpartitioning") <= 2
    assert plan.count("Window") <= 2


def test_filter_clean_pushdown(spark):
    """Source-column predicates of the composite filter stage must
    reach the parquet scan even though NULLIF-derived filters can't."""
    plan = plan_of(spark, "filter_clean")
    li_scan = plan.split("FileScan parquet")[1]
    pushed = li_scan.split("PushedFilters: [")[1]
    # the rendered filter list is truncated ("..."), so only assert the
    # leading pushed predicates
    assert "GreaterThanOrEqual" in pushed


def test_join_star_orders_filter_pushed(spark):
    """The one-year orders filter must be a RANGE predicate that
    reaches the parquet reader (row-group pruning) — wrapping the
    column in year() would demote it to a post-scan filter."""
    plan = plan_of(spark, "join_star")
    o_scan = [s for s in plan.split("FileScan parquet") if "orders" in s][0]
    assert "GreaterThanOrEqual(o_orderdate" in o_scan
    assert "LessThan(o_orderdate" in o_scan


def _final_plan_of(spark, name: str) -> str:
    """EXECUTE the query and return ONLY the final adaptive plan —
    exchange reuse is an AQE runtime decision, invisible in the
    initial plan (which AdaptiveSparkPlan.toString also prints; node
    counts must not include it)."""
    df = QUERIES[name](spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    return plan.split("== Initial Plan ==")[0]


@pytest.mark.parametrize(
    "name", ["dedup_minhash_lsh", "dedup_minhash_lsh_portable"]
)
def test_minhash_self_join_copartitioned(spark, name):
    """Both hash families share one dataflow, and it pays its scan
    ONCE without caching: the parallelized scan exchange, the band-key
    exchange (both self-join sides), and the signature branch's fp
    exchange are each materialized once, with second consumers fed by
    runtime exchange reuse (printed as ReusedExchange or a shared
    ShuffleQueryStage). The one sanctioned recompute is the star-edge
    branch's PRUNED fp pipeline (no signature work) over the reused
    scan exchange — so the documents FileScan must appear exactly once
    in the final plan, and the materialized exchanges stay bounded."""
    plan = _final_plan_of(spark, name)
    assert "isFinalPlan=true" in plan
    assert plan.count("FileScan parquet") == 1, plan
    assert plan.count("Exchange hashpartitioning") <= 5, plan
    # and stays UDF-free: every hash is a Catalyst expression
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_agg_partial_final(spark):
    """Grouped aggregation must be partial (map-side) + final — the
    shuffle moves one row per (partition, key), not raw rows."""
    plan = plan_of(spark, "agg_group_multi")
    assert "partial_sum" in plan
    assert plan.count("HashAggregate") >= 2


def test_semi_join_stays_semi(spark):
    """left_semi must not widen into an inner join + distinct."""
    plan = plan_of(spark, "semi_join_isin")
    assert "LeftSemi" in plan


@pytest.mark.parametrize(
    "name", ["text_quality_score", "doc_fingerprint", "array_functions", "chunk_overlap"]
)
def test_scan_side_exprs_no_shuffle(spark, name):
    """Row-local expression queries must be shuffle-free single scans
    (whole-stage-codegen'd projections, no Exchange at all)."""
    plan = plan_of(spark, name)
    assert "Exchange" not in plan


def test_unigram_logprob_vocab_broadcast(spark):
    """The vocabulary→scoring join must be broadcast (the vocab table
    is tiny vs the token stream) — a sort-merge here would shuffle
    every token of the corpus."""
    plan = plan_of(spark, "text_unigram_logprob")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_tfidf_df_table_broadcast(spark):
    """Document-frequency and corpus-size tables broadcast onto the
    (doc, token) counts; no shuffle join anywhere."""
    plan = plan_of(spark, "text_tfidf_top_terms")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_contamination_bench_broadcast(spark):
    """The benchmark gram set must broadcast; the evaluated corpus's
    exploded grams must never be the build/shuffle side."""
    plan = plan_of(spark, "text_contamination")
    assert plan.count("BroadcastHashJoin") >= 1
    assert "SortMergeJoin" not in plan


def test_dedup_segments_two_exchanges(spark):
    """Segment chunking is scan-local array math; the only wide stages
    are the first-occurrence window (keyed by fingerprint) and the
    per-doc rollup — exactly two exchanges."""
    plan = plan_of(spark, "dedup_segments")
    assert plan.count("Exchange hashpartitioning") == 2


def test_pii_scrub_shuffle_free(spark):
    """PII redaction is a pure row-local projection — no Exchange, no
    Python in the row path (regexp_replace stays in codegen)."""
    plan = plan_of(spark, "text_pii_scrub")
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan


def test_corr_stats_partial_final(spark):
    """Moment-based aggregates (corr/stddev) must combine map-side:
    partial + final HashAggregate around a single exchange."""
    plan = plan_of(spark, "agg_corr_stats")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2


def test_document_curation_single_shuffle(spark):
    """The composed curation flow (score → filter → dedup-survivor →
    hash split) must run on exactly ONE exchange — the fingerprint
    window; scoring and filtering stay on the scan side of it."""
    plan = plan_of(spark, "pipeline_document_curation")
    assert plan.count("Exchange hashpartitioning") == 1


def test_top_tokens_uses_topk_not_global_sort(spark):
    """Global top-50 must plan TakeOrderedAndProject (per-partition
    heaps + driver merge of k rows) — never a single-partition total
    sort of the whole vocabulary."""
    plan = plan_of(spark, "text_top_tokens")
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan.split("TakeOrderedAndProject")[0]


def test_training_mix_single_shuffle(spark):
    """Quota fill = one window exchange keyed by language; the quota
    lookup is a folded literal map, not a join."""
    plan = plan_of(spark, "pipeline_training_mix")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_no_python_row_udfs_in_relational_queries(spark):
    """The relational/text surface must stay JVM-side: no BatchEvalPython
    (row-at-a-time Python UDF) anywhere; Arrow paths (mapInPandas/
    applyInPandas) are allowed only in the explicitly-pandas ops."""
    for name in [
        "agg_group_multi",
        "join_star",
        "pipeline_features",
        "text_quality_score",
        "text_lang_id",
        "dedup_exact",
        "dedup_ngram_jaccard",
        "sim_cosine_topk",
        "sim_ann_ivf",
        "join_asof",
    ]:
        plan = plan_of(spark, name)
        assert "BatchEvalPython" not in plan, name
        assert "ArrowEvalPython" not in plan, name


def test_embedding_cosine_dedup_is_bucketed_not_allpairs(spark):
    """dedup_embedding_cosine must NOT be the O(n²) all-pairs self-join:
    candidates come from a (band, key) equi-join over the banded
    table, never a cartesian/nested-loop product; the band-key
    exchange is materialized once and the second join side reads the
    same shuffle stage (the 128-projection pass runs once — so the
    embeddings FileScan appears exactly once in the final plan)."""
    plan = _final_plan_of(spark, "dedup_embedding_cosine")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "isFinalPlan=true" in plan
    assert plan.count("FileScan parquet") == 1, plan
    # band-key + dropDuplicates (+ AQE output) exchanges only
    assert plan.count("Exchange hashpartitioning") <= 3, plan


def test_semantic_dedup_scaled_assignment_is_bucketed_not_flat(spark):
    """dedup_semantic_scaled's quantizer must stay LINEAR in the
    codebook: centroid candidates come from a broadcast (band, key)
    equi-join — never a |corpus|×C cross/nested-loop product (which is
    what forces a codebook cap, VERDICT r6 item 3) — and the
    within-cell pair scan is a ``cell`` equi-join, so no cartesian
    node may appear anywhere in the final plan."""
    plan = _final_plan_of(spark, "dedup_semantic_scaled")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan  # the (band,key) candidate join
    assert "isFinalPlan=true" in plan


def test_semantic_dedup_autokey_same_plan_shape(spark):
    """dedup_semantic_autokey (computed key width, round 8) must keep
    the scaled twin's plan shape — the width rule changes WHICH keys
    are stored, never the plan: broadcast (band, key) candidate join,
    cell equi-join pair scan, no cartesian anywhere."""
    plan = _final_plan_of(spark, "dedup_semantic_autokey")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "isFinalPlan=true" in plan


def test_ivfpq_fitted_stays_broadcast_and_bounded(spark):
    """sim_ann_ivfpq_fitted: the Lloyd fit must not change the SEARCH
    path's scale shape — fitted codebooks (128 rows) broadcast into
    both encode and LUT joins, candidates come from cell equi-joins,
    and no unbroadcast cartesian appears anywhere. (The flat IVF
    coarse assignment's corpus × ≤50-centroid scoring is a BROADCAST
    nested-loop by design — the same node `sim_ann_ivf` carries — so
    only the non-broadcast CartesianProduct is forbidden.)"""
    plan = _final_plan_of(spark, "sim_ann_ivfpq_fitted")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "isFinalPlan=true" in plan


def test_ivfpq_multiprobe_stays_broadcast_and_bounded(spark):
    """sim_ann_ivfpq_multiprobe (nprobe=2, round 8): the probe list
    is |queries|×2 rows and must BROADCAST into the per-cell
    candidate join (never re-shuffle the corpus-sized assignment by
    cell — the VERDICT r6 item 7 regression shape); the query-side
    centroid re-ranking is a broadcast nested-loop over the ≤50-row
    centroid table by design, so only the non-broadcast
    CartesianProduct is forbidden."""
    plan = _final_plan_of(spark, "sim_ann_ivfpq_multiprobe")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "isFinalPlan=true" in plan


def test_ivfpq_residual_stays_broadcast_and_bounded(spark):
    """sim_ann_ivfpq_residual: the residual pass is a broadcast
    centroid join over the persisted assignment (never a second
    corpus shuffle), codebook/LUT joins broadcast, candidates come
    from cell equi-joins; only the non-broadcast CartesianProduct is
    forbidden (the coarse assignment's corpus × ≤50-centroid scoring
    is a broadcast nested-loop by design, as in the whole IVF
    family)."""
    plan = _final_plan_of(spark, "sim_ann_ivfpq_residual")
    assert "CartesianProduct" not in plan
    assert "BroadcastHashJoin" in plan
    assert "isFinalPlan=true" in plan


def test_rowgroup_pruned_scan_is_arrow_batched_metadata_first(spark):
    """scan_rowgroups_pruned: the data path must be the
    row-group-addressed Arrow reader over the SURVIVING groups only —
    no whole-layout FileScan of the clustered table may appear in the
    final plan (the pruning would be cosmetic), and the reader is a
    mapInPandas (ArrowEval/MapInPandas) stage feeding a hash
    aggregate, never a row-at-a-time Python UDF."""
    plan = _final_plan_of(spark, "scan_rowgroups_pruned")
    assert "BatchEvalPython" not in plan
    assert "FileScan parquet" not in plan  # rows come from the rg reader
    assert "MapInPandas" in plan
    assert "isFinalPlan=true" in plan


def test_bucketed_join_no_shuffle(spark):
    """Co-bucketed fact ⋈ fact must read bucket pairs co-located:
    zero Exchange below the join (the only hashpartitioning Exchange
    allowed is the final aggregation's), and both scans flagged
    Bucketed. Broadcast is disabled so the lock proves bucketing, not
    a small-table fallback."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        plan = plan_of(spark, "join_bucketed")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1  # agg only
    assert plan.count("Bucketed: true") == 2
    assert "SelectedBucketsCount" in plan


def test_aqe_splits_skewed_join(spark):
    """The session's 100 TB skew story must actually fire: a join with
    a heavy-hitter key, run under the session's AQE settings (with
    thresholds scaled down to test size), must show skew=true in the
    FINAL adaptive plan — the hot partition was split at runtime."""
    from pyspark.sql import functions as F

    overrides = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "32KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        left = spark.range(0, 200_000).select(
            F.when(F.col("id") % 10 < 8, 0).otherwise(F.col("id")).alias("k"),
            F.concat(F.lit("x" * 64), F.col("id")).alias("pad"),
        )
        right = spark.range(0, 50_000).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = left.join(right, "k")
        n = len(j.collect())  # run through j's own QueryExecution
        assert n > 0
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_upsert_batch_scans_index_not_sink(spark, tmp_path):
    """foreach_batch_upsert's per-batch anti-join must scan the
    keys-only index sidecar, never the wide sink (at scale the sink
    re-scan is a per-batch full-table read — VERDICT r2 item 7)."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.streaming import _novel_rows

    sink = str(tmp_path / "sink")
    index = sink + "_keyidx"
    full = spark.range(100).select(
        F.col("id").alias("event_id"),
        (F.col("id") % 7).alias("user_id"),
        (F.col("id") * 1.5).alias("value"),
    )
    full.select("event_id").write.mode("overwrite").parquet(index)
    full.write.mode("overwrite").parquet(sink)

    b = _novel_rows(spark, full, index, ["event_id"])
    plan = b._jdf.queryExecution().executedPlan().toString()
    scans = [s for s in plan.split("FileScan parquet") if "Location" in s]
    # the batch source here is range(), so the ONLY file scan allowed
    # in the plan is the index read (plan paths are truncated by
    # Spark's metadata-string limit, so assert via scan count +
    # ReadSchema rather than the sink/_keyidx path)
    assert len(scans) == 1, plan
    read_schema = scans[0].split("ReadSchema:")[1]
    assert "event_id" in read_schema, plan
    # keys-only: the wide sink columns never appear in any scan
    assert "value" not in read_schema and "user_id" not in read_schema, plan


def test_tokenize_vocab_broadcast(spark):
    """The vocab→token-stream mapping join must broadcast the bounded
    vocabulary — a sort-merge here would shuffle every positioned
    token of the corpus. The only SinglePartition exchange allowed is
    the tiny vocab ranking window (V' distinct tokens), never the
    token stream."""
    plan = plan_of(spark, "tokenize_to_ids")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # top-V vocab selection must be heap-based (per-partition heaps +
    # driver merge of V rows), never a global sort or a row_number
    # over every distinct token through one partition
    assert "TakeOrderedAndProject" in plan
    assert "Exchange SinglePartition" not in plan


def test_bloom_filter_join_pruning(spark):
    """Under production-scale thresholds the runtime bloom-filter rule
    must inject a might_contain() predicate on the fact side of
    join_bloom_pruned's shuffle join — semi-join reduction before the
    shuffle. (At sf sizes the default 10 GB application-side threshold
    suppresses it, so the test lowers the thresholds, as a real
    deployment's data sizes would satisfy them naturally.)"""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        plan = plan_of(spark, "join_bloom_pruned")
        assert "might_contain" in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


def test_mv_incremental_store_partial_not_full(spark):
    """Each incremental step must aggregate ONLY its batch before the
    merge: the per-batch partial's scan carries the event_id batch
    filter, and the merge re-aggregates (store ∪ partial) — never the
    raw history."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.catalog import load_table

    events = load_table(spark, "events", SF)
    part = events.filter(F.col("event_id") % 3 == 1).groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    plan = part._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    # batch filter reaches the scan side (pushed or post-scan filter,
    # but always below the aggregate)
    assert "% 3" in plan or "pmod" in plan.lower(), plan


def test_maponly_queries_have_zero_exchanges(spark):
    """text_quality_classifier and embedding_quantize are pure maps
    over the scan — their 100 TB cost model is scan-bound. Any
    Exchange appearing in either plan means a refactor broke the
    shuffle-free shape."""
    for name in ("text_quality_classifier", "embedding_quantize"):
        plan = plan_of(spark, name)
        assert "Exchange" not in plan, f"{name} gained a shuffle:\n{plan}"


def test_zorder_single_aggregate_exchange(spark):
    """Z-value computation is row-local; the only shuffle is the
    bucket aggregate's partial→final exchange."""
    plan = plan_of(spark, "sort_zorder")
    assert plan.count("Exchange hashpartitioning") == 1


def test_scd2_merge_no_window_and_broadcastable(spark):
    """merge_scd2 must stay window-free (cost ∝ batch, not history):
    no Window node; the closing-keys join is broadcastable at this
    scale."""
    plan = plan_of(spark, "merge_scd2")
    assert "Window" not in plan
    assert "BroadcastHashJoin" in plan


def test_q3_shape_topk_and_broadcast(spark):
    """The composite Q3 shape must run its top-10 as
    TakeOrderedAndProject (never a global sort) with the filtered
    dims broadcast."""
    plan = plan_of(spark, "analytics_shipping_priority")
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_q18_subquery_decorrelates_to_semi_join(spark):
    """The IN (SELECT ... HAVING) subquery must decorrelate into ONE
    pre-aggregated left-semi join — not a per-row subquery, not an
    inner join that could duplicate rows."""
    plan = plan_of(spark, "analytics_large_orders")
    assert "LeftSemi" in plan
    assert "TakeOrderedAndProject" in plan


def test_ts_downsample_single_exchange(spark):
    """Both row_number windows and the final groupBy share the same
    (user_id, day) keys — the plan must materialize ONE hash-partition
    exchange, with the aggregate reusing the windows' partitioning."""
    plan = plan_of(spark, "ts_downsample")
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Window") >= 1


def test_promo_share_broadcast_one_pass(spark):
    """Q14 shape: the part dim joins by BROADCAST (the lineitem fact
    side must never shuffle for the join); the only wide exchange is
    the tiny per-month aggregate's, fed by map-side partials."""
    plan = plan_of(spark, "analytics_promo_share")
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert plan.count("Exchange hashpartitioning") <= 1
    assert "partial" in plan.lower() or "HashAggregate" in plan


def test_attribution_single_exchange_no_join(spark):
    """Last-touch attribution is a window carry, not an interval
    self-join: exactly one exchange (user_id), zero joins."""
    plan = plan_of(spark, "events_attribution")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan


def test_histogram_tiny_agg(spark):
    """Row-local binning straight off the scan: one aggregate
    exchange, no window, no join."""
    plan = plan_of(spark, "agg_histogram")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Join" not in plan and "Window" not in plan


def test_join_dpp_runtime_partition_filter(spark):
    """The fact scan must carry a DYNAMIC pruning predicate on its
    partition column — proof the dim filter prunes fact partitions at
    runtime rather than after the join."""
    plan = plan_of(spark, "join_dpp")
    assert "dynamicpruningexpression" in plan.lower()
    assert "BroadcastHashJoin" in plan


def test_interval_binned_is_equi_not_nested_loop(spark):
    """The binned interval join must plan as a hash-partitioned EQUI
    join on (user_id, bin) — a naive theta-join would fall back to
    BroadcastNestedLoopJoin, the quadratic shape this op exists to
    avoid."""
    plan = plan_of(spark, "join_interval_binned")
    assert "NestedLoop" not in plan
    assert ("SortMergeJoin" in plan) or ("ShuffledHashJoin" in plan) or (
        "BroadcastHashJoin" in plan
    )


def test_triangle_count_no_cartesian(spark):
    """The degree-oriented wedge join must stay an equi-join on the
    apex — a refactor that loses the equi key degenerates into a
    nested-loop/cartesian pairing, which is the quadratic blowup the
    orientation exists to avoid."""
    plan = plan_of(spark, "graph_triangle_count")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_sample_weighted_is_takeordered(spark):
    """Priority sampling's top-k must run as TakeOrderedAndProject
    (per-partition k-heaps, k rows moved per partition) — never a
    global Sort, which would shuffle the whole corpus at 100 TB."""
    plan = plan_of(spark, "sample_weighted")
    assert "TakeOrderedAndProject" in plan
    assert "Sort [" not in plan.split("TakeOrderedAndProject")[0]


def test_top_paths_single_window_exchange(spark):
    """Both lead() columns share one window spec: one hash Exchange
    for the user window, one for the trigram aggregate, nothing else
    before the final top-k."""
    plan = plan_of(spark, "events_top_paths")
    assert "TakeOrderedAndProject" in plan
    assert plan.count("Window") == 1
    assert plan.count("Exchange hashpartitioning") <= 2


def test_top_supplier_broadcasts_scalar_and_dim(spark):
    """Q15 shape: the 1-row max and the supplier dimension must both
    broadcast onto the per-supplier aggregate — no sort-merge joins
    anywhere."""
    plan = plan_of(spark, "analytics_top_supplier")
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_parts_supplier_anti_join_broadcast(spark):
    """Q16 shape: the exclusion list applies as a broadcast LEFT ANTI
    join on the fact side, and the distinct count stays a two-phase
    aggregate (partial_count(distinct ...) markers present)."""
    plan = plan_of(spark, "analytics_parts_supplier")
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan


def test_bitmap_distinct_two_aggregates_no_expand(spark):
    """The bitmap formulation must NOT fall back to Spark's
    Expand-based distinct: two plain hash aggregates (word merge,
    popcount sum), zero Expand operators."""
    plan = plan_of(spark, "agg_bitmap_distinct")
    assert "Expand" not in plan
    assert plan.count("Exchange hashpartitioning") == 2


def test_ab_test_two_shuffles(spark):
    """Experiment readout must reduce to the per-user aggregate plus
    one global conditional aggregate — two exchanges, no joins."""
    plan = plan_of(spark, "analytics_ab_test")
    assert "Join" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2


def test_graph_edges_bucketed_ingest(spark):
    """VERDICT r4 item 6: the graph tier reads its edges from the
    bucketed ingest, not a per-query lineitem self-join. After the
    ingest (first call), the pagerank plan must contain ZERO lineitem
    scans — every edge access is a Bucketed scan of the ingested
    table — and the triangle plan likewise derives nothing from
    lineitem at query time."""
    # first calls perform/validate the idempotent ingest
    QUERIES["graph_pagerank"](spark, SF)
    QUERIES["graph_triangle_count"](spark, SF)

    plan = plan_of(spark, "graph_pagerank")
    assert "lineitem" not in plan
    assert "Bucketed: true" in plan
    # three iterations -> three co-partitioned edge joins, no
    # edge-side Exchange: every hashpartitioning Exchange in the plan
    # carries the rank/contribution frames (node/s2 keys), never the
    # bucketed s1 side of the join
    assert plan.count("SelectedBucketsCount") >= 3

    plan = plan_of(spark, "graph_triangle_count")
    assert "lineitem" not in plan


def test_graph_bfs_rounds_reuse_bucketed_edges(spark):
    """Each BFS round's frontier⋈edges join must read the bucketed
    edge table shuffle-free on the edge side: frontier exchanges only
    (the frontier is the small, changing side)."""
    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.queries.graph import (
        undirected_edges_bucketed,
    )

    und = undirected_edges_bucketed(spark, SF)
    frontier = und.select(F.col("s").alias("node")).distinct().limit(10)
    step = frontier.join(und, frontier.node == und.s).select("d")
    plan = step._jdf.queryExecution().executedPlan().toString()
    assert "lineitem" not in plan
    assert "Bucketed: true" in plan
    # the bucketed (edge) side must not be re-exchanged for the join
    for frag in plan.split("SortMergeJoin"):
        if "Bucketed: true" in frag and "Exchange hashpartitioning(s#" in frag:
            raise AssertionError("edge side reshuffled despite bucketing")


def test_holt_forecast_is_jvm_only(spark):
    """ts_holt_forecast must stay on the aggregate() HOF path: no
    Python evaluation anywhere in the plan (the fold runs inside
    Catalyst), exactly one shuffle (the user groupBy)."""
    plan = plan_of(spark, "ts_holt_forecast")
    assert "FlatMapGroupsInPandas" not in plan
    assert "ArrowEvalPython" not in plan
    assert "BatchEvalPython" not in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ann_index_delta_cost_is_delta_bounded(spark):
    """Incremental index maintenance must touch the DELTA slice plus
    the frozen tiny tables only: every embeddings scan carries a
    pushed vec_id cut filter (delta >= cut; base-derived centroid and
    codebook scans < cut with their stride caps), the frozen tables
    arrive via broadcast, and the corpus never sort-merge-joins."""
    plan = plan_of(spark, "ann_index_delta")
    scans = [s for s in plan.split("FileScan parquet") if "embeddings" in s]
    assert scans, "no embeddings scan found"
    for s in scans:
        assert "PushedFilters: [" in s, (
            "embeddings scan section lacks a PushedFilters line "
            "(Spark plan-format change?): " + s[:200]
        )
        pushed = s.split("PushedFilters: [")[1]
        # every scan is cut-bounded: no unfiltered full-corpus read
        assert (
            "GreaterThanOrEqual(vec_id" in pushed
            or "LessThan(vec_id" in pushed
        ), pushed[:120]
    # frozen centroid/codebook tables arrive via broadcast (the final
    # assign ⋈ enc join is delta×delta — SMJ there is fine; AQE
    # converts it at runtime)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_dedup_substring_two_exchanges_no_join(spark):
    """Variable-length substring dedup (round 10; hub prefilter
    round 11): shingles are scan-local; the only exchanges are the
    fingerprint exchange (shared by the spill-safe hub-count window
    AND the posting-list groupBy — the ADVICE r10 prefilter adds no
    exchange and no second evaluation of the input) and the
    diagonal-run window (whose partitioning the span aggregate
    reuses — grouping keys are a superset). Pairs expand
    in-expression inside each capped posting list, so there is NO
    join operator of any kind in the plan, and the scan reads only
    (doc_id, text)."""
    plan = plan_of(spark, "dedup_substring")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "CartesianProduct" not in plan
    assert "Join" not in plan  # no SortMerge/Hash/BNL — none needed
    scan = [s for s in plan.split("FileScan parquet") if "documents" in s][0]
    read_schema = scan.split("ReadSchema:")[1]
    assert "doc_id" in read_schema and "text" in read_schema
    assert "lang" not in read_schema and "source" not in read_schema


def test_reshard_training_adds_one_exchange(spark):
    """The md5 reshard must add exactly ONE exchange beyond the
    packing fold's (lang, shard) exchange: shard assignment is a
    map-side expression (contiguous md5 ranges, never a range
    partitioner's sampled boundaries), so only the within-shard
    row_number window shuffles. No join, no global sort."""
    plan = plan_of(spark, "reshard_training")
    assert plan.count("Exchange hashpartitioning") == 2
    assert "Exchange rangepartitioning" not in plan
    assert "Join" not in plan


def test_dedup_substring_rewrite_corpus_never_shuffles(spark):
    """The apply step adds one doc-keyed exchange for the tiny
    cut-interval merge (window + groupBy share it) on top of the
    detection pass's two; the interval arrays join BACK to the corpus
    scan broadcast at this scale (the interval side is ∝ detected
    duplication, not ∝ corpus — at 100 TB it may legitimately grow
    past the broadcast threshold into a shuffle join, so the lock is
    on exchange count and no-cartesian, not the join strategy).
    Round 12: the hub-exemption counting branch (VERDICT r11 item 8)
    adds METADATA-only exchanges — the fp count aggregate, the
    doc-keyed exempt count, and the interval⟗hub side join — while
    the corpus/clean_text still crosses exactly ONE join (the counts
    ride the interval side, never joined onto the rebuilt text)."""
    plan = plan_of(spark, "dedup_substring_rewrite")
    assert plan.count("Exchange hashpartitioning") <= 8
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoop" not in plan
    # TEXT-NEVER-SHUFFLES, as a literal plan property: the formatted
    # plan lists every node's Input columns — no Exchange may carry
    # the token array or the rebuilt clean_text (the hub counts ride
    # the metadata side precisely so this holds). Column TOKENS are
    # matched (name + '#' + exprId, ADVICE r12): a bare substring
    # check would false-fail on a metadata column merely containing
    # 'toks' (e.g. toks_removed#5) and silently pass a renamed text
    # column.
    import re

    text_col = re.compile(r"\b(toks|clean_text)#\d")
    for block in plan.split("\n("):
        head = block.split("\n", 1)[0]
        if ") Exchange" in "(" + head:
            assert not text_col.search(block), (
                "an Exchange carries document text:\n(" + block[:400]
            )


def test_pipeline_web_curation_two_exchanges_one_map_stage(spark):
    """The composed web pipeline (extract -> gate -> span dedup) must
    keep its stages' shapes: ONE Arrow map stage (extraction,
    exchange-free), the gate folded map-side into it, and exactly the
    span pass's two exchanges — no join operator anywhere."""
    plan = plan_of(spark, "pipeline_web_curation")
    assert plan.count("Exchange hashpartitioning") == 2
    assert plan.count("MapInPandas") == 1
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_bpe_learn_merge_vocab_bound_and_takeordered(spark):
    """BPE merge learning: the corpus-scale pass is the word-frequency
    aggregate; everything after runs on the word-TYPE table. The
    argmax merge is TakeOrdered (never a global sort) broadcast back
    as a 1-row table (the audited crossJoin(broadcast(scalar))
    pattern), and the greedy merge application is a pure expression
    fold — no Python stage anywhere."""
    plan = plan_of(spark, "bpe_learn_merge")
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "Exchange rangepartitioning" not in plan
    assert "PythonUDF" not in plan and "MapInPandas" not in plan


def test_bpe_learn_vocab_no_python_stage_and_truncated_iterations(spark):
    """Full BPE merge-table learning (round 11): the k iterations run
    EAGERLY with localCheckpoint truncation (lineage would otherwise
    double per level), so the RETURNED plan is just the final vocab
    RDD scan + the broadcast merge-list attach — no Python stage, no
    cartesian, no data-sized shuffle. The per-iteration pair-stats /
    argmax / fold plans run at their checkpoints, where the plan audit
    reads them (bpe_learn_vocab#N keys — presence locked by
    tests/test_plan_audit.py)."""
    plan = plan_of(spark, "bpe_learn_vocab")
    assert "MapInPandas" not in plan and "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") == 0
    # the merge-list attach is the audited 1-row broadcast pattern
    assert "BroadcastNestedLoopJoin" in plan


def test_filter_url_blocklist_broadcast_anti_one_window(spark):
    """URL blocklist filtering (round 11): canonicalization and
    domain extraction are scan-local expressions, the blocklist
    anti-join must BROADCAST (a shuffled anti-join of the corpus
    against a tiny domain table would be the scale bug), and the
    only exchange is the per-canonical-URL first-occurrence
    window."""
    plan = plan_of(spark, "filter_url_blocklist")
    assert plan.count("Exchange hashpartitioning") == 1
    assert "BroadcastHashJoin" in plan and "LeftAnti" in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan


def test_pipeline_web_to_shards_checkpointed_stages(spark):
    """The composed web→shards chain (round 11) materializes its
    fan-out boundaries eagerly (extract+norm / rewrite / meta — each
    audited as an executed plan), so the RETURNED plan is just
    the metadata table through packing and the reshard: one grouped
    Arrow fold, the shard window, no re-derivation of any Arrow
    extraction stage (a lazy chain rendered EIGHT of them), no
    cartesian, no parquet re-scan."""
    plan = plan_of(spark, "pipeline_web_to_shards")
    assert plan.count("FlatMapGroupsInPandas") == 1
    assert "MapInPandas" not in plan          # Arrow stages checkpointed
    assert plan.count("FileScan parquet") == 0  # reads the checkpoint
    assert plan.count("Exchange hashpartitioning") <= 3
    assert "CartesianProduct" not in plan


def test_tokenize_bpe_corpus_apply_is_broadcast_only(spark):
    """BPE encode (round 11): the corpus-side apply must be ONE scan
    + two BROADCAST joins (word-type segmentation and symbol-id
    tables are vocabulary-sized) — the corpus never shuffles. The
    only exchanges are over the tiny alphabet/symbol-table side
    (allowlisted single-partition windows + two vocab-sized hash
    aggregations); the learn loop's stages are audited as the plans
    their checkpoints execute."""
    plan = plan_of(spark, "tokenize_bpe_corpus")
    assert plan.count("FileScan parquet") == 1       # corpus scanned once
    assert plan.count("BroadcastHashJoin") == 2
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange hashpartitioning") <= 2  # tiny sym tables


def test_filter_gopher_rules_count_legs_no_shuffled_text(spark):
    """Gopher rule battery (round 11; full Table A1 repetition tier
    round 13): three explode→count→rollup legs — token, bigram, and
    the multi-n repetition profile (gram counts + per-(doc,n) stats)
    — seven exchanges with map-side combine, the doc-keyed merge
    never a shuffled join beyond them, no cartesian; rules are
    scan-local expressions over the rolled-up signals. The shuffles
    carry (doc, gram) COUNTS and per-doc metadata only — never the
    page or rendered token text."""
    plan = plan_of(spark, "filter_gopher_rules")
    assert plan.count("Exchange hashpartitioning") <= 7
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "MapInPandas" not in plan
