"""General-analytics surface widening: pivot, set ops beyond UNION,
the full ranking family, date arithmetic, fuzzy string matching, and
a stream-stream interval join.

Everything here is stock Catalyst (one shuffle where the semantics
require one, none where they don't) with an exact DuckDB oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdatafinalproject_hockey_spark.catalog import load_table
from bigdatafinalproject_hockey_spark.operators import bucketing as bucket_ops
from bigdatafinalproject_hockey_spark.functions.numeric import (
    cents_expr,
    fixed_point_sum,
    fixed_point_sum_sql,
)
from bigdatafinalproject_hockey_spark.queries.base import register

_EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]


@register(
    "agg_pivot",
    oracle=f"""
    SELECT user_id,
           {", ".join(
               f"COALESCE(CAST(SUM(CASE WHEN event_type = '{t}' THEN "
               f"CAST(ROUND(value * 100) AS BIGINT) END) AS DOUBLE) / 100, 0.0)"
               f" AS {t}"
               for t in _EVENT_TYPES
           )}
    FROM events
    GROUP BY user_id
    """,
)
def q_agg_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot: per-user value totals spread over event-type columns.
    The pivot value list is EXPLICIT — with it Spark plans a single
    aggregate pass; without it an extra distinct-scan job runs first
    (never acceptable at 100 TB)."""
    events = load_table(spark, "events", sf_dir)
    cents = F.round(F.col("value") * 100, 0).cast("long")
    out = (
        events.groupBy("user_id")
        .pivot("event_type", _EVENT_TYPES)
        .agg(F.sum(cents))
    )
    return out.select(
        "user_id",
        *[
            F.coalesce(F.col(t).cast("double") / 100, F.lit(0.0)).alias(t)
            for t in _EVENT_TYPES
        ],
    )


@register(
    "set_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_set_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct): customers with both a finished and an
    open order."""
    orders = load_table(spark, "orders", sf_dir)
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.intersect(o)


@register(
    "set_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
    """,
)
def q_set_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct): customers with finished orders and no open
    ones."""
    orders = load_table(spark, "orders", sf_dir)
    f = orders.filter(F.col("o_orderstatus") == "F").select("o_custkey")
    o = orders.filter(F.col("o_orderstatus") == "O").select("o_custkey")
    return f.subtract(o)  # EXCEPT DISTINCT semantics


@register(
    "win_rank_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           RANK() OVER w AS rnk,
           DENSE_RANK() OVER w AS drnk,
           NTILE(4) OVER (PARTITION BY o_custkey
                          ORDER BY o_orderkey) AS quartile,
           CAST(ROUND(PERCENT_RANK() OVER w, 6) AS DOUBLE) AS pct_rank
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q_win_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """rank / dense_rank / ntile / percent_rank in ONE window pass
    (same partitioning+ordering ⇒ one exchange+sort). ntile's window
    orders by the unique key so tile assignment is deterministic."""
    orders = load_table(spark, "orders", sf_dir)
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    w_id = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return orders.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w_id).alias("quartile"),
        F.round(F.percent_rank().over(w), 6).cast("double").alias("pct_rank"),
    )


@register(
    "map_functions",
    oracle="""
    SELECT event_id,
           json_keys(props)[1] AS first_key,
           CAST(json_extract(props, '$.k') AS INTEGER) AS k_val,
           CAST(len(json_keys(props)) AS INTEGER) AS n_keys
    FROM events
    """,
)
def q_map_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType surface: parse the JSON props payload into a real
    map<string,int> column, then map_keys / element_at / size — the
    typed-map path for semi-structured columns (vs string-side
    get_json_object in json_extract)."""
    events = load_table(spark, "events", sf_dir)
    m = F.from_json("props", "map<string,int>")
    return events.select(
        "event_id",
        F.map_keys(m)[0].alias("first_key"),
        F.element_at(m, "k").alias("k_val"),
        F.size(m).alias("n_keys"),
    )


@register(
    "reshape_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS value FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice
    FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem
    """,
)
def q_reshape_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long unpivot (the inverse of agg_pivot): four measure
    columns melt to (key, measure, value) rows. Spark's built-in
    unpivot expands rows scan-side with no shuffle — the long form is
    what per-measure aggregation/plotting pipelines consume. Values
    pass through untouched, so the UNION-ALL oracle matches exactly."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_extendedprice", "l_discount", "l_tax"],
        "measure",
        "value",
    )


@register(
    "win_range_interval",
    oracle="""
    SELECT event_id, user_id, ts,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts
             RANGE BETWEEN INTERVAL 7 DAY PRECEDING AND CURRENT ROW
           ) AS DOUBLE) / 100.0 AS trailing_7d_value
    FROM events
    """,
)
def q_win_range_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-based RANGE frame: per-user trailing-7-day value sum. The
    frame is bounded by the ORDER-KEY VALUE (an interval on ts), not a
    row count — the reference only uses ROWS frames (SURVEY §2.7), so
    this covers the value-bounded family. RANGE includes peers, so
    same-timestamp rows get identical sums regardless of physical
    order; the summed measure rides int64 cents for cross-engine
    bit-determinism."""
    events = load_table(spark, "events", sf_dir)
    return events.select(
        "event_id",
        "user_id",
        "ts",
        (
            F.expr(
                "sum(cast(round(value * 100) as bigint)) over ("
                "partition by user_id order by ts "
                "range between interval 7 day preceding and current row)"
            ).cast("double")
            / 100.0
        ).alias("trailing_7d_value"),
    )


@register(
    "date_functions",
    oracle="""
    SELECT o_orderkey,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS order_month,
           CAST(year(o_orderdate) AS INTEGER) AS yr,
           CAST(quarter(o_orderdate) AS INTEGER) AS qtr,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS dow,
           CAST(date_diff('day', o_orderdate,
                TIMESTAMP '2000-01-01 00:00:00') AS INTEGER) AS days_to_y2k,
           CAST(o_orderdate + INTERVAL 90 DAY AS TIMESTAMP) AS due_date
    FROM orders
    """,
)
def q_date_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date/time scalar surface: trunc, parts, diff, interval add.
    DuckDB dayofweek is 0=Sunday; Spark dayofweek is 1=Sunday —
    normalized here to DuckDB's convention."""
    orders = load_table(spark, "orders", sf_dir)
    return orders.select(
        "o_orderkey",
        F.date_trunc("month", "o_orderdate").alias("order_month"),
        F.year("o_orderdate").alias("yr"),
        F.quarter("o_orderdate").alias("qtr"),
        (F.dayofweek("o_orderdate") - 1).alias("dow"),
        F.datediff(
            F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")
        ).alias("days_to_y2k"),
        (F.col("o_orderdate") + F.expr("INTERVAL 90 DAYS")).alias("due_date"),
    )


@register(
    "str_fuzzy_match",
    oracle="""
    SELECT s.s_suppkey, c.c_custkey,
           CAST(levenshtein(s.s_name, c.c_name) AS INTEGER) AS edit_dist
    FROM supplier s JOIN customer c ON s.s_nationkey = c.c_nationkey
    WHERE levenshtein(s.s_name, c.c_name) <= 12
    """,
)
def q_str_fuzzy_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy matching, blocked by nation so the pair
    space stays bounded (the blocking discipline of every fuzzy join
    at scale); levenshtein is a built-in on both engines."""
    sup = load_table(spark, "supplier", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    pairs = sup.join(cust, sup.s_nationkey == cust.c_nationkey)
    dist = F.levenshtein(F.col("s_name"), F.col("c_name"))
    return pairs.select(
        "s_suppkey", "c_custkey", dist.cast("int").alias("edit_dist")
    ).filter(F.col("edit_dist") <= 12)


@register(
    "stream_stream_join",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS purchase_ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id,
           COUNT(*) AS n_purchases,
           {fixed_point_sum_sql("p.value")} AS purchased_value
    FROM clicks c JOIN purch p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id, c.click_id
    """,
)
def q_stream_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (click → purchases within 30 min),
    run as a REAL streaming query: both sides watermarked, the join
    condition's time bound lets Spark expire join state — unbounded
    state otherwise. Inner joins emit eagerly, so the finite replay
    yields exactly the batch interval-join result (aggregated after
    materialization)."""
    from bigdatafinalproject_hockey_spark.streaming import (
        read_events_stream,
        run_stream_to_table,
    )

    stream = read_events_stream(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purch = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purch,
        F.expr(
            """
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + interval 30 minutes
            """
        ),
    )
    mat = run_stream_to_table(spark, joined, output_mode="append")
    return mat.groupBy(
        F.col("c_user").alias("user_id"), "click_id"
    ).agg(
        F.count(F.lit(1)).alias("n_purchases"),
        fixed_point_sum(F.col("value")).alias("purchased_value"),
    )


@register(
    "win_first_last",
    oracle="""
    SELECT user_id, event_id,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER w AS last_val,
           nth_value(value, 2) OVER w AS second_val
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def q_win_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth_value over an explicit full-partition frame —
    the session-anchor features (entry value, exit value, second
    touch) of user journey analysis. The explicit frame matters:
    Spark's DEFAULT window frame ends at the current row, which makes
    last_value a silent identity — a classic correctness trap this
    query pins down. One exchange + one sort, values pass through
    untouched (bit-exact cross-engine)."""
    events = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return events.select(
        "user_id",
        "event_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


@register(
    "join_full_outer",
    oracle=f"""
    WITH c AS (
      SELECT user_id, {fixed_point_sum_sql("value")} AS click_total
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ),
    p AS (
      SELECT user_id, {fixed_point_sum_sql("value")} AS purchase_total
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    )
    SELECT COALESCE(c.user_id, p.user_id) AS user_id,
           COALESCE(click_total, 0.0) AS click_total,
           COALESCE(purchase_total, 0.0) AS purchase_total
    FROM c FULL OUTER JOIN p ON c.user_id = p.user_id
    """,
)
def q_join_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-outer reconciliation: per-user click vs purchase totals,
    keeping users present on either side with coalesced keys and
    zero-defaulted measures — the ledger-reconciliation join shape.
    Both inputs aggregate on the join key first, so the outer join
    consumes two co-partitioned streams (no re-shuffle beyond the
    aggs); money rides int64 fixed-point."""
    events = load_table(spark, "events", sf_dir)
    c = (
        events.filter(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(fixed_point_sum(F.col("value")).alias("click_total"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(fixed_point_sum(F.col("value")).alias("purchase_total"))
    )
    return (
        c.alias("c")
        .join(
            p.alias("p"),
            F.col("c.user_id") == F.col("p.user_id"),
            "full_outer",
        )
        .select(
            F.coalesce(F.col("c.user_id"), F.col("p.user_id")).alias("user_id"),
            F.coalesce("click_total", F.lit(0.0)).alias("click_total"),
            F.coalesce("purchase_total", F.lit(0.0)).alias("purchase_total"),
        )
    )


@register(
    "agg_windowed_distinct",
    oracle="""
    SELECT time_bucket(INTERVAL '1 day', ts) AS window_start,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    GROUP BY 1
    """,
)
def q_agg_windowed_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily active users: exact COUNT(DISTINCT) per epoch-aligned
    tumbling window. Catalyst expands the distinct into a two-level
    aggregate (partial per (window, user) then per window), so the
    shuffle carries deduplicated pairs, not raw events; at 100 TB
    swap in approx_count_distinct (agg_approx) and keep the shape."""
    events = load_table(spark, "events", sf_dir)
    return (
        events.groupBy(F.window("ts", "1 day"))
        .agg(
            F.countDistinct("user_id").cast("long").alias("n_users"),
            F.count(F.lit(1)).cast("long").alias("n_events"),
        )
        .select(
            F.col("window.start").alias("window_start"), "n_users", "n_events"
        )
    )


@register(
    "events_retention_cohort",
    oracle="""
    WITH uw AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS wk FROM events
    ),
    fw AS (
      SELECT user_id, MIN(wk) AS cohort_week FROM uw GROUP BY user_id
    )
    SELECT f.cohort_week,
           CAST(date_diff('day', f.cohort_week, u.wk) / 7 AS BIGINT)
               AS week_offset,
           COUNT(*) AS n_users
    FROM uw u JOIN fw f ON u.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def q_events_retention_cohort(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix — the product-analytics staple: users
    cohorted by their first-activity week, each cell counting how many
    of that cohort were active again N weeks later. Three shuffles,
    each the minimum the semantics allow: (1) distinct (user, week)
    collapses the event stream to at most |users|×|weeks| rows BEFORE
    anything else (the scan never reaches the join at event
    granularity), (2) min-week per user, (3) the cell aggregate —
    count(*) suffices because (user, week) is already unique, so no
    expensive count-distinct state. Both week-truncations are ISO
    Monday in Spark and DuckDB; offsets are exact day-diffs / 7."""
    ev = load_table(spark, "events", sf_dir)
    uw = ev.select(
        "user_id", F.date_trunc("week", F.col("ts")).alias("wk")
    ).distinct()
    fw = uw.groupBy("user_id").agg(F.min("wk").alias("cohort_week"))
    return (
        uw.join(fw, "user_id")
        .groupBy(
            "cohort_week",
            (F.datediff(F.col("wk"), F.col("cohort_week")) / 7)
            .cast("long")
            .alias("week_offset"),
        )
        .agg(F.count(F.lit(1)).alias("n_users"))
    )


@register(
    "analytics_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                         AS BIGINT)) AS DOUBLE) / 100 AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-06-01'
      AND l_shipdate  > TIMESTAMP '1998-06-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q_analytics_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape — the canonical 3-table join + aggregate + top-k
    composite: segment-filtered customers ⋈ open orders ⋈ shipped-after
    lineitems, discounted revenue per order, top 10. What the plan must
    do (and the declarative form gets from Catalyst for free, locked by
    the sibling plan tests): push all three filters into the scans,
    broadcast the filtered customer side, and run the top-k as
    TakeOrderedAndProject (never a global sort of the aggregate).
    Revenue is summed in integer cents (fixed-point), so values AND the
    limit-10 cutoff are deterministic; ties break on the unique order
    key."""
    cust = load_table(spark, "customer", sf_dir).filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    cut = F.lit("1998-06-01").cast("timestamp")
    orders = load_table(spark, "orders", sf_dir).filter(F.col("o_orderdate") < cut)
    li = load_table(spark, "lineitem", sf_dir).filter(F.col("l_shipdate") > cut)
    rev_cents = cents_expr(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev_cents).cast("double") / 100).alias("revenue"))
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
    )


@register(
    "analytics_large_orders",
    oracle="""
    SELECT c_name, o_orderkey, o_orderdate, o_totalprice,
           SUM(l_quantity) AS total_qty
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300
    )
    GROUP BY c_name, o_orderkey, o_orderdate, o_totalprice
    ORDER BY o_totalprice DESC, o_orderdate, o_orderkey
    LIMIT 100
    """,
)
def q_analytics_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape — large-volume orders via an IN-subquery with a
    grouped HAVING: the classic decorrelation case. Spark rewrites the
    IN (SELECT ... HAVING) into a left-semi join against the pre-
    aggregated keys — the subquery runs ONCE, not per row, and the
    semi join carries only (orderkey) — then the outer 3-table join
    re-aggregates quantity per surviving order. l_quantity is
    integral-valued so the double sums are exact; the limit-100 cutoff
    breaks ties on the unique order key."""
    cust = load_table(spark, "customer", sf_dir)
    orders = load_table(spark, "orders", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("s"))
        .filter(F.col("s") > 300)
        .select("l_orderkey")
    )
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey)
        .join(li.select(F.col("l_orderkey").alias("lk"), "l_quantity"),
              F.col("lk") == F.col("o_orderkey"))
        .join(big.withColumnRenamed("l_orderkey", "bk"),
              F.col("bk") == F.col("o_orderkey"), "left_semi")
        .groupBy("c_name", "o_orderkey", "o_orderdate", "o_totalprice")
        .agg(F.sum("l_quantity").alias("total_qty"))
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(100)
    )


@register(
    "ts_gapfill",
    oracle="""
    WITH daily AS (
      SELECT user_id, CAST(ts AS DATE) AS day,
             SUM(CAST(ROUND(value * 100) AS BIGINT)) AS cents
      FROM events GROUP BY 1, 2
    ),
    span AS (SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY 1),
    grid AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    j AS (
      SELECT g.user_id, g.day, d.cents FROM grid g
      LEFT JOIN daily d ON g.user_id = d.user_id AND g.day = d.day
    )
    SELECT user_id, day,
           CAST(last_value(cents IGNORE NULLS) OVER (
                PARTITION BY user_id ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS DOUBLE) / 100 AS value_filled,
           CAST(CASE WHEN cents IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_gap
    FROM j
    """,
)
def q_ts_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series resampling with forward fill — the gap-filling
    operator every metrics/feature pipeline needs (TimescaleDB's
    time_bucket_gapfill + locf, as dataflow): sparse per-(user, day)
    sums are densified onto each user's full daily grid
    (sequence+explode — rows generated ENGINE-side, never a driver
    loop) and holes carry the last observed value forward via
    last(ignorenulls) over an ordered window. Day sums are fixed-point
    cents, so filled values are bit-exact. Shuffle budget: two
    aggregates + one grid join + one window, every one keyed on
    user_id — at 100 TB the table is bucketed by user and all four
    collapse onto the bucket layout with no inter-stage exchange."""
    ev = load_table(spark, "events", sf_dir)
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(F.sum(cents_expr(F.col("value"))).alias("cents"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    grid = span.select(
        "user_id",
        F.explode(
            F.sequence("d0", "d1", F.expr("interval 1 day"))
        ).alias("day"),
    )
    j = grid.join(daily, ["user_id", "day"], "left")
    w = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "user_id",
        "day",
        (F.last("cents", ignorenulls=True).over(w).cast("double") / 100).alias(
            "value_filled"
        ),
        F.col("cents").isNull().cast("long").alias("is_gap"),
    )


_DQ_SEGMENTS = "('MACHINERY','BUILDING','FURNITURE','AUTOMOBILE','HOUSEHOLD')"


@register(
    "dq_expectations",
    oracle=f"""
    SELECT 'orders_custkey_fk' AS check_name,
           (SELECT COUNT(*) FROM orders) AS n_checked,
           (SELECT COUNT(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey)) AS n_failed
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey))
    UNION ALL
    SELECT 'orders_orderkey_unique',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) - COUNT(DISTINCT o_orderkey) FROM orders)
    UNION ALL
    SELECT 'orders_totalprice_positive',
           (SELECT COUNT(*) FROM orders),
           (SELECT COUNT(*) FROM orders
            WHERE o_totalprice IS NULL OR o_totalprice <= 0)
    UNION ALL
    SELECT 'lineitem_quantity_range',
           (SELECT COUNT(*) FROM lineitem),
           (SELECT COUNT(*) FROM lineitem
            WHERE l_quantity IS NULL OR l_quantity < 1 OR l_quantity > 50)
    UNION ALL
    SELECT 'customer_segment_domain',
           (SELECT COUNT(*) FROM customer),
           (SELECT COUNT(*) FROM customer
            WHERE c_mktsegment IS NULL
               OR c_mktsegment NOT IN {_DQ_SEGMENTS})
    """,
)
def q_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality expectations report (the dbt-test / Great
    Expectations / Deequ contract surface): referential integrity,
    uniqueness, range, and domain checks across three tables, unioned
    into one (check_name, n_checked, n_failed) ledger — the gate a
    100 TB ingest runs BEFORE publishing a snapshot.

    Scan discipline (round 7 — was 13 exchanges and ~5 orders scans):
    every single-table check on the same table is computed in ONE
    aggregate pass (count + count-distinct + range + domain together),
    so each table is scanned once for its expectations and once more
    as an anti-join side for its FK check — at 100 TB the scan count
    is the cost, not the one-row scalar merges. The per-check ledger
    rows are then exploded map-side from the single assembled scalar
    row (inline_outer over a literal struct array), which adds zero
    exchanges. FK checks remain left-anti-join counts (never per-row
    subqueries). Output is exact integers — a report row that can't
    hash-match is a data bug, which is the point."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    li = load_table(spark, "lineitem", sf_dir)

    orders_stats = orders.agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.count(F.lit(1)) - F.countDistinct("o_orderkey")).alias("dup_failed"),
        F.count(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0), 1
            )
        ).alias("price_failed"),
    )
    li_stats = li.agg(
        F.count(F.lit(1)).alias("n_li"),
        F.count(
            F.when(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
                1,
            )
        ).alias("qty_failed"),
    )
    cust_stats = cust.agg(
        F.count(F.lit(1)).alias("n_cust"),
        F.count(
            F.when(
                F.col("c_mktsegment").isNull()
                | ~F.col("c_mktsegment").isin(
                    "MACHINERY",
                    "BUILDING",
                    "FURNITURE",
                    "AUTOMOBILE",
                    "HOUSEHOLD",
                ),
                1,
            )
        ).alias("seg_failed"),
    )
    orders_fk = orders.join(
        cust, orders.o_custkey == cust.c_custkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("orders_fk_failed"))
    li_fk = li.join(
        orders, li.l_orderkey == orders.o_orderkey, "left_anti"
    ).agg(F.count(F.lit(1)).alias("li_fk_failed"))

    row = (
        orders_stats.crossJoin(li_stats)
        .crossJoin(cust_stats)
        .crossJoin(orders_fk)
        .crossJoin(li_fk)
    )

    def check(name: str, n_checked: str, n_failed: str):
        return F.struct(
            F.lit(name).alias("check_name"),
            F.col(n_checked).cast("long").alias("n_checked"),
            F.col(n_failed).cast("long").alias("n_failed"),
        )

    return row.select(
        F.inline_outer(
            F.array(
                check("orders_custkey_fk", "n_orders", "orders_fk_failed"),
                check("lineitem_orderkey_fk", "n_li", "li_fk_failed"),
                check("orders_orderkey_unique", "n_orders", "dup_failed"),
                check("orders_totalprice_positive", "n_orders", "price_failed"),
                check("lineitem_quantity_range", "n_li", "qty_failed"),
                check("customer_segment_domain", "n_cust", "seg_failed"),
            )
        )
    )


def _pagerank_sql(iters: int = 3) -> str:
    head = """
    WITH edges AS (
      SELECT DISTINCT a.l_suppkey AS s1, b.l_suppkey AS s2
      FROM lineitem a JOIN lineitem b ON a.l_orderkey = b.l_orderkey
      WHERE a.l_suppkey <> b.l_suppkey
    ),
    outdeg AS (SELECT s1, COUNT(*) AS d FROM edges GROUP BY s1),
    r0 AS (SELECT s_suppkey AS node, CAST(1000000 AS BIGINT) AS r
           FROM supplier)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f""",
    c{i} AS (
      SELECT e.s2 AS node, SUM(r.r // o.d) AS c
      FROM edges e
      JOIN r{i - 1} r ON e.s1 = r.node
      JOIN outdeg o ON e.s1 = o.s1
      GROUP BY e.s2
    ),
    r{i} AS (
      SELECT n.node,
             CAST(150000 + (850 * COALESCE(c.c, 0)) // 1000 AS BIGINT) AS r
      FROM r0 n LEFT JOIN c{i} c ON n.node = c.node
    )""")
    return (
        head
        + "".join(steps)
        + f"\n    SELECT node AS s_suppkey, r AS rank_units FROM r{iters}"
    )


@register("graph_pagerank", oracle=_pagerank_sql(3))
def q_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer fixed-point PageRank over the supplier co-purchase
    graph — the iterative-algorithm tier beyond connected components
    (dedup_components): edges are distinct supplier pairs sharing an
    order, and three power-iteration steps run ENTIRELY as joins +
    aggregates (contribution = rank DIV out-degree summed over
    in-edges; damping in integer micro-units: 0.15·1e6 + 850·c DIV
    1000). Every operation is exact int64 arithmetic, so unlike
    float PageRank the result is bit-identical regardless of
    partitioning, addition order, or engine — which is what lets a
    3-step unrolled SQL oracle pin it.

    Scale shape: per iteration one join keyed on the edge source and
    one aggregate keyed on the destination — the standard Pregel-as-
    dataflow layout. The degree-annotated edge table ``(s1, s2, d)``
    is a bucketed INGEST: derived once per lineitem source version,
    written sorted+bucketed on ``s1`` to the sidecar store
    (operators/bucketing.cached_bucketed), so each of the three iterations joins the
    rank vector against co-partitioned edge files with NO edge-side
    Exchange and no re-derivation — only the small rank/contribution
    frames move per step. Deep iteration counts additionally
    localCheckpoint every ~10 steps to truncate lineage, as
    dedup/components.py does."""
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_suppkey")
    a = li.alias("a")
    b = li.alias("b")
    edges = (
        a.join(b, F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        .filter(F.col("a.l_suppkey") != F.col("b.l_suppkey"))
        .select(
            F.col("a.l_suppkey").alias("s1"), F.col("b.l_suppkey").alias("s2")
        )
        .distinct()
    )
    outdeg = edges.groupBy("s1").agg(F.count(F.lit(1)).alias("d"))
    table = bucket_ops.cached_bucketed(
        edges.join(outdeg, "s1"),
        "graph_supplier_edges",
        [os.path.join(sf_dir, "lineitem.parquet")],
        "v1",
        ["s1"],
        16,
        sort_cols=["s1"],
    )
    edges_d = spark.table(table)
    nodes = load_table(spark, "supplier", sf_dir).select(
        F.col("s_suppkey").alias("node")
    )
    r = nodes.withColumn("r", F.lit(1_000_000).cast("long"))
    for _ in range(3):
        contrib = (
            edges_d.join(r, edges_d.s1 == r.node)
            .select(F.col("s2").alias("node"), F.expr("r div d").alias("con"))
            .groupBy("node")
            .agg(F.sum("con").alias("c"))
        )
        r = nodes.join(contrib, "node", "left").select(
            "node",
            (
                F.lit(150_000)
                + F.expr("850 * coalesce(c, 0) div 1000")
            )
            .cast("long")
            .alias("r"),
        )
    return r.select(F.col("node").alias("s_suppkey"), F.col("r").alias("rank_units"))


@register(
    "join_null_safe",
    oracle="""
    WITH l AS (
      SELECT CASE WHEN o_orderkey % 97 = 0 THEN NULL ELSE o_custkey END AS k,
             o_totalprice
      FROM orders
    ),
    r AS (
      SELECT CASE WHEN c_custkey % 53 = 0 THEN NULL ELSE c_custkey END AS k,
             c_mktsegment
      FROM customer
    )
    SELECT c_mktsegment AS segment,
           CAST(CASE WHEN l.k IS NULL THEN 1 ELSE 0 END AS BIGINT)
               AS is_null_key,
           COUNT(*) AS n_matches
    FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
    GROUP BY 1, 2
    """,
)
def q_join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-safe equi-join (<=> / IS NOT DISTINCT FROM) — the join
    variant ETL hits whenever keys are nullable: standard equality
    silently DROPS null-keyed rows (NULL = NULL is NULL), while the
    null-safe form matches them. Spark plans eqNullSafe as a regular
    hash join on a null-coalesced key, so it stays a single shuffle —
    but note the scale trap the docstring exists to teach: all
    null-keyed rows share ONE join key, so a null-heavy table makes
    this the ultimate skew key (salt it, or split nulls out and union,
    exactly as operators/joins.join_salted would)."""
    orders = load_table(spark, "orders", sf_dir)
    cust = load_table(spark, "customer", sf_dir)
    left = orders.select(
        F.when(F.col("o_orderkey") % 97 == 0, F.lit(None))
        .otherwise(F.col("o_custkey"))
        .alias("k"),
        "o_totalprice",
    )
    right = cust.select(
        F.when(F.col("c_custkey") % 53 == 0, F.lit(None))
        .otherwise(F.col("c_custkey"))
        .alias("rk"),
        "c_mktsegment",
    )
    joined = left.join(right, left.k.eqNullSafe(right.rk))
    return joined.groupBy(
        F.col("c_mktsegment").alias("segment"),
        F.col("k").isNull().cast("long").alias("is_null_key"),
    ).agg(F.count(F.lit(1)).alias("n_matches"))


@register(
    "events_markov_transitions",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type, ts, event_id,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev_type
      FROM events
    )
    SELECT prev_type, event_type AS next_type,
           COUNT(*) AS n_transitions,
           CAST(COUNT(*) AS DOUBLE) / SUM(COUNT(*)) OVER (PARTITION BY prev_type)
               AS p_next
    FROM ordered WHERE prev_type IS NOT NULL
    GROUP BY prev_type, event_type
    """,
)
def q_events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences — the behavioral-analytics staple (what follows what,
    and with which probability): one lag window per user ordered by
    (ts, event_id) (the same deterministic-ordering discipline as the
    reference's windows, code/experiment.py:416-429), then a grouped
    count and a per-source-state normalization via a second, tiny
    window over the 5×5 aggregate — NOT over the event stream.
    Transition counts are exact integers; each probability is one IEEE
    division of exact integers, so rows are bit-identical across
    engines. Shuffle budget: the user window + the pair aggregate;
    the normalizing window runs on ≤25 rows."""
    ev = load_table(spark, "events", sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        "user_id",
        "event_type",
        F.lag("event_type").over(w).alias("prev_type"),
    ).filter(F.col("prev_type").isNotNull())
    counts = ordered.groupBy("prev_type", F.col("event_type").alias("next_type")).agg(
        F.count(F.lit(1)).alias("n_transitions")
    )
    wn = Window.partitionBy("prev_type")
    return counts.select(
        "prev_type",
        "next_type",
        "n_transitions",
        (
            F.col("n_transitions").cast("double")
            / F.sum("n_transitions").over(wn)
        ).alias("p_next"),
    )


@register(
    "win_rolling_median",
    oracle="""
    SELECT user_id, event_id,
           median(CAST(ROUND(value * 100) AS BIGINT)) OVER (
               PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW) AS med_cents
    FROM events
    """,
)
def q_win_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling exact MEDIAN over a 7-row trailing frame per user — the
    order-statistic window the avg/sum family can't substitute for
    (robust to value spikes; the anomaly-detection smoother). Runs as
    `percentile(…, 0.5)` OVER the frame: Catalyst re-sorts the frame's
    values per row, so cost is O(frame log frame) per row — fine for
    small frames; for wide frames at 100 TB switch to approx
    (agg_approx's GK sketch) or a two-heap custom stateful op. Median
    of INTEGER cents: the only fractional case is the even-count
    midpoint (a+b)/2, exact in doubles, so Spark and DuckDB agree
    bit-for-bit with no rounding step. Deterministic frame order via
    the (ts, event_id) tiebreak, as everywhere."""
    ev = load_table(spark, "events", sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    return ev.select(
        "user_id",
        "event_id",
        F.expr("percentile(CAST(ROUND(value*100) AS BIGINT), 0.5)")
        .over(w)
        .alias("med_cents"),
    )


@register(
    "analytics_rfm_segments",
    oracle="""
    WITH ref AS (SELECT MAX(o_orderdate) AS ref_date FROM orders),
    per_cust AS (
      SELECT o_custkey AS c_custkey,
             date_diff('day', MAX(o_orderdate),
                       (SELECT ref_date FROM ref)) AS recency_days,
             COUNT(*) AS frequency,
             CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS monetary_cents
      FROM orders GROUP BY o_custkey
    )
    SELECT c_custkey, recency_days, frequency, monetary_cents,
           NTILE(4) OVER (ORDER BY recency_days DESC, c_custkey) AS r_score,
           NTILE(4) OVER (ORDER BY frequency, c_custkey) AS f_score,
           NTILE(4) OVER (ORDER BY monetary_cents, c_custkey) AS m_score,
           'R' || CAST(NTILE(4) OVER (ORDER BY recency_days DESC, c_custkey)
                       AS VARCHAR)
           || 'F' || CAST(NTILE(4) OVER (ORDER BY frequency, c_custkey)
                          AS VARCHAR)
           || 'M' || CAST(NTILE(4) OVER (ORDER BY monetary_cents, c_custkey)
                          AS VARCHAR) AS segment
    FROM per_cust
    """,
)
def q_analytics_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM customer segmentation — the classic marketing-analytics
    composite: per customer, Recency (days since last order, against
    the corpus max date), Frequency (order count), Monetary
    (fixed-point revenue), each scored into quartiles via NTILE(4)
    with a unique-key tiebreak so bucket boundaries are deterministic
    (4 = most recent / most frequent / highest spend), concatenated
    into the 'R4F4M4'-style segment label. Shuffle shape: one grouped
    aggregate over orders, then three global NTILE windows — but over
    the PER-CUSTOMER aggregate (|customers| rows), never the order
    stream; at true scale swap exact ntile for percentile_approx
    thresholds to avoid the single-partition sort, or bucket by
    pre-computed quantile boundaries (agg_quantile_report)."""
    orders = load_table(spark, "orders", sf_dir)
    ref = orders.agg(F.max("o_orderdate").alias("ref_date"))
    per_cust = (
        orders.groupBy(F.col("o_custkey").alias("c_custkey"))
        .agg(
            F.max("o_orderdate").alias("last_order"),
            F.count(F.lit(1)).alias("frequency"),
            F.sum(cents_expr(F.col("o_totalprice"))).alias(
                "monetary_cents"
            ),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "c_custkey",
            F.datediff("ref_date", "last_order").cast("long").alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    r = F.ntile(4).over(
        Window.orderBy(F.col("recency_days").desc(), F.col("c_custkey"))
    )
    f = F.ntile(4).over(Window.orderBy("frequency", "c_custkey"))
    m = F.ntile(4).over(Window.orderBy("monetary_cents", "c_custkey"))
    return per_cust.select(
        "c_custkey",
        "recency_days",
        "frequency",
        "monetary_cents",
        r.alias("r_score"),
        f.alias("f_score"),
        m.alias("m_score"),
        F.concat(
            F.lit("R"), r.cast("string"),
            F.lit("F"), f.cast("string"),
            F.lit("M"), m.cast("string"),
        ).alias("segment"),
    )


@register(
    "analytics_basket_lift",
    oracle="""
    WITH items AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM items),
    cnt AS (SELECT l_partkey, COUNT(*) AS c FROM items GROUP BY 1),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             COUNT(*) AS support
      FROM items a JOIN items b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    )
    SELECT part_a, part_b, support,
           CAST(support * n.n_orders AS DOUBLE) / (ca.c * cb.c) AS lift
    FROM pairs
    JOIN cnt ca ON part_a = ca.l_partkey
    JOIN cnt cb ON part_b = cb.l_partkey
    CROSS JOIN n
    WHERE support >= 3
    """,
)
def q_analytics_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket affinity mining — co-purchased part pairs with
    LIFT = P(a,b) / (P(a)·P(b)), the association-rule screen behind
    recommendations: baskets collapse to DISTINCT (order, part) rows
    first, the pair self-join stays blocked by the order key (pairs
    per order ~ lines², never corpus-quadratic), and per-item counts
    broadcast back onto the surviving pairs. The min-support filter
    prunes the long tail BEFORE the stats joins (the a-priori
    principle). lift is one IEEE division of exact integer
    cross-products, so rows hash bit-identically; at 100 TB the
    (order, part) item table is the thing to bucket on order —
    every stage then rides the bucket layout."""
    li = load_table(spark, "lineitem", sf_dir)
    items = li.select("l_orderkey", "l_partkey").distinct()
    n = items.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    cnt = items.groupBy("l_partkey").agg(F.count(F.lit(1)).alias("c"))
    a = items.alias("a")
    b = items.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("part_a"),
            F.col("b.l_partkey").alias("part_b"),
        )
        .agg(F.count(F.lit(1)).alias("support"))
        .filter(F.col("support") >= 3)
    )
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("ca"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("cb"))
    return (
        pairs.join(F.broadcast(ca), "part_a")
        .join(F.broadcast(cb), "part_b")
        .crossJoin(F.broadcast(n))
        .select(
            "part_a",
            "part_b",
            "support",
            (
                (F.col("support") * F.col("n_orders")).cast("double")
                / (F.col("ca") * F.col("cb"))
            ).alias("lift"),
        )
    )


@register(
    "events_attribution",
    oracle="""
    WITH seq AS (
      SELECT user_id, ts, event_id, event_type, value,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN ts END IGNORE NULLS) OVER w AS touch_ts,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_id END IGNORE NULLS) OVER w AS raw_touch_id,
             last_value(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS) OVER w AS raw_touch_type
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id AS purchase_id,
           user_id,
           ts AS purchase_ts,
           CASE WHEN touch_ts >= ts - INTERVAL 3 DAY
                THEN raw_touch_id END AS touch_id,
           CASE WHEN touch_ts >= ts - INTERVAL 3 DAY
                THEN raw_touch_type END AS touch_type,
           CASE WHEN touch_ts >= ts - INTERVAL 3 DAY
                THEN touch_ts END AS touch_ts,
           CAST(ROUND(value * 100) AS BIGINT) AS value_cents
    FROM seq
    WHERE event_type = 'purchase'
    """,
)
def q_events_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch marketing attribution: each purchase is credited to
    the user's most recent prior click/view within a 3-day lookback
    (the conversion-attribution query every growth pipeline runs;
    reference analogue: the leakage-free 'prior rows only' frame of
    experiment.py:416-472's expanding features).

    No join: one window per user carries the latest touch forward
    (last ignorenulls over UNBOUNDED..1 PRECEDING — strictly-prior
    rows, deterministic (ts, event_id) order), then the lookback is a
    row-local predicate. Shuffle budget: ONE exchange on user_id; at
    100 TB the events table is bucketed/partitioned by user so even
    that collapses onto the layout. Contrast with the naive
    purchases×touches interval self-join, whose state is quadratic in
    touches-per-user."""
    ev = load_table(spark, "events", sf_dir)
    is_touch = F.col("event_type").isin("click", "view")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )

    def carry(col: str):
        return F.last(F.when(is_touch, F.col(col)), ignorenulls=True).over(w)

    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        "value",
        carry("ts").alias("raw_touch_ts"),
        carry("event_id").alias("raw_touch_id"),
        carry("event_type").alias("raw_touch_type"),
    )
    in_window = F.col("raw_touch_ts") >= F.col("ts") - F.expr("INTERVAL 3 DAYS")
    return seq.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        F.col("ts").alias("purchase_ts"),
        F.when(in_window, F.col("raw_touch_id")).alias("touch_id"),
        F.when(in_window, F.col("raw_touch_type")).alias("touch_type"),
        F.when(in_window, F.col("raw_touch_ts")).alias("touch_ts"),
        cents_expr(F.col("value")).alias("value_cents"),
    )


@register(
    "ts_downsample",
    oracle="""
    WITH base AS (
      SELECT user_id, CAST(ts AS DATE) AS day, ts, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events
      WHERE value IS NOT NULL
    ),
    rn AS (
      SELECT *,
             row_number() OVER (PARTITION BY user_id, day
                                ORDER BY ts, event_id) AS rn_a,
             row_number() OVER (PARTITION BY user_id, day
                                ORDER BY ts DESC, event_id DESC) AS rn_d
      FROM base
    )
    SELECT user_id, day,
           MAX(CASE WHEN rn_a = 1 THEN cents END) AS open_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           MAX(CASE WHEN rn_d = 1 THEN cents END) AS close_cents,
           COUNT(*) AS n_events,
           CAST(SUM(cents) AS BIGINT) AS volume_cents
    FROM rn
    GROUP BY user_id, day
    """,
)
def q_ts_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to per-(user, day) OHLC bars — the
    resample/rollup primitive of every metrics store (TimescaleDB
    continuous aggregates, kdb xbar). open/close are first/last by
    deterministic (ts, event_id) order via two row_number windows
    over the SAME partition keys (one exchange, two sorts), and the
    final groupBy is on those same keys, so Catalyst reuses the
    window's hash partitioning — ONE shuffle total, verified in the
    plan. All measures are integer cents (order-independent sums)."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        cents_expr(F.col("value")).alias("cents"),
    )
    wa = Window.partitionBy("user_id", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("user_id", "day").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    rn = base.select(
        "*",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return rn.groupBy("user_id", "day").agg(
        F.max(F.when(F.col("rn_a") == 1, F.col("cents"))).alias("open_cents"),
        F.max("cents").alias("high_cents"),
        F.min("cents").alias("low_cents"),
        F.max(F.when(F.col("rn_d") == 1, F.col("cents"))).alias("close_cents"),
        F.count(F.lit(1)).alias("n_events"),
        F.sum("cents").alias("volume_cents"),
    )


_HIST_WIDTH = 25_000.0
_HIST_BINS = 20


@register(
    "agg_histogram",
    oracle=f"""
    SELECT LEAST(CAST(FLOOR(o_totalprice / {_HIST_WIDTH}) AS BIGINT),
                 {_HIST_BINS - 1}) AS bin,
           LEAST(CAST(FLOOR(o_totalprice / {_HIST_WIDTH}) AS BIGINT),
                 {_HIST_BINS - 1}) * {_HIST_WIDTH} AS bin_lo,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100
             AS total_price
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_agg_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order value (the data-profiling
    primitive behind every column-statistics pane): literal bin width
    so the binning is a row-local expression — no pre-pass for
    min/max, no shuffle beyond the ONE tiny aggregate (≤20 groups →
    partial aggregation collapses almost everything map-side). Top
    bin is open-ended via LEAST (outlier-safe). Money in fixed-point
    cents."""
    orders = load_table(spark, "orders", sf_dir)
    bin_col = F.least(
        F.floor(F.col("o_totalprice") / _HIST_WIDTH).cast("long"),
        F.lit(_HIST_BINS - 1),
    )
    return (
        orders.select(
            bin_col.alias("bin"),
            (bin_col * _HIST_WIDTH).alias("bin_lo"),
            "o_totalprice",
        )
        .groupBy("bin", "bin_lo")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            fixed_point_sum(F.col("o_totalprice")).alias("total_price"),
        )
    )


@register(
    "analytics_promo_share",
    oracle="""
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CAST(SUM(CASE WHEN p_type = 'PROMO'
                    THEN CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                              AS BIGINT) ELSE 0 END) AS BIGINT) AS promo_cents,
           CAST(SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS total_cents
    FROM lineitem JOIN part ON l_partkey = p_partkey
    GROUP BY 1
    """,
)
def q_analytics_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape (promotion-revenue share by ship month): a
    fact⋈dim join feeding a two-branch conditional aggregate. The
    part dim is broadcast (fact side never shuffles for the join) and
    the aggregate groups on ~24 months, so partial aggregation
    collapses the fact stream map-side — the whole query is ONE
    pass over lineitem with no wide exchange. Revenue in integer
    cents both branches; the promo/total ratio is left to the caller
    (two exact integers beat one lossy double across engines)."""
    li = load_table(spark, "lineitem", sf_dir)
    part = load_table(spark, "part", sf_dir)
    rev = cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .select(
            F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"),
            rev.alias("rev_cents"),
            (F.col("p_type") == "PROMO").alias("is_promo"),
        )
        .groupBy("ship_month")
        .agg(
            F.sum(F.when(F.col("is_promo"), F.col("rev_cents")).otherwise(0)).alias(
                "promo_cents"
            ),
            F.sum("rev_cents").alias("total_cents"),
        )
    )


@register(
    "events_anomaly_mad",
    oracle="""
    WITH base AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL
    ),
    med AS (
      SELECT user_id, median(cents) AS med_cents, COUNT(*) AS n
      FROM base GROUP BY user_id
    ),
    dev AS (
      SELECT b.user_id, b.event_id, b.cents, m.med_cents, m.n,
             ABS(b.cents - m.med_cents) AS adev
      FROM base b JOIN med m ON b.user_id = m.user_id
    ),
    mad AS (
      SELECT user_id, median(adev) AS mad_cents
      FROM dev GROUP BY user_id
    )
    SELECT d.user_id, d.event_id, d.cents, d.med_cents, a.mad_cents
    FROM dev d JOIN mad a ON d.user_id = a.user_id
    WHERE d.n >= 8
      AND d.adev > 5 * a.mad_cents
    """,
)
def q_events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-user outlier detection via median absolute deviation
    (the MAD rule) — unlike z-scores (grouped_zscore), the median/MAD
    fences don't move when the outlier itself inflates the group's
    mean and stddev. Values are integer cents, so the exact medians
    (Spark `percentile`, DuckDB `median` — both midpoint-interpolate
    even counts) are bit-identical doubles.

    Dataflow: agg(median) → join back → agg(MAD) → join back →
    row-local fence — four keyed stages, EVERY one on user_id, so a
    user-bucketed 100 TB layout runs the whole thing with zero
    inter-stage exchange; both join-back sides arrive already hashed
    on user_id and the small per-user stat tables broadcast at any
    realistic user count."""
    ev = load_table(spark, "events", sf_dir).filter(F.col("value").isNotNull())
    base = ev.select(
        "user_id",
        "event_id",
        cents_expr(F.col("value")).alias("cents"),
    )
    med = base.groupBy("user_id").agg(
        F.expr("percentile(cents, 0.5)").alias("med_cents"),
        F.count(F.lit(1)).alias("n"),
    )
    dev = base.join(med, "user_id").withColumn(
        "adev", F.abs(F.col("cents") - F.col("med_cents"))
    )
    mad = dev.groupBy("user_id").agg(
        F.expr("percentile(adev, 0.5)").alias("mad_cents")
    )
    return (
        dev.join(mad, "user_id")
        .filter((F.col("n") >= 8) & (F.col("adev") > 5 * F.col("mad_cents")))
        .select("user_id", "event_id", "cents", "med_cents", "mad_cents")
    )


@register(
    "stream_stream_left_outer",
    oracle=f"""
    WITH clicks AS (
      SELECT user_id, ts AS click_ts, event_id AS click_id
      FROM events WHERE event_type = 'click'
    ),
    purch AS (
      SELECT user_id, ts AS purchase_ts, value
      FROM events WHERE event_type = 'purchase'
    )
    SELECT c.user_id, c.click_id,
           COUNT(p.purchase_ts) AS n_purchases,
           COALESCE({fixed_point_sum_sql("p.value")}, 0.0) AS purchased_value
    FROM clicks c LEFT JOIN purch p
      ON c.user_id = p.user_id
     AND p.purchase_ts >= c.click_ts
     AND p.purchase_ts <= c.click_ts + INTERVAL 30 MINUTE
    GROUP BY c.user_id, c.click_id
    """,
)
def q_stream_stream_left_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER stream-stream interval join — the hard half of
    streaming joins: unmatched clicks must still come out (conversion
    analysis needs the non-converters), but an outer row can only be
    emitted once the watermark PROVES no matching purchase can still
    arrive, so Spark holds it in state until click_ts + 30 min falls
    behind the global watermark. The time-bounded condition is what
    makes that state finite.

    On a finite replay the stream ends before the watermark passes the
    youngest clicks, which would withhold a data-dependent suffix of
    the outer rows — so the source appends a far-future flush batch
    (read_events_stream_with_flush) that drives every watermark past
    all real data, and the result equals the batch left-join oracle
    EXACTLY. Inner matches stream out eagerly; only the null-padded
    rows wait for the watermark."""
    from bigdatafinalproject_hockey_spark.streaming import (
        read_events_stream_with_flush,
        run_stream_to_table,
    )

    stream = read_events_stream_with_flush(spark, sf_dir)
    clicks = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("ts").alias("click_ts"),
            F.col("event_id").alias("click_id"),
        )
        .withWatermark("click_ts", "1 hour")
    )
    purch = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("purchase_ts"),
            "value",
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = clicks.join(
        purch,
        F.expr(
            """
            c_user = p_user AND
            purchase_ts >= click_ts AND
            purchase_ts <= click_ts + interval 30 minutes
            """
        ),
        "leftOuter",
    )
    mat = run_stream_to_table(spark, joined, output_mode="append")
    return (
        mat.filter(F.col("c_user") >= 0)  # drop the flush sentinel
        .groupBy(F.col("c_user").alias("user_id"), "click_id")
        .agg(
            F.count("purchase_ts").alias("n_purchases"),
            F.coalesce(fixed_point_sum(F.col("value")), F.lit(0.0)).alias(
                "purchased_value"
            ),
        )
    )


@register(
    "analytics_top_supplier",
    oracle="""
    WITH rev AS (
      SELECT l_suppkey,
             SUM(CAST(ROUND(l_extendedprice * (1 - l_discount) * 100)
                      AS BIGINT)) AS rev_cents
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1996-04-01'
      GROUP BY l_suppkey
    )
    SELECT s_suppkey, s_name,
           CAST(rev_cents AS DOUBLE) / 100 AS total_revenue
    FROM supplier JOIN rev ON s_suppkey = l_suppkey
    WHERE rev_cents = (SELECT MAX(rev_cents) FROM rev)
    """,
)
def q_analytics_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15 shape — argmax-over-aggregate: quarterly discounted
    revenue per supplier, then the supplier(s) achieving the maximum.
    The classic two-phase pattern a view + scalar subquery expresses:
    Spark computes the per-supplier aggregate ONCE, reduces it to a
    1-row max, and broadcast-joins that scalar back against the same
    aggregate (equality on exact integer cents, so "the" max is
    well-defined — a double sum could make the argmax
    partition-order-dependent). The shipdate range filter is pushed
    into the lineitem scan; the supplier dimension joins broadcast.
    At 100 TB the aggregate is one shuffle on l_suppkey and the max
    is a 1-row reduction — nothing here scales super-linearly."""
    li = load_table(spark, "lineitem", sf_dir).filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    rev = li.groupBy("l_suppkey").agg(
        F.sum(
            cents_expr(F.col("l_extendedprice") * (1 - F.col("l_discount")))
        ).alias("rev_cents")
    )
    mx = rev.agg(F.max("rev_cents").alias("max_cents"))
    supp = load_table(spark, "supplier", sf_dir)
    return (
        rev.join(F.broadcast(mx), rev.rev_cents == mx.max_cents)
        .join(F.broadcast(supp), rev.l_suppkey == supp.s_suppkey)
        .select(
            "s_suppkey",
            "s_name",
            (F.col("rev_cents").cast("double") / 100).alias("total_revenue"),
        )
    )


@register(
    "analytics_idle_customers",
    oracle="""
    WITH bal AS (
      SELECT c_custkey, right(c_name, 2) AS suffix,
             CAST(ROUND(c_acctbal * 100) AS BIGINT) AS bal_cents
      FROM customer
    ),
    pos AS (
      SELECT SUM(bal_cents) AS s, COUNT(*) AS n
      FROM bal WHERE bal_cents > 0
    )
    SELECT suffix, COUNT(*) AS n_customers,
           CAST(SUM(bal_cents) AS DOUBLE) / 100 AS total_acctbal
    FROM bal, pos
    WHERE bal_cents * n > s
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = bal.c_custkey
          AND o.o_orderdate >= TIMESTAMP '2001-01-01'
      )
    GROUP BY suffix
    """,
)
def q_analytics_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape — above-average account balances with no
    RECENT orders, grouped by customer-number suffix: a scalar
    aggregate subquery (global average) plus a NOT EXISTS anti-join.
    The average-balance comparison is EXACT: instead of comparing
    against a double average, both sides stay in integer cents and
    the predicate is bal_cents * n > sum_cents — algebraically the
    same inequality, zero float divergence between engines. The
    1-row (sum, count) aggregate broadcast-joins onto every customer;
    the recency check is a left-anti join against the date-filtered
    orders scan (never a per-row subquery). One shuffle for the final
    suffix rollup; everything upstream is scan + broadcast."""
    cust = load_table(spark, "customer", sf_dir).select(
        "c_custkey",
        F.expr("right(c_name, 2)").alias("suffix"),
        cents_expr(F.col("c_acctbal")).alias("bal_cents"),
    )
    pos = cust.filter(F.col("bal_cents") > 0).agg(
        F.sum("bal_cents").alias("s"), F.count(F.lit(1)).alias("n")
    )
    recent = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderdate") >= F.lit("2001-01-01").cast("timestamp"))
        .select("o_custkey")
    )
    return (
        cust.join(F.broadcast(pos))
        .filter(F.col("bal_cents") * F.col("n") > F.col("s"))
        .join(recent, cust.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("suffix")
        .agg(
            F.count(F.lit(1)).alias("n_customers"),
            (F.sum("bal_cents").cast("double") / 100).alias("total_acctbal"),
        )
    )


@register(
    "analytics_parts_supplier",
    oracle="""
    SELECT p_brand, p_type, p_size,
           COUNT(DISTINCT l_suppkey) AS supplier_cnt
    FROM part JOIN lineitem ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#13'
      AND p_size IN (1, 7, 14, 23, 36, 45, 50)
      AND l_suppkey NOT IN (
        SELECT s_suppkey FROM supplier WHERE s_nationkey < 3
      )
    GROUP BY p_brand, p_type, p_size
    """,
)
def q_analytics_parts_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape — supplier-diversity count per part category
    with a NOT IN exclusion list: how many distinct suppliers ship
    each (brand, type, size) bucket, excluding a blacklisted supplier
    set. The NOT IN subquery becomes a broadcast left-anti join (the
    exclusion list is tiny and s_suppkey is non-null, so anti-join
    and NOT IN agree); both part filters push into the part scan and
    the part side broadcasts into the lineitem join. COUNT(DISTINCT)
    runs as Spark's two-phase distinct aggregate — partial
    de-duplication before the shuffle — which is the scalable layout
    for high-cardinality distinct counts at 100 TB."""
    part = load_table(spark, "part", sf_dir).filter(
        (F.col("p_brand") != "Brand#13")
        & F.col("p_size").isin(1, 7, 14, 23, 36, 45, 50)
    )
    excluded = (
        load_table(spark, "supplier", sf_dir)
        .filter(F.col("s_nationkey") < 3)
        .select("s_suppkey")
    )
    li = load_table(spark, "lineitem", sf_dir).join(
        F.broadcast(excluded),
        F.col("l_suppkey") == F.col("s_suppkey"),
        "left_anti",
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "events_top_paths",
    oracle="""
    WITH seq AS (
      SELECT user_id, event_type AS e1,
             lead(event_type, 1) OVER w AS e2,
             lead(event_type, 2) OVER w AS e3
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT e1 || '>' || e2 || '>' || e3 AS path,
           COUNT(*) AS n_occurrences
    FROM seq WHERE e3 IS NOT NULL
    GROUP BY 1
    ORDER BY n_occurrences DESC, path
    LIMIT 20
    """,
)
def q_events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential path mining — the top 3-step behavioral paths across
    all users (the "what do users do next" analysis behind sankey /
    flow diagrams). Each user's event sequence is windowed with two
    leads (one shuffle on user_id, no self-joins — the naive
    formulation is a triple self-join on consecutiveness), trigrams
    are counted globally, and the top 20 come out via
    TakeOrderedAndProject with a deterministic (count, path)
    tie-break. Window order is (ts, event_id) so simultaneous events
    sequence identically in both engines.

    Scale shape: lead() is a frame-free window — evaluated in one
    pass over each user's sorted run; the trigram count is a standard
    two-phase aggregate on a low-cardinality key space (|event
    types|³ possible paths), so the final top-k costs nothing."""
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = load_table(spark, "events", sf_dir).select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
    )
    return (
        seq.filter(F.col("e3").isNotNull())
        .select(
            F.concat_ws(">", "e1", "e2", "e3").alias("path")
        )
        .groupBy("path")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "path")
        .limit(20)
    )


@register(
    "ts_trend_slope",
    oracle="""
    WITH pts AS (
      SELECT user_id,
             date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             CAST(ROUND(value * 100) AS BIGINT) AS y
      FROM events
    ),
    sums AS (
      SELECT user_id, COUNT(*) AS n,
             SUM(x) AS sx, SUM(y) AS sy,
             SUM(x * y) AS sxy, SUM(x * x) AS sxx
      FROM pts GROUP BY user_id
    )
    SELECT user_id, n AS n_events,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / NULLIF(n * sxx - sx * sx, 0) AS slope_cents_per_day
    FROM sums
    """,
)
def q_ts_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user OLS trend slope (cents/day) — the closed-form
    regression every monitoring/engagement pipeline runs, computed so
    the result is ENGINE-EXACT: x is an integer day index, y integer
    cents, and the five sufficient statistics (n, Σx, Σy, Σxy, Σx²)
    are int64 sums — order-independent, overflow-safe at these
    magnitudes — so slope = (nΣxy − ΣxΣy)/(nΣx² − (Σx)²) is ONE
    exactly-rounded double division. Single-day users get NULL
    (denominator 0) instead of a fake slope.

    Scale shape: one partial+final aggregate keyed on user_id — the
    sufficient-statistics formulation is why regression over 100 TB
    is a one-shuffle problem (same mergeable-partials principle as
    mv_incremental_agg; a drifting fleet of 10⁹ users costs the same
    shuffle as a count)."""
    pts = load_table(spark, "events", sf_dir).select(
        "user_id",
        F.datediff(
            F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
        ).cast("long").alias("x"),
        cents_expr(F.col("value")).alias("y"),
    )
    sums = pts.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
    )
    return sums.select(
        "user_id",
        F.col("n").alias("n_events"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.nullif(
                F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"), F.lit(0)
            )
        ).alias("slope_cents_per_day"),
    )


@register(
    "events_peak_concurrency",
    oracle="""
    WITH iv AS (
      SELECT event_id, ts AS s, ts + INTERVAL 10 MINUTE AS e
      FROM events
    ),
    seg AS (
      SELECT event_id, s AS seg_s,
             LEAST(e, CAST(CAST(s AS DATE) AS TIMESTAMP)
                        + INTERVAL 1 DAY) AS seg_e
      FROM iv
      UNION ALL
      SELECT event_id,
             CAST(CAST(e AS DATE) AS TIMESTAMP) AS seg_s, e AS seg_e
      FROM iv
      WHERE CAST(e AS DATE) > CAST(s AS DATE)
        AND e > CAST(CAST(e AS DATE) AS TIMESTAMP)
    ),
    bounds AS (
      SELECT CAST(seg_s AS DATE) AS day, seg_s AS t, 1 AS delta, event_id
      FROM seg
      UNION ALL
      SELECT CAST(seg_s AS DATE) AS day, seg_e AS t, -1 AS delta, event_id
      FROM seg
    ),
    run AS (
      SELECT day, delta,
             SUM(delta) OVER (PARTITION BY day
                              ORDER BY t, delta, event_id
                              ROWS UNBOUNDED PRECEDING) AS running
      FROM bounds
    )
    SELECT day, CAST(SUM(CASE WHEN delta = 1 THEN 1 END) AS BIGINT)
                  AS n_intervals,
           CAST(MAX(running) AS BIGINT) AS peak_concurrent
    FROM run
    GROUP BY day
    """,
)
def q_events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency per day — the sweep-line algorithm as
    dataflow: each event holds a resource for 10 minutes; the
    question "what was the maximum simultaneous load" is answered by
    exploding every interval into +1/-1 boundary rows, running-summing
    them in time order, and taking the per-day max. The classic
    capacity-planning query (concurrent sessions, connection pools,
    license seats) that naive interval self-joins make quadratic —
    this form is linear plus one sort.

    Midnight-crossing intervals split into per-day segments (each
    day's partition sees a self-contained +1/-1 multiset, so the
    running sum never goes negative and never leaks across days);
    at the same instant, ends sort before starts (delta ascending),
    so back-to-back touching intervals don't double-count. The window
    partitions by DAY, not globally — at 100 TB each day's sweep is
    an independent partition sort, the standard time-sharded
    formulation; ordering is fully keyed (t, delta, event_id) so the
    prefix sums are engine-deterministic."""
    iv = load_table(spark, "events", sf_dir).select(
        "event_id",
        F.col("ts").alias("s"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("e"),
    )
    midnight_after_s = (
        F.date_add(F.col("s").cast("date"), 1).cast("timestamp")
    )
    first = iv.select(
        "event_id",
        F.col("s").alias("seg_s"),
        F.least(F.col("e"), midnight_after_s).alias("seg_e"),
    )
    spill = iv.filter(
        (F.col("e").cast("date") > F.col("s").cast("date"))
        & (F.col("e") > F.col("e").cast("date").cast("timestamp"))
    ).select(
        "event_id",
        F.col("e").cast("date").cast("timestamp").alias("seg_s"),
        F.col("e").alias("seg_e"),
    )
    seg = first.unionByName(spill)
    bounds = seg.select(
        F.col("seg_s").cast("date").alias("day"),
        F.col("seg_s").alias("t"),
        F.lit(1).alias("delta"),
        "event_id",
    ).unionByName(
        seg.select(
            F.col("seg_s").cast("date").alias("day"),
            F.col("seg_e").alias("t"),
            F.lit(-1).alias("delta"),
            "event_id",
        )
    )
    w = (
        Window.partitionBy("day")
        .orderBy("t", "delta", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    run = bounds.select("day", "delta", F.sum("delta").over(w).alias("running"))
    return run.groupBy("day").agg(
        F.count(F.when(F.col("delta") == 1, 1)).cast("long").alias("n_intervals"),
        F.max("running").cast("long").alias("peak_concurrent"),
    )


@register(
    "agg_listagg",
    oracle="""
    SELECT lang,
           string_agg(DISTINCT source, ',' ORDER BY source) AS sources_csv,
           CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
    FROM documents
    GROUP BY lang
    """,
)
def q_agg_listagg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered, de-duplicated string aggregation (LISTAGG / string_agg
    — the report-formatting aggregate): distinct sources per language
    as one sorted CSV cell. Spark expresses it as collect_set →
    array_sort → array_join; the explicit sort is what makes the
    concatenated cell deterministic — collect_set order is
    partition-arrival order and would differ run to run. Stays a
    two-phase aggregate (sets union map-side); the per-group payload
    is bounded by distinct-source cardinality, the usual LISTAGG
    memory contract."""
    docs = load_table(spark, "documents", sf_dir)
    return docs.groupBy("lang").agg(
        F.array_join(
            F.array_sort(F.collect_set("source")), ","
        ).alias("sources_csv"),
        F.countDistinct("source").cast("long").alias("n_sources"),
    )


@register(
    "events_activity_streaks",
    oracle="""
    WITH days AS (
      SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events
    ),
    grp AS (
      SELECT user_id, d,
             date_diff('day', DATE '2024-01-01', d)
               - row_number() OVER (PARTITION BY user_id ORDER BY d)
               AS island
      FROM days
    ),
    streaks AS (
      SELECT user_id, MIN(d) AS streak_start, COUNT(*) AS streak_days
      FROM grp GROUP BY user_id, island
    ),
    ranked AS (
      SELECT user_id, streak_start, streak_days,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY streak_days DESC, streak_start)
               AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_streaks
      FROM streaks
    )
    SELECT user_id, streak_start, streak_days,
           CAST(n_streaks AS BIGINT) AS n_streaks
    FROM ranked WHERE rn = 1
    """,
)
def q_events_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gaps-and-islands: each user's LONGEST run of consecutive active
    calendar days (login streaks, SLA uptime runs, sensor liveness).
    The classic trick — day_index − row_number is CONSTANT within a
    consecutive run, so grouping by that difference labels islands
    without any self-join or iterative pass. Two window functions and
    two aggregates, all partitioned by user_id: one shuffle, then
    per-group sorted runs. Tie between equal-length streaks breaks to
    the earliest start, so the per-user winner is deterministic.

    At 100 TB this shape is why gaps-and-islands beats the
    LAG-compare-and-flag alternative: no conditional cumulative sum
    chain, just arithmetic on row_number — stays fully
    whole-stage-codegen'd around the one per-user sort."""
    days = (
        load_table(spark, "events", sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("d"))
        .distinct()
    )
    w = Window.partitionBy("user_id").orderBy("d")
    grp = days.select(
        "user_id",
        "d",
        (
            F.datediff(F.col("d"), F.lit("2024-01-01").cast("date"))
            - F.row_number().over(w)
        ).alias("island"),
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.min("d").alias("streak_start"),
        F.count(F.lit(1)).alias("streak_days"),
    )
    wr = Window.partitionBy("user_id").orderBy(
        F.desc("streak_days"), "streak_start"
    )
    ranked = streaks.select(
        "user_id",
        "streak_start",
        "streak_days",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1))
        .over(Window.partitionBy("user_id"))
        .cast("long")
        .alias("n_streaks"),
    )
    return ranked.filter(F.col("rn") == 1).select(
        "user_id", "streak_start", "streak_days", "n_streaks"
    )


@register(
    "analytics_small_qty_revenue",
    oracle="""
    WITH avg_qty AS (
      SELECT l_partkey,
             COUNT(*) AS n, SUM(CAST(l_quantity AS BIGINT)) AS sq
      FROM lineitem GROUP BY l_partkey
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_small_lines,
           CAST(SUM(CAST(ROUND(l_extendedprice * 100) AS BIGINT)) AS DOUBLE)
             / 100 / 7.0 AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    JOIN avg_qty ON avg_qty.l_partkey = lineitem.l_partkey
    WHERE p_brand = 'Brand#23'
      AND l_quantity * n * 5 < sq
    """,
)
def q_analytics_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape — the correlated aggregate subquery
    (l_quantity < 0.2 · AVG(l_quantity) per part) decorrelated into a
    join against the per-part aggregate, computed ONCE instead of per
    row. The average comparison stays integer — qty·n·5 < Σqty is
    algebraically 'qty < 0.2·avg' with zero float division — so the
    filter cut is engine-exact; revenue sums in cents. Spark
    broadcasts the filtered part dimension and the per-part aggregate
    rides the same l_partkey shuffle the aggregate itself needed: two
    scans of lineitem total (one for the aggregate, one for the
    probe), the canonical decorrelated form."""
    li = load_table(spark, "lineitem", sf_dir)
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("l_quantity").cast("long")).alias("sq"),
    )
    part = load_table(spark, "part", sf_dir).filter(
        F.col("p_brand") == "Brand#23"
    )
    joined = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(avg_qty, li.l_partkey == avg_qty.ak)
        .filter(
            F.col("l_quantity").cast("long") * F.col("n") * 5 < F.col("sq")
        )
    )
    return joined.agg(
        F.count(F.lit(1)).cast("long").alias("n_small_lines"),
        (
            F.sum(cents_expr(F.col("l_extendedprice"))).cast("double")
            / 100
            / 7.0
        ).alias("avg_yearly"),
    )


@register(
    "diag_join_key_skew",
    oracle="""
    WITH per_key AS (
      SELECT o_custkey AS key, COUNT(*) AS n FROM orders GROUP BY o_custkey
    ),
    stats AS (
      SELECT COUNT(*) AS n_keys, CAST(SUM(n) AS BIGINT) AS n_rows,
             MAX(n) AS max_n
      FROM per_key
    )
    SELECT k.key, k.n AS n_rows_key, s.n_keys, s.n_rows,
           ROUND(CAST(k.n * s.n_keys AS DOUBLE) / s.n_rows, 6)
             AS skew_factor
    FROM per_key k CROSS JOIN stats s
    ORDER BY k.n DESC, k.key
    LIMIT 10
    """,
)
def q_diag_join_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostic — the profiling query you run BEFORE
    pointing a 100 TB join at a key: per-key row counts, the global
    (n_keys, n_rows) context, and each heavy hitter's skew factor
    (its count over the mean count, i.e. n·n_keys/n_rows — computed
    from exact integers, one rounded division). The top-10 output is
    the salt-list input for join_skew_salted and the evidence for
    enabling AQE skew handling; a factor near 1 means the key is safe.

    One aggregate over the key, a 1-row broadcast of the totals, and
    a TakeOrderedAndProject — the diagnostic itself must stay cheap
    enough to run casually against the full table."""
    per_key = (
        load_table(spark, "orders", sf_dir)
        .groupBy(F.col("o_custkey").alias("key"))
        .agg(F.count(F.lit(1)).alias("n"))
    )
    stats = per_key.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum("n").alias("n_rows"),
        F.max("n").alias("max_n"),
    ).select("n_keys", "n_rows")
    return (
        per_key.join(F.broadcast(stats))
        .select(
            "key",
            F.col("n").alias("n_rows_key"),
            "n_keys",
            "n_rows",
            F.round(
                (F.col("n") * F.col("n_keys")).cast("double") / F.col("n_rows"),
                6,
            ).alias("skew_factor"),
        )
        .orderBy(F.desc("n_rows_key"), "key")
        .limit(10)
    )


@register(
    "analytics_pareto",
    oracle="""
    WITH per_cust AS (
      SELECT o_custkey,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) AS cents
      FROM orders GROUP BY o_custkey
    ),
    ranked AS (
      SELECT cents,
             row_number() OVER (ORDER BY cents DESC, o_custkey) AS rn,
             COUNT(*) OVER () AS n,
             CAST(SUM(cents) OVER () AS BIGINT) AS total
      FROM per_cust
    )
    SELECT CAST(n AS BIGINT) AS n_customers,
           CAST(n // 5 AS BIGINT) AS top_20pct_customers,
           CAST(SUM(CASE WHEN rn <= n // 5 THEN cents ELSE 0 END)
                AS DOUBLE) / 100 AS top_20pct_revenue,
           CAST(total AS DOUBLE) / 100 AS total_revenue,
           ROUND(CAST(SUM(CASE WHEN rn <= n // 5 THEN cents ELSE 0 END)
                      AS DOUBLE) / total, 6) AS top_20pct_share
    FROM ranked
    GROUP BY n, total
    """,
)
def q_analytics_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto concentration readout — what share of revenue comes from
    the top 20% of customers (the 80/20 check behind account
    prioritization and risk concentration limits). Per-customer
    revenue in exact cents, ranked with a deterministic (revenue,
    custkey) tie-break so the 20% cutoff is engine-exact, one
    conditional sum against rank <= n/5, one rounded division at the
    end. The global rank is a single-partition window over the
    CUSTOMER aggregate — fine at any scale where per-key aggregates
    fit a partition (they're |customers| rows, not |orders|); beyond
    that the cutoff comes from a quantile of the revenue distribution
    instead of an exact rank."""
    per_cust = load_table(spark, "orders", sf_dir).groupBy("o_custkey").agg(
        F.sum(cents_expr(F.col("o_totalprice"))).alias("cents")
    )
    w = Window.orderBy(F.desc("cents"), "o_custkey")
    ranked = per_cust.select(
        "cents",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
        F.sum("cents").over(Window.partitionBy()).cast("long").alias("total"),
    )
    top = F.when(F.col("rn") <= F.expr("n div 5"), F.col("cents")).otherwise(0)
    return ranked.groupBy("n", "total").agg(
        F.sum(top).alias("top_cents")
    ).select(
        F.col("n").cast("long").alias("n_customers"),
        F.expr("n div 5").cast("long").alias("top_20pct_customers"),
        (F.col("top_cents").cast("double") / 100).alias("top_20pct_revenue"),
        (F.col("total").cast("double") / 100).alias("total_revenue"),
        F.round(
            F.col("top_cents").cast("double") / F.col("total"), 6
        ).alias("top_20pct_share"),
    )


@register(
    "events_dau_wau_mau",
    oracle="""
    WITH act AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM act)
    SELECT days.d AS day,
           CAST((SELECT COUNT(DISTINCT a.user_id) FROM act a
                 WHERE a.d = days.d) AS BIGINT) AS dau,
           CAST((SELECT COUNT(DISTINCT a.user_id) FROM act a
                 WHERE a.d BETWEEN days.d - 6 AND days.d) AS BIGINT) AS wau,
           CAST((SELECT COUNT(DISTINCT a.user_id) FROM act a
                 WHERE a.d BETWEEN days.d - 29 AND days.d) AS BIGINT) AS mau
    FROM days
    """,
)
def q_events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DAU / WAU / MAU — rolling distinct active users, the product-
    analytics vital sign. Window functions can't COUNT(DISTINCT) over
    a moving frame, so the scalable formulation is contribution
    explosion: each (user, active-day) pair contributes to the 7-day
    windows of days d..d+6 and the 30-day windows of d..d+29; one
    explode per horizon then an ordinary distinct count per day. The
    amplification is map-side and bounded by the horizon (×7, ×30 on
    the deduplicated user-day pairs, NOT raw events) — the same
    trade Spark's own sliding windows make — and each distinct count
    is a standard two-phase aggregate. Output days are restricted to
    days that actually occur (semi-join with the observed day set),
    so horizon spill-over past the data's edge never fabricates rows.

    The oracle states the SEMANTICS directly (correlated range
    distinct counts) rather than mirroring the explosion — agreement
    shows the rewrite is faithful, not just repeated."""
    act = (
        load_table(spark, "events", sf_dir)
        .select(F.col("ts").cast("date").alias("d"), "user_id")
        .distinct()
    )
    days = act.select("d").distinct()

    def rolling(horizon: int, name: str) -> DataFrame:
        return (
            act.select(
                F.explode(
                    F.sequence(
                        F.col("d"), F.date_add(F.col("d"), horizon - 1)
                    )
                ).alias("day"),
                "user_id",
            )
            .groupBy("day")
            .agg(F.countDistinct("user_id").cast("long").alias(name))
        )

    dau = act.groupBy(F.col("d").alias("day")).agg(
        F.countDistinct("user_id").cast("long").alias("dau")
    )
    wau = rolling(7, "wau")
    mau = rolling(30, "mau")
    return (
        days.select(F.col("d").alias("day"))
        .join(dau, "day")
        .join(wau, "day")
        .join(mau, "day")
    )
