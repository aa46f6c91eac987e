"""Core relational queries — one per operator in SURVEY.md §2.1-§2.11.

Each query runs on the driver's synthetic tables (TESTDATA.md) and has
a DuckDB oracle with identical column names/semantics. Floating-point
discipline (see functions.numeric): money sums are fixed-point-exact;
averages and window aggregates are rounded to 6 decimals on BOTH
sides.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.catalog import load_table
from bigdatafinalproject_hockey_spark.functions.hashing import portable_hash64_sql
from bigdatafinalproject_hockey_spark.functions.numeric import (
    cents_expr,
    fixed_point_sum,
    fixed_point_sum_sql,
)
from bigdatafinalproject_hockey_spark.operators import (
    aggregates as agg_ops,
    joins as join_ops,
    lookup as lookup_ops,
    sampling as sample_ops,
    scalar as scalar_ops,
    setops,
    strings as string_ops,
    windows as win_ops,
)
from bigdatafinalproject_hockey_spark.queries.base import register

# ---------------------------------------------------------------------------
# §2.2 scalar transforms
# ---------------------------------------------------------------------------


@register(
    "clean_types",
    oracle="""
    SELECT o_orderkey AS order_key,
           o_orderstatus AS status,
           CAST(FLOOR(o_totalprice) AS BIGINT) AS price_trunc,
           strftime(o_orderdate, '%-m/%-d/%Y') AS raw_date,
           CAST(strptime(strftime(o_orderdate, '%-m/%-d/%Y'), '%-m/%-d/%Y') AS DATE)
               AS order_date
    FROM orders
    """,
)
def q_clean_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-clean ETL stage — the composite of the reference's intake
    steps (rename, cast, date parse): parse the M/d/yyyy date string
    (code/experiment.py:298), rename to engine-friendly names
    (code/experiment.py:286-288), and pin numeric types
    (code/experiment.py:290-297). Spark double→long cast truncates
    toward zero; the oracle spells FLOOR (values positive, so equal).
    All three remain individually exercised at the operator level
    (operators/scalar.py; tests/test_modules.py)."""
    df = load_table(spark, "orders", sf_dir).select(
        "o_orderkey",
        "o_orderstatus",
        "o_totalprice",
        F.date_format("o_orderdate", "M/d/yyyy").alias("raw_date"),
    )
    df = scalar_ops.parse_date(df, "raw_date", "M/d/yyyy", out="order_date")
    df = scalar_ops.rename_cols(
        df,
        {
            "o_orderkey": "order_key",
            "o_orderstatus": "status",
            "o_totalprice": "price_trunc",
        },
    )
    df = scalar_ops.cast_types(df, {"price_trunc": "long"})
    return df.select("order_key", "status", "price_trunc", "raw_date", "order_date")


@register(
    "filter_clean",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           NULLIF(l_returnflag, 'R') AS maybe_flag,
           NULLIF(l_linestatus, 'O') AS maybe_status,
           l_quantity, l_extendedprice
    FROM lineitem
    WHERE NULLIF(l_returnflag, 'R') IS NOT NULL
      AND NULLIF(l_linestatus, 'O') IS NOT NULL
      AND l_quantity >= 25 AND l_orderkey >= 1000
      AND NULLIF(l_returnflag, 'R') = 'A'
      AND l_extendedprice >= 10000 AND l_quantity <= 45
    """,
)
def q_filter_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-filter ETL stage — composite of the reference's filter
    shapes: NULL-key drop (code/experiment.py:401-402, 555),
    conjunctive >= bounds (301-302), equality (502-503), and a compound
    predicate (645-656), applied in sequence. Source-column predicates
    still reach the parquet scan as PushedFilters (locked in
    tests/test_plans.py); the NULLIF-derived columns are evaluated
    scan-side. Each op stays individually exercised in
    operators/scalar.py + tests/test_modules.py."""
    df = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey",
        "l_linenumber",
        F.nullif(F.col("l_returnflag"), F.lit("R")).alias("maybe_flag"),
        F.nullif(F.col("l_linestatus"), F.lit("O")).alias("maybe_status"),
        "l_quantity",
        "l_extendedprice",
    )
    df = scalar_ops.filter_notnull(df, ["maybe_flag"])
    df = scalar_ops.drop_nulls_any(df)
    df = scalar_ops.filter_range(df, {"l_quantity": 25.0, "l_orderkey": 1000})
    df = scalar_ops.filter_eq(df, "maybe_flag", "A")
    return scalar_ops.filter_compound(
        df, F.col("l_extendedprice") >= 10000, F.col("l_quantity") <= 45
    )


@register(
    "derive_features",
    oracle="""
    SELECT l_orderkey AS order_key,
           l_partkey AS part_key,
           l_quantity AS qty,
           l_extendedprice AS base_price,
           l_extendedprice * (1 - l_discount) AS disc_price,
           l_extendedprice * (1 - l_discount) * (1 + l_tax) AS charge,
           l_extendedprice - l_quantity AS price_qty_diff,
           CASE WHEN l_quantity >= 30 THEN 1.0 ELSE 0.0 END AS label,
           COALESCE(NULLIF(l_returnflag, 'R'), 'UNKNOWN') AS flag_filled
    FROM lineitem
    """,
)
def q_derive_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column-derivation ETL stage — composite of the reference's
    feature steps: wide aliased re-projection
    (code/experiment.py:381-397), derived arithmetic (544-552), label
    binarization (628-633), and literal-default fill (476-494) in one
    shuffle-free projection chain. Per-row double arithmetic is
    bit-deterministic — no rounding needed."""
    df = load_table(spark, "lineitem", sf_dir)
    df = scalar_ops.project_alias(
        df,
        {
            "order_key": "l_orderkey",
            "part_key": "l_partkey",
            "qty": "l_quantity",
            "base_price": "l_extendedprice",
            "disc_price": F.col("l_extendedprice") * (1 - F.col("l_discount")),
            "flag_filled": F.nullif(F.col("l_returnflag"), F.lit("R")),
            "l_discount": "l_discount",
            "l_tax": "l_tax",
        },
    )
    df = scalar_ops.derive_arith(
        df,
        {
            "charge": F.col("base_price")
            * (1 - F.col("l_discount"))
            * (1 + F.col("l_tax")),
            "price_qty_diff": F.col("base_price") - F.col("qty"),
        },
    )
    df = scalar_ops.case_when(df, "label", F.col("qty") >= 30, 1.0, 0.0)
    df = scalar_ops.fill_default(df, {"flag_filled": "UNKNOWN"})
    return df.select(
        "order_key", "part_key", "qty", "base_price", "disc_price",
        "charge", "price_qty_diff", "label", "flag_filled",
    )


# ---------------------------------------------------------------------------
# §2.3 strings + §2.4 map lookup
# ---------------------------------------------------------------------------


@register(
    "str_clean",
    oracle="""
    SELECT doc_id,
           trim(regexp_replace('  ' || text || '   ', '\\s+', ' ', 'g'))
               AS norm_text,
           regexp_replace(upper(lang), '[^A-Z]', '', 'g') AS lang_code
    FROM documents
    """,
)
def q_str_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-clean ETL stage — composite of the reference's two
    string ops (str_normalize_ws, str_strip_charset): whitespace
    collapse + trim (code/experiment.py:305-307; padding injected so
    the op provably changes something) and uppercase + strip non-[A-Z]
    (code/experiment.py:311-316), in one scan-side projection."""
    df = load_table(spark, "documents", sf_dir).select(
        "doc_id",
        F.concat(F.lit("  "), F.col("text"), F.lit("   ")).alias("norm_text"),
        F.col("lang").alias("lang_code"),
    )
    df = string_ops.str_normalize_ws(df, "norm_text")
    return string_ops.str_strip_charset(df, "lang_code")


REGION_CODES = {
    "AFRICA": "AF",
    "AMERICA": "AM",
    "ASIA": "AS",
    "EUROPE": "EU",
    # MIDDLE EAST deliberately unmapped → NULL (tests the miss path,
    # like the reference's unmapped team names).
}


@register(
    "map_literal_lookup",
    oracle="""
    SELECT r_regionkey, r_name,
           CASE r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
                       WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
           END AS region_code
    FROM region
    """,
)
def q_map_literal_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Literal create_map lookup, miss → NULL
    (reference code/experiment.py:58-246, 272-274, 308-310)."""
    df = load_table(spark, "region", sf_dir)
    return lookup_ops.map_literal_lookup(df, "r_name", REGION_CODES, "region_code")


@register(
    "lookup_with_fallback",
    oracle="""
    SELECT n_nationkey, n_name,
           COALESCE(
             CASE n_name WHEN 'NATION_0' THEN 'ZZZ' WHEN 'NATION_7' THEN 'QQQ' END,
             substr(regexp_replace(upper(n_name), '[^A-Z0-9]', '', 'g'), 1, 6)
           ) AS nation_code
    FROM nation
    """,
)
def q_lookup_with_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map hit with regex fallback for misses
    (reference code/experiment.py:311-316, 351-356)."""
    df = load_table(spark, "nation", sf_dir)
    fallback = f"substring({string_ops.strip_charset_sql('n_name', 'A-Z0-9')}, 1, 6)"
    return lookup_ops.lookup_with_fallback(
        df, "n_name", {"NATION_0": "ZZZ", "NATION_7": "QQQ"}, fallback, "nation_code"
    ).select("n_nationkey", "n_name", "nation_code")


# ---------------------------------------------------------------------------
# §2.5 aggregations
# ---------------------------------------------------------------------------


@register(
    "agg_group_multi",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           SUM(l_quantity) AS sum_qty,
           {fixed_point_sum_sql("l_extendedprice", 100)} AS sum_base_price,
           {fixed_point_sum_sql("l_extendedprice * (1 - l_discount)", 10000)}
               AS sum_disc_price,
           {fixed_point_sum_sql("l_extendedprice * (1 - l_discount) * (1 + l_tax)", 1000000)}
               AS sum_charge,
           SUM(l_quantity) / CAST(COUNT(*) AS DOUBLE) AS avg_qty,
           ({fixed_point_sum_sql("l_extendedprice", 100)})
               / CAST(COUNT(*) AS DOUBLE) AS avg_price,
           ({fixed_point_sum_sql("l_discount", 100)})
               / CAST(COUNT(*) AS DOUBLE) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1999-12-01'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_group_multi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-measure grouped aggregate — the reference's per-game event
    rollup (code/experiment.py:359-366), in TPC-H Q1 shape.

    All measures are order-independent: sum_qty exact (integral
    doubles), money sums fixed-point, averages = exact sum / count —
    bit-stable under any partitioning and in the oracle.
    """
    df = load_table(spark, "lineitem", sf_dir)
    df = df.filter(F.col("l_shipdate") <= F.lit("1999-12-01").cast("timestamp"))
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    n = F.count(F.lit(1))
    return agg_ops.agg_group_multi(
        df,
        ["l_returnflag", "l_linestatus"],
        {
            "sum_qty": F.sum("l_quantity"),
            "sum_base_price": fixed_point_sum(F.col("l_extendedprice"), 100),
            "sum_disc_price": fixed_point_sum(disc_price, 10000),
            "sum_charge": fixed_point_sum(charge, 1000000),
            "avg_qty": F.sum("l_quantity") / n.cast("double"),
            "avg_price": fixed_point_sum(F.col("l_extendedprice"), 100)
            / n.cast("double"),
            "avg_disc": fixed_point_sum(F.col("l_discount"), 100) / n.cast("double"),
            "count_order": F.count(F.lit(1)),
        },
    )


@register(
    "agg_global_max",
    oracle="""
    SELECT MAX(o_orderdate) AS max_orderdate, MAX(o_totalprice) AS max_total
    FROM orders
    """,
)
def q_agg_global_max(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ungrouped max (reference code/experiment.py:564)."""
    df = load_table(spark, "orders", sf_dir)
    return df.agg(
        F.max("o_orderdate").alias("max_orderdate"),
        F.max("o_totalprice").alias("max_total"),
    )


@register(
    "agg_count_group",
    oracle="""
    SELECT event_type, COUNT(*) AS n
    FROM events GROUP BY event_type ORDER BY event_type
    """,
)
def q_agg_count_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """groupBy().count().orderBy() — the reference's confusion-matrix
    display (code/experiment.py:678-680)."""
    df = load_table(spark, "events", sf_dir)
    return agg_ops.agg_count_group(df, ["event_type"], out="n")


@register(
    "agg_count_filter",
    oracle="""
    SELECT COUNT(*) FILTER (WHERE o_orderstatus = 'F'  AND o_totalprice >= 100000) AS n_f_high,
           COUNT(*) FILTER (WHERE o_orderstatus = 'F'  AND o_totalprice <  100000) AS n_f_low,
           COUNT(*) FILTER (WHERE o_orderstatus <> 'F' AND o_totalprice >= 100000) AS n_o_high,
           COUNT(*) FILTER (WHERE o_orderstatus <> 'F' AND o_totalprice <  100000) AS n_o_low
    FROM orders
    """,
)
def q_agg_count_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion-matrix-style cell counts in ONE job — replaces the
    reference's 4 separate filter().count() actions
    (code/experiment.py:645-656; SURVEY.md §3.3)."""
    df = load_table(spark, "orders", sf_dir)
    f = F.col("o_orderstatus") == "F"
    high = F.col("o_totalprice") >= 100000
    return agg_ops.agg_count_filter(
        df,
        {
            "n_f_high": f & high,
            "n_f_low": f & ~high,
            "n_o_high": ~f & high,
            "n_o_low": ~f & ~high,
        },
    )


# ---------------------------------------------------------------------------
# §2.6 joins
# ---------------------------------------------------------------------------


@register(
    "join_equi_3key",
    oracle="""
    SELECT l.l_orderkey, l.l_partkey, l.l_suppkey, l.l_linenumber,
           g.group_qty, g.group_rev
    FROM lineitem l
    JOIN (
      SELECT l_orderkey, l_partkey, l_suppkey,
             SUM(l_quantity) AS group_qty,
             COUNT(*) AS group_rev
      FROM lineitem GROUP BY l_orderkey, l_partkey, l_suppkey
    ) g USING (l_orderkey, l_partkey, l_suppkey)
    """,
)
def q_join_equi_3key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-column composite-key inner equi-join — the reference's
    results ⋈ event-aggregates join (code/experiment.py:372-379):
    detail rows joined back to their 3-key group aggregates."""
    li = load_table(spark, "lineitem", sf_dir)
    keys = ["l_orderkey", "l_partkey", "l_suppkey"]
    grouped = agg_ops.agg_group_multi(
        li,
        keys,
        {"group_qty": F.sum("l_quantity"), "group_rev": F.count(F.lit(1))},
    )
    joined = join_ops.join_equi(li, grouped, keys)
    return joined.select(*keys, "l_linenumber", "group_qty", "group_rev")


@register(
    "join_star",
    oracle=f"""
    SELECT n_name,
           {fixed_point_sum_sql("l_extendedprice * (1 - l_discount)", 10000)} AS revenue,
           COUNT(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN supplier ON l_suppkey = s_suppkey
                 AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA' AND year(o_orderdate) = 1996
    GROUP BY n_name
    """,
)
def q_join_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped star join: big fact ⋈ broadcast dims, local-
    supplier condition, grouped revenue. Dim tables are explicitly
    broadcast — at 100 TB the lineitem side never shuffles for them."""
    li = load_table(spark, "lineitem", sf_dir)
    # Range predicate, not year(col) == 1996: a function wrapped around
    # the column is evaluated post-scan, while a plain range comparison
    # reaches the parquet reader (PushedFilters) and prunes whole row
    # groups by min/max stats — the difference between scanning one
    # year and scanning everything at 100 TB.
    orders = load_table(spark, "orders", sf_dir).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    cust = load_table(spark, "customer", sf_dir)
    supp = load_table(spark, "supplier", sf_dir)
    nation = load_table(spark, "nation", sf_dir)
    region = load_table(spark, "region", sf_dir).filter(F.col("r_name") == "ASIA")

    joined = (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(cust), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(supp),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return agg_ops.agg_group_multi(
        joined,
        ["n_name"],
        {
            "revenue": fixed_point_sum(disc_price, 10000),
            "n_items": F.count(F.lit(1)),
        },
    )


@register(
    "join_self_matchup",
    oracle="""
    SELECT a.l_orderkey,
           a.l_quantity AS side1_l_quantity,
           a.l_extendedprice AS side1_l_extendedprice,
           b.l_quantity AS side2_l_quantity,
           b.l_extendedprice AS side2_l_extendedprice,
           a.l_quantity - b.l_quantity AS qty_diff
    FROM (SELECT * FROM lineitem WHERE l_linenumber = 1) a
    JOIN (SELECT * FROM lineitem WHERE l_linenumber = 2) b
      USING (l_orderkey)
    """,
)
def q_join_self_matchup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-join of a table split on an indicator column — the
    reference's home ⋈ away matchup builder
    (code/experiment.py:502-541), with the differential feature."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"
    )
    matched = join_ops.join_self_matchup(
        li,
        keys=["l_orderkey"],
        split_col="l_linenumber",
        left_value=1,
        right_value=2,
        left_prefix="side1_",
        right_prefix="side2_",
    )
    return scalar_ops.derive_arith(
        matched,
        {"qty_diff": F.col("side1_l_quantity") - F.col("side2_l_quantity")},
    )


@register(
    "semi_join_isin",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_orderpriority = '1-URGENT')
    """,
)
def q_semi_join_isin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-set filter as a left-semi join — the distributed form of the
    reference's isin(sampled_games) (create_subsample.py:72, 86)."""
    li = load_table(spark, "lineitem", sf_dir)
    keys = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return join_ops.semi_join_keys(li, keys, ["l_orderkey"]).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "anti_join",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem
    WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders
                             WHERE o_orderpriority = '1-URGENT')
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS complement (capability extension of §2.6)."""
    li = load_table(spark, "lineitem", sf_dir)
    keys = (
        load_table(spark, "orders", sf_dir)
        .filter(F.col("o_orderpriority") == "1-URGENT")
        .select(F.col("o_orderkey").alias("l_orderkey"))
    )
    return join_ops.anti_join_keys(li, keys, ["l_orderkey"]).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


# ---------------------------------------------------------------------------
# §2.7 windows
# ---------------------------------------------------------------------------


@register(
    "win_row_number",
    oracle="""
    SELECT user_id, event_id,
           ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS row_num
    FROM events
    """,
)
def q_win_row_number(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence number per (user) ordered by (ts, unique id) — the
    reference's game number (code/experiment.py:423-429)."""
    df = load_table(spark, "events", sf_dir)
    df = win_ops.win_row_number(df, ["user_id"], ["ts", "event_id"], out="row_num")
    return df.select("user_id", "event_id", "row_num")


@register(
    "win_expanding_avg",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
             / CAST(COUNT(value) OVER w AS DOUBLE) / 100.0 AS prior_avg_value,
           COALESCE(CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
             / CAST(COUNT(value) OVER w AS DOUBLE) / 100.0, 0.0) AS prior_avg_filled
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    """,
)
def q_win_expanding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAGSHIP: leakage-free expanding average over all PRIOR rows
    (frame unboundedPreceding..-1), NULL on first row, then defaulted —
    the reference's season-to-date features
    (code/experiment.py:416-458, 476-494).

    The average is computed as (exact int64 cents sum over the frame)
    / count / 100 — order-independent, so the value is bit-identical
    under any partitioning (and in the oracle)."""
    df = load_table(spark, "events", sf_dir)
    df = win_ops.win_expanding(
        df,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        measures={
            "prior_cents": "sum(CAST(round(value * 100, 0) AS BIGINT))",
            "prior_n": "count(value)",
        },
    )
    avg = (
        F.col("prior_cents").cast("double") / F.col("prior_n").cast("double") / 100.0
    )
    return df.select(
        "user_id",
        "event_id",
        avg.alias("prior_avg_value"),
        F.coalesce(avg, F.lit(0.0)).alias("prior_avg_filled"),
    )


@register(
    "win_sliding_avg",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE)
             / CAST(COUNT(value) OVER w AS DOUBLE) / 100.0 AS last5_avg_value,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS DOUBLE) / 100.0
               AS last5_sum_value
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING)
    """,
)
def q_win_sliding_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-5 sliding window EXCLUDING current row (frame -5..-1) —
    the reference's recent-form features (code/experiment.py:461-472).
    Fixed-point cents sums for cross-engine bit-determinism."""
    df = load_table(spark, "events", sf_dir)
    df = win_ops.win_sliding(
        df,
        partition_by=["user_id"],
        order_by=["ts", "event_id"],
        measures={
            "last5_cents": "sum(CAST(round(value * 100, 0) AS BIGINT))",
            "last5_n": "count(value)",
        },
        lookback=5,
    )
    return df.select(
        "user_id",
        "event_id",
        (
            F.col("last5_cents").cast("double")
            / F.col("last5_n").cast("double")
            / 100.0
        ).alias("last5_avg_value"),
        (F.col("last5_cents").cast("double") / 100.0).alias("last5_sum_value"),
    )


@register(
    "win_running_sum",
    oracle="""
    SELECT user_id, event_id,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 100.0
               AS running_value
    FROM events
    """,
)
def q_win_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inclusive running total (window-family extension), fixed-point."""
    df = load_table(spark, "events", sf_dir).withColumn(
        "value_cents", cents_expr(F.col("value"))
    )
    df = win_ops.win_running_sum(
        df, ["user_id"], ["ts", "event_id"], "value_cents", out="running_cents"
    )
    return df.select(
        "user_id",
        "event_id",
        (F.col("running_cents").cast("double") / 100.0).alias("running_value"),
    )


@register(
    "win_lag",
    oracle="""
    SELECT user_id, event_id,
           LAG(value, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_value
    FROM events
    """,
)
def q_win_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Previous-row value (window-family extension; exact, no rounding
    — lag moves a value without arithmetic)."""
    df = load_table(spark, "events", sf_dir)
    df = win_ops.win_lag(df, ["user_id"], ["ts", "event_id"], "value")
    return df.select("user_id", "event_id", "prev_value")


@register(
    "topk_per_group",
    oracle="""
    SELECT user_id, event_id, value, rnk FROM (
      SELECT user_id, event_id, value,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY value DESC, event_id) AS rnk
      FROM events
    ) WHERE rnk <= 3
    """,
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-K per group via ranked window — the distributed form of the
    reference's driver-side top-10 (code/experiment.py:45-52)."""
    df = load_table(spark, "events", sf_dir)
    df = win_ops.topk_per_group(
        df, ["user_id"], [F.col("value").desc(), F.col("event_id")], k=3
    )
    return df.select("user_id", "event_id", "value", "rnk")


# ---------------------------------------------------------------------------
# §2.8 sort/limit, §2.9 set ops, §2.10 sampling/splits
# ---------------------------------------------------------------------------


@register(
    "topk_global",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk_global(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-10 with deterministic tiebreak — plans as
    TakeOrderedAndProject (per-partition heaps, no full sort)."""
    df = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_totalprice")
    return sample_ops.topk(df, [F.col("o_totalprice").desc(), F.col("o_orderkey")], 10)


@register(
    "union_all",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, 'high' AS bucket
    FROM lineitem WHERE l_quantity >= 45
    UNION ALL
    SELECT l_orderkey, l_linenumber, l_quantity, 'low' AS bucket
    FROM lineitem WHERE l_quantity <= 5
    """,
)
def q_union_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL by name (reference pd.concat, create_subsample.py:90)."""
    li = load_table(spark, "lineitem", sf_dir).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )
    hi = li.filter(F.col("l_quantity") >= 45).withColumn("bucket", F.lit("high"))
    lo = li.filter(F.col("l_quantity") <= 5).withColumn("bucket", F.lit("low"))
    return setops.union_all(hi, lo)


@register(
    "sample_by_key",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity
    FROM lineitem WHERE l_orderkey % 10 = 3
    """,
)
def q_sample_by_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-consistent sampling: every row of a kept key survives —
    the reference samples GAMES, not rows (create_subsample.py:54-72).
    The oracle-checkable variant is deterministic modulo-sampling; the
    seeded-random variant (sampling.sample_by_key) is API-compatible."""
    li = load_table(spark, "lineitem", sf_dir)
    return sample_ops.sample_by_key_mod(li, "l_orderkey", 10, 3).select(
        "l_orderkey", "l_linenumber", "l_quantity"
    )


@register(
    "split_temporal",
    oracle="""
    SELECT o_orderkey, year(o_orderdate) AS order_year
    FROM orders
    WHERE year(o_orderdate) < (SELECT MAX(year(o_orderdate)) FROM orders)
    """,
)
def q_split_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal train split: everything strictly before the max period
    (reference code/experiment.py:564-567). Returns the train half."""
    df = load_table(spark, "orders", sf_dir).withColumn(
        "order_year", F.year("o_orderdate")
    )
    train, _test = sample_ops.split_temporal(df, "order_year")
    return train.select("o_orderkey", "order_year")


@register(
    "split_hash",
    oracle="""
    WITH b AS (
      SELECT doc_id,
             (ascii(substring(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 256
              + ascii(substring(md5(CAST(doc_id AS VARCHAR)), 2, 1))) % 100
                 AS bucket
      FROM documents
    )
    SELECT doc_id, CAST(bucket AS BIGINT) AS bucket,
           CASE WHEN bucket < 80 THEN 'train'
                WHEN bucket < 90 THEN 'val'
                ELSE 'test' END AS split
    FROM b
    """,
)
def q_split_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-based train/val/test split (80/10/10) — the
    reproducible-at-scale alternative to seeded randomSplit: membership
    is a pure function of the key, so it is stable across engines,
    Spark versions, partitionings, and reruns, and a late-arriving doc
    doesn't reshuffle anyone else's split. Built on md5 + ascii
    arithmetic (not xxhash64) precisely so any engine can reproduce
    it."""
    docs = load_table(spark, "documents", sf_dir)
    h = F.md5(F.col("doc_id").cast("string"))
    bucket = (
        F.ascii(F.substring(h, 1, 1)) * 256 + F.ascii(F.substring(h, 2, 1))
    ) % 100
    return docs.select(
        "doc_id",
        bucket.cast("long").alias("bucket"),
        F.when(bucket < 80, "train")
        .when(bucket < 90, "val")
        .otherwise("test")
        .alias("split"),
    )


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang FROM documents
    WHERE CAST(({portable_hash64_sql("CAST(doc_id AS VARCHAR) || ':strat'")} >> 11) AS DOUBLE)
          / 9007199254740992.0
          < (CASE WHEN lang IN ('en', 'es') THEN 0.25 ELSE 1.0 END)
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum sampling — the balanced-mix primitive: downsample
    dominant languages (en/es at 25%), keep rare ones whole.

    The Bernoulli draw is a DETERMINISTIC hash of the row key (top 53
    bits of the portable 64-bit hash, scaled to [0,1)) rather than
    Spark's seeded RNG (sampleBy): same sampling semantics, but (a)
    reproducible across engines — full value-hash oracle instead of
    rows-only, (b) stable under re-partitioning and retries (an
    executor retry with RNG sampling can emit a different sample),
    and (c) no driver-side collect of the stratum set — the fraction
    is a pure column expression, so the operator is one scan at any
    scale (was: distinct-langs collect + sampleBy)."""
    docs = load_table(spark, "documents", sf_dir)
    u = sample_ops.deterministic_uniform_expr("doc_id", ":strat")
    frac = F.when(F.col("lang").isin("en", "es"), F.lit(0.25)).otherwise(F.lit(1.0))
    return docs.filter(u < frac).select("doc_id", "lang")


# ---------------------------------------------------------------------------
# §2.11 scalar function coverage (json on props)
# ---------------------------------------------------------------------------


@register(
    "json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS INTEGER) AS prop_k
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from the events.props payload column
    (capability extension; the reference has no JSON, SURVEY §2.11)."""
    df = load_table(spark, "events", sf_dir)
    return df.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("int").alias("prop_k"),
    )


@register(
    "agg_multi_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100
             AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_multi_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MULTIPLE count-distincts over DIFFERENT columns in one
    aggregate — the query shape that trips engines up: each distinct
    needs its own de-duplication, so Spark plans an Expand (one
    replicated row-stream per distinct column, tagged by gid) feeding
    a single two-phase aggregate, instead of N separate jobs glued by
    joins. Plain aggregates (count, fixed-point sum) ride along in
    the same pass. One logical statement, one shuffle family — at
    100 TB the Expand's constant-factor row amplification (×2 here)
    is the entire cost of asking two distinct questions at once."""
    ev = load_table(spark, "events", sf_dir)
    return ev.groupBy("event_type").agg(
        F.countDistinct("user_id").cast("long").alias("n_users"),
        F.countDistinct(F.col("ts").cast("date")).cast("long").alias("n_days"),
        F.count(F.lit(1)).cast("long").alias("n_events"),
        (F.sum(cents_expr(F.col("value"))).cast("double") / 100).alias(
            "sum_value"
        ),
    )


@register(
    "agg_bitmap_distinct",
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
)
def q_agg_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distinct counting via bitmap rollup — the
    Druid/ClickHouse-style alternative to COUNT(DISTINCT)'s Expand
    path: each user id sets one bit in a 64-bit word selected by
    id DIV 64, words merge with BIT_OR per (group, word-index), and
    the distinct count is the popcount sum. Two cheap aggregates, and
    — the reason the pattern exists — the intermediate (group, word,
    bitmap) partials are MERGEABLE state you can persist and roll up
    incrementally (the agg_sketch_rollup shape, but exact): daily
    bitmap partials OR-merge into monthly distincts without rescanning
    raw data, and bitmap AND/OR gives exact set intersection/union
    cardinalities that sketches only approximate. Dense-id domains at
    100 TB cost |ids|/64 longs per group; sparse/huge domains are
    where you switch to roaring bitmaps or HLL (agg_approx).

    The oracle is plain COUNT(DISTINCT) — same answer, different
    algorithm; equality IS the test that the bitmap math is right."""
    ev = load_table(spark, "events", sf_dir).select(
        "event_type",
        (F.col("user_id") % 64).alias("bit"),
        F.expr("user_id div 64").alias("word_idx"),
    )
    words = ev.groupBy("event_type", "word_idx").agg(
        F.bit_or(F.expr("shiftleft(1L, CAST(bit AS INT))")).alias("word")
    )
    return words.groupBy("event_type").agg(
        F.sum(F.bit_count("word")).cast("long").alias("n_users")
    )
