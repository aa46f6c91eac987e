"""Window operators — the signature capability of the reference.

The reference computes leakage-free time-series features per
(team, season) ordered by (date, game): season-to-date expanding
averages with frame ``rowsBetween(unboundedPreceding, -1)`` and
last-5-games sliding averages with frame ``rowsBetween(-5, -1)``
(reference code/experiment.py:416-472). Both frames EXCLUDE the
current row — that's the leakage-free property — and the first row of
each partition gets NULL from the empty frame, later defaulted
(code/experiment.py:476-494).

Scale notes: a window partition must fit one executor's memory.
Reference partitions are (team, season) ≈ 82 rows — trivially
bounded. For unbounded keys (e.g. per-user event history at 100 TB)
prefer win_sliding_* (bounded frame) or pre-aggregate into
fixed-width time buckets before the window.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.operators.strings import quote_ident

# ROWS frames as SQL text. Expanding: every prior row, the current one
# excluded (leakage-free). Running: every prior row and the current one.
EXPANDING_FRAME = "UNBOUNDED PRECEDING AND 1 PRECEDING"
RUNNING_FRAME = "UNBOUNDED PRECEDING AND CURRENT ROW"


def sliding_frame(lookback: int) -> str:
    """The ROWS frame of the ``lookback`` prior rows, the current one
    excluded. Spark rejects a frame whose start follows its end only
    when the plan is analyzed; this rejects it when it is built."""
    if lookback < 1:
        raise ValueError(f"sliding frame needs lookback >= 1, got {lookback}")
    return f"{lookback} PRECEDING AND 1 PRECEDING"


def window_sql(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    frame: str | None = None,
) -> str:
    """An inline SQL window spec, ``(PARTITION BY .. ORDER BY ..
    [ROWS BETWEEN frame])``. Spark's expression parser takes no named
    window, so each ``OVER`` spells its spec out.

    The caller must include a unique tiebreaker in ``order_by`` (the
    reference orders by (Date, GameID) where GameID is unique per
    partition, code/experiment.py:418) — otherwise results are
    nondeterministic across runs/partitionings.
    """
    spec = (
        f"PARTITION BY {', '.join(map(quote_ident, partition_by))} "
        f"ORDER BY {', '.join(map(quote_ident, order_by))}"
    )
    if frame is not None:
        spec += f" ROWS BETWEEN {frame}"
    return f"({spec})"


def framed_sql(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: Mapping[str, str],
    frame: str | None = None,
    defaults: Mapping[str, str] | None = None,
) -> list[str]:
    """``selectExpr`` text, ``<measure> OVER (..) AS name`` per output
    name in ``measures``, in ``coalesce(.., default)`` where
    ``defaults`` names it: the value an empty or all-NULL frame reads
    (the reference's per-feature defaults, code/experiment.py:476-494,
    without a second projection). Measures and defaults are SQL
    expressions; every output shares one spec, so Catalyst plans them
    as one Window."""
    over = window_sql(partition_by, order_by, frame)
    defaults = defaults or {}
    out = []
    for name, agg in measures.items():
        expr = f"{agg} OVER {over}"
        if name in defaults:
            expr = f"coalesce({expr}, {defaults[name]})"
        out.append(f"{expr} AS {quote_ident(name)}")
    return out


def win_row_number(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    out: str = "row_num",
) -> DataFrame:
    """Sequence number within partition (reference code/experiment.py:423-429)."""
    return df.selectExpr(
        "*", *framed_sql(partition_by, order_by, {out: "row_number()"})
    )


def win_expanding(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: Mapping[str, str],
) -> DataFrame:
    """Expanding (season-to-date style) aggregates over all PRIOR rows;
    ``measures`` maps output names to SQL aggregate text.

    Frame = ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    (reference code/experiment.py:416-420, 432-458). First row of each
    partition → NULL (empty frame); to default it in the same
    projection, use ``framed_sql`` with ``defaults``.
    """
    return df.selectExpr(
        "*", *framed_sql(partition_by, order_by, measures, EXPANDING_FRAME)
    )


def win_sliding(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: Mapping[str, str],
    lookback: int = 5,
) -> DataFrame:
    """Sliding last-N-rows aggregates, current row excluded; ``measures``
    maps output names to SQL aggregate text.

    Frame = ROWS BETWEEN N PRECEDING AND 1 PRECEDING, exactly as the
    reference's last-5-games form features (code/experiment.py:461-472).
    An empty frame reads NULL (see ``framed_sql`` for defaults).
    """
    return df.selectExpr(
        "*", *framed_sql(partition_by, order_by, measures, sliding_frame(lookback))
    )


def win_running_sum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    out: str = "running_sum",
) -> DataFrame:
    """Inclusive running total (capability extension; frame ends at the
    current row)."""
    measure = {out: f"sum({quote_ident(value_col)})"}
    return df.selectExpr(
        "*", *framed_sql(partition_by, order_by, measure, RUNNING_FRAME)
    )


def win_lag(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    offset: int = 1,
    out: str = "prev_value",
) -> DataFrame:
    """Previous row's value within partition (extension; NULL on first row)."""
    measure = {out: f"lag({quote_ident(value_col)}, {int(offset)})"}
    return df.selectExpr("*", *framed_sql(partition_by, order_by, measure))


def topk_per_group(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[Column],
    k: int,
    rank_col: str = "rnk",
) -> DataFrame:
    """Top-K rows per group via row_number — the distributed form of the
    reference's driver-side top-10 (code/experiment.py:45-52).

    ``order_by`` must break ties deterministically.
    """
    w = Window.partitionBy(*partition_by).orderBy(*order_by)
    return (
        df.withColumn(rank_col, F.row_number().over(w))
        .filter(F.col(rank_col) <= k)
    )
