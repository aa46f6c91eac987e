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

from pyspark.sql import Column, DataFrame, Window, WindowSpec
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.operators.strings import quote_ident


def ordered_window(
    partition_by: Sequence[str], order_by: Sequence[str]
) -> WindowSpec:
    """Deterministically ordered window.

    The caller must include a unique tiebreaker in ``order_by`` (the
    reference orders by (Date, GameID) where GameID is unique per
    partition, code/experiment.py:418) — otherwise results are
    nondeterministic across runs/partitionings.
    """
    return Window.partitionBy(*partition_by).orderBy(*[F.col(c) for c in order_by])


def win_row_number(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    out: str = "row_num",
) -> DataFrame:
    """Sequence number within partition (reference code/experiment.py:423-429)."""
    w = ordered_window(partition_by, order_by)
    return df.withColumn(out, F.row_number().over(w))


def _expanding_frame(include_current: bool) -> tuple[int, int]:
    """ROWS bounds of the expanding frame: every prior row, and the
    current one only if ``include_current``."""
    return Window.unboundedPreceding, 0 if include_current else -1


def _sliding_frame(lookback: int, include_current: bool) -> tuple[int, int]:
    """ROWS bounds of the sliding frame: the ``lookback`` prior rows."""
    return -lookback, 0 if include_current else -1


def _framed(
    w: WindowSpec,
    measures: dict[str, Column],
    start: int,
    end: int,
    defaults: Mapping[str, object] | None,
) -> dict[str, Column]:
    """Output name → measure over ``w`` framed ROWS ``start..end``. An
    output named in ``defaults`` reads that value (a literal or a
    Column) where its frame is empty or all-NULL."""
    defaults = defaults or {}
    frame = w.rowsBetween(start, end)
    out = {}
    for name, agg in measures.items():
        col = agg.over(frame)
        if name in defaults:
            col = F.coalesce(col, F.lit(defaults[name]))
        out[name] = col
    return out


def expanding_columns(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: dict[str, Column],
    include_current: bool = False,
    defaults: Mapping[str, object] | None = None,
) -> dict[str, Column]:
    """``win_expanding``'s output columns by name, for a caller that
    adds them in one projection with other columns. An output named in
    ``defaults`` (output name → literal or Column) reads that value
    where its frame is empty — the reference's per-feature defaults
    (code/experiment.py:476-494) without a second projection."""
    w = ordered_window(partition_by, order_by)
    return _framed(w, measures, *_expanding_frame(include_current), defaults)


def sliding_columns(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: dict[str, Column],
    lookback: int = 5,
    include_current: bool = False,
    defaults: Mapping[str, object] | None = None,
) -> dict[str, Column]:
    """``win_sliding``'s output columns by name (see
    ``expanding_columns``)."""
    w = ordered_window(partition_by, order_by)
    return _framed(w, measures, *_sliding_frame(lookback, include_current), defaults)


def window_sql(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    frame: tuple[int, int] | None = None,
) -> str:
    """``ordered_window`` as an inline SQL window spec,
    ``(PARTITION BY .. ORDER BY .. [ROWS BETWEEN ..])``. Spark's
    expression parser takes no named window, so each ``OVER`` spells
    its spec out."""
    spec = (
        f"PARTITION BY {', '.join(map(quote_ident, partition_by))} "
        f"ORDER BY {', '.join(map(quote_ident, order_by))}"
    )
    if frame is not None:
        start, end = map(_bound_sql, frame)
        spec += f" ROWS BETWEEN {start} AND {end}"
    return f"({spec})"


def _bound_sql(offset: int) -> str:
    """A ``rowsBetween`` bound at or before the current row as SQL
    frame text."""
    if offset == Window.unboundedPreceding:
        return "UNBOUNDED PRECEDING"
    return f"{-offset} PRECEDING"


def _framed_sql(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: Mapping[str, str],
    frame: tuple[int, int],
    defaults: Mapping[str, str],
) -> list[str]:
    """``_framed`` as ``selectExpr`` text: ``<measure> OVER (..) AS
    name`` per output, in ``coalesce(.., default)`` where ``defaults``
    names it. Measures and defaults are SQL expressions."""
    over = window_sql(partition_by, order_by, frame)
    out = []
    for name, agg in measures.items():
        expr = f"{agg} OVER {over}"
        if name in defaults:
            expr = f"coalesce({expr}, {defaults[name]})"
        out.append(f"{expr} AS {quote_ident(name)}")
    return out


def expanding_sql(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: Mapping[str, str],
    defaults: Mapping[str, str],
) -> list[str]:
    """``expanding_columns`` (current row excluded) as ``selectExpr``
    text; ``measures`` and ``defaults`` map output names to SQL
    expressions."""
    return _framed_sql(
        partition_by, order_by, measures, _expanding_frame(False), defaults
    )


def sliding_sql(
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: Mapping[str, str],
    lookback: int,
    defaults: Mapping[str, str],
) -> list[str]:
    """``sliding_columns`` (current row excluded) as ``selectExpr``
    text (see ``expanding_sql``)."""
    return _framed_sql(
        partition_by, order_by, measures, _sliding_frame(lookback, False), defaults
    )


def win_expanding(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: dict[str, Column],
    include_current: bool = False,
) -> DataFrame:
    """Expanding (season-to-date style) aggregates over all PRIOR rows.

    Frame = ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
    (reference code/experiment.py:416-420, 432-458). First row of each
    partition → NULL (empty frame); to default it in the same
    projection, add ``expanding_columns`` with ``defaults``.
    """
    # withColumns appends to the input's attributes without
    # re-resolving their names — robust to raw-CSV columns containing
    # dots/spaces (reference results file has "Market_Prob.",
    # "American Odds", FIXTURES.md §A2)
    return df.withColumns(
        expanding_columns(partition_by, order_by, measures, include_current)
    )


def win_sliding(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    measures: dict[str, Column],
    lookback: int = 5,
    include_current: bool = False,
) -> DataFrame:
    """Sliding last-N-rows aggregates, current row excluded by default.

    Frame = ROWS BETWEEN -N AND -1, exactly as the reference's
    last-5-games form features (code/experiment.py:461-472). An empty
    frame reads NULL (see ``sliding_columns`` for defaults).
    """
    return df.withColumns(
        sliding_columns(partition_by, order_by, measures, lookback, include_current)
    )


def win_running_sum(
    df: DataFrame,
    partition_by: Sequence[str],
    order_by: Sequence[str],
    value_col: str,
    out: str = "running_sum",
) -> DataFrame:
    """Inclusive running total (capability extension; frame ends at 0)."""
    w = ordered_window(partition_by, order_by)
    return df.withColumn(
        out, F.sum(value_col).over(w.rowsBetween(Window.unboundedPreceding, 0))
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
    w = ordered_window(partition_by, order_by)
    return df.withColumn(out, F.lag(value_col, offset).over(w))


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
