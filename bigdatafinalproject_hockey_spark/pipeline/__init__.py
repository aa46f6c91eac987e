"""The reference-equivalent end-to-end pipeline, composed from the
operator library and parameterized by schema/config.

Mirrors SURVEY.md §3.1 / reference code/experiment.py flow:

  clean results + events (rename, cast, date-parse, range-filter,
  entity-name normalization via literal map + regex fallback)
  → aggregate events per (game, season, team)        [§2.5]
  → inner 3-key equi-join results ⋈ aggregates       [§2.6]
  → leakage-free window features in one projection: game number,
    expanding season-to-date averages (frame unboundedPreceding..-1)
    and last-N sliding averages (frame -N..-1), each coalesced to its
    per-column league-average default               [§2.7]
  → home ⋈ away self-join into matchups + differential features
  → temporal train/test split on max season, with the row counts
    from the same single collect

The pipeline is generic: any (results-like, events-like) pair of
DataFrames with the column roles declared in PipelineConfig works —
the hockey CSVs of the reference are one instantiation (tests build
reference-shaped fixtures per FIXTURES.md §A).

Each stage is one or two DataFrame calls over SQL expression text
(``selectExpr``, ``where``, ``F.expr``), which build the same Catalyst
plan as Column calls. A Column call is about 15 py4j round trips with
``spark.python.sql.dataFrameDebugging.enabled`` on, an expression
string one, so building the plan costs a few hundred commands, not a
few thousand. No stage is ``spark.sql("... {df}", df=df)``: over the
persisted ``game_data`` that form misses the cache, and the matchups
rescan both CSVs.

Plan shape (the executed plan of the CLI): two hash exchanges, one on
(game, season, team) for the event aggregate and one on (team,
season) for the window features, which all share one Window. Both
joins broadcast one side: the cleaned results in the 3-key join, one
side of the matchup self-join.

Scale notes (100 TB): events should land partitioned by season so the
3-key join prunes; the window partitions are (team, season) — bounded
(~82 rows) regardless of total data size. At that size the results
side outgrows the broadcast threshold, and the 3-key join shuffles it
on (game, season, team), the key the aggregate's output is already
partitioned by.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatafinalproject_hockey_spark.operators import (
    joins as join_ops,
    lookup as lookup_ops,
    sampling as sample_ops,
    strings as string_ops,
    windows as win_ops,
)
from bigdatafinalproject_hockey_spark.operators.strings import quote_ident, sql_literal


@dataclass
class PipelineConfig:
    """Column roles + knobs for the reference-shaped pipeline."""

    # keys
    game_col: str = "GameID"
    season_col: str = "Season"
    team_col: str = "TeamCode"
    date_col: str = "Date"
    home_col: str = "Is_Home"
    # raw entity-name columns before normalization
    results_team_raw: str = "Ev_Team"
    events_team_raw: str = "EventTeam"
    # entity-name → code mapping (literal map + regex fallback,
    # reference code/experiment.py:58-246, 305-316)
    team_map: dict[str, str] = field(default_factory=dict)
    # event measures: sums and averages per (game, season, team)
    # (reference code/experiment.py:359-366)
    event_sum_cols: tuple[str, ...] = ("Corsi", "Fenwick", "Shot", "Goal")
    event_avg_cols: tuple[str, ...] = ("ShotDistance", "ShotAngle")
    # results measures carried into windows
    result_feature_cols: tuple[str, ...] = ("Goal", "Win", "Points", "xG")
    # range filters (reference code/experiment.py:301-302)
    min_season: int | None = None
    min_game: int | None = None
    # window lookback for "recent form" (reference: 5)
    lookback: int = 5
    # per-feature default values for empty frames
    # (reference code/experiment.py:476-494)
    feature_defaults: dict[str, float] = field(default_factory=dict)
    date_format: str = "M/d/yyyy"


# The reference results file's name for the game key; clean_results
# renames it to ``PipelineConfig.game_col``.
GAME_ID_ALIAS = "Game Id"


def results_types(cfg: PipelineConfig) -> dict[str, T.DataType]:
    """Types of the results columns the pipeline consumes, the game
    key under both of its names. The CLI reads its CSV with them;
    ``clean_results`` casts whichever still lack them."""
    return {
        GAME_ID_ALIAS: T.LongType(),
        cfg.game_col: T.LongType(),
        cfg.season_col: T.IntegerType(),
        cfg.home_col: T.IntegerType(),
        **{c: T.DoubleType() for c in cfg.result_feature_cols},
    }


def events_types(cfg: PipelineConfig) -> dict[str, T.DataType]:
    """Types of the events columns the pipeline consumes (see
    ``results_types``)."""
    return {
        cfg.game_col: T.LongType(),
        cfg.season_col: T.IntegerType(),
        **{c: T.DoubleType() for c in (*cfg.event_sum_cols, *cfg.event_avg_cols)},
    }


def _team_code_sql(cfg: PipelineConfig, raw: str) -> str:
    """Literal-map lookup with whitespace-normalize + strip-charset
    fallback (reference code/experiment.py:305-316), as SQL text."""
    norm = string_ops.normalize_ws_sql(quote_ident(raw))
    return lookup_ops.lookup_sql(cfg.team_map, norm, string_ops.strip_charset_sql(norm))


def _clean(
    df: DataFrame,
    cfg: PipelineConfig,
    types: dict[str, T.DataType],
    team_raw: str,
    renames: dict[str, str],
    date_col: str | None = None,
) -> DataFrame:
    """One clean step as one projection and one filter, both SQL text:
    every column in place, renamed per ``renames``; ``try_cast`` to its
    entry in ``types`` where it lacks that type (a typed read leaves
    none); ``date_col`` parsed unless it is a date already; the team
    code added (or replaced in place); then the range bounds, on the
    typed columns."""
    exprs = {}
    for f in df.schema.fields:
        name = renames.get(f.name, f.name)
        expr = quote_ident(f.name)
        if name in types and f.dataType != types[name]:
            expr = f"try_cast({expr} AS {types[name].simpleString()})"
        elif name == date_col and f.dataType != T.DateType():
            expr = f"to_date({expr}, {sql_literal(cfg.date_format)})"
        exprs[name] = expr if expr == quote_ident(name) else f"{expr} AS {quote_ident(name)}"
    exprs[cfg.team_col] = f"{_team_code_sql(cfg, team_raw)} AS {quote_ident(cfg.team_col)}"
    bounds = [
        f"{quote_ident(c)} >= {sql_literal(v)}"
        for c, v in ((cfg.season_col, cfg.min_season), (cfg.game_col, cfg.min_game))
        if v is not None
    ]
    df = df.selectExpr(*exprs.values())
    return df.where(" AND ".join(bounds)) if bounds else df


def clean_results(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Rename/cast/date-parse/filter/normalize the results table
    (reference code/experiment.py:286-316)."""
    return _clean(
        df,
        cfg,
        results_types(cfg),
        cfg.results_team_raw,
        {GAME_ID_ALIAS: cfg.game_col},
        cfg.date_col,
    )


def clean_events(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Cast/filter/normalize the events table
    (reference code/experiment.py:328-356)."""
    return _clean(df, cfg, events_types(cfg), cfg.events_team_raw, {})


def aggregate_events(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Per (game, season, team) sums + averages
    (reference code/experiment.py:359-366)."""
    measures = [
        f"{fn}({quote_ident(c)}) AS {quote_ident(f'{fn}_{c}')}"
        for fn, cols in (("sum", cfg.event_sum_cols), ("avg", cfg.event_avg_cols))
        for c in cols
    ]
    return df.groupBy(cfg.game_col, cfg.season_col, cfg.team_col).agg(
        *map(F.expr, measures)
    )


def build_game_data(
    results: DataFrame, events: DataFrame, cfg: PipelineConfig
) -> DataFrame:
    """Clean + aggregate + 3-key join; one row per (game, team)
    (reference code/experiment.py:372-405)."""
    r = clean_results(results, cfg)
    e = aggregate_events(clean_events(events, cfg), cfg)
    keys = [cfg.game_col, cfg.season_col, cfg.team_col]
    joined = join_ops.join_equi(r, e, keys, "inner")
    return joined.where(" AND ".join(f"{quote_ident(k)} IS NOT NULL" for k in keys))


def feature_cols(cfg: PipelineConfig) -> list[str]:
    base = [f"sum_{c}" for c in cfg.event_sum_cols]
    base += [f"avg_{c}" for c in cfg.event_avg_cols]
    base += list(cfg.result_feature_cols)
    return base


def add_window_features(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Leakage-free expanding + sliding features per (team, season)
    ordered by (date, game) — the reference's signature operators
    (code/experiment.py:416-472) with the exact frames
    (unboundedPreceding,-1) and (-N,-1), each defaulted per column
    where its frame is empty (476-494). The game number, both frames
    and the defaults are one ``selectExpr`` of SQL text: every
    DataFrame call is analyzed eagerly, so each extra projection
    re-analyzes the plan, and each Column call is py4j round trips of
    its own. All 2N+1 window expressions share one (partition, order)
    spec, so Catalyst plans them as one Window over one exchange."""
    part = [cfg.team_col, cfg.season_col]
    order = [cfg.date_col, cfg.game_col]
    measures = feature_cols(cfg)
    avg = {c: f"avg({quote_ident(c)})" for c in measures}
    default = {
        c: sql_literal(float(cfg.feature_defaults.get(c, 0.0))) for c in measures
    }
    return df.selectExpr(
        "*",
        f"row_number() OVER {win_ops.window_sql(part, order)} AS game_num",
        *win_ops.framed_sql(
            part,
            order,
            {f"hist_{c}": a for c, a in avg.items()},
            win_ops.EXPANDING_FRAME,
            defaults={f"hist_{c}": d for c, d in default.items()},
        ),
        *win_ops.framed_sql(
            part,
            order,
            {f"recent_{c}": a for c, a in avg.items()},
            win_ops.sliding_frame(cfg.lookback),
            defaults={f"recent_{c}": d for c, d in default.items()},
        ),
    )


def build_matchups(df: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """Home ⋈ away self-join into one row per game, with differential
    features home-minus-away and the label in one projection after the
    join (reference code/experiment.py:502-552)."""
    keys = [cfg.game_col, cfg.season_col]
    hist_cols = [c for c in df.columns if c.startswith(("hist_", "recent_"))]
    keep = keys + [cfg.home_col, cfg.team_col, cfg.date_col, "game_num", *hist_cols]
    has_label = "Win" in df.columns
    if has_label:
        keep.append("Win")
    matched = join_ops.join_self_matchup(
        df.selectExpr(*map(quote_ident, dict.fromkeys(keep))),
        keys=keys,
        split_col=cfg.home_col,
        left_value=1,
        right_value=0,
        left_prefix="home_",
        right_prefix="away_",
    )
    derived = [
        f"{quote_ident(f'home_{c}')} - {quote_ident(f'away_{c}')}"
        f" AS {quote_ident(f'diff_{c}')}"
        for c in hist_cols
    ]
    if has_label:
        derived.append("CASE WHEN home_Win = 1 THEN 1.0D ELSE 0.0D END AS label")
    return matched.selectExpr("*", *derived)


def collect_counts(
    game_data: DataFrame, matchups: DataFrame, cfg: PipelineConfig
) -> tuple[object, dict[str, int | None]]:
    """The max period and the row counts of the split, from ONE
    collect: matchups rows (and positive labels) per period, plus the
    game_data row count. Returns ``(max_period, counts)``; counts has
    ``game_team_rows``, ``matchups``, ``train``, ``test`` and
    ``test_positives`` (None without test rows or a ``label``
    column). The max period is None on empty matchups."""
    pos = "count_if(label = 1)" if "label" in matchups.columns else "CAST(NULL AS BIGINT)"

    def tally(df: DataFrame, frame: str, period: str, positives: str) -> DataFrame:
        return df.groupBy(
            F.expr(f"{sql_literal(frame)} AS frame"), F.expr(f"{period} AS period")
        ).agg(F.expr("count(1) AS n"), F.expr(f"{positives} AS pos"))

    rows = (
        tally(matchups, "matchups", quote_ident(cfg.season_col), pos)
        .unionByName(tally(game_data, "game_data", "NULL", "CAST(NULL AS BIGINT)"))
        .collect()
    )
    periods = {r["period"]: r for r in rows if r["frame"] == "matchups"}
    # Matchup periods are never NULL (build_game_data drops NULL keys),
    # so every matchup row not in the max period is a train row.
    max_period = max(periods, default=None)
    last = periods.get(max_period)
    n_matchups = sum(r["n"] for r in periods.values())
    n_test = last["n"] if last else 0
    return max_period, {
        "game_team_rows": sum(r["n"] for r in rows if r["frame"] == "game_data"),
        "matchups": n_matchups,
        "train": n_matchups - n_test,
        "test": n_test,
        "test_positives": last["pos"] if last else None,
    }


def run_pipeline(
    results: DataFrame, events: DataFrame, cfg: PipelineConfig
) -> dict:
    """Full flow; returns every materialization point plus ``counts``
    (see ``collect_counts``). The two reusable intermediates are
    persisted, mirroring the reference's cache() points
    (code/experiment.py:405, 558), and filled by the one statistics
    collect that also picks the split period; train and test stay
    lazy filters of the cached matchups. If that collect fails, both
    are unpersisted before the error propagates."""
    game_data = build_game_data(results, events, cfg).persist()
    featured = add_window_features(game_data, cfg)
    matchups = build_matchups(featured, cfg).persist()
    try:
        max_period, counts = collect_counts(game_data, matchups, cfg)
    except BaseException:
        matchups.unpersist()
        game_data.unpersist()
        raise
    train, test = sample_ops.split_at(matchups, cfg.season_col, max_period)
    return {
        "game_data": game_data,
        "featured": featured,
        "matchups": matchups,
        "train": train,
        "test": test,
        "counts": counts,
    }
