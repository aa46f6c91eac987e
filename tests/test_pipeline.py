"""End-to-end pipeline parity on reference-shaped fixtures.

Builds synthetic hockey-shaped CSVs per FIXTURES.md §A (two rows per
game in results, per-event rows in events, `\\N` sentinels, messy
team names), runs the full pipeline, and checks the reference's
invariants (SURVEY.md §5) plus window-frame semantics against a
DuckDB recomputation of the same intermediate.
"""

from __future__ import annotations

import csv
import json
import random

import duckdb
import pytest
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.pipeline import (
    PipelineConfig,
    run_pipeline,
)

# Map is keyed on NORMALIZED names (lookup runs after whitespace
# collapse, like the reference); raw data carries messy variants.
TEAM_MAP = {
    "Thunder Bay Wolves": "TBW",
    "Ville de Québec": "QUE",
    "N.Y. Harbormen": "NYH",
    "St. Cloud Saints": "STC",
    "Iron Ridge": "IRN",
    "Lakeshore United": "LKU",
}
RAW_FORMS = {
    "Ville de Québec": " Ville de Québec ",      # pad + accents
    "N.Y. Harbormen": "N.Y.  Harbormen",          # internal double space
    "Iron Ridge": "Iron   Ridge",
}
# Two teams deliberately unmapped → regex fallback path:
FALLBACK_TEAMS = ["Basin City", "Oldtown HC"]
ALL_TEAMS = list(TEAM_MAP) + FALLBACK_TEAMS


def _raw(team: str) -> str:
    return RAW_FORMS.get(team, team)


def _gen_fixture():
    """Deterministic reference-shaped rows: 2 seasons, 8 teams, round-
    robin games; each game → 2 results rows (home/away) + ~20 events."""
    rng = random.Random(42)
    results = []
    events = []
    game_id = 0
    for season_idx, season in enumerate([20212022, 20222023]):
        # simple double round-robin; dates strictly increasing
        day = 0
        for rnd in range(4):
            order = ALL_TEAMS[:]
            rng.shuffle(order)
            for i in range(0, len(order), 2):
                home, away = order[i], order[i + 1]
                game_id += 1
                day += 1
                date = f"{(day % 12) + 1}/{(day % 27) + 1}/{2021 + season_idx}"
                hg = rng.randint(0, 5)
                ag = rng.randint(0, 5)
                win = 1 if hg > ag else 0
                results.append(
                    (game_id, season, date, _raw(home), 1, hg, win, 2 * win, round(rng.uniform(0, 5), 2))
                )
                results.append(
                    (game_id, season, date, _raw(away), 0, ag, 1 - win, 2 * (1 - win), round(rng.uniform(0, 5), 2))
                )
                for team in (home, away):
                    for _ in range(rng.randint(8, 14)):
                        events.append(
                            (
                                game_id,
                                season,
                                _raw(team),
                                float(rng.randint(0, 1)),
                                float(rng.randint(0, 1)),
                                float(rng.randint(0, 1)),
                                float(rng.randint(0, 1)),
                                round(rng.uniform(5, 60), 2) if rng.random() > 0.2 else None,
                                round(rng.uniform(0, 90), 2) if rng.random() > 0.2 else None,
                            )
                        )
    return results, events


RESULTS_COLS = ["Game Id", "Season", "Date", "Ev_Team", "Is_Home", "Goal", "Win", "Points", "xG"]
EVENTS_COLS = ["GameID", "Season", "EventTeam", "Corsi", "Fenwick", "Shot", "Goal", "ShotDistance", "ShotAngle"]


@pytest.fixture(scope="module")
def pipeline_out(spark):
    results_rows, events_rows = _gen_fixture()
    results = spark.createDataFrame(results_rows, RESULTS_COLS)
    events = spark.createDataFrame(events_rows, EVENTS_COLS)
    cfg = PipelineConfig(
        team_map=TEAM_MAP,
        min_season=20212022,
        min_game=1,
        feature_defaults={"Goal": 2.5, "xG": 2.5},
    )
    out = run_pipeline(results, events, cfg)
    out["_n_games"] = len(results_rows) // 2
    return out


def test_join_yields_two_rows_per_game(pipeline_out):
    # FIXTURES.md §A4: every game has a result+events row per team
    gd = pipeline_out["game_data"]
    n_games = pipeline_out["_n_games"]
    assert gd.count() == 2 * n_games
    per_game = gd.groupBy("GameID").count().select(F.collect_set("count")).first()[0]
    assert per_game == [2]


def test_team_normalization_map_and_fallback(pipeline_out):
    codes = {
        r[0] for r in pipeline_out["game_data"].select("TeamCode").distinct().collect()
    }
    assert "QUE" in codes and "NYH" in codes  # literal map hits (accents, dots)
    assert "BASINCITY" in codes and "OLDTOWNHC" in codes  # regex fallback


def test_matchups_one_per_game_with_diffs(pipeline_out):
    m = pipeline_out["matchups"]
    assert m.count() == pipeline_out["_n_games"]
    diff_cols = [c for c in m.columns if c.startswith("diff_")]
    assert len(diff_cols) >= 10
    # differential = home - away, by construction
    row = m.select(
        "diff_hist_Goal", (F.col("home_hist_Goal") - F.col("away_hist_Goal")).alias("x")
    ).first()
    assert row["diff_hist_Goal"] == row["x"]


def test_first_game_defaults(pipeline_out):
    # empty expanding frame → NULL → config default (2.5 for Goal)
    feat = pipeline_out["featured"]
    first = feat.filter(F.col("game_num") == 1)
    assert first.count() > 0
    vals = {r[0] for r in first.select("hist_Goal").distinct().collect()}
    assert vals == {2.5}
    assert feat.filter(F.col("hist_Goal").isNull()).count() == 0


def test_temporal_split_leakage_free(pipeline_out):
    train, test = pipeline_out["train"], pipeline_out["test"]
    max_train = train.agg(F.max("Season")).first()[0]
    test_seasons = {r[0] for r in test.select("Season").distinct().collect()}
    assert test_seasons == {20222023}
    assert max_train < 20222023
    assert train.count() + test.count() == pipeline_out["matchups"].count()


def test_cli_on_reference_sample_csvs(spark):
    """The CLI must run the reference's own checked-in sample CSVs end
    to end — messy headers (spaces, dots), \\N sentinels, no team map
    (regex fallback only)."""
    import os

    ev = "/root/reference/data/Sample_NHL_EventData.csv"
    rs = "/root/reference/data/Sample_results.csv"
    if not (os.path.exists(ev) and os.path.exists(rs)):
        pytest.skip("reference sample data not present")
    from bigdatafinalproject_hockey_spark.__main__ import main

    summary = main(
        ["--events", ev, "--results", rs, "--models", "lr", "--show", "5"],
        spark=spark,
    )
    assert summary["game_team_rows"] > 0
    assert summary["matchups"] * 2 <= summary["game_team_rows"] + 1
    assert summary["train"] + summary["test"] == summary["matchups"]
    assert "lr" in summary["models"]


def _write_cli_inputs(tmp_path, messy: bool = False) -> list[str]:
    """Write the fixture rows as CSVs (\\N for NULL) and the team map;
    return the CLI argv that reads them. ``messy`` reorders the results
    columns, puts an unconsumed string column between consumed ones in
    both files, and sets one events measure cell to ``n/a``."""
    results_rows, events_rows = _gen_fixture()
    tables = {
        "results": (RESULTS_COLS, results_rows),
        "events": (EVENTS_COLS, events_rows),
    }
    if messy:
        cols, rows = tables["results"]
        tables["results"] = _with_note(cols[::-1], [r[::-1] for r in rows], 2)
        cols, rows = _with_note(*tables["events"], 4)
        at = cols.index("ShotDistance")
        rows[0] = (*rows[0][:at], "n/a", *rows[0][at + 1:])
        tables["events"] = (cols, rows)
    argv = []
    for name, (cols, rows) in tables.items():
        path = str(tmp_path / f"{name}.csv")
        with open(path, "w", newline="", encoding="utf-8") as f:
            w = csv.writer(f)
            w.writerow(cols)
            w.writerows([r"\N" if v is None else v for v in row] for row in rows)
        argv += [f"--{name}", path]
    team_map = tmp_path / "teams.json"
    team_map.write_text(json.dumps(TEAM_MAP))
    return argv + ["--team-map", str(team_map), "--models", ""]


def _with_note(cols: list[str], rows: list[tuple], at: int):
    """Insert an unconsumed string column ``Note`` at position ``at``."""
    return (
        [*cols[:at], "Note", *cols[at:]],
        [(*r[:at], f"note {i}", *r[at:]) for i, r in enumerate(rows)],
    )


def _fixture_counts() -> dict[str, int]:
    """The CLI's row counts on the fixture, derived from its rows: the
    later season is the test split."""
    results_rows, _ = _gen_fixture()
    games = {r[0]: r[1] for r in results_rows}
    last = max(games.values())
    n_test = sum(1 for s in games.values() if s == last)
    return {
        "game_team_rows": len(results_rows),
        "matchups": len(games),
        "train": len(games) - n_test,
        "test": n_test,
    }


def _summary_counts(summary: dict) -> dict[str, int]:
    return {k: summary[k] for k in ("game_team_rows", "matchups", "train", "test")}


def test_cli_releases_its_cache(spark, tmp_path):
    """The CLI runs the fixture end to end from CSVs (\\N sentinels,
    messy names, a JSON team map) and leaves nothing cached behind."""
    from bigdatafinalproject_hockey_spark.__main__ import main

    spark.catalog.clearCache()
    summary = main(_write_cli_inputs(tmp_path), spark=spark)
    counts = _summary_counts(summary)
    assert counts == _fixture_counts()
    assert counts["test"] > 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_reads_messy_csvs_typed(spark, tmp_path):
    """Column order, an unconsumed column and a malformed number do not
    change what the CLI reads: the typed scan matches columns by
    header name and turns ``n/a`` into NULL instead of failing."""
    from bigdatafinalproject_hockey_spark.__main__ import main

    spark.catalog.clearCache()
    summary = main(_write_cli_inputs(tmp_path, messy=True), spark=spark)
    assert _summary_counts(summary) == _fixture_counts()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


# Spark jobs one CLI run on the fixture takes: two header reads and the
# statistics collect's query stages (AQE runs each as its own job).
CLI_JOB_BUDGET = 13


def test_cli_job_budget(spark, tmp_path):
    """One CLI run launches no more Spark jobs than its result needs."""
    from bigdatafinalproject_hockey_spark.__main__ import main

    argv = _write_cli_inputs(tmp_path)
    sc = spark.sparkContext
    sc.setJobGroup("cli", "CLI job budget")
    try:
        main(argv, spark=spark)
    finally:
        sc._jsc.clearJobGroup()
    jobs = sc.statusTracker().getJobIdsForGroup("cli")
    assert 0 < len(jobs) <= CLI_JOB_BUDGET, sorted(jobs)


def test_run_pipeline_counts_match_frames(pipeline_out):
    """``counts`` comes from one collect and must agree with counting
    each returned frame, baselines included."""
    from bigdatafinalproject_hockey_spark.ml import baselines, baselines_from_counts

    c = pipeline_out["counts"]
    assert c["game_team_rows"] == pipeline_out["game_data"].count()
    assert c["matchups"] == pipeline_out["matchups"].count()
    assert c["train"] == pipeline_out["train"].count()
    assert c["test"] == pipeline_out["test"].count()
    assert c["test"] > 0 and c["train"] > 0
    test = pipeline_out["test"]
    assert baselines_from_counts(c["test"], c["test_positives"]) == baselines(test)


def test_window_frames_match_duckdb(pipeline_out):
    """The expanding/sliding frames must match an independent engine's
    computation on the identical joined intermediate (off-by-one traps
    from SURVEY.md §7)."""
    feat = pipeline_out["featured"].select(
        "TeamCode", "Season", "Date", "GameID", "sum_Goal", "hist_sum_Goal",
        "recent_sum_Goal",
    )
    pdf = feat.toPandas()
    con = duckdb.connect()
    con.register("gd", pdf)
    oracle = con.execute(
        """
        SELECT TeamCode, Season, GameID,
          COALESCE(AVG(sum_Goal) OVER (
            PARTITION BY TeamCode, Season ORDER BY Date, GameID
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0.0) AS hist_ref,
          COALESCE(AVG(sum_Goal) OVER (
            PARTITION BY TeamCode, Season ORDER BY Date, GameID
            ROWS BETWEEN 5 PRECEDING AND 1 PRECEDING), 0.0) AS recent_ref
        FROM gd
        """
    ).df()
    merged = pdf.merge(oracle, on=["TeamCode", "Season", "GameID"])
    assert len(merged) == len(pdf)
    assert (merged["hist_sum_Goal"] - merged["hist_ref"]).abs().max() < 1e-9
    assert (merged["recent_sum_Goal"] - merged["recent_ref"]).abs().max() < 1e-9
