"""CLI — the engine's replacement for the reference's
``spark-submit experiment.py --events X --results Y`` entry point
(reference code/experiment.py:250-262):

    python -m bigdatafinalproject_hockey_spark \
        --events  path/to/EventData.csv \
        --results path/to/results.csv \
        [--team-map teams.json] [--models rf,lr] [--lookback 5] \
        [--min-season 20072008] [--min-game 2007020001] [--output out/]

Differences from the reference, by design:
- The 83-entry team-name map is USER DATA, not engine code — supply it
  as a JSON file (name → code); unmapped names fall back to the same
  strip-non-letters rule the reference uses.
- CSVs are read with header + \\N null handling and no schema
  inference: one small job per file reads its header, and the scan
  then types the columns the pipeline consumes by name (everything
  else stays a string). A malformed number reads as NULL instead of
  failing the job.
- The row counts and baselines come from the one statistics collect
  that also picks the train/test split (``run_pipeline``'s
  ``counts``), not from a job per count.
- Evaluation is single-pass (one groupBy job, not six).
- Paths may be local, gs://, s3a://, hdfs:// — whatever the session's
  Hadoop conf supports.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from bigdatafinalproject_hockey_spark.ml import (
    baselines_from_counts,
    evaluate_binary,
    train_pipeline,
)
from bigdatafinalproject_hockey_spark.pipeline import (
    PipelineConfig,
    events_types,
    results_types,
    run_pipeline,
)
from bigdatafinalproject_hockey_spark.session import get_session
from bigdatafinalproject_hockey_spark.sources.csv import scan_csv_named


def _parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="bigdatafinalproject_hockey_spark")
    p.add_argument("--events", required=True, help="event-level CSV path")
    p.add_argument("--results", required=True, help="per-game results CSV path")
    p.add_argument("--team-map", default=None, help="JSON file: raw name → code")
    p.add_argument(
        "--models",
        default="lr",
        help="comma list of rf,lr,gbt,mlp (reference trains all four)",
    )
    p.add_argument("--lookback", type=int, default=5)
    p.add_argument("--min-season", type=int, default=None)
    p.add_argument("--min-game", type=int, default=None)
    p.add_argument("--output", default=None, help="optional parquet dir for matchups")
    p.add_argument(
        "--show",
        type=int,
        nargs="?",
        const=20,
        default=None,
        metavar="N",
        help="print the first N matchup rows (default 20) — the "
        "reference's console sink (experiment.py:678-680)",
    )
    return p.parse_args(argv)


def main(argv: list[str] | None = None, spark=None) -> dict:
    args = _parse_args(argv)
    own_session = spark is None
    if own_session:
        spark = get_session(app_name="hockey_pipeline")
    persisted: list = []
    try:
        return _run(spark, args, persisted)
    finally:
        # Release every frame this run cached, dependents first (Spark
        # re-plans a still-cached frame whose input is uncached under
        # it), and an owned session, on success and on failure alike.
        for df in reversed(persisted):
            df.unpersist()
        if own_session:
            spark.stop()


def _run(spark, args: argparse.Namespace, persisted: list) -> dict:
    team_map = {}
    if args.team_map:
        with open(args.team_map) as f:
            team_map = json.load(f)

    t0 = time.time()
    cfg = PipelineConfig(
        team_map=team_map,
        min_season=args.min_season,
        min_game=args.min_game,
        lookback=args.lookback,
    )
    results = scan_csv_named(spark, args.results, results_types(cfg))
    events = scan_csv_named(spark, args.events, events_types(cfg))
    out = run_pipeline(results, events, cfg)
    persisted += [out["game_data"], out["matchups"]]
    counts = out["counts"]
    n_game_rows, n_matchups = counts["game_team_rows"], counts["matchups"]
    print(f"game-team rows: {n_game_rows}")
    print(f"matchups: {n_matchups}")

    if args.output:
        out["matchups"].write.mode("overwrite").parquet(args.output)
        print(f"matchups written to {args.output}")

    if args.show is not None:
        # console sink: tabular display with the reference's implicit
        # row cap (df.show defaults to 20)
        out["matchups"].orderBy("GameID").show(args.show)

    train, test = out["train"], out["test"]
    n_train, n_test = counts["train"], counts["test"]
    print(f"train/test: {n_train}/{n_test}")

    summary: dict = {
        "game_team_rows": n_game_rows,
        "matchups": n_matchups,
        "train": n_train,
        "test": n_test,
        "models": {},
    }
    feats = sorted(
        c
        for c, t in out["matchups"].dtypes
        if c.startswith(("home_hist_", "away_hist_", "diff_")) and t == "double"
    )
    if n_train and n_test and "label" in train.columns:
        for kind in [m.strip() for m in args.models.split(",") if m.strip()]:
            model = train_pipeline(train, feats, kind)
            scored = model.transform(test).persist()
            persisted.append(scored)
            m = evaluate_binary(scored)
            print(
                f"[{kind}] acc={m.accuracy:.4f} auc={m.auc:.4f} "
                f"prec={m.precision:.4f} rec={m.recall:.4f} f1={m.f1:.4f} "
                f"cm=(tp={m.tp},tn={m.tn},fp={m.fp},fn={m.fn})"
            )
            summary["models"][kind] = {
                "accuracy": m.accuracy,
                "auc": m.auc,
                "precision": m.precision,
                "recall": m.recall,
                "f1": m.f1,
            }
        base = baselines_from_counts(n_test, counts["test_positives"])
        print(
            f"[baselines] majority={base['majority']:.4f} "
            f"coin={base['coin_flip']:.4f} weighted={base['weighted_random']:.4f}"
        )
        summary["baselines"] = base
    else:
        print("skipping model training (empty split or no label)", file=sys.stderr)
    print(f"wall: {time.time() - t0:.1f}s")
    return summary


if __name__ == "__main__":
    main()
