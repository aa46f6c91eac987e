"""Wires scripts/plan_audit.py into the suite.

The audit enforces three scale invariants across every registry
query's physical plans — no unlisted CartesianProduct / BNL /
single-partition exchange, full column pruning at every catalog scan,
and the per-plan shuffle-budget ratchet — over both the plan each query
returns and every plan Spark executed while building it. This test
runs the audit in-process (same get_session config the script uses)
and fails the suite on any violation.

The executed plans come from Spark's SQL status store, an internal
API. The tests below fail if the reader stops seeing what ran (a Spark
upgrade that moves the API), instead of letting the audit silently
check nothing.
"""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Queries that run eager stages (checkpointed rounds, per-step writes,
# sidecar ingests) the audit must observe as executed plans.
EAGER_QUERIES = (
    "graph_bfs_hops",
    "mv_incremental_join",
    "bpe_learn_vocab",
    "dedup_components",
)


def _load_audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(REPO, "scripts", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_executed_plans_reader_sees_write_checkpoint_and_count(spark, tmp_path):
    mod = _load_audit()
    df = spark.range(100).selectExpr("id % 7 AS k", "id AS v")
    before = mod._last_execution_id(spark)
    df.write.parquet(str(tmp_path / "t"))
    df.groupBy("k").count().localCheckpoint()
    df.filter("v > 3").count()
    plans = mod.executed_plans(spark, before)
    assert len(plans) == 3
    write, _checkpoint, count = plans
    assert "InsertIntoHadoopFsRelationCommand" in write
    assert "Arguments: SinglePartition" in count
    # each exchange is counted once: on the initial tree, not again on
    # the final tree the stored description also lists
    assert [len(mod._EXCHANGE_RX.findall(p)) for p in plans] == [0, 1, 1]


def test_plan_audit_green_and_captures_eager_stages(spark, capsys):
    from bigdatafinalproject_hockey_spark import sidecar

    root = sidecar.ROOT
    mod = _load_audit()
    rc, observed = mod.run_audit()
    out = capsys.readouterr().out
    assert rc == 0, f"plan audit found violations:\n{out}"
    assert sidecar.ROOT == root
    unseen = [
        q for q in EAGER_QUERIES if not any(k.startswith(f"{q}#") for k in observed)
    ]
    assert not unseen, f"no executed plan observed for {unseen}"
    # The rewritten baseline equals the run's observations (stale keys
    # pruned), so the ratchet file cannot drift from the live registry.
    with open(os.path.join(REPO, "scripts", "shuffle_baseline.json")) as fh:
        baseline = json.load(fh)
    assert set(baseline) == set(observed)
