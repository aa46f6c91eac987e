"""Wires scripts/plan_audit.py into the suite (VERDICT r5 item 3).

The audit enforces three scale invariants across every registry
query's physical plan — no unlisted CartesianProduct / BNL /
single-partition exchange, full column pruning at every catalog scan,
and the per-query shuffle-budget ratchet. Until round 6 those only
fired when someone ran the script; a regression could land while the
test suite stayed green. This test runs the audit in-process (same
get_session config the script uses) and fails the suite on any
violation.

It also pins the eager-stage capture contract (ADVICE r5's blind
spot): the iterative / MV / ingest queries must surface their
checkpoint-truncated and write-executed stages through
plancapture.capture — if a hook is dropped, the expected ``#stage``
keys disappear and this test fails, not just the sweep's coverage.
"""

import importlib.util
import json
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Eager-stage plans the audit must see (qname#label). Keep in sync
# with the capture() call sites — this is the anti-rot lock.
EXPECTED_CAPTURE_KEYS = {
    # bucketed ingests (executed inside the sidecar build)
    "dedup_semantic_scaled#keys_ingest",
    # row-group-clustered layout ingest (round 8)
    "scan_rowgroups_pruned#rowgroup_ingest",
    # Lloyd PQ codebook fit ingest (round 8)
    "sim_ann_ivfpq_fitted#pq_fit_ingest",
    "graph_pagerank#edges_ingest",
    "graph_triangle_count#edges_ingest",
    "graph_bfs_hops#edges_ingest",
    # checkpoint-truncated iteration stages
    "pipeline_web_to_shards#extract_norm",
    "pipeline_web_to_shards#quality_gate",
    "pipeline_web_to_shards#quality_mix",
    "pipeline_web_to_shards#decon",
    "pipeline_web_to_shards#rewrite",
    "pipeline_web_to_shards#tokenize_meta",
    "bpe_learn_vocab#wordtypes",
    *{f"bpe_learn_vocab#best{i}" for i in range(1, 9)},
    *{f"bpe_learn_vocab#merge{i}" for i in range(1, 9)},
    "tokenize_bpe_corpus#wordtypes",
    *{f"tokenize_bpe_corpus#best{i}" for i in range(1, 9)},
    *{f"tokenize_bpe_corpus#merge{i}" for i in range(1, 9)},
    # frozen-vocab delta encode retrains the same frozen model
    "tokenize_bpe_delta#wordtypes",
    *{f"tokenize_bpe_delta#best{i}" for i in range(1, 9)},
    *{f"tokenize_bpe_delta#merge{i}" for i in range(1, 9)},
    # vocab extension: frozen 8 + union boundary + 4 continued
    "bpe_vocab_extend#wordtypes",
    "bpe_vocab_extend#union_types",
    *{f"bpe_vocab_extend#best{i}" for i in range(1, 13)},
    *{f"bpe_vocab_extend#merge{i}" for i in range(1, 13)},
    "graph_triangle_count#oriented",
    "graph_bfs_hops#round1",
    "graph_bfs_hops#round2",
    "graph_bfs_hops#round3",
    "graph_bfs_hops#round4",
    "dedup_components#propagate_round",
    "dedup_keep_best_minhash#propagate_round",
    # per-step MV store writes
    "mv_incremental_agg#b0",
    "mv_incremental_agg#b1",
    "mv_incremental_agg#b2",
    "mv_incremental_join#s1",
    "mv_incremental_join#s2",
    "mv_incremental_join#s3",
    "mv_incremental_join#s4",
}


def _load_audit():
    spec = importlib.util.spec_from_file_location(
        "plan_audit", os.path.join(REPO, "scripts", "plan_audit.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_plan_audit_green_and_captures_eager_stages(spark, capsys):
    mod = _load_audit()
    rc, observed = mod.run_audit()
    out = capsys.readouterr().out
    assert rc == 0, f"plan audit found violations:\n{out}"
    # Coverage is asserted against the plans THIS RUN captured, not the
    # committed baseline file (ADVICE r6 medium: the baseline always
    # holds historical keys, so a deleted capture() hook — whose stage
    # plan silently stops being audited — never tripped the old
    # baseline-based check).
    missing = EXPECTED_CAPTURE_KEYS - set(observed)
    assert not missing, (
        f"eager-stage capture hooks dropped (plans now unaudited): {missing}"
    )
    # The rewritten baseline equals the run's observations (stale keys
    # pruned), so the ratchet file can no longer drift from the live
    # registry (ADVICE r6 low).
    with open(os.path.join(REPO, "scripts", "shuffle_baseline.json")) as fh:
        baseline = json.load(fh)
    assert set(baseline) == set(observed)
