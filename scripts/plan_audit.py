"""Full-registry physical-plan audit: flag scale red-flags everywhere.

The plan-lock tests (tests/test_plans.py) pin the plans that MATTER
most, one by one. This sweep is the complement: it builds EVERY
registry query at sf0.01 and audits two kinds of formatted physical
plan per query:

- the plan of the DataFrame the query RETURNS, keyed by the query
  name;
- every plan Spark EXECUTED while the query was being built (eager
  checkpoints, sidecar ingests, per-step writes, eager counts), read
  from Spark's SQL status store, which holds each execution's plan
  description even with the UI off. Each distinct executed plan gets
  the key ``query#1..n`` in first-seen order, so an iterative loop
  yields one key per distinct round plan. Nothing in the engine
  reports these stages: a new eager stage is audited without a hook.

The build runs against an EMPTY sidecar store (a fresh directory,
removed afterwards): a store hit executes nothing, so every ingest a
query can trigger runs and is audited.

Each plan is grepped for the patterns that sink a 100 TB run —

- ``CartesianProduct``        unbounded pair blow-up
- ``BroadcastNestedLoopJoin`` quadratic unless one side is truly small
- ``Exchange SinglePartition``everything through one task

and the audit fails (exit 1) if any plan outside the known-intentional
allowlist trips one. A second sweep checks COLUMN PRUNING: any
FileScan over a catalog table (width >= 5) whose ReadSchema carries
the table's full width is flagged — a projection that stops reaching
the scan is invisible at sf0.01 and a full-table read at 100 TB.

A third sweep locks each plan's SHUFFLE BUDGET: the number of
``Exchange`` nodes is recorded in ``scripts/shuffle_baseline.json``
and compared on every later run — a plan whose exchange count GROWS
fails the audit (the docstrings state shuffle budgets; this makes them
enforceable). A count that shrinks is reported and recorded as the
new baseline. Every plan, returned or executed, is counted on its
``== Initial Plan ==`` tree, the tree ``explainString`` renders before
execution, so an AQE re-plan at run time cannot move a budget (a
returned plan that reads a persisted fragment which already ran would
otherwise count that fragment's exchanges on both its trees).

The allowlist entries for returned plans are all the SAME shape: a
``crossJoin(F.broadcast(...))`` against a SCALAR aggregate (one row:
ref date, total count, fence thresholds) or a BOUNDED metadata table
(IVF centroids, top-V vocab, band table) — the cases where a
nested-loop broadcast join is the correct, cheapest plan at any
scale. ``dedup_semantic_scaled`` deliberately does NOT appear: its
quantizer is a broadcast HASH join on sign-LSH band keys, which is
the whole point of that variant. A NEW name appearing here means a
quadratic plan crept into a query that didn't opt in; remove a name
when its query drops the pattern.

Run from the repo root:  python scripts/plan_audit.py
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import shutil
import sys
import tempfile

sys.path.insert(0, ".")

FLAGS = {
    "cartesian": re.compile(r"CartesianProduct", re.I),
    "bnl_join": re.compile(r"BroadcastNestedLoopJoin", re.I),
    # formatted mode puts an Exchange's partitioning on its own
    # "Arguments:" line, NOT adjacent to the node name — matching the
    # legacy "Exchange SinglePartition" substring silently checks
    # nothing.
    "single_part_exchange": re.compile(r"Arguments: SinglePartition", re.I),
}

# query -> the flags its plans are ALLOWED to trip, with the rationale
# enforced by review. Two benign patterns only:
#   bnl_join              crossJoin(broadcast(X)) where X is a SCALAR
#                         aggregate (one row) or a BOUNDED metadata
#                         table (centroids, top-V vocab, band table)
#   single_part_exchange  the final merge of a GLOBAL scalar
#                         aggregate (partial_* map-side, ONE ROW per
#                         partition to one task) or a global window
#                         over a per-key aggregate whose docstring
#                         states the |keys|-fit-a-partition bound
# A ``query#eager`` entry applies to the plans the query EXECUTES
# while it is built (on top of the query's own entry) and is the only
# place ``full_width_read`` may be allowed.
ALLOWED: dict[str, set[str]] = {
    "agg_count_filter": {"single_part_exchange"},      # global scalar count
    "agg_global_max": {"single_part_exchange"},        # global scalar max
    "analytics_ab_test": {"single_part_exchange"},     # two-proportion scalars
    "analytics_basket_lift": {"bnl_join", "single_part_exchange"},  # scalar n_orders
    "analytics_idle_customers": {"bnl_join", "single_part_exchange"},  # scalar avg acctbal
    "analytics_pareto": {"single_part_exchange"},      # rank over per-customer agg (docstring bound)
    "analytics_rfm_segments": {"bnl_join", "single_part_exchange"},  # scalar ref_date; ntile over per-customer agg
    "analytics_small_qty_revenue": {"single_part_exchange"},  # global revenue scalar
    "analytics_top_supplier": {"single_part_exchange"},  # global argmax scalar
    "bpe_learn_merge": {"bnl_join"},          # 1-row argmax merge pair
    "bpe_learn_vocab": {"bnl_join", "single_part_exchange"},  # per-iteration
                                              # 1-row argmax merges; k-row
                                              # merge-list fold
    "tokenize_bpe_corpus": {"bnl_join", "single_part_exchange"},  # shared
                                              # learn loop; symbol-table
                                              # windows over alphabet+merges
    "bpe_vocab_extend": {"bnl_join", "single_part_exchange"},  # the
                                              # same trainer loop continued
                                              # over the union type table
    "tokenize_bpe_delta": {"bnl_join", "single_part_exchange"},  # same
                                              # learn loop + symtab windows,
                                              # plus the k-fold replay's
                                              # 1-row broadcast merges over
                                              # the unseen-type table
    "corpus_drift": {"bnl_join"},             # top-V vocab table
    "diag_join_key_skew": {"bnl_join", "single_part_exchange"},  # scalar skew thresholds
    "dq_expectations": {"bnl_join", "single_part_exchange"},  # scalar check counts
    "join_range": {"bnl_join"},               # band table (by design;
                                              # scale path: join_interval_binned)
    "ml_centroid_classify": {"bnl_join", "single_part_exchange"},  # |classes|-row
                                              # mean table folded to one broadcast
                                              # row (see the IVF/PQ pack block
                                              # below)
    "ml_eval_deterministic": {"single_part_exchange"},  # global confusion scalars
    "sample_temperature": {"bnl_join", "single_part_exchange"},  # scalar corpus totals
    "scan_csv_quarantine": {"single_part_exchange"},   # global quarantine count
    # The IVF/PQ family's quantizer/encode argmax runs as an
    # expression fold over a SINGLE broadcast row holding the bounded
    # candidate table (≤50 centroids / m×codes≤128 codebook rows /
    # |queries|-row ADC LUTs — see similarity._pack_centroids /
    # _pack_codebooks / _pack_query_luts). Folding that table to one
    # row is a global collect_list aggregate, whose final merge is BY
    # CONSTRUCTION an Exchange SinglePartition over ≤a-few-hundred
    # metadata rows — the same benign class as the scalar-aggregate
    # entries above. The corpus-sized exchanges these folds replaced
    # (assignment window rank, encode SortAggregate) are gone; the
    # shuffle ratchet still bounds the total.
    "ann_recall_eval": {"bnl_join", "single_part_exchange"},  # centroid table + bf recall leg; centroid pack
    "ann_recall_eval_pq": {"bnl_join", "single_part_exchange"},  # centroid table + bf recall leg; packs
    "ann_index_delta": {"bnl_join", "single_part_exchange"},  # frozen centroid table (delta assign); packs
    "pipeline_embedding_curation": {"bnl_join", "single_part_exchange"},  # survivor centroid table (index half); packs
    "codebook_kmeans_refine": {"bnl_join", "single_part_exchange"},  # centroid table (E-step quantizer); pack
    "dedup_semantic": {"bnl_join", "single_part_exchange"},   # centroid table (quantizer); pack
    "sim_ann_ivf": {"bnl_join", "single_part_exchange"},      # centroid table; pack
    "sim_ann_ivf_multiprobe": {"bnl_join", "single_part_exchange"},  # centroid table; pack
    "sim_ann_ivfpq": {"bnl_join", "single_part_exchange"},    # centroid table (IVF half); packs
    "sim_ann_ivfpq_fitted": {"bnl_join", "single_part_exchange"},  # centroid table (IVF half; fit is equi-join); packs
    "sim_ann_ivfpq_multiprobe": {"bnl_join", "single_part_exchange"},  # centroid table (probe list, nprobe=2); packs
    "sim_ann_ivfpq_rerank": {"bnl_join", "single_part_exchange"},  # centroid table (IVF half; refine is equi-join); packs
    "sim_ann_ivfpq_residual": {"bnl_join", "single_part_exchange"},  # centroid table (IVF half + residual pass); packs
    "embedding_pq_encode": {"bnl_join", "single_part_exchange"},  # codebook pack (1-row crossJoin)
    "sim_ann_pq_adc": {"bnl_join", "single_part_exchange"},   # codebook pack (1-row crossJoin)
    "sim_cosine_topk": {"bnl_join"},          # brute-force recall oracle
    "sim_hybrid_rrf": {"bnl_join"},           # centroid table (IVF leg)
    "sim_knn_classify": {"bnl_join"},         # centroid table
    "stream_fanout_multi_sink": {"single_part_exchange"},  # global readout scalars
    "text_tfidf_top_terms": {"bnl_join", "single_part_exchange"},  # scalar corpus doc count
    "text_unigram_logprob": {"bnl_join", "single_part_exchange"},  # scalar vocab total
    "quality_tertile_split": {"bnl_join", "single_part_exchange"},  # same
                                              # scalar vocab total as its
                                              # unigram base
    # Executed while the query is built: global scalars collected to
    # the driver.
    "dedup_components#eager": {"single_part_exchange"},  # per-round changed-label count (fixed-point test)
    "dedup_keep_best#eager": {"single_part_exchange"},  # same components loop
    "dedup_keep_best_minhash#eager": {"single_part_exchange"},  # same components loop
    "ml_train_eval#eager": {"single_part_exchange"},  # temporal split's max year; class counts; metrics row
    "ml_train_eval_rf#eager": {"single_part_exchange"},  # same split, fit counts and metrics row
    "ml_train_eval_gbt#eager": {"single_part_exchange"},  # same split, fit counts and metrics row
    "ml_train_eval_mlp#eager": {"single_part_exchange"},  # same split, fit counts and metrics row
    "ml_eval_calibration#eager": {"single_part_exchange"},  # temporal split's max year
    "ml_eval_pr_curve#eager": {"single_part_exchange"},  # temporal split's max year
    "split_temporal#eager": {"single_part_exchange"},  # max year collected before the split
    # Executed while the query is built: fixture staging writes that
    # copy a whole catalog table before the read under test.
    "scan_csv_roundtrip#eager": {"full_width_read"},  # customer written as CSV
    "scan_jsonl_roundtrip#eager": {"full_width_read"},  # documents written as JSONL
    "scan_text_roundtrip#eager": {"full_width_read"},  # documents written as text
    "scan_orc_roundtrip#eager": {"full_width_read"},  # documents written as ORC
    "scan_files_pruned#eager": {"full_width_read"},  # orders staged date-clustered
    "sink_parquet_compacted#eager": {"full_width_read", "single_part_exchange"},  # documents
                                              # scattered into 64 files; compaction
                                              # to the computed file count (1 at sf0.01)
    "stream_late_data_accounting#eager": {"full_width_read", "single_part_exchange"},  # events
                                              # staged as the stream's source files;
                                              # per-batch max-ts and late-row
                                              # counts, merged count store
}

SF = "/root/testdata/sf0.01"


# formatted-mode node detail blocks start "(N) NodeName"
_NODE_RX = re.compile(r"(?m)^\(\d+\) ")
_LOCATION_RX = re.compile(r"Location:.*?/(\w+)\.parquet")
_READSCHEMA_RX = re.compile(r"ReadSchema: struct<([^>]*)>")
# formatted-mode Exchange node detail headers: "(5) Exchange"
_EXCHANGE_RX = re.compile(r"(?m)^\(\d+\) Exchange\b")
# an AQE plan's run-time tree, rendered after execution above the
# "+- == Initial Plan ==" tree
_FINAL_TREE_RX = re.compile(r"^( *)\+- == (?:Final|Current) Plan ==$")
# the node number a tree line ends with: "+- Exchange (4)",
# "ShuffleQueryStage (5), Statistics(sizeInBytes=336.0 B)"
_TREE_ID_RX = re.compile(r" \((\d+)\)(?:, Statistics\(.*\))?$")
_DETAIL_ID_RX = re.compile(r"^\((\d+)\) ")
# what differs between runs of one plan: node numbers, expression,
# plan and lambda-variable ids, codegen stage ids, size estimates, the
# id and call site of a checkpointed RDD, a streaming write's epoch and
# object identity hashes
_UNSTABLE_RX = re.compile(
    r"\(\d+\)|#\d+L?|plan_id=\d+|lambda \w+?_\d+|codegen id : \d+"
    r"|Statistics\([^)]*\)|\w+RDD\[\d+\] at [^,]*|epoch: \d+|@[0-9a-f]{4,}\b"
)
# DDL executions, which carry no physical query plan (a CTAS runs its
# query as a nested execution of its own)
_PLAN_LESS_RX = re.compile(
    r"\A== Physical Plan ==\n(?:DropTable|Execute (?:CreateDataSourceTable"
    r"|CreateDataSourceTableAsSelect|CreateView|SaveAsV1Table)Command) \(1\)\n"
)


def _full_width_reads(plan: str, widths: dict[str, int]) -> list[str]:
    """FileScans over catalog tables that read every column (tables
    narrower than 5 columns are exempt: nation/region are all-key).

    Location and ReadSchema are matched WITHIN one node detail block
    (split on the "(N) NodeName" headers): one cross-plan non-greedy
    match would let a scan whose Location doesn't fit the parquet
    pattern swallow the following nodes' ReadSchema lines, silently
    exempting catalog scans from the sweep."""
    out = []
    for block in _NODE_RX.split(plan):
        loc = _LOCATION_RX.search(block)
        schema = _READSCHEMA_RX.search(block)
        if not loc or not schema:
            continue
        table = loc.group(1)
        ncols = len([c for c in schema.group(1).split(",") if ":" in c])
        if table in widths and widths[table] >= 5 and ncols >= widths[table]:
            out.append(f"full_width_read:{table}")
    return out


def initial_plan(desc: str) -> str:
    """A plan description as ``explainString`` rendered it before
    execution: every AQE ``== Final Plan ==`` tree is dropped,
    with the detail blocks of the nodes only that tree shows. The
    stored description lists both trees' nodes, so counting over the
    whole text counts each exchange twice."""
    kept: list[str] = []
    final_ids: set[str] = set()
    kept_ids: set[str] = set()
    cut = None  # indent of the final tree being dropped
    for line in desc.split("\n"):
        m = _FINAL_TREE_RX.match(line)
        if m:
            cut = len(m.group(1)) + 3
            continue
        if cut is not None and line.startswith(" " * cut):
            final_ids.update(_TREE_ID_RX.findall(line))
            continue
        cut = None
        kept_ids.update(_TREE_ID_RX.findall(line))
        kept.append(line)
    drop = final_ids - kept_ids
    out: list[str] = []
    skipping = False
    for line in kept:
        m = _DETAIL_ID_RX.match(line)
        if m:
            skipping = m.group(1) in drop
        if not skipping:
            out.append(line)
        elif not line:
            skipping = False
    return "\n".join(out)


def _last_execution_id(spark) -> int:
    """Id of the newest SQL execution Spark has recorded (-1: none)."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    n = store.executionsCount()
    return store.executionsList(n - 1, 1).apply(0).executionId() if n else -1


def executed_plans(spark, after_id: int) -> list[str]:
    """The plan of every SQL execution recorded after ``after_id``,
    oldest first, rendered by ``initial_plan``; executions that run
    only a DDL command are skipped.

    The store lists executions by id and drops the oldest finished
    ones beyond ``spark.sql.ui.retainedExecutions`` on a background
    thread, so the tail is read in growing windows until it reaches
    ``after_id``."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    store = spark._jsparkSession.sharedState().statusStore()
    want = 16
    while True:
        n = store.executionsCount()
        seq = store.executionsList(max(0, n - want), want)
        execs = [seq.apply(i) for i in range(seq.size())]
        if not execs or execs[0].executionId() <= after_id or want >= n:
            break
        want *= 4
    plans = []
    for e in execs:
        if e.executionId() <= after_id:
            continue
        desc = e.physicalPlanDescription()
        if not _PLAN_LESS_RX.match(desc):
            plans.append(initial_plan(desc))
    return plans


def distinct_plans(plans: list[str]) -> list[str]:
    """``plans`` without repeats, first-seen order; two plans are the
    same when they differ only in what ``_UNSTABLE_RX`` matches."""
    seen: dict[str, str] = {}
    for plan in plans:
        seen.setdefault(_UNSTABLE_RX.sub("", plan), plan)
    return list(seen.values())


@contextlib.contextmanager
def _empty_sidecar_store():
    """Point the sidecar store at a fresh directory for the duration,
    then restore it and remove the directory."""
    from bigdatafinalproject_hockey_spark import sidecar

    saved = sidecar.ROOT, sidecar._process_dir
    sidecar.ROOT = tempfile.mkdtemp(prefix="plan-audit-sidecars-")
    # scratch() keeps its per-process directory under ROOT: start a
    # new one there, and never hand out one inside the removed root
    sidecar._process_dir = None
    try:
        yield
    finally:
        shutil.rmtree(sidecar.ROOT, ignore_errors=True)
        sidecar.ROOT, sidecar._process_dir = saved


def run_audit() -> tuple[int, dict[str, int]]:
    """Run the sweep; return (exit code, observed plan keys -> exchange
    counts). The observed dict is this run's ground truth — one key
    per registry query plus one per distinct executed plan — so
    callers (tests/test_plan_audit.py) can assert coverage against
    what this run actually saw, not against the baseline file."""
    from bigdatafinalproject_hockey_spark.catalog import SCHEMAS
    from bigdatafinalproject_hockey_spark.queries import QUERIES
    from bigdatafinalproject_hockey_spark.session import get_session

    spark = get_session(app_name="plan_audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    widths = {t: len(s.fields) for t, s in SCHEMAS.items()}
    baseline_path = os.path.join(os.path.dirname(__file__), "shuffle_baseline.json")
    baseline: dict[str, int] = {}
    if os.path.isfile(baseline_path):
        with open(baseline_path) as fh:
            baseline = json.load(fh)
    observed: dict[str, int] = {}
    violations: dict[str, list[str]] = {}

    def _audit_one(key: str, plan: str, allowed: set[str]) -> None:
        """Apply flags, pruning sweep, and the shuffle ratchet to one
        rendered plan under its baseline ``key``."""
        hits = {k for k, rx in FLAGS.items() if rx.search(plan)}
        bad = sorted(hits - allowed)
        if "full_width_read" not in allowed:
            bad += _full_width_reads(plan, widths)
        observed[key] = len(_EXCHANGE_RX.findall(plan))
        if key in baseline and observed[key] > baseline[key]:
            bad.append(f"shuffle_regression:{baseline[key]}->{observed[key]}")
        if bad:
            violations[key] = bad

    with _empty_sidecar_store():
        for name, fn in QUERIES.items():
            # Render every plan from an EMPTY cache: a persisted subtree
            # (e.g. the IVF cell assignment) renders as InMemoryRelation
            # once another query in the same session has registered an
            # identical plan, collapsing its exchanges out of the count —
            # so the measured budget would depend on which queries ran
            # first. Clearing per query pins the ratchet to the
            # fresh-session rendering. Note the persisted-subtree counts
            # OVERSTATE real shuffles: each reference re-renders the
            # cached fragment's exchanges, while at runtime the fragment
            # materializes once.
            spark.catalog.clearCache()
            before = _last_execution_id(spark)
            try:
                df = fn(spark, SF)
                plan = initial_plan(df._jdf.queryExecution().explainString(mode))
            except Exception as exc:  # noqa: BLE001
                violations[name] = [f"PLAN_ERROR {type(exc).__name__}: {exc}"[:120]]
                continue
            allowed = ALLOWED.get(name, set())
            _audit_one(name, plan, allowed)
            eager = allowed | ALLOWED.get(f"{name}#eager", set())
            for i, executed in enumerate(
                distinct_plans(executed_plans(spark, before)), 1
            ):
                _audit_one(f"{name}#{i}", executed, eager)
    for name, flags in sorted(violations.items()):
        print(f"VIOLATION {name}: {flags}")
    improved = {
        n: (baseline[n], c)
        for n, c in observed.items()
        if n in baseline and c < baseline[n]
    }
    for n, (old, new) in sorted(improved.items()):
        print(f"IMPROVED {n}: {old} -> {new} exchanges")
    if not violations:
        # Record THIS run's observations verbatim: new keys seed their
        # entries, improvements ratchet down, and keys for removed or
        # renamed queries and vanished executed plans are PRUNED, so a
        # renamed query cannot keep a stale entry around. A green run
        # observes every live registry query, so ``observed`` is
        # exactly the live key set.
        stale = sorted(set(baseline) - set(observed))
        for key in stale:
            print(f"PRUNED stale baseline key: {key}")
        with open(baseline_path, "w") as fh:
            json.dump(dict(sorted(observed.items())), fh, indent=0, sort_keys=True)
    n = len(QUERIES)
    print(f"{n} queries audited, {len(violations)} violations")
    return (1 if violations else 0), observed


def main() -> int:
    rc, _ = run_audit()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
