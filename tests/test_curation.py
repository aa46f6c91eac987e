"""Edge-case unit tests for the curation operators — the corners the
sf0.01 oracle parity can't reach: empty/short documents, quota-zero
languages, scrub idempotence, replay-count invariance of the upsert.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.queries import QUERIES


def _docs(spark, rows):
    return spark.createDataFrame(
        rows, "doc_id bigint, text string, lang string, source string, n_chars bigint"
    )


def test_dedup_segments_short_and_empty_docs(spark, monkeypatch):
    """Docs shorter than one segment form a single (partial) segment;
    token-less docs emit no segments at all; identical short docs
    dedup to one survivor."""
    from bigdatafinalproject_hockey_spark.queries import curation

    df = _docs(
        spark,
        [
            (1, "alpha beta", "en", "s", 10),
            (2, "alpha beta", "en", "s", 10),  # exact dup of 1
            (3, "", "en", "s", 0),  # token-less
            (4, "gamma", "en", "s", 5),
        ],
    )
    monkeypatch.setattr(curation, "load_table", lambda spark, name, sf_dir: df)
    out = {
        r["doc_id"]: (r["n_segments"], r["n_kept"])
        for r in QUERIES["dedup_segments"](spark, "ignored").collect()
    }
    assert out[1] == (1, 1)
    assert out[2] == (1, 0)  # fingerprint already seen at doc 1
    assert 3 not in out  # no tokens → no segments → no row
    assert out[4] == (1, 1)


def test_pii_scrub_idempotent(spark):
    """Scrubbing already-scrubbed text must change nothing (placeholder
    tags contain no scrubbable patterns) — the property that makes the
    redaction pass safe to re-run over partially-processed data."""
    from bigdatafinalproject_hockey_spark.queries.curation import (
        _EMAIL_RE,
        _PHONE_RE,
        _SSN_RE,
    )

    df = spark.createDataFrame(
        [("a user7@example.com b 555-0042 c 123-45-6789 d",)], "t string"
    )

    def scrub(col):
        return F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(col, _EMAIL_RE, "<EMAIL>"), _SSN_RE, "<SSN>"
            ),
            _PHONE_RE,
            "<PHONE>",
        )

    row = df.select(
        scrub(F.col("t")).alias("once"), scrub(scrub(F.col("t"))).alias("twice")
    ).first()
    assert row["once"] == "a <EMAIL> b <PHONE> c <SSN> d"
    assert row["once"] == row["twice"]


def test_training_mix_quota_semantics(spark, monkeypatch):
    """Quota fill must (a) never exceed the language quota, (b) take
    docs in md5(doc_id) order, (c) drop languages with no quota
    entirely."""
    from bigdatafinalproject_hockey_spark.queries import curation

    # 4 en docs of 3 tokens each; quota en=6000 admits all. A fake
    # lang 'xx' has no quota and must vanish.
    df = _docs(
        spark,
        [
            (1, "a b c", "en", "s", 5),
            (2, "d e f", "en", "s", 5),
            (3, "g h i", "xx", "s", 5),
        ],
    )
    monkeypatch.setattr(curation, "load_table", lambda spark, name, sf_dir: df)
    rows = QUERIES["pipeline_training_mix"](spark, "ignored").collect()
    langs = {r["lang"] for r in rows}
    assert langs == {"en"}
    by_doc = {r["doc_id"]: r["cum_tokens"] for r in rows}
    assert set(by_doc) == {1, 2}
    assert max(by_doc.values()) == 6  # running sum over both docs


def test_training_mix_quota_is_binding(spark, monkeypatch):
    """With a corpus bigger than the quota, the kept token mass must
    sit within one document of the quota boundary (keep-while-under
    semantics: the first doc crossing the line is dropped)."""
    from bigdatafinalproject_hockey_spark.queries import curation

    df = _docs(
        spark,
        [(i, "tok " * 100, "en", "s", 400) for i in range(100)],  # 100 docs × 100 toks
    )
    monkeypatch.setattr(curation, "load_table", lambda spark, name, sf_dir: df)
    rows = QUERIES["pipeline_training_mix"](spark, "ignored").collect()
    total = sum(r["n_tokens"] for r in rows)
    quota = curation._MIX_QUOTAS["en"]
    assert total <= quota
    assert total > quota - 100  # within one doc of the boundary


def test_compaction_collapses_small_files(spark, tmp_path):
    """64 scattered files must compact into ~ceil(bytes/target) files
    (here: 1), preserving every row."""
    import glob

    from bigdatafinalproject_hockey_spark.catalog import load_table
    from bigdatafinalproject_hockey_spark.sources.parquet import compact_parquet

    docs = load_table(spark, "documents", "/root/testdata/sf0.001")
    src = str(tmp_path / "compact_unit_src")
    dst = str(tmp_path / "compact_unit_dst")
    docs.repartition(64).write.mode("overwrite").parquet(src)
    assert len(glob.glob(f"{src}/*.parquet")) == 64
    out = compact_parquet(spark, src, dst, target_file_bytes=128 * 1024 * 1024)
    assert len(glob.glob(f"{dst}/*.parquet")) == 1
    assert out.count() == docs.count()


def test_foreach_batch_upsert_replay_invariant(spark, tmp_path):
    """3× replay must land the same table as 2× replay: the anti-join
    makes re-delivery a no-op regardless of how often the source
    rewinds."""
    from bigdatafinalproject_hockey_spark.streaming import (
        foreach_batch_upsert,
        read_events_stream_replayed,
    )

    sf = "/root/testdata/sf0.001"
    cols = ["event_id", "ts", "user_id", "event_type", "value"]
    out = {}
    for copies in (2, 3):
        s = read_events_stream_replayed(spark, sf, copies=copies).select(cols)
        t = foreach_batch_upsert(
            spark,
            s,
            sink_path=str(tmp_path / f"upsert_replay{copies}"),
            key_cols=["event_id"],
        )
        out[copies] = t.count()
    assert out[2] == out[3]
    # exact row count equals the base table (each event exactly once)
    import duckdb

    base = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf}/events.parquet'"
    ).fetchone()[0]
    assert out[2] == base


def test_pack_sequences_invariants(spark):
    """Packing must (a) keep every doc exactly once, (b) never fill a
    multi-doc sequence past capacity, (c) number sequences contiguously
    from 0 per shard, and (d) be unsplittable-greedy: consecutive
    sequences can't be merged (fill + next doc's first token count
    overflows)."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    sf = "/root/testdata/sf0.01"
    pdf = QUERIES["pack_sequences"](spark, sf).toPandas()
    import duckdb

    n_docs = duckdb.sql(f"SELECT COUNT(*) FROM '{sf}/documents.parquet'").fetchone()[0]
    assert len(pdf) == n_docs
    assert pdf["doc_id"].is_unique

    cap = 256
    g = pdf.groupby(["lang", "shard", "seq_id"])["n_tokens"]
    sums, counts = g.sum(), g.count()
    # multi-doc sequences respect capacity; oversized docs sit alone
    assert (sums[counts > 1] <= cap).all()
    for (_, _), grp in pdf.groupby(["lang", "shard"]):
        ids = sorted(grp["seq_id"].unique())
        assert ids == list(range(len(ids)))
        # greedy: first doc of seq k+1 would not have fit in seq k
        grp = grp.sort_values("doc_id")
        fill_end = grp.groupby("seq_id")["seq_fill"].last()
        first_tok = grp.groupby("seq_id")["n_tokens"].first()
        for k in range(len(ids) - 1):
            assert fill_end[k] + first_tok[k + 1] > cap


def test_dedup_incremental_survivors_are_fresh_originals(spark):
    """Re-crawled base docs and intra-batch repeats must all be
    dropped; survivors are exactly the fresh originals (250..499)."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    ids = sorted(
        r.doc_id
        for r in QUERIES["dedup_incremental"](spark, "/root/testdata/sf0.01")
        .select("doc_id")
        .collect()
    )
    assert ids == list(range(250, 500))


def test_quality_classifier_edges(spark, monkeypatch):
    """Empty doc → zero score, keep=0; score_units is the exact
    integer weight sum; keep flips on the sign of score_units."""
    from bigdatafinalproject_hockey_spark.queries import curation
    from bigdatafinalproject_hockey_spark.catalog import load_table

    df = _docs(
        spark,
        [
            (1, "alpha beta alpha", "en", "s", 16),
            (2, "", "en", "s", 0),
            (3, "   ", "en", "s", 3),
        ],
    )
    monkeypatch.setattr(
        curation, "load_table", lambda spark_, name, sf: df
    )
    out = {r["doc_id"]: r for r in QUERIES["text_quality_classifier"](spark, "unused").collect()}
    assert out[2]["n_tok"] == 0 and out[2]["quality_score"] == 0.0 and out[2]["keep"] == 0
    assert out[3]["n_tok"] == 0 and out[3]["keep"] == 0
    r1 = out[1]
    assert r1["n_tok"] == 3
    # score is the exact ratio of the integer units
    assert r1["quality_score"] == r1["score_units"] / (1000.0 * 3)
    assert r1["keep"] == (1 if r1["score_units"] > 0 else 0)


def test_snapshot_diff_statuses_complete(spark, monkeypatch):
    """Every status arises and unchanged docs are excluded: with the
    membership rules, doc 0 → removed, 8/9 → added (9 also %3==0 but
    addition wins), 3/6 → changed, 1/2/4/5/7 → absent (unchanged)."""
    from bigdatafinalproject_hockey_spark.queries import curation

    df = _docs(
        spark,
        [(i, f"text number {i}", "en", "s", 12) for i in range(10)],
    )
    monkeypatch.setattr(curation, "load_table", lambda spark_, name, sf: df)
    rows = {r["doc_id"]: r["status"] for r in QUERIES["corpus_snapshot_diff"](spark, "unused").collect()}
    assert rows == {0: "removed", 3: "changed", 6: "changed", 8: "added", 9: "added"}


def test_substring_spans_maximal_and_thresholded(spark):
    """A 20-token span repeated between two docs must come back as ONE
    maximal span of exactly 20 tokens at the right coordinates; a
    14-token shared run (< k=15) must not be reported; docs shorter
    than k emit nothing."""
    from bigdatafinalproject_hockey_spark.dedup.substring import repeated_spans

    span20 = " ".join(f"w{i}" for i in range(20))
    prefix_a = "aone atwo athree"                        # 3 tokens
    prefix_b = "bone btwo bthree bfour bfive"            # 5 tokens
    shared14 = " ".join(f"x{i}" for i in range(14))
    rows = [
        (1, f"{prefix_a} {span20} tail1 tail2", "en", "s", 0),
        (2, f"{prefix_b} {span20} other tokens here", "en", "s", 0),
        (3, f"{shared14} filler1 filler2", "en", "s", 0),
        (4, f"{shared14} different ending words", "en", "s", 0),
        (5, "too short", "en", "s", 0),
    ]
    df = _docs(spark, rows)
    got = repeated_spans(df, "text", "doc_id").collect()
    assert len(got) == 1
    r = got[0]
    assert (r.doc_a, r.doc_b) == (1, 2)
    assert (r.start_a, r.start_b, r.span_len) == (3, 5, 20)


def test_substring_spans_multiple_diagonals_and_docs(spark):
    """The same span repeated at two alignments of the same pair (two
    diagonals) yields two spans; three docs sharing it yield all three
    ordered pairs."""
    from bigdatafinalproject_hockey_spark.dedup.substring import repeated_spans

    s = " ".join(f"w{i}" for i in range(15))
    rows = [
        (1, f"{s}", "en", "s", 0),
        (2, f"pad1 {s}", "en", "s", 0),
        (3, f"pad1 pad2 {s}", "en", "s", 0),
    ]
    got = {
        (r.doc_a, r.doc_b): (r.start_a, r.start_b, r.span_len)
        for r in repeated_spans(_docs(spark, rows), "text", "doc_id").collect()
    }
    assert got == {
        (1, 2): (0, 1, 15),
        (1, 3): (0, 2, 15),
        (2, 3): (1, 2, 15),
    }


def test_substring_hub_shingles_capped(spark):
    """A fingerprint occurring in more occurrences than max_block is a
    hub (boilerplate) and must be skipped entirely — no pair blowup."""
    from bigdatafinalproject_hockey_spark.dedup.substring import repeated_spans

    s = " ".join(f"w{i}" for i in range(15))
    rows = [(i, s, "en", "s", 0) for i in range(1, 6)]  # 5 copies
    df = _docs(spark, rows)
    assert repeated_spans(df, "text", "doc_id", max_block=4).count() == 0
    # with the cap above the occurrence count, all 10 pairs appear
    assert repeated_spans(df, "text", "doc_id", max_block=8).count() == 10


def test_substring_boilerplate_division_of_labor(spark):
    """VERDICT r10 item 7 — the documented hub exemption, executable:
    a boilerplate sentence repeated in MORE than max_block documents
    is (a) invisible to the substring span detector (its hub cap) and
    to the rewrite built on it, but (b) STILL caught by the
    fixed-chunk segment tier that a composed pipeline runs first —
    so the division of labor the docstrings claim actually holds.
    A control quote shared by just two docs proves the hub prefilter
    didn't suppress legitimate detection in the same corpus."""
    from pyspark.sql import Window
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        remove_repeated_spans,
        repeated_spans,
    )
    from bigdatafinalproject_hockey_spark.functions.text import tokens_expr

    # 7 docs (> max_block=4): 20 unique prefix tokens (doc-specific),
    # then the SAME 20-token boilerplate sentence aligned at segment 1.
    boiler = " ".join(f"bp{i}" for i in range(20))
    rows = [
        (d, " ".join(f"u{d}x{i}" for i in range(20)) + " " + boiler,
         "en", "s", 0)
        for d in range(1, 8)
    ]
    # Control: docs 100/101 share a 15-token quote nothing else has.
    quote = " ".join(f"q{i}" for i in range(15))
    rows += [
        (100, f"{quote} tail one hundred", "en", "s", 0),
        (101, f"intro one oh one {quote}", "en", "s", 0),
    ]
    df = _docs(spark, rows)

    spans = repeated_spans(df, "text", "doc_id", max_block=4)
    got = {(r.doc_a, r.doc_b) for r in spans.collect()}
    # (a) the boilerplate (7 > max_block occurrences) emits NO pair...
    assert not any(a < 100 for a, _ in got)
    # ...and the rewrite therefore leaves those docs uncut, while
    # n_hub_exempt (round 12) REPORTS the exempt positions: each
    # boilerplate doc holds exactly 6 shingle positions (20..25)
    # whose 15-token window sits fully inside the shared 20-token
    # boilerplate; the control docs hold none.
    rw = {
        r.doc: r
        for r in remove_repeated_spans(
            df, "text", "doc_id", max_block=4, count_hub_exempt=True
        ).collect()
    }
    assert all(rw[d].n_removed == 0 for d in range(1, 8))
    assert all(rw[d].n_hub_exempt == 6 for d in range(1, 8))
    assert rw[100].n_hub_exempt == 0 and rw[101].n_hub_exempt == 0
    # ...while the in-band control quote is still detected.
    assert got == {(100, 101)}

    # (b) the segment tier catches exactly what the cap exempted:
    # segment 1 (tokens 20..39) is the identical boilerplate in all 7
    # docs -> corpus-wide first-occurrence keeps 1, removes 6 (the
    # same chunking/window shape as q_dedup_segments).
    toks = tokens_expr(F.col("text"))
    nseg = F.ceil(F.size(toks) / F.lit(20)).cast("int")
    idx = F.when(nseg > 0, F.sequence(F.lit(0), nseg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        idx, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * 20 + 1, 20)))
    )
    seg = df.select("doc_id", F.posexplode(segs).alias("seg_idx", "fp"))
    rn = F.row_number().over(
        Window.partitionBy("fp").orderBy("doc_id", "seg_idx")
    )
    dup_boiler_segs = (
        seg.withColumn("rn", rn)
        .filter((F.col("doc_id") < 100) & (F.col("seg_idx") == 1)
                & (F.col("rn") > 1))
        .count()
    )
    assert dup_boiler_segs == 6


def test_substring_within_doc_repeat_not_cross_doc(spark):
    """A span repeated twice INSIDE one doc (and nowhere else) is not
    a cross-document pair — output is empty."""
    from bigdatafinalproject_hockey_spark.dedup.substring import repeated_spans

    s = " ".join(f"w{i}" for i in range(15))
    rows = [(1, f"{s} middle {s}", "en", "s", 0), (2, "unrelated text entirely", "en", "s", 0)]
    assert repeated_spans(_docs(spark, rows), "text", "doc_id").count() == 0


def test_reshard_training_invariants(spark):
    """Sequences move between training shards as UNITS (one shard per
    (lang, shard, seq_id), contiguous positions, internal doc order
    preserved), positions are dense 1..n per shard, and concatenating
    shards in shard order replays the global md5-key order."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    rows = QUERIES["reshard_training"](spark, "/root/testdata/sf0.001").collect()
    assert rows
    by_seq: dict = {}
    for r in rows:
        by_seq.setdefault((r.lang, r.shard, r.seq_id), []).append(r)
    for key, grp in by_seq.items():
        assert len({g.train_shard for g in grp}) == 1, key
        grp.sort(key=lambda g: g.shard_pos)
        positions = [g.shard_pos for g in grp]
        assert positions == list(
            range(positions[0], positions[0] + len(grp))
        ), key  # contiguous within the shard
        doc_ids = [g.doc_id for g in grp]
        assert doc_ids == sorted(doc_ids), key  # pack order preserved
    # dense 1..n positions per shard
    by_shard: dict = {}
    for r in rows:
        by_shard.setdefault(r.train_shard, []).append(r.shard_pos)
    for shard, pos in by_shard.items():
        assert sorted(pos) == list(range(1, len(pos) + 1)), shard
    assert set(by_shard) <= set(range(16))
    # shard-major concatenation == global md5-key order
    shard_major = sorted(rows, key=lambda r: (r.train_shard, r.shard_pos))
    global_md5 = sorted(
        rows, key=lambda r: (r.shard_key, r.lang, r.shard, r.seq_id, r.doc_id)
    )
    assert [r.doc_id for r in shard_major] == [r.doc_id for r in global_md5]


def test_substring_rewrite_cuts_higher_id_and_merges_overlaps(spark):
    """The apply step: the lowest-id holder keeps its text intact; a
    higher-id doc sharing overlapping spans with two different
    partners loses the MERGED interval once; an exact full-doc copy
    is emptied; untouched docs pass through with n_removed = 0."""
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        remove_repeated_spans,
    )

    w = [f"w{i}" for i in range(30)]
    full = " ".join(w)
    rows = [
        (1, " ".join(w[:20]), "en", "s", 0),     # shares w0..w19 with 3
        (2, " ".join(w[10:30]), "en", "s", 0),   # shares w10..w29 with 3
        (3, full, "en", "s", 0),                 # loses the merged w0..w29
        (4, full, "en", "s", 0),                 # exact copy of 3 -> emptied
        (5, "totally different tokens here", "en", "s", 0),
    ]
    got = {
        r.doc: r
        for r in remove_repeated_spans(
            _docs(spark, rows), "text", "doc_id"
        ).collect()
    }
    assert got[1].n_removed == 0 and got[1].clean_text == " ".join(w[:20])
    # doc 2 shares w10..w29 with doc 3 AND doc 4 (it is the lower id
    # of neither pair with 1? doc 1 < 2: overlap w10..w19 is only 10
    # tokens < 15, no span) -> doc 2 keeps its text (it is lower-id
    # vs 3 and 4).
    assert got[2].n_removed == 0
    # doc 3: loses w0..w19 (vs 1) merged with w10..w29 (vs 2) = all 30
    assert got[3].n_removed == 30 and got[3].clean_text == ""
    assert got[4].n_removed == 30 and got[4].clean_text == ""
    assert got[5].n_removed == 0
    assert got[5].clean_text == "totally different tokens here"
    assert all(g.n_tokens - g.n_removed == len(g.clean_text.split())
               if g.clean_text else g.n_tokens == g.n_removed
               for g in got.values())


def test_bpe_learn_merge_greedy_and_tiebreak(spark):
    """One BPE iteration on a constructed corpus: the argmax pair
    wins with lexicographic tiebreak, and the merge applies greedily
    left-to-right WITHOUT overlap ('aaaa' -> 'aa aa', never 'a aa a'
    or a chained re-merge)."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES
    import bigdatafinalproject_hockey_spark.queries.curation as cur

    # freq('aaaa')=1 contributes (a,a) x3; 'zb zb' gives (z,b) x2;
    # best = (a,a).
    rows = [(1, "aaaa zb zb", "en", "s", 0)]
    df = _docs(spark, rows)
    import unittest.mock as mock

    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = {r.tok: r for r in QUERIES["bpe_learn_merge"](spark, "ignored").collect()}
    assert set(got) == {"aaaa", "zb"}
    r = got["aaaa"]
    assert (r.merge_x, r.merge_y) == ("a", "a")
    assert r.segmented == "aa aa" and r.n_symbols == 2 and r.freq == 1
    assert got["zb"].segmented == "z b" and got["zb"].freq == 2

    # Tie: (a,b) and (b,a) both occur twice in 'abab' (plus one (b,a)
    # from... construct exact tie: 'ab ab ba ba' -> (a,b) x2, (b,a) x2
    # -> lexicographic winner (a,b).
    rows = [(1, "ab ab ba ba", "en", "s", 0)]
    df = _docs(spark, rows)
    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = {r.tok: r for r in QUERIES["bpe_learn_merge"](spark, "ignored").collect()}
    assert got["ab"].merge_x == "a" and got["ab"].merge_y == "b"
    assert got["ab"].segmented == "ab" and got["ab"].n_symbols == 1
    assert got["ba"].segmented == "b a"


def _py_bpe(texts, k):
    """Independent from-scratch Python BPE (Sennrich 2016 textbook
    form) — the external reference the Spark trainer/encoders are
    checked against. Shared by the learn-vocab and delta-encode
    tests."""
    import collections
    import re as _re

    toks = []
    for t in texts:
        toks += [w for w in _re.split("[^a-z0-9]+", t.lower()) if w]
    freq = collections.Counter(toks)
    segs = {w: list(w) for w in freq}
    merges = []
    for _ in range(k):
        pc = collections.Counter()
        for w, f in freq.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        assert pc, "corpus too small for the requested k"
        best = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append(best)
        for w in segs:
            segs[w] = _py_bpe_apply_merge(segs[w], *best)
    return freq, segs, merges


def _py_bpe_apply_merge(s, x, y):
    """One greedy left-to-right non-overlapping merge application —
    the Python twin of the Spark/DuckDB fold expression."""
    out = [s[0]]
    for c in s[1:]:
        if out[-1] == x and c == y:
            out[-1] = x + y
        else:
            out.append(c)
    return out


def test_bpe_learn_vocab_matches_independent_python_bpe(spark):
    """VERDICT r10 item 1's acceptance test: the k-iteration Spark
    trainer must reproduce a from-scratch Python BPE (Sennrich 2016
    textbook form — pair counts over word types, (count desc, pair)
    argmax, greedy left-to-right merge) for the FULL k on a corpus
    rich enough that later merges combine multi-char symbols."""
    import unittest.mock as mock

    from bigdatafinalproject_hockey_spark.queries import curation as cur

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the slow brown bear walks under the lazy fox",
        "lower lowest newer newest wider widest low new",
        "lower lowest newer newest low new low new",
        "the theme there then the the then there",
    ]
    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    df = _docs(spark, rows)

    freq, segs, merges = _py_bpe(texts, cur._BPE_K)
    # the corpus must actually exercise a multi-char-symbol merge
    assert any(len(x) > 1 or len(y) > 1 for x, y in merges), merges
    expect_merges = " ".join(f"{x}+{y}" for x, y in merges)

    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = {
            r.tok: r
            for r in QUERIES["bpe_learn_vocab"](spark, "ignored").collect()
        }
    assert set(got) == set(freq)
    for w in freq:
        r = got[w]
        assert r.freq == freq[w], w
        assert r.segmented == " ".join(segs[w]), (w, r.segmented, segs[w])
        assert r.n_symbols == len(segs[w])
        assert r.merges == expect_merges


def test_bpe_learn_vocab_early_stop_keeps_partial_merges(spark):
    """ADVICE r11: a corpus fully merged before k iterations must
    keep the vocabulary learned so far instead of cascading to an
    empty result. 'ab ab ab' learns one merge (a+b) and stops at the
    empty iteration-2 argmax; a pair-less corpus stops immediately
    with char segmentations and an empty merge list. The oracle's
    LEFT-join seg fallback must agree with the Spark loop's break in
    both cases."""
    import unittest.mock as mock

    import duckdb

    from bigdatafinalproject_hockey_spark.queries import curation as cur
    from tests.oracle_utils import compare_frames

    for rows, expect in [
        (
            [(1, "ab ab ab", "en", "s", 0), (2, "ab ab", "en", "s", 0)],
            {"ab": ("ab", 1, "a+b", 5)},
        ),
        (
            [(1, "a b c", "en", "s", 0)],
            {"a": ("a", 1, "", 1), "b": ("b", 1, "", 1), "c": ("c", 1, "", 1)},
        ),
    ]:
        df = _docs(spark, rows)
        with mock.patch.object(cur, "load_table", lambda *a, **k: df):
            got = {
                r.tok: r
                for r in QUERIES["bpe_learn_vocab"](
                    spark, "ignored"
                ).collect()
            }
        assert set(got) == set(expect)
        for tok, (seg, nsym, merges, freq) in expect.items():
            r = got[tok]
            assert (r.segmented, r.n_symbols, r.merges, r.freq) == (
                seg, nsym, merges, freq,
            ), (tok, r)
        # oracle agreement on the degenerate corpus (the driver only
        # ever runs real SFs; this pins the early-stop parity)
        con = duckdb.connect()
        vals = ", ".join(f"({r[0]}, 'en', '{r[1]}')" for r in rows)
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"(VALUES {vals}) t(doc_id, lang, text)"
        )
        import pandas as pd

        spark_pdf = pd.DataFrame(
            [r.asDict() for r in got.values()],
            columns=["tok", "freq", "segmented", "n_symbols", "merges"],
        )
        oracle_pdf = con.execute(
            cur._bpe_vocab_oracle(cur._BPE_K)
        ).fetchdf()
        compare_frames(spark_pdf, oracle_pdf, "bpe_learn_vocab-degenerate")


def test_filter_url_blocklist_semantics(spark):
    """Canonicalization must unify scheme/www/tracking/fragment
    variants of one page, domain blocking must hit subdomains of a
    blocked registered domain, and per-URL dedup must keep the lowest
    doc_id. Fixture arithmetic: pair g = doc_id // 2; g=0 →
    spamfarm.biz (exact block), g=3 → ads.tracker.net (subdomain
    block), others site{g}.example.com."""
    import unittest.mock as mock

    from bigdatafinalproject_hockey_spark.queries import curation as cur

    rows = [(i, "t", "en", "s", 0) for i in range(8)]
    df = _docs(spark, rows)
    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = {
            r.doc_id: r
            for r in QUERIES["filter_url_blocklist"](
                spark, "ignored"
            ).collect()
        }
    # 0,1 exact-blocked; 6,7 subdomain-blocked; pairs (2,3) and (4,5)
    # each canonicalize to one page -> lowest doc_id survives.
    assert set(got) == {2, 4}
    assert got[2].canon_url == "site1.example.com/en/article/1"
    assert got[2].domain == "example.com"
    # the odd pair member carried tracking params + no-www http —
    # same canonical page, hence dropped (not blocked).
    assert got[4].canon_url == "site2.example.com/en/article/2"


def test_tokenize_bpe_corpus_applies_learned_segmentation(spark):
    """BPE encode (round 11): applying the learned merge table must
    reproduce the independent Python BPE's segmentation at every
    corpus position, and symbol ids must follow the canonical BPE
    vocab scheme — sorted base alphabet first, then merged symbols in
    learn order (first occurrence wins on duplicates)."""
    import collections
    import re as _re
    import unittest.mock as mock

    from bigdatafinalproject_hockey_spark.queries import curation as cur

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "lower lowest newer newest wider widest low new",
        "the theme there then the the then there",
    ]
    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    df = _docs(spark, rows)

    # independent reference: learn + apply + canonical vocab ids
    toks_by_doc = [
        [w for w in _re.split("[^a-z0-9]+", t.lower()) if w] for t in texts
    ]
    freq = collections.Counter(w for ws in toks_by_doc for w in ws)
    segs = {w: list(w) for w in freq}
    merges = []
    for _ in range(cur._BPE_K):
        pc = collections.Counter()
        for w, f in freq.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        assert pc
        best = min(pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        merges.append(best)
        x, y = best
        for w in segs:
            s = segs[w]
            out = [s[0]]
            for c in s[1:]:
                if out[-1] == x and c == y:
                    out[-1] = x + y
                else:
                    out.append(c)
            segs[w] = out
    vocab_order = sorted({c for w in freq for c in w})
    for x, y in merges:
        if x + y not in vocab_order:
            vocab_order.append(x + y)
    sym_id = {s: i for i, s in enumerate(vocab_order)}

    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = QUERIES["tokenize_bpe_corpus"](spark, "ignored").collect()

    by_pos = collections.defaultdict(dict)
    for r in got:
        by_pos[(r.doc_id, r.pos)][r.sub_pos] = (r.symbol, r.sym_id)
    for d, ws in enumerate(toks_by_doc):
        for p, w in enumerate(ws):
            subs = by_pos[(d, p)]
            assert sorted(subs) == list(range(len(segs[w]))), (d, p, subs)
            syms = [subs[i][0] for i in sorted(subs)]
            assert syms == segs[w], (w, syms, segs[w])
            assert "".join(syms) == w
            for i in sorted(subs):
                assert subs[i][1] == sym_id[subs[i][0]], (subs[i], sym_id)


def test_quality_tertile_split_balanced_and_ordered(spark):
    """CCNet head/middle/tail split (round 11): per language the three
    tertiles must be equal-size (±1, ntile's floor rule), every head
    doc must score >= every tail doc of its language, and the split
    must cover each language's full doc set exactly once."""
    import collections

    import duckdb

    sf = "/root/testdata/sf0.01"
    rows = QUERIES["quality_tertile_split"](spark, sf).collect()
    n_docs = duckdb.sql(
        f"SELECT COUNT(*) FROM '{sf}/documents.parquet'"
    ).fetchone()[0]
    # token-less docs drop out of unigram scoring; corpus has none
    assert len(rows) == n_docs
    by_lang = collections.defaultdict(list)
    for r in rows:
        assert r.split == {1: "head", 2: "middle", 3: "tail"}[r.tile]
        by_lang[r.lang].append(r)
    for lang, rs in by_lang.items():
        sizes = collections.Counter(r.tile for r in rs)
        assert set(sizes) <= {1, 2, 3}
        assert max(sizes.values()) - min(sizes.values()) <= 1, (lang, sizes)
        head_min = min(r.avg_logprob for r in rs if r.tile == 1)
        tail_max = max(r.avg_logprob for r in rs if r.tile == 3)
        assert head_min >= tail_max, (lang, head_min, tail_max)


def test_bpe_fold_expression_matches_python_on_random_arrays(spark):
    """The greedy merge fold (_bpe_pair_merge_fold) is the core
    expression trick of the BPE tier — pin it against a from-scratch
    Python fold on 400 seeded-random symbol arrays, including the
    overlap case ([a,a,a] + (a,a) -> [aa,a]) and multi-char symbols,
    under a deliberately adversarial tiny alphabet."""
    import random

    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.queries.curation import (
        _bpe_pair_merge_fold,
    )

    rng = random.Random(11)
    syms = ["a", "b", "aa", "ab", "ba"]
    rows = []
    for i in range(400):
        arr = [rng.choice(syms) for _ in range(rng.randint(1, 12))]
        x, y = rng.choice(syms), rng.choice(syms)
        rows.append((i, arr, x, y))

    def py_fold(arr, x, y):
        out = [arr[0]]
        for c in arr[1:]:
            if out[-1] == x and c == y:
                out[-1] = x + y
            else:
                out.append(c)
        return out

    df = spark.createDataFrame(
        rows, "id int, seg array<string>, x string, y string"
    )
    got = {
        r.id: r.folded
        for r in df.select(
            "id", _bpe_pair_merge_fold("seg").alias("folded")
        ).collect()
    }
    for i, arr, x, y in rows:
        assert got[i] == py_fold(arr, x, y), (arr, x, y, got[i])
    # the canonical overlap case, explicitly
    one = spark.createDataFrame(
        [(0, ["a", "a", "a"], "a", "a")],
        "id int, seg array<string>, x string, y string",
    )
    assert one.select(
        _bpe_pair_merge_fold("seg").alias("f")
    ).first().f == ["aa", "a"]


def test_url_canon_expr_equivalence_classes(spark):
    """Canonicalization must unify every presentation variant of one
    page — scheme, www., tracking params, fragments, and (round-11
    hardening) host ports — while preserving path distinctions."""
    from bigdatafinalproject_hockey_spark.queries.curation import (
        url_canon_expr,
    )

    cases = [
        ("https://site.example.com/a/b", "site.example.com/a/b"),
        ("http://www.site.example.com/a/b", "site.example.com/a/b"),
        ("https://site.example.com/a/b?utm_source=x&y=2", "site.example.com/a/b"),
        ("http://site.example.com/a/b#frag", "site.example.com/a/b"),
        ("https://site.example.com:8080/a/b", "site.example.com/a/b"),
        ("https://www.site.example.com:443/a/b?q=1#f", "site.example.com/a/b"),
        # path distinctions survive
        ("https://site.example.com/a/c", "site.example.com/a/c"),
        # a colon later in the PATH is not a port
        ("https://site.example.com/a:b", "site.example.com/a:b"),
    ]
    df = spark.createDataFrame(cases, "url string, expect string")
    rows = df.select("expect", url_canon_expr("url").alias("got")).collect()
    for r in rows:
        assert r.got == r.expect, (r.got, r.expect)


def test_filter_gopher_rules_edges(spark):
    """Rule-boundary and degeneracy edges: a token-less doc emits no
    row; a doc repeating one token trips the top-token rule; a doc of
    exactly the minimum word count passes the length rule while a
    19-word doc fails it; single-token docs get dup_bigram_ratio 0
    via the left-join coalesce. Round 13 (the composite with the nine
    Table A1 repetition rules): a rendered doc (doc_id % 3 == 0)
    trips the dup rules via the appended repeat block while its
    word-count signals keep reading the RAW tokens; an UNRENDERED doc
    with a natural long repeat trips them without any fixture help;
    an unrendered all-distinct doc passes every repetition rule."""
    import unittest.mock as mock

    from bigdatafinalproject_hockey_spark.queries import curation as cur

    distinct20 = " ".join(f"word{i:02d}" for i in range(20))
    distinct19 = " ".join(f"word{i:02d}" for i in range(19))
    rows = [
        (1, "", "en", "s", 0),                      # token-less
        (2, "spam " * 30, "en", "s", 0),            # one token repeated
        (3, distinct20, "en", "s", 0),              # at floor; rendered
        (4, distinct19, "en", "s", 0),              # one under; no render
        (5, "solitary", "en", "s", 0),              # single token
        # unrendered (7 % 3 != 0) natural long repeat: a 6-token
        # phrase repeated 5x -> every dup_5..10 rule fires for real
        (7, "alpha beta gamma delta eps zeta " * 5, "en", "s", 0),
    ]
    df = _docs(spark, rows)
    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = {
            r.doc_id: r
            for r in QUERIES["filter_gopher_rules"](
                spark, "ignored"
            ).collect()
        }
    assert 1 not in got
    assert got[2].top_token_ratio == 1.0 and not got[2].r_top
    assert got[2].dup_bigram_ratio > 0.9 and not got[2].r_dupbg
    assert got[3].r_len and not got[4].r_len
    assert got[5].dup_bigram_ratio == 0.0 and got[5].r_dupbg
    assert not got[5].r_len and not got[5].keep
    # doc 3 is RENDERED (3 % 3 == 0): first 7 tokens appended 3 more
    # times -> adjacent repeats trip the dup tier, but n_words still
    # reads the raw 20 tokens (the rendering feeds only the rep leg)
    assert got[3].n_words == 20
    assert got[3].dup_5gram_ratio > 0.15 and not got[3].r_dup5
    # doc 4 is UNRENDERED and all-distinct: zero repetition mass,
    # every repetition rule passes
    assert got[4].dup_5gram_ratio == 0.0 and got[4].r_dup5
    assert got[4].top_2gram_ratio <= 0.20 and got[4].r_top2
    # doc 7 is UNRENDERED with a NATURAL long repeat: the operator
    # catches real long-range repetition without fixture help
    for n in range(5, 11):
        assert got[7][f"dup_{n}gram_ratio"] > 0.10, n
        assert not got[7][f"r_dup{n}"], n


def test_tokenize_bpe_delta_unseen_replay_matches_python(spark):
    """VERDICT r11 item 1's acceptance test: the frozen-vocab delta
    encode must (a) give SEEN word types their frozen segmentation
    via the broadcast table, flagged known_type=True, and (b) give
    UNSEEN word types the ranked-merge replay over their char-split
    seed — per-position equal to an independent Python BPE applying
    the same frozen merges — flagged known_type=False. The fixture
    (odd positions reversed) must actually contain unseen types."""
    import re as _re
    import unittest.mock as mock

    from bigdatafinalproject_hockey_spark.queries import curation as cur

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the slow brown bear walks under the lazy fox",
        "lower lowest newer newest wider widest low new",
        "lower lowest newer newest low new low new",
        "the theme there then the the then there",
    ]
    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    df = _docs(spark, rows)
    _, segs, merges = _py_bpe(texts, cur._BPE_K)

    def replay(word):
        s = list(word)
        for x, y in merges:
            s = _py_bpe_apply_merge(s, x, y)
        return s

    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = QUERIES["tokenize_bpe_delta"](spark, "ignored").collect()

    # the delta fixture takes doc_id % 7 == 0 -> only doc 0 here;
    # doc 0 also gets the out-of-alphabet 'Q' injections
    # (0 % _BPE_OOA_MOD == 0, positions pos % 5 == 2)
    toks0 = [w for w in _re.split("[^a-z0-9]+", texts[0].lower()) if w]
    delta = []
    for p, w in enumerate(toks0):
        w2 = w if p % 2 == 0 else w[::-1]
        if p % cur._BPE_OOA_POS == 2:
            w2 = "Q" + w2
        delta.append(w2)
    by_pos: dict = {}
    for r in got:
        assert r.doc_id == 0
        by_pos.setdefault(r.pos, []).append(r)
    assert set(by_pos) == set(range(len(delta)))
    unseen_checked = unk_checked = 0
    for p, w in enumerate(delta):
        rs = sorted(by_pos[p], key=lambda r: r.sub_pos)
        assert [r.sub_pos for r in rs] == list(range(len(rs)))
        syms = [r.symbol for r in rs]
        # NO DROPPED SUB-POSITIONS (VERDICT r12 item 3): every input
        # character of every delta token appears in the output, UNK
        # or not
        assert "".join(syms) == w, (p, w, syms)
        if w in segs:
            assert syms == segs[w], (w, syms, segs[w])
            assert all(r.known_type for r in rs), w
        else:
            assert syms == replay(w), (w, syms, replay(w))
            assert all(not r.known_type for r in rs), w
            unseen_checked += 1
        for r in rs:
            if "Q" in r.symbol:
                assert r.is_unk and r.sym_id == cur._BPE_UNK_ID, r
                unk_checked += 1
            else:
                assert not r.is_unk and r.sym_id >= 0, r
    assert unseen_checked >= 2, "fixture produced no unseen word types"
    assert unk_checked >= 1, "fixture produced no out-of-alphabet symbol"
    # the per-doc UNK counter equals the count of UNK rows
    n_unk = sum(1 for rs in by_pos.values() for r in rs if r.is_unk)
    assert all(
        r.n_unk == n_unk for rs in by_pos.values() for r in rs
    )
    # a SEEN type replayed through the frozen merges must reproduce
    # its frozen segmentation (the memoization is not a semantic fork)
    for w in segs:
        assert replay(w) == segs[w], w


def test_url_canon_port_strip_is_path_anchored(spark):
    """ADVICE r11: the port-strip step must only fire when the digits
    run to a path boundary — 'host:8080abc/x' is a malformed
    authority, not host 'hostabc', and must keep its colon (staying a
    DISTINCT canonical URL) in BOTH engines."""
    import duckdb

    from bigdatafinalproject_hockey_spark.queries.curation import (
        url_canon_expr,
    )

    cases = {
        "https://host:8080/x": "host/x",
        "http://www.host:8080": "host",
        "https://host:8080abc/x": "host:8080abc/x",
        "https://host:80a/b": "host:80a/b",
        "https://host:80/90": "host/90",
        "https://host/x?utm=1#f": "host/x",
    }
    df = spark.createDataFrame(
        [(u,) for u in cases], "url string"
    ).select("url", url_canon_expr("url").alias("canon"))
    got = {r.url: r.canon for r in df.collect()}
    assert got == cases
    sql = (
        "SELECT regexp_replace(regexp_replace(regexp_replace("
        "regexp_replace(url, '^https?://', ''), '^www\\.', ''),"
        " '[?#].*$', ''), '^([^/:]+):[0-9]+(/|$)', '\\1\\2') FROM u"
    )
    con = duckdb.connect()
    for u, want in cases.items():
        con.execute(f"CREATE OR REPLACE VIEW u AS SELECT '{u}' AS url")
        assert con.execute(sql).fetchone()[0] == want, u


def test_tertile_split_per_lang_lm_differs_from_global():
    """VERDICT r11 item 6's acceptance test: scoring each language
    with ITS OWN unigram LM (the faithful CCNet shape) must actually
    move tertile assignments relative to the round-11 corpus-global
    LM — a token common in one language but rare corpus-wide scores
    differently under its own LM. Pure-DuckDB check on the driver
    corpus (no JVM)."""
    import duckdb

    from bigdatafinalproject_hockey_spark.queries.curation import (
        _UNIGRAM_CTES,
        _unigram_lang_ctes,
    )

    tail = """
    SELECT doc_id, CAST(tile AS INTEGER) AS tile
    FROM (SELECT *, NTILE(3) OVER (
            PARTITION BY lang ORDER BY avg_logprob DESC, doc_id
          ) AS tile FROM {scored})
    """
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        "'/root/testdata/sf0.001/documents.parquet'"
    )
    g = dict(con.execute(_UNIGRAM_CTES + tail.format(scored="scored")).fetchall())
    p = dict(
        con.execute(
            "WITH " + _unigram_lang_ctes("documents")
            + tail.format(scored="qscored")
        ).fetchall()
    )
    assert set(g) == set(p)  # same docs scored either way
    moved = sum(1 for d in g if g[d] != p[d])
    assert moved > 0, "per-lang LM did not move any tertile"


def test_repetition_ngram_profile_matches_python_reference(spark):
    """Round 12: the multi-n repetition profile must match an
    independent per-doc Python computation on constructed docs that
    exercise the NONZERO side of every signal (the synthetic driver
    corpus has no duplicated n>=5-grams, so dup_5..10 are 0.0 there
    by honest measurement — this pins that the operator would catch
    real long-range repetition)."""
    import collections
    import unittest.mock as mock

    from bigdatafinalproject_hockey_spark.queries import curation as cur

    rows = [
        # a 6-token phrase repeated 3x -> dup mass at every n up to 6
        (1, "alpha beta gamma delta eps zeta " * 3, "en", "s", 0),
        # all-unique tokens -> every dup signal exactly 0
        (2, " ".join(f"u{i}" for i in range(12)), "en", "s", 0),
        # one dominant bigram -> top_2gram large, dup_5.. still > 0?
        (3, "x y x y x y x y tail1 tail2", "en", "s", 0),
    ]

    def py_profile(text):
        tk = [w for w in text.lower().split() if w]
        n_chars = sum(len(w) for w in tk)
        out = {"n_chars": n_chars}
        for n in range(2, 11):
            grams = [
                " ".join(tk[p:p + n]) for p in range(len(tk) - n + 1)
            ]
            cnt = collections.Counter(grams)
            gch = lambda g: len(g) - (n - 1)  # noqa: E731
            # ADVICE r12: the MOST FREQUENT gram's char mass (argmax
            # by count; ties -> larger char mass, then greatest gram)
            best = max(
                ((c, gch(g), g) for g, c in cnt.items()), default=None
            )
            top = best[0] * best[1] if best else 0
            dup = sum(c * gch(g) for g, c in cnt.items() if c > 1)
            if n in (2, 3, 4):
                out[f"top_{n}gram_ratio"] = round(top / n_chars, 6)
            if n >= 5:
                out[f"dup_{n}gram_ratio"] = round(dup / n_chars, 6)
        return out

    df = _docs(spark, rows)
    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = {
            r.doc_id: r.asDict()
            for r in QUERIES["text_repetition_ngram_profile"](
                spark, "ignored"
            ).collect()
        }
    assert set(got) == {1, 2, 3}
    for doc_id, text, *_ in rows:
        expect = py_profile(text)
        for k, v in expect.items():
            assert abs(got[doc_id][k] - v) < 1e-9, (doc_id, k, got[doc_id][k], v)
    # the fixture really exercises the nonzero side of the dup tier
    assert got[1]["dup_5gram_ratio"] > 0 and got[1]["dup_6gram_ratio"] > 0
    assert all(got[2][f"dup_{n}gram_ratio"] == 0.0 for n in range(5, 11))
    assert got[3]["top_2gram_ratio"] > 0.3


def test_bpe_vocab_extend_frozen_prefix_and_continued_learning(spark):
    """Round 12: vocabulary extension must (a) keep the day-0 merges
    as an untouched PREFIX of the merge list, (b) seed every union
    word type with the frozen-merge segmentation (seen types = the
    trained segs, unseen types = the replay), with freqs ADDING for
    types present in both corpora, and (c) learn the continuation
    merges exactly as an independent Python BPE continuing from the
    same state."""
    import collections
    import re as _re
    import unittest.mock as mock

    from bigdatafinalproject_hockey_spark.queries import curation as cur

    texts = [
        "the quick brown fox jumps over the lazy dog",
        "the slow brown bear walks under the lazy fox",
        "lower lowest newer newest wider widest low new",
        "lower lowest newer newest low new low new",
        "the theme there then the the then there",
    ]
    rows = [(i, t, "en", "s", 0) for i, t in enumerate(texts)]
    df = _docs(spark, rows)
    base_freq, _, merges8 = _py_bpe(texts, cur._BPE_K)

    # the shared delta fixture: doc 0, odd positions reversed, plus
    # the round-13 out-of-alphabet 'Q' injections at pos % 5 == 2
    toks0 = [w for w in _re.split("[^a-z0-9]+", texts[0].lower()) if w]
    delta = []
    for p, w in enumerate(toks0):
        w2 = w if p % 2 == 0 else w[::-1]
        if p % cur._BPE_OOA_POS == 2:
            w2 = "Q" + w2
        delta.append(w2)
    union_freq = collections.Counter(base_freq)
    union_freq.update(delta)

    # seed: frozen merges replayed over every union type
    segs = {}
    for w in union_freq:
        s = list(w)
        for x, y in merges8:
            s = _py_bpe_apply_merge(s, x, y)
        segs[w] = s
    # continued learning, k2 more merges
    merges = list(merges8)
    for _ in range(cur._BPE_EXT_K):
        pc = collections.Counter()
        for w, f in union_freq.items():
            s = segs[w]
            for a, b in zip(s, s[1:]):
                pc[(a, b)] += f
        assert pc
        best = min(
            pc.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
        )[0]
        merges.append(best)
        for w in segs:
            segs[w] = _py_bpe_apply_merge(segs[w], *best)
    expect_merges = " ".join(f"{x}+{y}" for x, y in merges)
    # the continuation must actually add merges beyond the frozen 8
    assert len(merges) == cur._BPE_K + cur._BPE_EXT_K

    with mock.patch.object(cur, "load_table", lambda *a, **k: df):
        got = {
            r.tok: r
            for r in QUERIES["bpe_vocab_extend"](spark, "ignored").collect()
        }
    assert set(got) == set(union_freq)
    for w, f in union_freq.items():
        r = got[w]
        assert r.freq == f, (w, r.freq, f)
        assert r.segmented == " ".join(segs[w]), (w, r.segmented, segs[w])
        assert r.n_symbols == len(segs[w])
        assert r.merges == expect_merges
        assert r.n_frozen == cur._BPE_K
    # frozen-prefix property, explicitly: the extension's first 8
    # merges equal the day-0 list verbatim
    assert expect_merges.split(" ")[: cur._BPE_K] == [
        f"{x}+{y}" for x, y in merges8
    ]
