"""Corpus-curation queries, round 2 of the training-data surface:
unigram-LM quality scoring, benchmark-contamination checking, TF-IDF
keyword extraction, segment-level dedup, PII scrubbing, grouped
correlation stats, a streaming session-window aggregate, and an ORC
round-trip.

Like queries/extensions.py these go beyond the reference's own
operators (SURVEY.md §2.15a); every query here is DuckDB
oracle-checked. All token handling shares functions.text.tokens_expr
so Spark and the oracle tokenize identically.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark import sidecar
from bigdatafinalproject_hockey_spark.catalog import SCHEMAS, load_table
from bigdatafinalproject_hockey_spark.dedup.exact import dedup_incremental
from bigdatafinalproject_hockey_spark.dedup.minhash import shingles_expr
from bigdatafinalproject_hockey_spark.functions.numeric import cents_expr, round6
from bigdatafinalproject_hockey_spark.functions.hashing import (
    portable_hash64_expr,
    portable_hash64_sql,
    splitmix64,
)
from bigdatafinalproject_hockey_spark.functions.text import (
    bigrams_expr,
    md5_fingerprint_expr,
    tokens_expr,
    tokens_sql,
)
from bigdatafinalproject_hockey_spark.operators.grouped import pack_sequences
from bigdatafinalproject_hockey_spark.operators.windows import topk_per_group
from bigdatafinalproject_hockey_spark.queries.base import register


# ---------------------------------------------------------------------------
# unigram language-model quality score
# ---------------------------------------------------------------------------


# Corpus-GLOBAL unigram-LM scoring CTEs (text_unigram_logprob's
# oracle). quality_tertile_split used these until round 12, when it
# moved to the faithful per-language LMs (_unigram_lang_ctes below).
_UNIGRAM_CTES = f"""
    WITH tk AS (
      SELECT doc_id, lang, unnest({tokens_sql("text")}) AS token
      FROM documents
    ),
    v AS (SELECT token, COUNT(*) AS tf FROM tk GROUP BY token),
    tot AS (SELECT SUM(tf) AS corpus_n FROM v),
    vw AS (
      SELECT token, log10(tf / CAST(corpus_n AS DOUBLE)) AS logp
      FROM v CROSS JOIN tot
    ),
    scored AS (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(AVG(logp), 6) AS avg_logprob
      FROM tk JOIN vw USING (token)
      GROUP BY doc_id, lang
    )"""


@register(
    "text_unigram_logprob",
    oracle=_UNIGRAM_CTES
    + """
    SELECT doc_id, n_tokens, avg_logprob FROM scored
    """,
)
def q_text_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-pass corpus unigram LM (the KenLM-perplexity stand-in of
    CCNet-style quality filters): pass 1 builds the vocabulary with
    corpus-wide token frequencies, pass 2 scores each document by its
    mean log10 unigram probability. The vocabulary is tiny relative to
    the corpus (heavy-tailed), so it broadcasts — the scoring join is
    map-side, and the only shuffles are the two hash aggregations.
    Token-less documents drop out (no tokens to score)."""
    docs = load_table(spark, "documents", sf_dir)
    tk = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    vocab = tk.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    tot = vocab.agg(F.sum("tf").alias("corpus_n"))
    vw = vocab.crossJoin(F.broadcast(tot)).select(
        "token",
        F.log10(F.col("tf") / F.col("corpus_n").cast("double")).alias("logp"),
    )
    return tk.join(F.broadcast(vw), "token").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_tokens"),
        round6(F.avg("logp")).alias("avg_logprob"),
    )


# Per-LANGUAGE unigram-LM scoring CTEs (round 12, VERDICT r11
# item 6): CCNet trains one LM per language, so the vocabulary,
# normalizer, and scoring join are all keyed by (lang, token) — the
# faithful shape the round-11 corpus-global LM approximated.


def _unigram_lang_ctes(src: str) -> str:
    """Per-language unigram-LM scoring CTEs over a ``(doc_id, lang,
    text)`` relation ``src`` — parameterized (round 13, VERDICT r12
    item 1) so the standalone tertile oracles and the composed
    ``pipeline_web_to_shards`` quality-mix stage share one
    definition. Ends with ``qscored``. No leading comma."""
    return f"""qtk AS (
      SELECT doc_id, lang, unnest({tokens_sql("text")}) AS token
      FROM {src}
    ),
    qv AS (
      SELECT lang, token, COUNT(*) AS tf FROM qtk GROUP BY lang, token
    ),
    qtot AS (SELECT lang, SUM(tf) AS lang_n FROM qv GROUP BY lang),
    qvw AS (
      SELECT qv.lang, qv.token,
             log10(tf / CAST(lang_n AS DOUBLE)) AS logp
      FROM qv JOIN qtot USING (lang)
    ),
    qscored AS (
      SELECT doc_id, lang,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             ROUND(AVG(logp), 6) AS avg_logprob
      FROM qtk JOIN qvw USING (lang, token)
      GROUP BY doc_id, lang
    )"""


def _tertile_ctes() -> str:
    """The CCNet per-language NTILE(3) split over ``qscored`` —
    ends with ``qtiled``. No leading comma."""
    return """qtiled AS (
      SELECT doc_id, lang, n_tokens, avg_logprob,
             CAST(tile AS INTEGER) AS tile,
             CASE tile WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
                       ELSE 'tail' END AS split
      FROM (
        SELECT *, NTILE(3) OVER (
          PARTITION BY lang ORDER BY avg_logprob DESC, doc_id
        ) AS tile
        FROM qscored
      )
    )"""


@register(
    "quality_tertile_split",
    oracle=f"""
    WITH {_unigram_lang_ctes("documents")},
    {_tertile_ctes()}
    SELECT doc_id, lang, n_tokens, avg_logprob, tile, split FROM qtiled
    """,
)
def q_quality_tertile_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split (round 11; per-language LMs
    round 12, VERDICT r11 item 6; Wenzek et al. 2019, public method)
    — the perplexity-bucketed partitioning that pipeline made
    standard: score every document with ITS LANGUAGE'S unigram LM
    (CCNet trains one KenLM per language — the vocabulary, the
    normalizer, and the scoring join are all keyed by (lang, token)),
    then split each language into equal-size tertiles by score (best
    third = 'head', then 'middle', 'tail'); downstream training mixes
    sample tertiles at different rates instead of hard-thresholding.
    A doc's tertile CAN differ from the round-11 corpus-global
    scoring (pinned by test) — a token common in one language but
    rare corpus-wide scores differently under its own LM.

    Shape: the per-lang LM costs the same plan as the global one —
    two hash aggregations now keyed by (lang, token) / lang, and the
    scoring join stays map-side because the union of per-language
    vocabularies is still vocabulary-class (broadcast); the split
    adds ONE ntile window partitioned by lang over the doc-level
    score table (metadata-width rows — ids, counts, one double —
    never text). Deterministic: scores are rounded to 6 dp and the
    window orders by (score desc, doc_id), so tile boundaries are
    total-ordered; ntile's extra-row rule is the standard floor
    distribution both engines share → full value-hash oracle from
    the per-lang CTEs."""
    docs = load_table(spark, "documents", sf_dir)
    return _tertile_tiled(docs)


def _tertile_tiled(docs: DataFrame) -> DataFrame:
    """The CCNet per-language tertile table (doc_id, lang, n_tokens,
    avg_logprob, tile, split) — shared by ``quality_tertile_split``
    (emits it) and ``sample_tertile_mix`` (samples from it)."""
    tk = docs.select(
        "doc_id", "lang", F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    vocab = tk.groupBy("lang", "token").agg(F.count(F.lit(1)).alias("tf"))
    tot = vocab.groupBy("lang").agg(F.sum("tf").alias("lang_n"))
    vw = vocab.join(F.broadcast(tot), "lang").select(
        "lang",
        "token",
        F.log10(F.col("tf") / F.col("lang_n").cast("double")).alias("logp"),
    )
    scored = (
        tk.join(F.broadcast(vw), ["lang", "token"])
        .groupBy("doc_id", "lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            round6(F.avg("logp")).alias("avg_logprob"),
        )
    )
    w = Window.partitionBy("lang").orderBy(
        F.desc("avg_logprob"), F.asc("doc_id")
    )
    tile = F.ntile(3).over(w)
    return scored.select(
        "doc_id",
        "lang",
        "n_tokens",
        "avg_logprob",
        tile.cast("int").alias("tile"),
        F.when(tile == 1, "head")
        .when(tile == 2, "middle")
        .otherwise("tail")
        .alias("split"),
    )


# Rae et al. 2021 Table A1 repetition-signal family: top-n-gram
# character mass for n=2..4, duplicate-n-gram character mass for
# n=5..10 — the full profile the paper's 9 repetition rules read.
_REP_TOP_NS = (2, 3, 4)
_REP_DUP_NS = (5, 6, 7, 8, 9, 10)


def _rep_cte_sql(src: str) -> str:
    """The Rae Table A1 repetition-signal CTE chain over a
    ``(doc_id, tk)`` token-array relation ``src`` — the DuckDB twin
    of :func:`_rep_ratio_frame`, parameterized over its source so the
    standalone profile oracle and the composed ``filter_gopher_rules``
    / pipeline oracles share one definition. No leading comma; ends
    with the ``rep`` CTE (doc_id, n_chars, nine ratio columns).

    Top-gram selection (ADVICE r12): the MOST FREQUENT n-gram —
    argmax by (cnt, then char mass, then lexicographically greatest
    gram; ``MAX`` over a struct, the same lexicographic struct
    ordering Spark's ``max(struct(...))`` uses) — reporting THAT
    gram's character mass, per the paper's definition; round 12
    reported the max of cnt·gchars over all grams, which can pick a
    longer but less frequent gram."""
    top_pick = "MAX(struct_pack(c := cnt, gc := gchars, g := g))"
    top_cols = ",\n           ".join(
        f"ROUND(COALESCE(SUM(CASE WHEN s.n = {n} THEN s.top_mass END), 0)"
        f" / CAST(ANY_VALUE(rpt.n_chars) AS DOUBLE), 6)"
        f" AS top_{n}gram_ratio"
        for n in _REP_TOP_NS
    )
    dup_cols = ",\n           ".join(
        f"ROUND(COALESCE(SUM(CASE WHEN s.n = {n} THEN s.dup_mass END), 0)"
        f" / CAST(ANY_VALUE(rpt.n_chars) AS DOUBLE), 6)"
        f" AS dup_{n}gram_ratio"
        for n in _REP_DUP_NS
    )
    return f"""rpt AS (
      SELECT doc_id, tk,
             CAST(list_sum(list_transform(tk, x -> len(x))) AS BIGINT)
               AS n_chars
      FROM {src}
    ),
    rpx AS (
      SELECT doc_id, n,
             unnest(list_transform(
               range(0, greatest(len(tk) - n + 1, 0)),
               p -> array_to_string(tk[p+1 : p+n], ' '))) AS g
      FROM rpt CROSS JOIN (SELECT unnest(range(2, 11)) AS n) ns
    ),
    rpg AS (
      SELECT doc_id, n, g, len(g) - (n - 1) AS gchars, COUNT(*) AS cnt
      FROM rpx GROUP BY doc_id, n, g
    ),
    rps AS (
      SELECT doc_id, n,
             ({top_pick}).c * ({top_pick}).gc AS top_mass,
             SUM(CASE WHEN cnt > 1 THEN cnt * gchars ELSE 0 END)
               AS dup_mass
      FROM rpg GROUP BY doc_id, n
    ),
    rep AS (
      SELECT rpt.doc_id, rpt.n_chars,
             {top_cols},
             {dup_cols}
      FROM rpt LEFT JOIN rps s ON rpt.doc_id = s.doc_id
      WHERE rpt.n_chars > 0
      GROUP BY rpt.doc_id, rpt.n_chars
    )"""


def _rep_ratio_frame(tkdf: DataFrame) -> DataFrame:
    """Per-document Rae Table A1 repetition profile over a
    ``(doc_id, tk: array<string>)`` frame — the Spark twin of
    :func:`_rep_cte_sql`, shared by ``text_repetition_ngram_profile``
    (raw corpus tokens) and ``filter_gopher_rules`` (the long-repeat
    rendering). Top-gram selection: the most frequent n-gram, ties
    broken by larger char mass then lexicographically greatest gram
    (``max`` over a struct — the identical lexicographic struct
    ordering DuckDB's ``MAX(struct_pack(...))`` applies), reporting
    that gram's character mass (ADVICE r12)."""
    t = tkdf.select(
        "doc_id",
        "tk",
        F.aggregate(
            "tk", F.lit(0).cast("long"), lambda a, x: a + F.length(x)
        ).alias("n_chars"),
    ).filter(F.col("n_chars") > 0)

    # all 9 gram arrays from one chained zip_with sweep
    arrs = []
    acc = F.col("tk")
    size = F.size("tk")
    for k in range(1, max(_REP_DUP_NS)):
        shifted = F.slice(
            "tk", k + 1, F.greatest(size - k, F.lit(0))
        )
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
        n = k + 1
        arrs.append(
            F.struct(
                F.lit(n).alias("n"),
                F.when(
                    size >= n, F.slice(acc, 1, size - (n - 1))
                ).otherwise(F.array().cast("array<string>")).alias("gs"),
            )
        )
    ex = (
        t.select("doc_id", F.explode(F.array(*arrs)).alias("p"))
        .select("doc_id", F.col("p.n").alias("n"), F.explode("p.gs").alias("g"))
    )
    grams = ex.groupBy("doc_id", "n", "g").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    gchars = F.length("g") - (F.col("n") - 1)
    top_pick = F.max(
        F.struct(
            F.col("cnt").alias("c"), gchars.alias("gc"), F.col("g").alias("g")
        )
    )
    stats = grams.groupBy("doc_id", "n").agg(
        (top_pick.getField("c") * top_pick.getField("gc")).alias("top_mass"),
        F.sum(
            F.when(F.col("cnt") > 1, F.col("cnt") * gchars).otherwise(0)
        ).alias("dup_mass"),
    )
    nc = F.col("n_chars").cast("double")
    ratio_cols = [
        round6(
            F.coalesce(
                F.sum(F.when(F.col("n") == n, F.col("top_mass"))), F.lit(0)
            )
            / nc
        ).alias(f"top_{n}gram_ratio")
        for n in _REP_TOP_NS
    ] + [
        round6(
            F.coalesce(
                F.sum(F.when(F.col("n") == n, F.col("dup_mass"))), F.lit(0)
            )
            / nc
        ).alias(f"dup_{n}gram_ratio")
        for n in _REP_DUP_NS
    ]
    return (
        t.select("doc_id", "n_chars")
        .join(stats, "doc_id", "left")
        .groupBy("doc_id", "n_chars")
        .agg(*ratio_cols)
    )


@register(
    "text_repetition_ngram_profile",
    oracle=f"""
    WITH rtk0 AS (
      SELECT doc_id, {tokens_sql("text")} AS tk FROM documents
    ),
    {_rep_cte_sql("rtk0")}
    SELECT * FROM rep
    """,
)
def q_text_repetition_ngram_profile(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The FULL Gopher repetition-signal family (round 12; Rae et al.
    2021 Table A1, public method) — the nine n-gram repetition
    signals the paper's rule battery reads, as one per-doc profile:
    the character mass of the single most frequent n-gram for
    n ∈ {2,3,4} (``top_ngram_ratio``) and the character mass of
    all duplicated n-grams for n ∈ {5..10} (``dup_ngram_ratio``),
    each over the doc's total token characters. This extends
    ``text_repetition_score`` (dup tokens + top token = the n=1 row
    of the family) and the ``filter_gopher_rules`` dup-BIGRAM rule to
    the paper's full range; a profile, not a verdict battery — on
    the synthetic driver corpus the dup_5..10 signals are genuinely
    0.0 for every doc (no long repeated runs), so verdict columns
    would be vacuous there; the constructed-doc unit test pins the
    nonzero side of every signal.

    Scale shape — ONE multi-n pass, not nine: the 9 gram arrays are
    built in a single chained zip_with sweep (array n reuses array
    n-1's prefix concat — O(tokens · n_max) scan-local work, the
    shingles_expr discipline, no per-position slicing), exploded
    once as (n, gram) rows; the shuffle carries (doc, n, gram)
    COUNTS with map-side combine, never text; per-(doc,n) stats
    roll up on the same key family and pivot to columns with
    conditional aggregates (literal n values — no second pass to
    discover pivot keys); n_chars is a pure array fold on the scan.
    Round 13 (ADVICE r12): the top-n-gram signal now reports the
    character mass of the MOST FREQUENT n-gram (argmax by count,
    deterministic struct-ordering tiebreak — see
    :func:`_rep_ratio_frame`), the paper's definition; round 12
    reported max(cnt·gchars), which a longer-but-rarer gram could
    win. Full value-hash oracle (6-dp-rounded ratios)."""
    docs = load_table(spark, "documents", sf_dir)
    return _rep_ratio_frame(
        docs.select("doc_id", tokens_expr(F.col("text")).alias("tk"))
    )


# CCNet tertile-rate sampling: head kept whole, middle at 1/2, tail
# at 1/8 — the mix shape Wenzek et al. 2019 describe (rates are the
# tunable; these exercise both sides of every sampled tier at the
# driver SFs).
_TERTILE_RATES = (1.0, 0.5, 0.125)


def _tertile_mix_ctes() -> str:
    """The tertile-rate Bernoulli filter over ``qtiled`` — ends with
    ``qmix`` (doc_id, lang, tile, split). No leading comma."""
    return f"""qmix AS (
      SELECT doc_id, lang, tile, split FROM qtiled
      WHERE CAST(({portable_hash64_sql(
          "CAST(doc_id AS VARCHAR) || ':tertile'")} >> 11) AS DOUBLE)
            / 9007199254740992.0
            < (CASE tile WHEN 1 THEN {_TERTILE_RATES[0]}
                         WHEN 2 THEN {_TERTILE_RATES[1]}
                         ELSE {_TERTILE_RATES[2]} END)
    )"""


def _tertile_mix_frame(docs: DataFrame) -> DataFrame:
    """The CCNet tertile-rate mix over a ``(doc_id, lang, text)``
    frame — the Spark twin of ``_unigram_lang_ctes`` + ``_tertile_ctes``
    + ``_tertile_mix_ctes``, shared by ``sample_tertile_mix`` and the
    composed ``pipeline_web_to_shards`` quality-mix stage."""
    from bigdatafinalproject_hockey_spark.operators import (
        sampling as sample_ops,
    )

    tiled = _tertile_tiled(docs)
    u = sample_ops.deterministic_uniform_expr("doc_id", ":tertile")
    rate = (
        F.when(F.col("tile") == 1, F.lit(_TERTILE_RATES[0]))
        .when(F.col("tile") == 2, F.lit(_TERTILE_RATES[1]))
        .otherwise(F.lit(_TERTILE_RATES[2]))
    )
    return tiled.filter(u < rate).select("doc_id", "lang", "tile", "split")


@register(
    "sample_tertile_mix",
    oracle=f"""
    WITH {_unigram_lang_ctes("documents")},
    {_tertile_ctes()},
    {_tertile_mix_ctes()}
    SELECT doc_id, lang, tile, split FROM qmix
    """,
)
def q_sample_tertile_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet tertile-rate sampling (round 12) — the step AFTER
    ``quality_tertile_split`` that actually builds the training mix
    (Wenzek et al. 2019, public method): instead of hard-thresholding
    on quality, keep the head tertile whole and downsample middle/tail
    at fixed rates (1/2 and 1/8 here), so lower-quality text stays
    represented without dominating. The Bernoulli draw is the
    engine-portable deterministic hash of doc_id (the
    ``sample_stratified`` discipline — reproducible across engines,
    stable under retries/repartitioning, no RNG seed plumbing), so
    the op carries a full value-hash oracle.

    Shape: the shared per-language tertile table
    (``_tertile_tiled``) plus ONE scan-local filter — the rate is a
    pure column expression over (tile, hash(doc_id)); no new
    exchange beyond the tertile window's. Also composed, with the
    same shared helpers, into ``pipeline_web_to_shards`` (round 13)."""
    docs = load_table(spark, "documents", sf_dir)
    return _tertile_mix_frame(docs)


_SQL_BIGRAMS = (
    "CASE WHEN len({t}) >= 2 THEN "
    "list_transform(range(1, len({t})), "
    "i -> concat_ws(' ', {t}[i], {t}[i+1])) "
    "ELSE [] END"
)


# Gopher-style rule thresholds (Rae et al. 2021 Table A1 structure,
# bounds scaled to this corpus's length regime so every rule's both
# sides are exercised at the driver SFs — the paper's 50-word floor
# would cut most synthetic docs).
_GOPHER_MIN_WORDS, _GOPHER_MAX_WORDS = 20, 100_000
_GOPHER_MIN_MWL, _GOPHER_MAX_MWL = 3.0, 10.0
_GOPHER_MAX_TOP = 0.125
_GOPHER_MAX_DIGIT = 0.2
_GOPHER_MAX_DUPBG = 0.1
# Line-level rule battery (round 12, VERDICT r11 item 5 — the rest of
# Table A1): bullet-line share, ellipsis-line share, symbol-to-word
# ratio ('#' and '…' characters), and required stop-word presence.
# The raw corpus has no line structure or punctuation, so the line
# rules run over a deterministic LINE RENDERING of each document (the
# html/url fixture precedent): tokens wrap at _GOPHER_LINE_W per
# line, and doc_id-keyed periods decorate lines with '- ' bullets,
# '# ' symbols, and ' ...' ellipses so every rule sees real per-doc
# variance. Thresholds are corpus-scaled like the ones above (the
# paper's 90%/30% line rules keep their spirit; the symbol bound is
# scaled to the 1-hash-per-line fixture density); the stop-word list
# is the corpus's function words plus two absent ones so presence
# actually splits docs (sf0.01: 317 of 500 contain >= 2).
_GOPHER_LINE_W = 8
_GOPHER_MAX_BULLET = 0.9
_GOPHER_MAX_ELLIPSIS = 0.3
_GOPHER_MAX_SYMBOL = 0.028
_GOPHER_MIN_STOP = 2
_GOPHER_STOPWORDS = ("a", "the", "of", "and")


# Rae et al. 2021 Table A1 repetition-rule thresholds — the paper's
# PUBLISHED values, usable verbatim here (unlike the corpus-scaled
# bounds above) because the long-repeat RENDERING below, not the
# thresholds, is what guarantees both sides of every rule fire on the
# synthetic corpus: every third document (doc_id % _GOPHER_REP_MOD
# == 0) has its first 4 + doc_id % 8 tokens appended again
# 2 + (doc_id % 9) // 3 times — an adjacent repeated block, the shape
# real boilerplate/spam repetition has (the line-rendering precedent;
# measured at sf0.01: 46-218 of 500 docs fail per rule, none
# vacuous). The rendering feeds ONLY the repetition leg — word-count
# /top-token/digit/stop-word signals keep reading the raw tokens,
# exactly as the line rendering feeds only the line rules.
_GOPHER_REP_MOD = 3
_GOPHER_REP_MAX = {
    "top_2gram_ratio": 0.20,
    "top_3gram_ratio": 0.18,
    "top_4gram_ratio": 0.16,
    "dup_5gram_ratio": 0.15,
    "dup_6gram_ratio": 0.14,
    "dup_7gram_ratio": 0.13,
    "dup_8gram_ratio": 0.12,
    "dup_9gram_ratio": 0.11,
    "dup_10gram_ratio": 0.10,
}


def _rep_rule_name(col: str) -> str:
    """Verdict column for a repetition signal:
    ``top_2gram_ratio`` -> ``r_top2``; ``dup_10gram_ratio`` -> ``r_dup10``."""
    kind, gram, _ = col.split("_")
    return f"r_{kind}{gram[:-4]}"


def _gopher_rep_tokens_sql(src: str) -> str:
    """The long-repeat rendering as a CTE (``grend``) over a
    ``(doc_id, text)`` relation — the DuckDB twin of the rendering in
    :func:`_gopher_frame`; shared constants above."""
    toks = tokens_sql("text")
    return f"""grend AS (
      SELECT doc_id,
             CASE WHEN doc_id % {_GOPHER_REP_MOD} = 0 THEN
               tk || flatten(list_transform(
                 range(0, 2 + (doc_id % 9) // 3),
                 i -> tk[1 : 4 + doc_id % 8]))
             ELSE tk END AS tk
      FROM (SELECT doc_id, {toks} AS tk FROM {src})
    )"""


def _gopher_ctes(
    src: str,
    *,
    max_ellipsis: float = _GOPHER_MAX_ELLIPSIS,
    max_symbol: float = _GOPHER_MAX_SYMBOL,
    min_stop: int = _GOPHER_MIN_STOP,
) -> str:
    """The full Gopher rule battery as CTEs over a ``(doc_id, text)``
    relation ``src`` — parameterized (round 13, VERDICT r12 item 1)
    so the standalone ``filter_gopher_rules`` oracle and the composed
    ``pipeline_web_to_shards`` oracle share one definition. CTE names
    are g-prefixed to compose without collisions; the chain ends with
    the ``gopher`` CTE (every signal, every rule verdict, and the
    composite ``keep``). No leading comma.

    The three keyword thresholds are the corpus-tuned knobs (the
    ``_DECON_WEB_MAX_RATIO`` precedent): the composed pipeline scores
    EXTRACTED text, whose line-rendering densities and stop-word
    frequencies differ from the raw corpus, so it passes its own
    bounds (``_GOPHER_WEB_*`` at the pipeline) while every other
    rule — including all nine Rae repetition thresholds — keeps the
    shared constants verbatim."""
    toks = tokens_sql("text")
    stop_list = ", ".join(f"'{w}'" for w in _GOPHER_STOPWORDS)
    rep_sigs = ",\n             ".join(f"r.{c}" for c in _GOPHER_REP_MAX)
    rep_rules = ",\n             ".join(
        f"({c} <= {t}) AS {_rep_rule_name(c)}"
        for c, t in _GOPHER_REP_MAX.items()
    )
    rep_keep = "\n              AND ".join(
        f"{c} <= {t}" for c, t in _GOPHER_REP_MAX.items()
    )
    return f"""gtkx AS (
      SELECT doc_id, unnest({toks}) AS token
      FROM {src}
    ),
    gcx AS (
      SELECT doc_id, token, COUNT(*) AS cnt
      FROM gtkx GROUP BY doc_id, token
    ),
    gtstats AS (
      SELECT doc_id,
             CAST(SUM(cnt) AS BIGINT) AS n_words,
             ROUND(SUM(cnt * len(token)) / CAST(SUM(cnt) AS DOUBLE), 6)
               AS mean_word_len,
             ROUND(MAX(cnt) / CAST(SUM(cnt) AS DOUBLE), 6)
               AS top_token_ratio,
             ROUND(SUM(CASE WHEN regexp_matches(token, '[0-9]')
                            THEN cnt ELSE 0 END)
                   / CAST(SUM(cnt) AS DOUBLE), 6) AS digit_token_ratio,
             CAST(SUM(CASE WHEN token IN ({stop_list})
                      THEN 1 ELSE 0 END) AS INTEGER) AS n_stop_words
      FROM gcx GROUP BY doc_id
    ),
    gbgx AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS.format(t="tk2")}) AS b
      FROM (SELECT doc_id, {toks} AS tk2 FROM {src})
    ),
    gbcx AS (
      SELECT doc_id, b, COUNT(*) AS cnt FROM gbgx GROUP BY doc_id, b
    ),
    gbtx AS (
      SELECT doc_id,
             ROUND(1.0 - COUNT(*) / CAST(SUM(cnt) AS DOUBLE), 6)
               AS dup_bigram_ratio
      FROM gbcx GROUP BY doc_id
    ),
    glfx AS (
      SELECT doc_id,
             (1 + doc_id % 4) AS bp, (3 + doc_id % 6) AS hr,
             (2 + doc_id % 5) AS eq,
             {toks} AS tk
      FROM {src}
    ),
    gpagex AS (
      SELECT doc_id,
             array_to_string(
               list_transform(
                 range(0, CAST(ceil(len(tk) / {_GOPHER_LINE_W}.0) AS INT)),
                 i -> (CASE WHEN i % bp = 0 THEN '- ' ELSE '' END)
                      || (CASE WHEN i % hr = 1 THEN '# ' ELSE '' END)
                      || array_to_string(
                           tk[i*{_GOPHER_LINE_W}+1 :
                              i*{_GOPHER_LINE_W}+{_GOPHER_LINE_W}], ' ')
                      || (CASE WHEN i % eq = 0 THEN ' ...' ELSE '' END)
               ), chr(10)) AS page
      FROM glfx WHERE len(tk) > 0
    ),
    glinesx AS (
      SELECT doc_id,
             CAST(len(string_split(page, chr(10))) AS BIGINT) AS n_lines,
             len(list_filter(string_split(page, chr(10)),
                             l -> starts_with(l, '- '))) AS n_bullet,
             len(list_filter(string_split(page, chr(10)),
                             l -> ends_with(l, '...'))) AS n_ellipsis,
             len(page) - len(replace(replace(page, '#', ''), '…', ''))
               AS n_sym
      FROM gpagex
    ),
    {_gopher_rep_tokens_sql(src)},
    {_rep_cte_sql("grend")},
    gjx AS (
      SELECT t.*, COALESCE(b.dup_bigram_ratio, 0.0) AS dup_bigram_ratio,
             l.n_lines,
             ROUND(l.n_bullet / CAST(l.n_lines AS DOUBLE), 6)
               AS bullet_line_ratio,
             ROUND(l.n_ellipsis / CAST(l.n_lines AS DOUBLE), 6)
               AS ellipsis_line_ratio,
             ROUND(l.n_sym / CAST(t.n_words AS DOUBLE), 6)
               AS symbol_word_ratio,
             {rep_sigs}
      FROM gtstats t LEFT JOIN gbtx b USING (doc_id)
           JOIN glinesx l USING (doc_id)
           JOIN rep r USING (doc_id)
    ),
    gopher AS (
      SELECT doc_id, n_words, mean_word_len, top_token_ratio,
             digit_token_ratio, dup_bigram_ratio, n_lines,
             bullet_line_ratio, ellipsis_line_ratio, symbol_word_ratio,
             n_stop_words,
             {", ".join(_GOPHER_REP_MAX)},
             (n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
               AS r_len,
             (mean_word_len BETWEEN {_GOPHER_MIN_MWL} AND {_GOPHER_MAX_MWL})
               AS r_wordlen,
             (top_token_ratio <= {_GOPHER_MAX_TOP}) AS r_top,
             (digit_token_ratio <= {_GOPHER_MAX_DIGIT}) AS r_digit,
             (dup_bigram_ratio <= {_GOPHER_MAX_DUPBG}) AS r_dupbg,
             (bullet_line_ratio <= {_GOPHER_MAX_BULLET}) AS r_bullet,
             (ellipsis_line_ratio <= {max_ellipsis}) AS r_ellipsis,
             (symbol_word_ratio <= {max_symbol}) AS r_symbol,
             (n_stop_words >= {min_stop}) AS r_stop,
             {rep_rules},
             ((n_words BETWEEN {_GOPHER_MIN_WORDS} AND {_GOPHER_MAX_WORDS})
              AND (mean_word_len BETWEEN {_GOPHER_MIN_MWL}
                   AND {_GOPHER_MAX_MWL})
              AND top_token_ratio <= {_GOPHER_MAX_TOP}
              AND digit_token_ratio <= {_GOPHER_MAX_DIGIT}
              AND dup_bigram_ratio <= {_GOPHER_MAX_DUPBG}
              AND bullet_line_ratio <= {_GOPHER_MAX_BULLET}
              AND ellipsis_line_ratio <= {max_ellipsis}
              AND symbol_word_ratio <= {max_symbol}
              AND n_stop_words >= {min_stop}
              AND {rep_keep}) AS keep
      FROM gjx
    )"""


def _gopher_frame(
    docs: DataFrame,
    *,
    max_ellipsis: float = _GOPHER_MAX_ELLIPSIS,
    max_symbol: float = _GOPHER_MAX_SYMBOL,
    min_stop: int = _GOPHER_MIN_STOP,
) -> DataFrame:
    """The full Gopher rule battery over a ``(doc_id, text)`` frame —
    the Spark twin of :func:`_gopher_ctes` (same three corpus-tuned
    keyword thresholds), shared by the standalone
    ``filter_gopher_rules`` query and the composed
    ``pipeline_web_to_shards`` quality stage (round 13)."""
    from functools import reduce
    from operator import and_

    tk = docs.select(
        "doc_id", F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    c = tk.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("cnt"))
    t = c.groupBy("doc_id").agg(
        F.sum("cnt").cast("long").alias("n_words"),
        round6(
            F.sum(F.col("cnt") * F.length("token"))
            / F.sum("cnt").cast("double")
        ).alias("mean_word_len"),
        round6(F.max("cnt") / F.sum("cnt").cast("double")).alias(
            "top_token_ratio"
        ),
        round6(
            F.sum(
                F.when(F.col("token").rlike("[0-9]"), F.col("cnt")).otherwise(
                    0
                )
            )
            / F.sum("cnt").cast("double")
        ).alias("digit_token_ratio"),
        # c is one row per DISTINCT (doc, token), so the indicator sum
        # counts distinct stop words present (the Rae presence rule)
        F.sum(
            F.when(
                F.col("token").isin(*_GOPHER_STOPWORDS), 1
            ).otherwise(0)
        )
        .cast("int")
        .alias("n_stop_words"),
    )
    bg = docs.select(
        "doc_id",
        F.explode(bigrams_expr(tokens_expr(F.col("text")))).alias("b"),
    )
    bc = bg.groupBy("doc_id", "b").agg(F.count(F.lit(1)).alias("cnt"))
    bt = bc.groupBy("doc_id").agg(
        round6(
            F.lit(1.0) - F.count(F.lit(1)) / F.sum("cnt").cast("double")
        ).alias("dup_bigram_ratio")
    )
    # Line-signal leg (round 12): render the deterministic page, then
    # PARSE it — split on newlines, classify each line by its bullet
    # prefix / ellipsis suffix, count symbol chars. All scan-local
    # expressions; the leg ships 5 metadata ints per doc into the
    # doc-keyed merge, never the page text.
    toks = tokens_expr(F.col("text"))
    w = _GOPHER_LINE_W
    nlines = F.ceil(F.size(toks) / F.lit(float(w))).cast("int")
    bp = F.col("doc_id") % 4 + 1
    hr = F.col("doc_id") % 6 + 3
    eq = F.col("doc_id") % 5 + 2
    idx = F.when(nlines > 0, F.sequence(F.lit(0), nlines - 1)).otherwise(
        F.array().cast("array<int>")
    )
    page = F.array_join(
        F.transform(
            idx,
            lambda i: F.concat(
                F.when(i % bp == 0, F.lit("- ")).otherwise(F.lit("")),
                F.when(i % hr == 1, F.lit("# ")).otherwise(F.lit("")),
                F.array_join(F.slice(toks, i * w + 1, w), " "),
                F.when(i % eq == 0, F.lit(" ...")).otherwise(F.lit("")),
            ),
        ),
        "\n",
    )
    lx = (
        docs.select("doc_id", page.alias("page"))
        .filter(F.length("page") > 0)
        .select(
            "doc_id",
            F.split("page", "\n").alias("lines"),
            (
                F.length("page")
                - F.length(F.translate("page", "#…", ""))
            ).alias("n_sym"),
        )
        .select(
            "doc_id",
            F.size("lines").cast("long").alias("n_lines"),
            F.size(
                F.filter("lines", lambda ln: ln.startswith("- "))
            ).alias("n_bullet"),
            F.size(
                F.filter("lines", lambda ln: ln.endswith("..."))
            ).alias("n_ellipsis"),
            "n_sym",
        )
    )
    # Repetition leg (round 13, VERDICT r12 item 5): the long-repeat
    # rendering (constants at _GOPHER_REP_MAX) feeds the shared
    # Rae-profile computation; like the line leg, only metadata-width
    # ratios per doc reach the merge — the rendered token stream
    # never shuffles (the profile's shuffle carries (doc, n, gram)
    # counts with map-side combine).
    blk = F.slice(
        "tk", 1, (F.lit(4) + (F.col("doc_id") % 8)).cast("int")
    )
    n_reps = (
        F.lit(2) + F.floor((F.col("doc_id") % 9) / 3)
    ).cast("int")
    rtk = F.when(
        (F.col("doc_id") % _GOPHER_REP_MOD) == 0,
        F.concat(F.col("tk"), F.flatten(F.array_repeat(blk, n_reps))),
    ).otherwise(F.col("tk"))
    rep = _rep_ratio_frame(
        docs.select("doc_id", tokens_expr(F.col("text")).alias("tk"))
        .select("doc_id", rtk.alias("tk"))
    ).drop("n_chars")
    j = (
        t.join(bt, "doc_id", "left")
        .withColumn(
            "dup_bigram_ratio", F.coalesce("dup_bigram_ratio", F.lit(0.0))
        )
        .join(lx, "doc_id")
        .join(rep, "doc_id")
        .withColumn(
            "bullet_line_ratio",
            round6(F.col("n_bullet") / F.col("n_lines").cast("double")),
        )
        .withColumn(
            "ellipsis_line_ratio",
            round6(F.col("n_ellipsis") / F.col("n_lines").cast("double")),
        )
        .withColumn(
            "symbol_word_ratio",
            round6(F.col("n_sym") / F.col("n_words").cast("double")),
        )
    )
    r_len = (F.col("n_words") >= _GOPHER_MIN_WORDS) & (
        F.col("n_words") <= _GOPHER_MAX_WORDS
    )
    r_wordlen = (F.col("mean_word_len") >= _GOPHER_MIN_MWL) & (
        F.col("mean_word_len") <= _GOPHER_MAX_MWL
    )
    r_top = F.col("top_token_ratio") <= _GOPHER_MAX_TOP
    r_digit = F.col("digit_token_ratio") <= _GOPHER_MAX_DIGIT
    r_dupbg = F.col("dup_bigram_ratio") <= _GOPHER_MAX_DUPBG
    r_bullet = F.col("bullet_line_ratio") <= _GOPHER_MAX_BULLET
    r_ellipsis = F.col("ellipsis_line_ratio") <= max_ellipsis
    r_symbol = F.col("symbol_word_ratio") <= max_symbol
    r_stop = F.col("n_stop_words") >= min_stop
    rep_rules = [
        (F.col(col) <= F.lit(th)).alias(_rep_rule_name(col))
        for col, th in _GOPHER_REP_MAX.items()
    ]
    rep_keep = reduce(
        and_, (F.col(col) <= F.lit(th) for col, th in _GOPHER_REP_MAX.items())
    )
    return j.select(
        "doc_id",
        "n_words",
        "mean_word_len",
        "top_token_ratio",
        "digit_token_ratio",
        "dup_bigram_ratio",
        "n_lines",
        "bullet_line_ratio",
        "ellipsis_line_ratio",
        "symbol_word_ratio",
        "n_stop_words",
        *_GOPHER_REP_MAX,
        r_len.alias("r_len"),
        r_wordlen.alias("r_wordlen"),
        r_top.alias("r_top"),
        r_digit.alias("r_digit"),
        r_dupbg.alias("r_dupbg"),
        r_bullet.alias("r_bullet"),
        r_ellipsis.alias("r_ellipsis"),
        r_symbol.alias("r_symbol"),
        r_stop.alias("r_stop"),
        *rep_rules,
        (
            r_len
            & r_wordlen
            & r_top
            & r_digit
            & r_dupbg
            & r_bullet
            & r_ellipsis
            & r_symbol
            & r_stop
            & rep_keep
        ).alias("keep"),
    )


@register(
    "filter_gopher_rules",
    oracle=f"""
    WITH {_gopher_ctes("documents")}
    SELECT * FROM gopher
    """,
)
def q_filter_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style composite quality-rule filter (round 11; line
    rules completed round 12, VERDICT r11 item 5; the full Table A1
    repetition battery wired in round 13, VERDICT r12 item 5; Rae et
    al. 2021, public method) — the rule battery every large English
    web corpus runs alongside model-based quality scores: per
    document, word count bounds, mean word length bounds,
    most-frequent-token share, digit-token share, duplicate-BIGRAM
    mass, the LINE-level battery (bullet-line share, ellipsis-line
    share, symbol-to-word ratio, required stop-word presence), and —
    round 13 — all NINE Table A1 repetition rules (top-2/3/4-gram
    char mass, dup-5..10-gram char mass) at the paper's published
    thresholds, computed by the SHARED ``_rep_ratio_frame`` /
    ``_rep_cte_sql`` profile machinery. Each signal is emitted
    alongside its boolean rule verdict plus the composite ``keep``.

    The raw corpus has no line structure and no long repeats, so two
    deterministic doc_id-keyed RENDERINGS make both sides of those
    rule families real at the driver SFs (the html/url fixture
    precedent): tokens wrap 8 per line with bullet/hash/ellipsis
    decorations for the line rules, and every third document gets an
    adjacent repeated block appended for the repetition rules
    (constants at ``_GOPHER_REP_MAX``; at sf0.01 each repetition rule
    fails 46-218 of 500 docs). Word/stop/digit signals keep reading
    the RAW tokens — each rendering feeds only its own rule family.

    Shape: two explode→(doc, gram) count→per-doc rollup legs (token
    and bigram) plus the repetition leg's single multi-n pass (the
    ``text_repetition_ngram_profile`` plan — counts-only shuffle,
    map-side combine), plus the scan-local line leg; each leg ships
    metadata-width per-doc signals into the doc-keyed merge — page
    and token text never shuffle; all rules are scan-local
    expressions over ROUNDED signals (6 dp both engines, so rule
    booleans can never disagree at the hash boundary). Token-less
    docs emit no row. Full value-hash oracle from the shared
    parameterized ``_gopher_ctes`` (also composed, with the same
    constants, into ``pipeline_web_to_shards``)."""
    docs = load_table(spark, "documents", sf_dir)
    return _gopher_frame(docs)

@register(
    "text_bigram_logprob",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tokens_sql("text")} AS toks FROM documents
    ),
    inst AS (
      SELECT doc_id, unnest({_SQL_BIGRAMS.format(t="toks")}) AS bigram FROM t
    ),
    bgc AS (SELECT bigram, COUNT(*) AS c_bg FROM inst GROUP BY bigram),
    hist AS (
      SELECT split_part(bigram, ' ', 1) AS w, SUM(c_bg) AS c_hist
      FROM bgc GROUP BY 1
    ),
    lp AS (
      SELECT bigram, log10(c_bg / CAST(c_hist AS DOUBLE)) AS logp
      FROM bgc JOIN hist ON split_part(bigram, ' ', 1) = w
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           ROUND(AVG(logp), 6) AS avg_logprob
    FROM inst JOIN lp USING (bigram)
    GROUP BY doc_id
    """,
)
def q_text_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional-LM document score — one order up from
    text_unigram_logprob: P(w_i | w_(i-1)) = c(bigram) / c(history),
    histories counted over bigram starts so the model is properly
    normalized. Doc score = mean log10 conditional probability over
    its bigram instances. Same scale shape as the unigram pass: the
    bigram/history model tables are corpus-level-small, broadcast
    onto the instance stream; shuffles only for the model-building
    aggregations. Docs with <2 tokens drop out."""
    docs = load_table(spark, "documents", sf_dir)
    bgs = bigrams_expr(tokens_expr(F.col("text")))
    inst = docs.select("doc_id", F.explode(bgs).alias("bigram"))
    bgc = inst.groupBy("bigram").agg(F.count(F.lit(1)).alias("c_bg"))
    hist = bgc.groupBy(
        F.substring_index("bigram", " ", 1).alias("w")
    ).agg(F.sum("c_bg").alias("c_hist"))
    lp = bgc.join(
        F.broadcast(hist), F.substring_index("bigram", " ", 1) == F.col("w")
    ).select(
        "bigram",
        F.log10(F.col("c_bg") / F.col("c_hist").cast("double")).alias("logp"),
    )
    return inst.join(F.broadcast(lp), "bigram").groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        round6(F.avg("logp")).alias("avg_logprob"),
    )


# ---------------------------------------------------------------------------
# benchmark contamination check
# ---------------------------------------------------------------------------

_SQL_3GRAMS = (
    "CASE WHEN len({t}) >= 3 THEN "
    "list_distinct(list_transform(range(1, len({t})-1), "
    "i -> concat_ws(' ', {t}[i], {t}[i+1], {t}[i+2]))) "
    "ELSE [] END"
)


@register(
    "text_contamination",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tokens_sql("text")} AS toks FROM documents
    ),
    sh AS (SELECT doc_id, {_SQL_3GRAMS.format(t="toks")} AS grams FROM t),
    bench AS (SELECT DISTINCT unnest(grams) AS g FROM sh WHERE doc_id < 10),
    ev AS (SELECT doc_id, len(grams) AS n_grams, grams FROM sh WHERE doc_id >= 10),
    ex AS (SELECT doc_id, unnest(grams) AS g FROM ev),
    hits AS (
      SELECT doc_id, COUNT(*) AS n_hit
      FROM ex JOIN bench USING (g) GROUP BY doc_id
    )
    SELECT ev.doc_id,
           CAST(n_grams AS BIGINT) AS n_grams,
           CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_contaminated,
           ROUND(CASE WHEN n_grams > 0
                 THEN COALESCE(n_hit, 0) / CAST(n_grams AS DOUBLE)
                 ELSE 0.0 END, 6) AS contamination_ratio
    FROM ev LEFT JOIN hits ON ev.doc_id = hits.doc_id
    """,
)
def q_text_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark-contamination check: docs with doc_id < 10 stand in
    for a held-out eval set; every other document reports how many of
    its distinct word 3-grams appear anywhere in the benchmark set —
    the n-gram-overlap decontamination pass run before pretraining.
    The benchmark gram set is small by construction, so it broadcasts
    and the scan side never shuffles its exploded grams — the only
    wide exchange is the per-doc hit count."""
    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", shingles_expr(F.col("text"), 3).alias("grams")
    )
    bench = (
        sh.filter(F.col("doc_id") < 10)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    ev = sh.filter(F.col("doc_id") >= 10).select(
        "doc_id", F.size("grams").alias("n_grams"), "grams"
    )
    hits = (
        ev.select("doc_id", F.explode("grams").alias("g"))
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        ev.drop("grams")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            round6(
                F.when(
                    F.col("n_grams") > 0,
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("contamination_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# decontamination APPLY step (drop benchmark-overlapping documents)
# ---------------------------------------------------------------------------

# Drop a document when more than this share of its distinct word
# 3-grams appears in the benchmark set — corpus-scaled so both sides
# are exercised at the driver SFs (sf0.01: 52 of 490 scored docs
# cross it; the production constant is tuned per benchmark suite).
_DECON_MAX_RATIO = 0.05
# The composed web pipeline scores EXTRACTED text, where the fixture
# pages' shared template blocks and the injected hygiene suffix give
# every doc a baseline benchmark overlap (vs ~0 on raw documents) —
# so its threshold is tuned to THAT corpus, exactly as production
# decontamination thresholds are tuned per benchmark suite +
# extraction stack. Round 13 (full production order): the stage now
# runs AFTER the Gopher battery + tertile mix (so its benchmark gram
# set is drawn from the HYGIENE output, where the doc_id < 10 docs
# still exist), and the threshold is re-tuned to the post-quality
# survivor distribution (sf0.01: ratios 0.056-0.162 over 31 scored
# docs, 5 cross 0.09; sf0.001: 7 of 38 — both sides exercised at
# both driver SFs).
_DECON_WEB_MAX_RATIO = 0.09


def _decon_scores(
    df: DataFrame, bench_df: DataFrame | None = None
) -> DataFrame:
    """Per-document contamination scores vs the doc_id < 10 benchmark
    set (the ``text_contamination`` convention), METADATA-width only —
    (doc_id, n_grams, n_contaminated, contamination_ratio) for every
    scored (doc_id >= 10) document. The benchmark gram set broadcasts;
    the only wide exchange carries per-doc hit counts, never text.
    Shared by the standalone apply op and the composed pipeline.
    ``bench_df`` (round 13): the relation the benchmark docs are
    drawn from — defaults to ``df`` itself; the composed pipeline
    passes the HYGIENE output so the benchmark set stays defined even
    after upstream quality stages have dropped the doc_id < 10 docs
    from the scored corpus (production benchmark sets are external to
    the pipeline entirely)."""
    sh = df.select(
        "doc_id", shingles_expr(F.col("text"), 3).alias("grams")
    )
    bsh = sh if bench_df is None else bench_df.select(
        "doc_id", shingles_expr(F.col("text"), 3).alias("grams")
    )
    bench = (
        bsh.filter(F.col("doc_id") < 10)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    ev = sh.filter(F.col("doc_id") >= 10).select(
        "doc_id", F.size("grams").alias("n_grams"), "grams"
    )
    hits = (
        ev.select("doc_id", F.explode("grams").alias("g"))
        .join(F.broadcast(bench), "g")
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_hit"))
    )
    return (
        ev.drop("grams")
        .join(hits, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_grams").cast("long").alias("n_grams"),
            F.coalesce(F.col("n_hit"), F.lit(0)).cast("long").alias(
                "n_contaminated"
            ),
            round6(
                F.when(
                    F.col("n_grams") > 0,
                    F.coalesce(F.col("n_hit"), F.lit(0))
                    / F.col("n_grams").cast("double"),
                ).otherwise(F.lit(0.0))
            ).alias("contamination_ratio"),
        )
    )


def _decon_apply(
    df: DataFrame,
    max_ratio: float = _DECON_MAX_RATIO,
    bench_df: DataFrame | None = None,
) -> DataFrame:
    """The decontamination ACTION over :func:`_decon_scores`: remove
    the benchmark documents themselves (eval data must never ship in
    a training corpus) and every document whose overlap ratio crosses
    ``max_ratio`` (corpus-tuned — see the threshold constants). The
    drop list is ∝ contaminated docs (tiny in production), so it
    broadcasts into an ANTI-join against the corpus — document TEXT
    never shuffles through this stage. ``bench_df``: see
    :func:`_decon_scores`."""
    drops = _decon_scores(df, bench_df).filter(
        F.col("contamination_ratio") > max_ratio
    ).select("doc_id")
    return df.filter(F.col("doc_id") >= 10).join(
        F.broadcast(drops), "doc_id", "left_anti"
    )


def _decon_ctes(
    source: str,
    max_ratio: float = _DECON_MAX_RATIO,
    bench_source: str | None = None,
) -> str:
    """Decontamination CTEs over a (doc_id, text, ...) relation —
    the DuckDB twin of ``_decon_scores``/``_decon_apply``. No leading
    comma; ends with the ``decon`` CTE (kept docs with scores).
    Shared by the standalone apply op and the composed web→shards
    oracle, so the two cannot drift. ``bench_source``: the relation
    the doc_id < 10 benchmark docs are drawn from (defaults to
    ``source`` — see ``_decon_scores``)."""
    toks = tokens_sql("text")
    return f"""dtk AS (
      SELECT doc_id, text, {toks} AS dtoks FROM {source}
    ),
    dsh AS (
      SELECT doc_id, text, {_SQL_3GRAMS.format(t="dtoks")} AS grams
      FROM dtk
    ),
    dshb AS (
      SELECT doc_id, {_SQL_3GRAMS.format(t="dtoksb")} AS grams
      FROM (SELECT doc_id, {toks} AS dtoksb
            FROM {bench_source or source})
    ),
    dbench AS (
      SELECT DISTINCT unnest(grams) AS g FROM dshb WHERE doc_id < 10
    ),
    dev AS (
      SELECT doc_id, text, len(grams) AS n_grams, grams
      FROM dsh WHERE doc_id >= 10
    ),
    dex AS (SELECT doc_id, unnest(grams) AS g FROM dev),
    dhits AS (
      SELECT doc_id, COUNT(*) AS n_hit
      FROM dex JOIN dbench USING (g) GROUP BY doc_id
    ),
    dscored AS (
      SELECT dev.doc_id, dev.text,
             CAST(n_grams AS BIGINT) AS n_grams,
             CAST(COALESCE(n_hit, 0) AS BIGINT) AS n_contaminated,
             ROUND(CASE WHEN n_grams > 0
                   THEN COALESCE(n_hit, 0) / CAST(n_grams AS DOUBLE)
                   ELSE 0.0 END, 6) AS contamination_ratio
      FROM dev LEFT JOIN dhits ON dev.doc_id = dhits.doc_id
    ),
    decon AS (
      SELECT * FROM dscored
      WHERE contamination_ratio <= {max_ratio}
    )"""


@register(
    "decontaminate_corpus",
    oracle=f"""
    WITH {_decon_ctes("documents")}
    SELECT doc_id, n_grams, n_contaminated, contamination_ratio
    FROM decon
    """,
)
def q_decontaminate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination APPLY step (round 12; VERDICT r11 item 2) —
    the action ``text_contamination`` lacked: documents whose
    distinct word-3-gram overlap with the benchmark set (doc_id < 10,
    the shared convention) exceeds ``_DECON_MAX_RATIO`` are DROPPED,
    along with the benchmark documents themselves — the n-gram
    decontamination pass every production pretraining corpus runs so
    eval benchmarks stay meaningful (Brown et al. 2020 appendix C /
    Lee et al. 2022 practice, public methods). Output: the survivors
    with their scores (doc_id, n_grams, n_contaminated,
    contamination_ratio) — metadata-width, the text stays in place.

    Scale shape: the benchmark gram set is tiny by construction and
    broadcasts (the scan side never shuffles its exploded grams); the
    only wide exchange carries per-doc hit COUNTS; and the apply
    decision is a filter on the metadata-width score table — document
    text never moves. At sf0.01, 52 of 490 scored docs cross the
    threshold (both sides exercised). Full value-hash oracle from the
    shared ``_decon_ctes``; composed into ``pipeline_web_to_shards``
    between hygiene and the substring rewrite."""
    docs = load_table(spark, "documents", sf_dir)
    return _decon_scores(docs).filter(
        F.col("contamination_ratio") <= _DECON_MAX_RATIO
    )


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------


@register(
    "text_tfidf_top_terms",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, unnest({tokens_sql("text")}) AS token
      FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tk GROUP BY doc_id, token),
    dfreq AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    ndocs AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
      SELECT doc_id, token, tf,
             ROUND(tf * ln(n_docs / CAST(df AS DOUBLE)), 6) AS score
      FROM tf JOIN dfreq USING (token) CROSS JOIN ndocs
    )
    SELECT doc_id, token, CAST(tf AS BIGINT) AS tf, score, rnk FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                   ORDER BY score DESC, token) AS rnk
      FROM scored
    ) WHERE rnk <= 3
    """,
)
def q_text_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document — the keyword/topic-extraction
    pass of a curation pipeline. Document frequencies come from the
    already-aggregated (doc, token) counts (no second explode), the
    tiny df table broadcasts back onto them, and the per-doc top-k is
    one row_number window. Scores are rounded before ranking with a
    token tiebreaker so the selected rows are engine-stable."""
    docs = load_table(spark, "documents", sf_dir)
    tk = docs.select("doc_id", F.explode(tokens_expr(F.col("text"))).alias("token"))
    tf = tk.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    ndocs = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(ndocs))
        .select(
            "doc_id",
            "token",
            "tf",
            round6(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df").cast("double"))
            ).alias("score"),
        )
    )
    top = topk_per_group(
        scored, ["doc_id"], [F.col("score").desc(), F.col("token")], 3
    )
    return top.select("doc_id", "token", F.col("tf").cast("long").alias("tf"),
                      "score", "rnk")


# ---------------------------------------------------------------------------
# segment-level dedup
# ---------------------------------------------------------------------------


@register(
    "dedup_segments",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {tokens_sql("text")} AS toks FROM documents
    ),
    idx AS (
      SELECT doc_id, toks,
             unnest(range(0, CAST(ceil(len(toks)/20.0) AS BIGINT))) AS seg_idx
      FROM t
    ),
    seg AS (
      SELECT doc_id, seg_idx,
             md5(array_to_string(toks[seg_idx*20+1 : seg_idx*20+20], ' ')) AS fp
      FROM idx
    ),
    r AS (
      SELECT doc_id, seg_idx,
             ROW_NUMBER() OVER (PARTITION BY fp ORDER BY doc_id, seg_idx) AS rn
      FROM seg
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_segments,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
    FROM r GROUP BY doc_id
    """,
)
def q_dedup_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Segment-level (CCNet/RefinedWeb-style) dedup: each document is
    chunked into consecutive 20-token segments, segments are
    fingerprinted, and only the corpus-wide FIRST occurrence of each
    fingerprint survives (order: doc_id, position). Reports per-doc
    segment and survivor counts. The chunking is pure array math on
    the scan (no shuffle); the global first-occurrence pass is one
    window keyed by the uniformly-distributed fingerprint — the same
    single-shuffle shape as exact doc-level dedup, just at segment
    granularity."""
    docs = load_table(spark, "documents", sf_dir)
    toks = tokens_expr(F.col("text"))
    nseg = F.ceil(F.size(toks) / F.lit(20)).cast("int")
    # Guard nseg=0: sequence(0, -1) is DESCENDING in Spark ([0, -1]),
    # which would fabricate two segments for a token-less doc.
    idx = F.when(nseg > 0, F.sequence(F.lit(0), nseg - 1)).otherwise(
        F.array().cast("array<int>")
    )
    segs = F.transform(
        idx,
        lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i * 20 + 1, 20))),
    )
    seg = docs.select(
        "doc_id", F.posexplode(segs).alias("seg_idx", "fp")
    )
    r = seg.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("fp").orderBy("doc_id", "seg_idx")),
    )
    return r.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_segments"),
        F.sum(F.when(F.col("rn") == 1, 1).otherwise(0)).cast("long").alias(
            "n_kept"
        ),
    )


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# Shared Java/RE2 regexes (ASCII \b semantics identical in both).
_EMAIL_RE = r"[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z][a-z]+"
_SSN_RE = r"\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b"
_PHONE_RE = r"\b555-[0-9]{4}\b"

# Deterministic PII injection (same expression both engines) — the
# synthetic corpus has no real PII, so the scrubber is exercised on
# planted markers with known counts.
_SQL_PII_TEXT = (
    "text || ' contact user' || doc_id || '@example.com or call 555-' || "
    "lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') || ' ssn 123-45-6789'"
)


@register(
    "text_pii_scrub",
    oracle=f"""
    WITH p AS (SELECT doc_id, {_SQL_PII_TEXT} AS pii_text FROM documents),
    s AS (
      SELECT doc_id,
             len(regexp_extract_all(pii_text, '{_EMAIL_RE}')) AS n_emails,
             len(regexp_extract_all(pii_text, '{_SSN_RE}')) AS n_ssns,
             len(regexp_extract_all(pii_text, '{_PHONE_RE}')) AS n_phones,
             regexp_replace(
               regexp_replace(
                 regexp_replace(pii_text, '{_EMAIL_RE}', '<EMAIL>', 'g'),
                 '{_SSN_RE}', '<SSN>', 'g'),
               '{_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
      FROM p
    )
    SELECT doc_id,
           CAST(n_emails AS BIGINT) AS n_emails,
           CAST(n_ssns AS BIGINT) AS n_ssns,
           CAST(n_phones AS BIGINT) AS n_phones,
           md5(scrubbed) AS scrubbed_md5
    FROM s
    """,
)
def q_text_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction (emails, SSNs, phone numbers) — the privacy
    scrub every training-data pipeline runs before release. PII
    markers are planted deterministically (the synthetic corpus has
    none), then counted and replaced with typed placeholder tags via
    JVM-side regexp_replace — whole-stage codegen, no Python in the
    row path. The scrubbed payload is md5'd so redaction output is
    byte-checked cross-engine, not just counted."""
    docs = load_table(spark, "documents", sf_dir)
    pii_text = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or call 555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        F.lit(" ssn 123-45-6789"),
    )
    p = docs.select("doc_id", pii_text.alias("pii_text"))
    scrubbed = F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.col("pii_text"), _EMAIL_RE, "<EMAIL>"),
            _SSN_RE,
            "<SSN>",
        ),
        _PHONE_RE,
        "<PHONE>",
    )
    return p.select(
        "doc_id",
        F.regexp_count(F.col("pii_text"), F.lit(_EMAIL_RE)).cast("long").alias(
            "n_emails"
        ),
        F.regexp_count(F.col("pii_text"), F.lit(_SSN_RE)).cast("long").alias(
            "n_ssns"
        ),
        F.regexp_count(F.col("pii_text"), F.lit(_PHONE_RE)).cast("long").alias(
            "n_phones"
        ),
        F.md5(scrubbed).alias("scrubbed_md5"),
    )


# ---------------------------------------------------------------------------
# grouped correlation stats
# ---------------------------------------------------------------------------


@register(
    "agg_corr_stats",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(AVG(l_quantity), 6) AS avg_qty,
           ROUND(stddev_samp(l_quantity), 6) AS std_qty,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_agg_corr_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group second-moment statistics (stddev, Pearson
    correlation) — the feature-screening pass before model training.
    All four aggregates ride ONE partial+final hash aggregation
    (Spark's corr/stddev use mergeable moment accumulators, so the
    map-side combine works at any scale); outputs are bounded
    magnitudes (ratios, means) so round(6) is merge-order-safe."""
    li = load_table(spark, "lineitem", sf_dir)
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        round6(F.avg("l_quantity")).alias("avg_qty"),
        round6(F.stddev_samp("l_quantity")).alias("std_qty"),
        round6(F.corr("l_quantity", "l_extendedprice")).alias("corr_qty_price"),
    )


# ---------------------------------------------------------------------------
# streaming session windows
# ---------------------------------------------------------------------------


@register(
    "stream_session_window",
    oracle="""
    WITH o AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts)
                       >= INTERVAL 30 MINUTE
                  OR LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
             THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    s AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
      FROM o
    )
    SELECT user_id,
           MIN(ts) AS first_ts,
           MAX(ts) AS last_ts,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS sum_value
    FROM s
    GROUP BY user_id, sess_id
    """,
)
def q_stream_session_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization as a REAL Structured Streaming query:
    watermarked session_window (30-min gap) over the file replay,
    complete-mode memory sink. Unlike fixed windows the session state
    MERGES as events arrive (sessions extend and coalesce); the final
    result must still equal the batch gaps-and-islands oracle — the
    same oracle as the batch sessionize_events, proving batch/stream
    parity of the engine's sessionization semantics."""
    from bigdatafinalproject_hockey_spark.streaming import (
        read_events_stream,
        run_stream_to_table,
        session_agg,
    )

    stream = read_events_stream(spark, sf_dir)
    sess = session_agg(stream, gap="30 minutes", watermark_delay="1 hour")
    return run_stream_to_table(spark, sess, output_mode="complete")


# ---------------------------------------------------------------------------
# ordered funnel analysis
# ---------------------------------------------------------------------------


@register(
    "events_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS view_ts
      FROM events WHERE event_type = 'view' GROUP BY user_id
    ),
    c AS (
      SELECT e.user_id, MIN(e.ts) AS click_ts
      FROM events e JOIN v USING (user_id)
      WHERE e.event_type = 'click' AND e.ts > v.view_ts
      GROUP BY e.user_id
    ),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS purchase_ts
      FROM events e JOIN c USING (user_id)
      WHERE e.event_type = 'purchase' AND e.ts > c.click_ts
      GROUP BY e.user_id
    )
    SELECT v.user_id, view_ts, click_ts, purchase_ts
    FROM v LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)
    """,
)
def q_events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel: per user, the first view, the first click
    AFTER that view, and the first purchase AFTER that click (strict
    event-order funnel, not mere co-occurrence). Three conditional-min
    aggregations chained by user-keyed joins — every stage keeps the
    same user_id partitioning, so Catalyst reuses one exchange layout
    instead of re-shuffling per stage; no window needed."""
    events = load_table(spark, "events", sf_dir)
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("view_ts"))
    )
    c = (
        events.filter(F.col("event_type") == "click")
        .join(v, "user_id")
        .filter(F.col("ts") > F.col("view_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("click_ts"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .filter(F.col("ts") > F.col("click_ts"))
        .groupBy("user_id")
        .agg(F.min("ts").alias("purchase_ts"))
    )
    return (
        v.join(c, "user_id", "left")
        .join(p, "user_id", "left")
        .select("user_id", "view_ts", "click_ts", "purchase_ts")
    )


# ---------------------------------------------------------------------------
# training-mixture sampling
# ---------------------------------------------------------------------------

# Per-language token quotas (the "data mixing weights" of a
# pretraining run, scaled to a fixed token budget). Unknown → 0.
_MIX_QUOTAS = {"en": 6000, "de": 2000, "es": 2000, "fr": 2000, "zh": 1500}

_SQL_QUOTA = (
    "CASE lang "
    + " ".join(f"WHEN '{k}' THEN {v}" for k, v in _MIX_QUOTAS.items())
    + " ELSE 0 END"
)


@register(
    "pipeline_training_mix",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, lang,
             len({tokens_sql("text")}) AS n_tokens,
             md5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    c AS (
      SELECT doc_id, lang, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tokens
      FROM t
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(cum_tokens AS BIGINT) AS cum_tokens
    FROM c
    WHERE cum_tokens <= {_SQL_QUOTA}
    """,
)
def q_pipeline_training_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture sampling: allocate a per-language token quota
    (the data-mixing weights of a pretraining run) and fill each
    quota deterministically — docs ordered by md5(doc_id) (a seedless
    engine-reproducible shuffle), running token count per language,
    keep while under quota. One window shuffle keyed by language;
    the quota lookup is a literal map expression (the reference's
    map_literal_lookup pattern, code/experiment.py:272-274). At
    100 TB the md5 ordering also rebalances skewed languages across
    the sort — no hot partition beyond the language key itself."""
    docs = load_table(spark, "documents", sf_dir)
    quota = F.create_map(
        *[F.lit(x) for kv in _MIX_QUOTAS.items() for x in kv]
    )[F.col("lang")]
    t = docs.select(
        "doc_id",
        "lang",
        F.size(tokens_expr(F.col("text"))).alias("n_tokens"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    return c.filter(
        F.col("cum_tokens") <= F.coalesce(quota, F.lit(0))
    ).select(
        "doc_id",
        "lang",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("cum_tokens").cast("long").alias("cum_tokens"),
    )


@register(
    "sample_temperature",
    oracle=f"""
    WITH c AS (SELECT source, COUNT(*) AS n_g FROM documents GROUP BY source),
    w AS (
      SELECT source, n_g,
             CAST(ROUND(sqrt(n_g) * 1000000.0) AS BIGINT) AS w_g
      FROM c
    ),
    tot AS (
      SELECT CAST(SUM(w_g) AS BIGINT) AS sum_w,
             CAST(SUM(n_g) AS BIGINT) AS n_total
      FROM w
    ),
    rates AS (
      SELECT source,
             LEAST(1.0,
                   CAST(FLOOR(n_total * 0.4) AS DOUBLE)
                   * CAST(w_g AS DOUBLE)
                   / CAST(sum_w AS DOUBLE)
                   / CAST(n_g AS DOUBLE)) AS keep_prob
      FROM w CROSS JOIN tot
    )
    SELECT d.doc_id, d.source, d.lang, r.keep_prob
    FROM documents d JOIN rates r USING (source)
    WHERE CAST(({portable_hash64_sql("CAST(doc_id AS VARCHAR) || ':temp'")} >> 11)
               AS DOUBLE) / 9007199254740992.0 < r.keep_prob
    """,
)
def q_sample_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α-temperature source-mixture sampling (α=0.5, 40% budget) —
    the mT5/XLM-R data-mixing technique (public method): effective
    source share ∝ n_s^α, flattening dominant domains and boosting
    rare ones. Complements `pipeline_training_mix` (fixed per-language
    quotas) and `sample_stratified` (fixed per-stratum fractions):
    here the rates are COMPUTED FROM THE CORPUS in the same job —
    count per source → integer sqrt-weights (partition-order-exact) →
    broadcast rates → deterministic hash-uniform Bernoulli per doc.
    One aggregation shuffle total; the per-doc filter is map-side
    (operators.sampling.sample_temperature)."""
    docs = load_table(spark, "documents", sf_dir)
    from bigdatafinalproject_hockey_spark.operators import sampling as sample_ops

    kept = sample_ops.sample_temperature(
        docs, key_col="doc_id", group_col="source", budget_frac=0.4
    )
    return kept.select("doc_id", "source", "lang", "keep_prob")


# ---------------------------------------------------------------------------
# streaming incremental upsert (foreachBatch)
# ---------------------------------------------------------------------------


@register(
    "stream_foreachbatch_upsert",
    oracle="""
    SELECT event_id, ts, user_id, event_type, value FROM events
    """,
)
def q_stream_foreachbatch_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest with exactly-once TABLE semantics: the
    events replay arrives TWICE (two files → two micro-batches);
    foreachBatch dedups within the batch and anti-joins against the
    parquet sink before appending, so the second pass inserts zero
    rows. This is the idempotent-upsert pattern for continuously
    landing training data into a lake table without a transactional
    format. The read-back must equal the plain batch table."""
    from bigdatafinalproject_hockey_spark.streaming import (
        foreach_batch_upsert,
        read_events_stream_replayed,
    )

    stream = read_events_stream_replayed(spark, sf_dir, copies=2)
    return foreach_batch_upsert(
        spark,
        stream.select("event_id", "ts", "user_id", "event_type", "value"),
        sink_path=os.path.join(sidecar.scratch("upsert_events"), "sink"),
        key_cols=["event_id"],
    )


# ---------------------------------------------------------------------------
# ORC round-trip
# ---------------------------------------------------------------------------


@register(
    "sink_parquet_compacted",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def q_sink_parquet_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-files compaction job: the documents table is first
    scattered across 64 tiny files (simulating streaming-ingest
    debris), then rewritten into target-sized files chosen from the
    input's actual compressed byte size — the standing maintenance
    pass of any lake table. Values must survive the two rewrites
    untouched; the file-count collapse is asserted in unit tests."""
    from bigdatafinalproject_hockey_spark.sources.parquet import compact_parquet

    work = sidecar.scratch("compact_documents")
    src, dst = os.path.join(work, "src"), os.path.join(work, "dst")
    docs = load_table(spark, "documents", sf_dir)
    docs.repartition(64).write.mode("overwrite").parquet(src)
    return compact_parquet(spark, src, dst, target_file_bytes=128 * 1024 * 1024)


@register(
    "scan_orc_roundtrip",
    oracle="""
    SELECT doc_id, text, lang, source, n_chars FROM documents
    """,
)
def q_scan_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + explicit-schema ORC scan round-trip — the second
    columnar interchange format after parquet (both support predicate
    pushdown + column pruning in Spark's vectorized readers). Values
    must survive losslessly against the parquet original."""
    from bigdatafinalproject_hockey_spark.sources.orc import scan_orc, sink_orc

    path = sidecar.scratch("orc_roundtrip_documents")
    df = load_table(spark, "documents", sf_dir)
    sink_orc(df, path)
    return scan_orc(spark, path, SCHEMAS["documents"])


# ---------------------------------------------------------------------------
# sequence packing: documents → fixed-capacity training sequences
# ---------------------------------------------------------------------------

_PACK_CAPACITY = 256
_PACK_SHARDS = 8

# The greedy packing fold as a DuckDB recursive CTE — shared by the
# pack_sequences oracle and (round 10) the reshard_training oracle
# that chains on top of the packed output.
_PACK_CTE = f"""
    WITH RECURSIVE docs AS (
      SELECT doc_id, lang, doc_id % {_PACK_SHARDS} AS shard,
             CAST(len({tokens_sql("text")}) AS BIGINT) AS n_tokens,
             ROW_NUMBER() OVER (
               PARTITION BY lang, doc_id % {_PACK_SHARDS} ORDER BY doc_id
             ) AS rn
      FROM documents
    ),
    packed AS (
      SELECT doc_id, lang, shard, n_tokens, rn,
             CAST(0 AS BIGINT) AS seq_id, n_tokens AS seq_fill
      FROM docs WHERE rn = 1
      UNION ALL
      SELECT d.doc_id, d.lang, d.shard, d.n_tokens, d.rn,
             CASE WHEN p.seq_fill + d.n_tokens <= {_PACK_CAPACITY}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.seq_fill + d.n_tokens <= {_PACK_CAPACITY}
                  THEN p.seq_fill + d.n_tokens ELSE d.n_tokens END
      FROM docs d
      JOIN packed p
        ON d.lang = p.lang AND d.shard = p.shard AND d.rn = p.rn + 1
    )"""


@register(
    "pack_sequences",
    oracle=_PACK_CTE
    + """
    SELECT lang, shard, doc_id, n_tokens, seq_id, seq_fill FROM packed
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing — the batch-construction step of LLM training
    data prep: greedily concatenate docs (in doc_id order) into
    sequences of ≤ 256 tokens, per (lang, doc_id % 8) shard
    (operators.grouped.pack_sequences). The capacity-reset running sum
    is inherently sequential per shard, so parallelism = shard count;
    only metadata columns (ids + token counts) enter the grouped-map,
    never the text. The oracle replays the same fold as a DuckDB
    recursive CTE."""
    docs = load_table(spark, "documents", sf_dir).select(
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    return pack_sequences(
        docs,
        shard_cols=["lang", "shard"],
        order_col="doc_id",
        tokens_col="n_tokens",
        capacity=_PACK_CAPACITY,
    )


@register(
    "pack_efficiency_report",
    oracle=_PACK_CTE
    + f"""
    SELECT lang, shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(MAX(seq_id) + 1 AS BIGINT) AS n_seqs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(SUM(n_tokens) /
                 (CAST(MAX(seq_id) + 1 AS DOUBLE) * {_PACK_CAPACITY}), 6)
             AS fill_ratio,
           ROUND(1.0 - SUM(n_tokens) /
                 (CAST(MAX(seq_id) + 1 AS DOUBLE) * {_PACK_CAPACITY}), 6)
             AS waste_ratio
    FROM packed
    GROUP BY lang, shard
    """,
)
def q_pack_efficiency_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency QA (round 11) — the readout a training-data
    pipeline checks before shipping shards: per (lang, shard) packing
    group, the document/sequence counts, total token mass, and the
    FILL RATIO of the greedy packing (tokens / (sequences ×
    capacity)); waste_ratio is the padding fraction a training run
    would burn. Greedy next-fit packing typically fills 85-95% at
    this corpus's doc-length distribution — a collapsing fill ratio
    after an upstream change (e.g. a dedup pass shortening docs below
    the capacity's sweet spot) is the regression this report
    catches.

    Shape: one aggregation over the packing fold's output, grouped
    on the fold's exact keys — Catalyst re-shuffles it (grouped-map
    output partitioning is not propagated through
    FlatMapGroupsInPandas), but the exchanged rows are per-DOC
    metadata (ids + counts, never text), so the report adds one
    metadata-width exchange at any corpus size. Deterministic
    integer counts + 6-dp ratios → full value-hash oracle chaining
    the shared packing recursive CTE."""
    docs = load_table(spark, "documents", sf_dir).select(
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        docs,
        shard_cols=["lang", "shard"],
        order_col="doc_id",
        tokens_col="n_tokens",
        capacity=_PACK_CAPACITY,
    )
    denom = (F.max("seq_id") + 1).cast("double") * F.lit(_PACK_CAPACITY)
    return packed.groupBy("lang", "shard").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        (F.max("seq_id") + 1).cast("long").alias("n_seqs"),
        F.sum("n_tokens").cast("long").alias("total_tokens"),
        round6(F.sum("n_tokens") / denom).alias("fill_ratio"),
        round6(F.lit(1.0) - F.sum("n_tokens") / denom).alias("waste_ratio"),
    )


# ---------------------------------------------------------------------------
# per-source document cap (domain balancing)
# ---------------------------------------------------------------------------


@register(
    "cap_per_source",
    oracle="""
    SELECT source, doc_id, lang, n_chars, rnk FROM (
      SELECT source, doc_id, lang, n_chars,
             CAST(ROW_NUMBER() OVER (
               PARTITION BY source ORDER BY n_chars DESC, doc_id
             ) AS BIGINT) AS rnk
      FROM documents
    ) WHERE rnk <= 40
    """,
)
def q_cap_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source (domain) cap — the anti-domination step of corpus
    curation: keep at most N docs per source, preferring longer ones
    (deterministic doc_id tiebreak). One windowed shuffle on the
    source key (operators.windows.topk_per_group); at 100 TB a skewed
    mega-domain is the straggler risk, and AQE skew-split plus the cap
    itself (each task emits ≤ N rows per key) bound it."""
    docs = load_table(spark, "documents", sf_dir)
    return topk_per_group(
        docs.select("source", "doc_id", "lang", "n_chars"),
        partition_by=["source"],
        order_by=[F.col("n_chars").desc(), F.col("doc_id")],
        k=40,
        rank_col="rnk",
    ).select(
        "source", "doc_id", "lang", "n_chars", F.col("rnk").cast("long").alias("rnk")
    )


# ---------------------------------------------------------------------------
# snapshot-incremental dedup against a fingerprint store
# ---------------------------------------------------------------------------

_FP_SQL = "md5(trim(regexp_replace({c}, '\\s+', ' ', 'g')))"


@register(
    "dedup_incremental",
    oracle=f"""
    WITH base AS (SELECT * FROM documents WHERE doc_id < 250),
    fresh AS (SELECT * FROM documents WHERE doc_id >= 250),
    delta AS (
      SELECT doc_id, text, lang, source, n_chars FROM fresh
      UNION ALL
      SELECT doc_id + 1000, text, lang, source, n_chars FROM base
      UNION ALL
      SELECT doc_id + 2000, text, lang, source, n_chars FROM fresh
      WHERE doc_id < 300
    ),
    fp AS (
      SELECT doc_id, lang, source, n_chars,
             {_FP_SQL.format(c="text")} AS fp
      FROM delta
    ),
    store AS (SELECT DISTINCT {_FP_SQL.format(c="text")} AS fp FROM base),
    novel AS (
      SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM store)
    ),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM novel GROUP BY fp)
    SELECT d.doc_id, d.lang, d.source, d.n_chars
    FROM delta d JOIN keep USING (doc_id)
    """,
)
def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot-incremental exact dedup (dedup.exact.dedup_incremental)
    — each ingest batch dedups against the append-only fingerprint
    store of prior snapshots instead of re-deduplicating the corpus.
    The batch here is synthesized from the fixtures: fresh docs
    (doc_id >= 250) + re-crawls of the base snapshot (same text, new
    ids) + intra-batch repeats; survivors must be exactly the fresh
    originals. Only (fp, id) pairs shuffle — never text — and at
    100 TB the store side is bucketed on fp so repeated ingests skip
    its shuffle."""
    docs = load_table(spark, "documents", sf_dir)
    cols = ["doc_id", "text", "lang", "source", "n_chars"]
    base = docs.filter(F.col("doc_id") < 250).select(cols)
    fresh = docs.filter(F.col("doc_id") >= 250).select(cols)

    def reid(df: DataFrame, offset: int) -> DataFrame:
        return df.select(
            (F.col("doc_id") + offset).alias("doc_id"), *cols[1:]
        )

    delta = fresh.unionByName(reid(base, 1000)).unionByName(
        reid(fresh.filter(F.col("doc_id") < 300), 2000)
    )
    store = base.select(md5_fingerprint_expr("text").alias("fp"))
    survivors = dedup_incremental(delta, store, "text", "doc_id")
    return survivors.select("doc_id", "lang", "source", "n_chars")


# ---------------------------------------------------------------------------
# corpus drift: per-source token-distribution divergence
# ---------------------------------------------------------------------------

_DRIFT_VOCAB = 2000


@register(
    "corpus_drift",
    oracle=f"""
    WITH tk AS (
      SELECT source, unnest({tokens_sql("text")}) AS token
      FROM documents
    ),
    call AS (SELECT token, COUNT(*) AS c_all FROM tk GROUP BY token),
    vocab AS (
      SELECT token, c_all FROM call ORDER BY c_all DESC, token
      LIMIT {_DRIFT_VOCAB}
    ),
    csrc AS (
      SELECT source, token, COUNT(*) AS c_s FROM tk
      WHERE token IN (SELECT token FROM vocab) GROUP BY 1, 2
    ),
    srcs AS (SELECT DISTINCT source FROM documents),
    grid AS (
      SELECT s.source, v.token, v.c_all, COALESCE(c.c_s, 0) AS c_s
      FROM srcs s CROSS JOIN vocab v
      LEFT JOIN csrc c ON c.source = s.source AND c.token = v.token
    ),
    tot AS (
      SELECT source, SUM(c_s) AS n_s, SUM(c_all - c_s) AS n_r
      FROM grid GROUP BY source
    ),
    terms AS (
      SELECT g.source,
             CAST(g.c_s AS DOUBLE) / t.n_s AS p,
             CAST(g.c_all - g.c_s AS DOUBLE) / t.n_r AS q
      FROM grid g JOIN tot t USING (source)
    ),
    fp AS (
      SELECT source,
             CAST(ROUND((
               CASE WHEN p > 0 THEN p * ln(2 * p / (p + q)) ELSE 0 END +
               CASE WHEN q > 0 THEN q * ln(2 * q / (p + q)) ELSE 0 END
             ) * 1e9) AS BIGINT) AS t_fp
      FROM terms
    )
    SELECT f.source,
           CAST(t.n_s AS BIGINT) AS n_tokens,
           ROUND(SUM(t_fp) / 2e9, 6) AS js_divergence
    FROM fp f JOIN tot t USING (source)
    GROUP BY f.source, t.n_s
    """,
)
def q_corpus_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-data drift monitor: Jensen-Shannon divergence between
    each source's token distribution and the rest of the corpus,
    renormalized over the global top-2000 vocabulary (the standard cap
    that bounds the source×vocab grid — at 100 TB the grid is
    sources × V, independent of corpus size, and every join side
    below it is broadcastable). Per-token JS terms are summed
    FIXED-POINT (×1e9 → bigint) so the reduction is associative and
    bit-identical across engines and partitionings — same convention
    as the engine's money sums (functions.numeric.fixed_point_sum).
    JS is symmetric and bounded [0, ln 2]; a source whose language
    mix shifts shows up as a rising divergence without any labeling.
    """
    docs = load_table(spark, "documents", sf_dir)
    tk = docs.select(
        "source", F.explode(tokens_expr(F.col("text"))).alias("token")
    )
    c_all = tk.groupBy("token").agg(F.count(F.lit(1)).alias("c_all"))
    vocab = c_all.orderBy(F.desc("c_all"), F.asc("token")).limit(_DRIFT_VOCAB)
    c_src = (
        tk.join(F.broadcast(vocab.select("token")), "token")
        .groupBy("source", "token")
        .agg(F.count(F.lit(1)).alias("c_s"))
    )
    srcs = docs.select("source").distinct()
    grid = (
        srcs.crossJoin(F.broadcast(vocab))
        .join(c_src, ["source", "token"], "left")
        .withColumn("c_s", F.coalesce(F.col("c_s"), F.lit(0)))
    )
    tot = grid.groupBy("source").agg(
        F.sum("c_s").alias("n_s"),
        F.sum(F.col("c_all") - F.col("c_s")).alias("n_r"),
    )
    terms = grid.join(F.broadcast(tot), "source").select(
        "source",
        (F.col("c_s").cast("double") / F.col("n_s")).alias("p"),
        ((F.col("c_all") - F.col("c_s")).cast("double") / F.col("n_r")).alias("q"),
    )
    term = F.when(
        F.col("p") > 0, F.col("p") * F.log(2 * F.col("p") / (F.col("p") + F.col("q")))
    ).otherwise(F.lit(0.0)) + F.when(
        F.col("q") > 0, F.col("q") * F.log(2 * F.col("q") / (F.col("p") + F.col("q")))
    ).otherwise(F.lit(0.0))
    fp = terms.select(
        "source", F.round(term * 1e9).cast("long").alias("t_fp")
    )
    return (
        fp.groupBy("source")
        .agg(F.sum("t_fp").alias("s_fp"))
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            F.col("n_s").cast("long").alias("n_tokens"),
            F.round(F.col("s_fp") / 2e9, 6).alias("js_divergence"),
        )
    )


# ---------------------------------------------------------------------------
# overlapping chunking (RAG / context-window prep)
# ---------------------------------------------------------------------------

_CHUNK_W = 64   # tokens per chunk
_CHUNK_S = 48   # stride (overlap = W - S = 16)


@register(
    "chunk_overlap",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {tokens_sql("text")} AS toks,
             len({tokens_sql("text")}) AS n
      FROM documents
    ),
    nc AS (
      SELECT doc_id, toks,
             CASE WHEN n <= {_CHUNK_W} THEN 1
                  ELSE ((n - {_CHUNK_W} + {_CHUNK_S} - 1) // {_CHUNK_S}) + 1
             END AS n_chunks
      FROM base
    ),
    g AS (
      SELECT doc_id, toks, unnest(range(0, n_chunks)) AS i FROM nc
    )
    SELECT doc_id,
           CAST(i AS BIGINT) AS chunk_id,
           CAST(i * {_CHUNK_S} AS BIGINT) AS start_tok,
           CAST(len(toks[i * {_CHUNK_S} + 1 : i * {_CHUNK_S} + {_CHUNK_W}])
                AS BIGINT) AS chunk_len,
           array_to_string(
             toks[i * {_CHUNK_S} + 1 : i * {_CHUNK_S} + {_CHUNK_W}], ' '
           ) AS chunk_text
    FROM g
    """,
)
def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window document chunking with overlap — the RAG /
    context-window prep op: 64-token chunks at stride 48 (16-token
    overlap), last chunk ragged, token-less docs yield one empty
    chunk. Pure Catalyst (tokens → sequence → explode → slice):
    shuffle-free scan-side expansion (locked in tests/test_plans.py),
    so at 100 TB it streams — no state, no exchange, output ~n/S
    rows per doc."""
    W, S = _CHUNK_W, _CHUNK_S
    docs = load_table(spark, "documents", sf_dir)
    base = docs.select(
        "doc_id",
        tokens_expr(F.col("text")).alias("toks"),
        F.size(tokens_expr(F.col("text"))).alias("n"),
    )
    nc = base.withColumn(
        "n_chunks",
        F.when(F.col("n") <= W, F.lit(1)).otherwise(
            F.floor((F.col("n") - W + S - 1) / F.lit(S)) + 1
        ),
    )
    g = nc.select(
        "doc_id",
        "toks",
        F.explode(F.sequence(F.lit(0), (F.col("n_chunks") - 1).cast("int"))).alias("i"),
    )
    chunk = F.slice(F.col("toks"), F.col("i") * S + 1, W)
    return g.select(
        "doc_id",
        F.col("i").cast("long").alias("chunk_id"),
        (F.col("i") * S).cast("long").alias("start_tok"),
        F.size(chunk).cast("long").alias("chunk_len"),
        F.array_join(chunk, " ").alias("chunk_text"),
    )


# ---------------------------------------------------------------------------
# vocab-id tokenization — the text→ids step of a pretraining pipeline
# ---------------------------------------------------------------------------

_TOKENIZE_V = 256  # vocab size (top-V tokens by corpus frequency)
_TOKENIZE_B = 64   # OOV hash buckets (power of two: id = V + low bits of hash)


@register(
    "tokenize_to_ids",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(range(len(tk))) AS pos,
             unnest(tk) AS token
      FROM (SELECT doc_id, {tokens_sql("text")} AS tk FROM documents)
    ),
    counts AS (SELECT token, COUNT(*) AS cnt FROM tok GROUP BY token),
    vocab AS (
      SELECT token, vid FROM (
        SELECT token,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS vid
        FROM counts
      ) WHERE vid < {_TOKENIZE_V}
    )
    SELECT t.doc_id, CAST(t.pos AS INT) AS pos,
           CAST(COALESCE(v.vid,
                {_TOKENIZE_V} + ({portable_hash64_sql("t.token")}
                                 & {_TOKENIZE_B - 1})) AS INT) AS token_id
    FROM tok t LEFT JOIN vocab v USING (token)
    """,
)
def q_tokenize_to_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-id tokenization — the text→ids step every pretraining
    pipeline runs after curation: build the corpus vocabulary (top-V
    tokens by frequency, deterministic (count desc, token) tie-break),
    map each positioned token to its id, and send out-of-vocabulary
    tokens to one of B stable hash buckets (id = V + low-bits of the
    portable 64-bit hash — identical bit extraction in every engine,
    and the fallback real subword tokenizers use for bytes/unknowns).

    Scale shape: the vocab build is one shuffle plus a single-partition
    window over only V' distinct tokens (bounded, tiny); the mapping
    join BROADCASTS the vocab onto the positioned token stream, so the
    hot path is one scan + map-side join at any corpus size. Output is
    (doc_id, pos, token_id) rows — the exploded layout downstream
    sequence packing (pack_sequences) consumes directly.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    # top-V FIRST via orderBy+limit (TakeOrderedAndProject: per-
    # partition heaps + driver merge of V rows), THEN rank the V
    # survivors in a single tiny window partition. Ranking before
    # limiting would run a global row_number over EVERY distinct token
    # — billions at corpus scale — through one partition.
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(_TOKENIZE_V)
    w = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    vocab = top.select("token", (F.row_number().over(w) - 1).alias("vid"))
    oov_id = F.lit(_TOKENIZE_V) + portable_hash64_expr(F.col("token")).bitwiseAND(
        F.lit(_TOKENIZE_B - 1)
    )
    return toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id",
        "pos",
        F.coalesce(F.col("vid"), oov_id).cast("int").alias("token_id"),
    )


# ---------------------------------------------------------------------------
# hashed-feature quality classifier (fasttext-style linear scorer)
# ---------------------------------------------------------------------------

_QC_V = 256  # hashed feature buckets
_QC_SCALE = 1000  # integer micro-units per unit weight
# Deterministic "pretrained" weight table: splitmix64-derived integer
# micro-weights in [-1000, 1000], embedded as literals in BOTH the
# Spark plan and the SQL oracle (same pattern as the minhash
# coefficients / LSH hyperplanes). A real deployment swaps in an
# exported fasttext/linear-model weight vector; the dataflow — hash
# token, index a broadcast-free literal table, integer-sum, normalize
# — is identical.
_QC_WEIGHTS = [
    splitmix64(1000 + k) % (2 * _QC_SCALE + 1) - _QC_SCALE for k in range(_QC_V)
]


@register(
    "text_quality_classifier",
    oracle=f"""
    WITH tk AS (
      SELECT doc_id, {tokens_sql("text")} AS tk FROM documents
    )
    SELECT doc_id,
           CAST(len(tk) AS BIGINT) AS n_tok,
           CAST(COALESCE(list_sum(list_transform(tk,
               t -> ([{",".join(str(w) for w in _QC_WEIGHTS)}])[
                   CAST((CAST(({portable_hash64_sql("t")}
                         & 9223372036854775807) AS BIGINT) % {_QC_V})
                        AS BIGINT) + 1])), 0) AS BIGINT) AS score_units,
           CASE WHEN len(tk) = 0 THEN 0.0
                ELSE COALESCE(list_sum(list_transform(tk,
                    t -> ([{",".join(str(w) for w in _QC_WEIGHTS)}])[
                        CAST((CAST(({portable_hash64_sql("t")}
                              & 9223372036854775807) AS BIGINT) % {_QC_V})
                             AS BIGINT) + 1])), 0)
                    / ({_QC_SCALE}.0 * len(tk)) END AS quality_score,
           CASE WHEN len(tk) > 0 AND COALESCE(list_sum(list_transform(tk,
                    t -> ([{",".join(str(w) for w in _QC_WEIGHTS)}])[
                        CAST((CAST(({portable_hash64_sql("t")}
                              & 9223372036854775807) AS BIGINT) % {_QC_V})
                             AS BIGINT) + 1])), 0) > 0
                THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS keep
    FROM tk
    """,
)
def q_text_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashed-feature linear quality classifier — the fasttext-shaped
    model-based filter every modern pretraining corpus runs (CCNet,
    fineweb): hash each token into one of V buckets, sum the bucket
    weights, normalize by length, threshold. Entirely row-local
    Catalyst expressions: the literal weight table lives IN the plan
    (no broadcast, no join, no UDF), tokens hash with the portable
    md5-derived hash, and the weight sum is INTEGER micro-units — so
    the score is bit-identical across engines and the whole query is
    shuffle-free, the ideal 100 TB shape (pure map over the scan).

    Output per doc: token count, exact integer score_units, the
    normalized 6-dp score, and the keep decision.
    """
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", tokens_expr("text").alias("tk"))
    # the SHARED scorer (coalesce-to-0 on empty/null token arrays) —
    # an inline copy here once diverged from the composed pipelines on
    # NULL input (review r4): one definition, one semantics.
    scored = toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tok"),
        _quality_units_expr(F.col("tk")).alias("score_units"),
    )
    return scored.select(
        "doc_id",
        "n_tok",
        "score_units",
        # NO round: score_units and n_tok are identical integers in
        # both engines, so one IEEE division is bit-identical — while
        # ROUND(x, 6) would DIVERGE on exact half-boundaries (Spark
        # rounds the shortest decimal rendering via BigDecimal, C
        # engines round the binary value; doc 408 at sf0.01 lands on
        # 1043/16000 = .0651875 and split the engines)
        F.when(F.col("n_tok") == 0, F.lit(0.0))
        .otherwise(
            F.col("score_units") / (F.lit(float(_QC_SCALE)) * F.col("n_tok"))
        )
        .alias("quality_score"),
        ((F.col("n_tok") > 0) & (F.col("score_units") > 0))
        .cast("long")
        .alias("keep"),
    )


# ---------------------------------------------------------------------------
# corpus snapshot diff (dataset versioning)
# ---------------------------------------------------------------------------


@register(
    "corpus_snapshot_diff",
    oracle="""
    WITH a AS (
      SELECT doc_id, md5(text) AS fp FROM documents WHERE doc_id % 10 < 8
    ),
    b AS (
      SELECT doc_id,
             md5(CASE WHEN doc_id % 3 = 0 THEN text || ' [edited]'
                      ELSE text END) AS fp
      FROM documents WHERE doc_id % 10 > 0
    )
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS status
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.fp <> b.fp
    """,
)
def q_corpus_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff — the dataset-versioning primitive (what changed
    between corpus v1 and v2?): fingerprint both snapshots, full-outer
    join on the document key, classify added / removed / changed, and
    emit ONLY the delta. The two snapshots are derived from the one
    documents table with deterministic membership and edit rules so
    the diff is oracle-checkable at any scale factor.

    Scale shape: each snapshot reduces to a NARROW (doc_id, md5)
    manifest before the join — the full text never shuffles — and the
    full-outer join is one co-partitioned exchange per side, linear in
    corpus size. This is how 100 TB corpora are diffed in practice:
    manifests, not payloads. Sibling of dedup_incremental (the
    append-only ingest gate); this is the audit view between pinned
    versions."""
    docs = load_table(spark, "documents", sf_dir)
    a = docs.filter(F.col("doc_id") % 10 < 8).select(
        "doc_id", F.md5("text").alias("fp_a")
    )
    b_text = F.when(
        F.col("doc_id") % 3 == 0, F.concat(F.col("text"), F.lit(" [edited]"))
    ).otherwise(F.col("text"))
    b = docs.filter(F.col("doc_id") % 10 > 0).select(
        "doc_id", F.md5(b_text).alias("fp_b")
    )
    d = a.join(b, "doc_id", "full_outer")
    status = (
        F.when(F.col("fp_a").isNull(), F.lit("added"))
        .when(F.col("fp_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("changed"))
    )
    return (
        d.filter(
            F.col("fp_a").isNull()
            | F.col("fp_b").isNull()
            | (F.col("fp_a") != F.col("fp_b"))
        )
        .select("doc_id", status.alias("status"))
    )


# ---------------------------------------------------------------------------
# incremental curation pipeline (compose the ingest-day-N flow)
# ---------------------------------------------------------------------------


def _quality_units_expr(tk_col, hash_fn=None):
    """Integer micro-unit quality score of a token array — the same
    literal weight table / portable hash as text_quality_classifier,
    factored so composed pipelines score identically. ``hash_fn``
    swaps the token hash (portable md5-derived by default; xxhash64
    for the fast path)."""
    hash_fn = hash_fn or portable_hash64_expr
    max63 = F.lit((1 << 63) - 1).cast("long")
    w_arr = F.array(*[F.lit(w).cast("long") for w in _QC_WEIGHTS])
    bucket_w = F.transform(
        tk_col,
        lambda t: F.element_at(
            w_arr,
            ((hash_fn(t).bitwiseAND(max63) % _QC_V) + 1).cast("int"),
        ),
    )
    return F.coalesce(
        F.aggregate(bucket_w, F.lit(0).cast("long"), lambda a, x: a + x),
        F.lit(0).cast("long"),
    )


def _quality_units_sql(tk: str) -> str:
    w = ",".join(str(x) for x in _QC_WEIGHTS)
    return f"""CAST(COALESCE(list_sum(list_transform({tk},
        t -> ([{w}])[
            CAST((CAST(({portable_hash64_sql("t")}
                  & 9223372036854775807) AS BIGINT) % {_QC_V})
                 AS BIGINT) + 1])), 0) AS BIGINT)"""


@register(
    "pipeline_incremental_curation",
    oracle=f"""
    WITH store AS (SELECT doc_id, text, source FROM documents
                   WHERE doc_id % 10 < 8),
    fresh AS (SELECT doc_id, text, source FROM documents
              WHERE doc_id % 10 >= 8),
    delta AS (
      SELECT doc_id, text, source FROM fresh
      UNION ALL
      SELECT doc_id + 100000, text, source FROM store
      UNION ALL
      SELECT doc_id + 200000, text, source FROM fresh WHERE doc_id % 20 = 8
    ),
    fp AS (
      SELECT doc_id, text, source, {_FP_SQL.format(c="text")} AS fp
      FROM delta
    ),
    sfp AS (SELECT DISTINCT {_FP_SQL.format(c="text")} AS fp FROM store),
    novel AS (SELECT * FROM fp WHERE fp NOT IN (SELECT fp FROM sfp)),
    keep AS (SELECT MIN(doc_id) AS doc_id FROM novel GROUP BY fp),
    surv AS (
      SELECT n.doc_id, n.text, n.source FROM novel n
      JOIN keep k ON n.doc_id = k.doc_id
    ),
    tk AS (
      SELECT doc_id, source, {tokens_sql("text")} AS tk FROM surv
    ),
    scored AS (
      SELECT doc_id, source,
             CAST(len(tk) AS BIGINT) AS n_tok,
             {_quality_units_sql("tk")} AS score_units
      FROM tk
    )
    SELECT doc_id, source, n_tok, score_units
    FROM scored WHERE n_tok > 0 AND score_units > 0
    """,
)
def q_pipeline_incremental_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ingest-day-N curation flow COMPOSED from this package's
    incremental operators — what actually runs nightly on a growing
    100 TB corpus (full-corpus recuration is the thing incremental
    design exists to avoid): (1) the arriving batch (fresh docs +
    re-crawled store copies + an intra-batch repeat) passes the exact
    incremental gate (dedup.exact.dedup_incremental — anti-join
    against the store's append-only fingerprint set, min-id within the
    batch); (2) survivors are scored by the hashed-feature quality
    classifier (same literal weight table as text_quality_classifier)
    and gated on score > 0.

    Shuffle budget: one fp anti-join + one intra-batch min-id
    aggregate — both over (fp, id) pairs, never text — and the
    quality stage is pure map. Each stage is individually
    oracle-green; this query pins that their COMPOSITION stays
    bit-exact (the integration failure mode unit checks can't see)."""
    docs = load_table(spark, "documents", sf_dir)
    cols = ["doc_id", "text", "source"]
    store = docs.filter(F.col("doc_id") % 10 < 8).select(cols)
    fresh = docs.filter(F.col("doc_id") % 10 >= 8).select(cols)

    def reid(df: DataFrame, offset: int) -> DataFrame:
        return df.select((F.col("doc_id") + offset).alias("doc_id"), *cols[1:])

    delta = fresh.unionByName(reid(store, 100000)).unionByName(
        reid(fresh.filter(F.col("doc_id") % 20 == 8), 200000)
    )
    store_fp = store.select(md5_fingerprint_expr("text").alias("fp"))
    survivors = dedup_incremental(delta, store_fp, "text", "doc_id")
    scored = survivors.select(
        "doc_id",
        "source",
        tokens_expr("text").alias("tk"),
    ).select(
        "doc_id",
        "source",
        F.size("tk").cast("long").alias("n_tok"),
        _quality_units_expr(F.col("tk")).alias("score_units"),
    )
    return scored.filter((F.col("n_tok") > 0) & (F.col("score_units") > 0))


@register("text_quality_classifier_fast")
def q_text_quality_classifier_fast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """xxhash64 FAST PATH of text_quality_classifier — identical weight
    table, bucket count, dataflow, and output schema; only the token
    hash differs (JVM-intrinsic xxhash64 instead of the md5-derived
    portable hash: measured 3.6× faster at sf0.1, and the hash is
    >90% of the scoring cost). Bucket assignments differ per hash
    family, so the scores are not cross-engine comparable — rows-only
    by design, with the full semantics pinned by the oracle-green
    portable twin (the dedup_minhash_lsh / _portable pattern). At
    100 TB this is the path you run; the portable twin is the proof
    it computes what it claims."""
    docs = load_table(spark, "documents", sf_dir)
    toks = docs.select("doc_id", tokens_expr("text").alias("tk"))
    scored = toks.select(
        "doc_id",
        F.size("tk").cast("long").alias("n_tok"),
        _quality_units_expr(F.col("tk"), hash_fn=F.xxhash64).alias("score_units"),
    )
    return scored.select(
        "doc_id",
        "n_tok",
        "score_units",
        F.when(F.col("n_tok") == 0, F.lit(0.0))
        .otherwise(
            F.col("score_units") / (F.lit(float(_QC_SCALE)) * F.col("n_tok"))
        )
        .alias("quality_score"),
        ((F.col("n_tok") > 0) & (F.col("score_units") > 0))
        .cast("long")
        .alias("keep"),
    )


@register(
    "sample_weighted",
    oracle="""
    SELECT doc_id, source, n_chars,
           (n_chars * 1099511627776)
             // (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 10))
                      AS BIGINT) + 1) AS priority
    FROM documents
    ORDER BY priority DESC, doc_id
    LIMIT 100
    """,
)
def q_sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional corpus subsampling via PRIORITY SAMPLING
    (Duffield, Lund & Thorup, JACM '07): each doc draws a
    deterministic pseudo-uniform u from md5(doc_id) and gets priority
    w/u (weight = n_chars, the usual length-proportional training
    weight); the global top-k by priority is a weight-biased sample
    whose inclusion probabilities are provably near-optimal for
    subset-sum estimation. High-weight docs are likelier to be kept,
    but every doc has a chance — unlike a plain top-k by length,
    which is deterministic truncation.

    All arithmetic is integer: priority = (w << 40) DIV u with
    u in [1, 2^40] from the first 10 md5 hex chars — no float
    division, so ranks (and the top-k cutoff, tie-broken by doc_id)
    are bit-identical across engines. Spark executes the top-k as
    TakeOrderedAndProject (never a global sort): at 100 TB each
    partition keeps a local k-heap and only k rows per partition move
    — the canonical one-pass distributed weighted sample."""
    docs = load_table(spark, "documents", sf_dir)
    u = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 10), 16, 10)
        .cast("long")
        + 1
    )
    return (
        docs.select(
            "doc_id",
            "source",
            "n_chars",
            (F.col("n_chars") * F.lit(1099511627776)).alias("_pw"),
            u.alias("_u"),
        )
        .select(
            "doc_id",
            "source",
            "n_chars",
            F.expr("_pw div _u").alias("priority"),
        )
        .orderBy(F.desc("priority"), "doc_id")
        .limit(100)
    )


@register(
    "ts_ewma",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id, event_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    r AS (
      SELECT user_id, event_id, rn, CAST(cents AS DOUBLE) AS ewma
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.event_id, e.rn, (r.ewma + e.cents) / 2.0
      FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, event_id, ewma FROM r
    """,
)
def q_ts_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average (alpha = 1/2)
    over the event stream — the smoothing/trend primitive (monitoring
    baselines, engagement decay) that NO window function expresses:
    the recursion e_t = (e_{t-1} + x_t)/2 references its own output,
    so it runs through the engine's custom-sequential-operator path —
    since round 5 the PARTITION-amortized form
    (operators/grouped.ewma_half_partitioned): repartition+sort on the
    user key, then one mapInPandas pass folding across group
    boundaries, so the Python cost is per-partition, not
    per-tiny-group (~10× at sf0.1; the per-group applyInPandas twin
    stays in operators/grouped.py, equality-locked).

    The oracle is the textbook recursive CTE. Cross-engine
    bit-equality is engineered, not hoped for: values enter as exact
    integer cents, and alpha = 1/2 makes every step one
    correctly-rounded IEEE addition plus an exact halving — identical
    in numpy and DuckDB — so even 100-step chains hash-match exactly
    (see ewma_half's docstring for why a general alpha wouldn't).

    Scale shape: one shuffle on user_id; each group moves only
    (ids, ts, cents). Heavy-hitter users would pre-split by time
    range with per-range seeds carried forward — the standard
    sequential-scan sharding."""
    from bigdatafinalproject_hockey_spark.operators.grouped import (
        ewma_half_partitioned,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "event_id",
        "ts",
        cents_expr(F.col("value")).alias("cents"),
    )
    return ewma_half_partitioned(
        ev, ["user_id"], ["ts", "event_id"], "cents"
    ).select("user_id", "event_id", "ewma")


@register(
    "text_bigrams_udtf",
    oracle=f"""
    SELECT doc_id, CAST(i - 1 AS INT) AS pos,
           list_extract(toks, i) || ' ' || list_extract(toks, i + 1)
             AS bigram
    FROM (SELECT doc_id, {tokens_sql("text")} AS toks
          FROM documents) t,
    LATERAL (SELECT unnest(generate_series(1, len(toks) - 1)) AS i) g
    """,
)
def q_text_bigrams_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional bigram expansion through a PYTHON UDTF (Spark 3.5+
    user-defined table function, Arrow-optimized): one input document
    yields one row per adjacent token pair, joined laterally — the
    1→N generator API for logic that outgrows a single expression.
    This engine's production n-gram paths stay relational (exploded
    JVM expressions — see text_bigram_logprob); the UDTF exists to
    cover the API surface, and does it the right way: Arrow batch
    transfer (ArrowEvalPythonUDTF in the plan), tokenization
    identical to functions.text.tokens_expr so the rows are
    value-checkable against the SQL oracle, and a terminating
    generator (no state across rows).

    Scale note: a UDTF is a map-side operator — no shuffle, scales
    with input partitions — but each output row crosses the
    Python/Arrow boundary; at 100 TB you budget it like mapInPandas,
    not like an expression."""
    import re

    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, bigram string", useArrow=True)
    class Bigrams:
        def eval(self, text: str):
            if text is None:
                return
            toks = [
                t for t in re.split(r"[^a-z0-9]+", text.lower()) if t
            ]
            for i in range(len(toks) - 1):
                yield (i, toks[i] + " " + toks[i + 1])

    spark.udtf.register("bigrams_udtf", Bigrams)
    load_table(spark, "documents", sf_dir).createOrReplaceTempView(
        "docs_for_udtf"
    )
    return spark.sql(
        """
        SELECT d.doc_id, b.pos, b.bigram
        FROM docs_for_udtf d, LATERAL bigrams_udtf(d.text) b
        """
    )


@register(
    "ts_holt_forecast",
    oracle="""
    WITH RECURSIVE ev AS (
      SELECT user_id,
             CAST(ROUND(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n
      FROM events
    ),
    r AS (
      SELECT user_id, rn, n,
             CAST(cents AS DOUBLE) AS lvl, CAST(0 AS DOUBLE) AS trend
      FROM ev WHERE rn = 1
      UNION ALL
      SELECT e.user_id, e.rn, e.n,
             (e.cents + (r.lvl + r.trend)) / 2.0,
             (((e.cents + (r.lvl + r.trend)) / 2.0 - r.lvl) + r.trend) / 2.0
      FROM r JOIN ev e ON e.user_id = r.user_id AND e.rn = r.rn + 1
    )
    SELECT user_id, CAST(n AS BIGINT) AS n_points,
           lvl AS level, trend, lvl + trend AS forecast
    FROM r WHERE rn = n
    """,
)
def q_ts_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear (double-exponential) smoothing per user, reduced
    to the final (level, trend) state and the one-step-ahead forecast
    — the trend-aware upgrade of ts_ewma that a plain EWMA can't give
    (it lags any drifting series by design). TWO mutually-recursive
    state variables, so not window-expressible — but because only the
    FINAL state is needed, the recursion IS a fold, and since round 5
    it runs as a pure-JVM ``F.aggregate`` higher-order function over
    the sorted per-user sequence
    (operators/grouped.holt_linear_half_hof): no Python worker, no
    Arrow round-trip, one shuffle, ~5× faster than the applyInPandas
    twin (which remains in operators/grouped.py as the general
    sequential path — per-step outputs like ts_ewma still need it).

    alpha = beta = 1/2 keeps the cross-engine bit-exactness argument:
    each step is a fixed tree of correctly-rounded adds/subtracts and
    exact halvings, replayed identically by the recursive-CTE oracle
    — the HOF step textually repeats the l_t expression inside b_t
    exactly as the oracle does, so both engines evaluate the SAME
    operation sequence. Inputs are exact integer cents; output doubles
    hash-match with no rounding slack (locked by the parity gate AND
    a direct HOF-vs-Arrow equality test in tests/test_modules.py)."""
    from bigdatafinalproject_hockey_spark.operators.grouped import (
        holt_linear_half_hof,
    )

    ev = load_table(spark, "events", sf_dir).select(
        "user_id",
        "ts",
        "event_id",
        cents_expr(F.col("value")).alias("cents"),
    )
    return holt_linear_half_hof(
        ev, ["user_id"], ["ts", "event_id"], "cents"
    ).select("user_id", "n_points", "level", "trend", "forecast")


# ---------------------------------------------------------------------------
# HTML boilerplate extraction (markup -> clean text)
# ---------------------------------------------------------------------------

# Closed-form expected extraction of the fixture page family
# (extraction.html_fixture_expr) — shared by the text_extract_html
# oracle and the composed pipeline_web_curation oracle.
_EXTRACT_CLEAN_SQL = """
           'heading h' || CAST(doc_id % 100 AS VARCHAR) || chr(10) ||
           trim(regexp_replace(text, '\\s+', ' ', 'g')) ||
           ' note ' || CAST(doc_id AS VARCHAR) ||
           CASE WHEN doc_id % 2 = 1
                THEN chr(10) || 'see also item ' || CAST(doc_id AS VARCHAR)
                     || ' for more context & details'
                ELSE '' END"""


@register(
    "text_extract_html",
    oracle=f"""
    SELECT doc_id,
           {_EXTRACT_CLEAN_SQL} AS clean_text,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 2 END AS INTEGER)
               AS n_blocks_kept,
           CAST(CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 3 END AS INTEGER)
               AS n_blocks_dropped
    FROM documents
    """,
)
def q_text_extract_html(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> clean-text extraction (VERDICT r9 item 1) — the stage
    every web-corpus pipeline (C4, CCNet, RefinedWeb) runs before the
    rest of this curation tier: stdlib-parser tag walk, script/style/
    head subtree + comment removal, entity decoding, block
    segmentation at block-tag boundaries, and the link-density
    boilerplate drop (jusText/Arc90 family, threshold 0.5) — see
    ``extraction.py`` for the method and the 100 TB shape (ONE
    Arrow-batched row-local stage, zero exchanges; raw HTML never
    shuffles).

    Fixture family: each corpus document is wrapped in-plan into a
    deterministic page (``extraction.html_fixture_expr``) whose chrome
    (nav / parity-dependent related-links div / footer) exercises both
    sides of the density threshold. The expected extractor output is
    therefore closed-form per row, and the oracle recomputes it
    byte-for-byte — a full value-hash check of parser, segmentation,
    entity decoding, and the density rule at once. (The closed form
    assumes nonempty document text — true of the corpus, min 47
    chars.) No reference analog: the reference ingests structured
    CSVs (code/experiment.py:281-284)."""
    from bigdatafinalproject_hockey_spark.extraction import (
        extract_html_text_batched,
        html_fixture_expr,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", html_fixture_expr("text", "doc_id").alias("html")
    )
    return extract_html_text_batched(docs, "html", "doc_id")


# ---------------------------------------------------------------------------
# variable-length exact substring dedup (Lee et al. 2022)
# ---------------------------------------------------------------------------

_SPAN_K = 15
_SPAN_MAX_BLOCK = 64

# The maximal-repeated-span detection as DuckDB CTEs — shared by the
# dedup_substring / dedup_substring_rewrite oracles and (parameterized
# over its source relation) the composed pipeline_web_curation oracle.


def _span_cte_sql(
    source: str = "documents", text: str = "text", prefix: str = ""
) -> str:
    """``prefix`` lets a composed oracle inject its own upstream CTEs
    (e.g. the extraction+gate pair) ahead of the span pipeline; it
    must be empty or end with a comma."""
    return f"""
    WITH {prefix} t AS (
      SELECT doc_id, {tokens_sql(text)} AS toks FROM {source}
    ),
    s AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(toks) - {_SPAN_K - 1}, 0))) AS pos,
             toks
      FROM t
    ),
    sh AS (
      SELECT doc_id, pos,
             md5(array_to_string(toks[pos+1 : pos+{_SPAN_K}], ' ')) AS fp
      FROM s
    ),
    blk AS (
      SELECT fp FROM sh GROUP BY fp
      HAVING COUNT(*) BETWEEN 2 AND {_SPAN_MAX_BLOCK}
    ),
    m AS (
      SELECT a.doc_id AS doc_a, a.pos AS pos_a,
             b.doc_id AS doc_b, b.pos AS pos_b
      FROM sh a JOIN sh b ON a.fp = b.fp AND a.doc_id < b.doc_id
      WHERE a.fp IN (SELECT fp FROM blk)
    ),
    runs AS (
      SELECT doc_a, doc_b, pos_a, pos_b,
             pos_a - ROW_NUMBER() OVER (
               PARTITION BY doc_a, doc_b, pos_a - pos_b ORDER BY pos_a
             ) AS grp
      FROM m
    ),
    spans AS (
      SELECT doc_a, doc_b,
             CAST(MIN(pos_a) AS BIGINT) AS start_a,
             CAST(MIN(pos_b) AS BIGINT) AS start_b,
             CAST(MAX(pos_a) - MIN(pos_a) + {_SPAN_K} AS BIGINT) AS span_len
      FROM runs GROUP BY doc_a, doc_b, pos_a - pos_b, grp
    )"""


@register(
    "dedup_substring",
    oracle=_span_cte_sql()
    + """
    SELECT doc_a, doc_b, start_a, start_b, span_len FROM spans
    """,
)
def q_dedup_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Variable-length EXACT substring dedup (VERDICT r9 item 3; Lee
    et al. 2022, public method): every maximal cross-document repeated
    token span of >= 15 tokens, as (doc_a < doc_b, start_a, start_b,
    span_len). Finds the duplication the fixed 20-token
    ``dedup_segments`` chunking misses — a repeated quote that
    straddles chunk boundaries is reported here as ONE maximal span
    with exact token coordinates (at sf0.01: spans of 23-93 tokens).

    Shape (dedup/substring.py): sliding k-shingle fingerprints
    scan-side, a capped blocked inverted index (pairs expanded
    in-expression inside each posting list — never an all-pairs
    join), and diagonal run-merging via the islands trick. Two
    exchanges total; the run window's (doc_a, doc_b, diag)
    partitioning is reused by the span aggregate. Full value-hash
    oracle — same shingles, cap, and island grouping as a DuckDB
    CTE."""
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        repeated_spans,
    )

    docs = load_table(spark, "documents", sf_dir)
    return repeated_spans(
        docs, "text", "doc_id", min_span=_SPAN_K, max_block=_SPAN_MAX_BLOCK
    )


# ---------------------------------------------------------------------------
# deterministic training reshard (reproducible global corpus shuffle)
# ---------------------------------------------------------------------------

_RESHARD_N = 16


@register(
    "reshard_training",
    oracle=_PACK_CTE
    + """,
    keyed AS (
      SELECT lang, shard, seq_id, doc_id, n_tokens, seq_fill,
             md5(lang || ':' || CAST(shard AS VARCHAR) || ':'
                 || CAST(seq_id AS VARCHAR)) AS shard_key
      FROM packed
    ),
    assigned AS (
      SELECT *, CAST(('0x' || substr(shard_key, 1, 1)) AS INTEGER)
                    AS train_shard
      FROM keyed
    )
    SELECT train_shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY train_shard
             ORDER BY shard_key, lang, shard, seq_id, doc_id
           ) AS BIGINT) AS shard_pos,
           lang, shard, seq_id, doc_id, n_tokens, seq_fill, shard_key
    FROM assigned
    """,
)
def q_reshard_training(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training reshard (VERDICT r9 item 6) — the step
    between sequence packing and training in every LLM data pipeline:
    shuffle the packed corpus REPRODUCIBLY into N training shards so
    any engine (or a re-run years later) materializes byte-identical
    shards in byte-identical order.

    Method: every packed row inherits its SEQUENCE's md5 shard key
    (sequences are the atomic training examples — they move between
    shards as units, and their internal doc order survives via the
    (shard_key, ..., doc_id) sort). The training shard is the key's
    first hex digit: N=16 CONTIGUOUS ranges of the md5 keyspace, so
    assignment is a map-side expression — no global sort, and no
    sampled range boundaries (repartitionByRange's boundaries depend
    on the sampling and cluster layout, i.e. NOT reproducible) —
    while concatenating shards in shard order still yields the whole
    corpus in global md5-key order: a uniform, seed-free,
    engine-portable permutation. Within-shard position is one
    row_number window per shard (parallelism = N; at 100 TB each
    shard sorts |corpus|/16 metadata rows — ids and counts, never
    text or token arrays).

    Cost: exactly ONE exchange beyond the packing fold (the shard
    window) — plan-locked in tests/test_plans.py. Fully deterministic
    → full value-hash oracle chaining the packing CTE."""
    docs = load_table(spark, "documents", sf_dir).select(
        "lang",
        (F.col("doc_id") % _PACK_SHARDS).alias("shard"),
        "doc_id",
        F.size(tokens_expr("text")).cast("long").alias("n_tokens"),
    )
    packed = pack_sequences(
        docs,
        shard_cols=["lang", "shard"],
        order_col="doc_id",
        tokens_col="n_tokens",
        capacity=_PACK_CAPACITY,
    )
    keyed = packed.withColumn(
        "shard_key",
        F.md5(
            F.concat_ws(
                ":",
                F.col("lang"),
                F.col("shard").cast("string"),
                F.col("seq_id").cast("string"),
            )
        ),
    ).withColumn(
        "train_shard",
        F.conv(F.substring("shard_key", 1, 1), 16, 10).cast("int"),
    )
    w = Window.partitionBy("train_shard").orderBy(
        "shard_key", "lang", "shard", "seq_id", "doc_id"
    )
    return keyed.select(
        "train_shard",
        F.row_number().over(w).cast("long").alias("shard_pos"),
        "lang", "shard", "seq_id", "doc_id", "n_tokens", "seq_fill",
        "shard_key",
    )


# The span-cut apply step as DuckDB CTEs (interval island-merge +
# token-stream rebuild) — shared by the dedup_substring_rewrite
# oracle and (round 11) the composed pipeline_web_to_shards oracle.
# Expects the `t` and `spans` CTEs of _span_cte_sql in scope; ends
# with the per-doc `rw` relation (doc, n_tokens, n_removed, dtext).
_REWRITE_CTES = """,
    cuts AS (
      SELECT doc_b AS doc, start_b AS cs, start_b + span_len AS ce
      FROM spans
    ),
    flagged AS (
      SELECT doc, cs, ce,
             CASE WHEN cs > coalesce(MAX(ce) OVER (
                    PARTITION BY doc ORDER BY cs, ce
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                  ), -1) THEN 1 ELSE 0 END AS new_island
      FROM cuts
    ),
    islands AS (
      SELECT doc, cs, ce,
             SUM(new_island) OVER (
               PARTITION BY doc ORDER BY cs, ce ROWS UNBOUNDED PRECEDING
             ) AS island
      FROM flagged
    ),
    merged AS (
      SELECT doc, MIN(cs) AS cs, MAX(ce) AS ce
      FROM islands GROUP BY doc, island
    ),
    tok AS (
      SELECT doc_id AS doc, toks, unnest(range(0, len(toks))) AS pos
      FROM t
    ),
    kept AS (
      SELECT k.doc, k.pos, k.toks[k.pos + 1] AS tk
      FROM tok k
      WHERE NOT EXISTS (
        SELECT 1 FROM merged mm
        WHERE mm.doc = k.doc AND k.pos >= mm.cs AND k.pos < mm.ce
      )
    ),
    rebuilt AS (
      SELECT doc, COUNT(*) AS n_kept,
             string_agg(tk, ' ' ORDER BY pos) AS clean_text
      FROM kept GROUP BY doc
    ),
    rw AS (
      SELECT t.doc_id AS doc,
             CAST(len(t.toks) AS BIGINT) AS n_tokens,
             CAST(len(t.toks) - coalesce(r.n_kept, 0) AS BIGINT)
               AS n_removed,
             coalesce(r.clean_text, '') AS dtext
      FROM t LEFT JOIN rebuilt r ON t.doc_id = r.doc
    )"""


@register(
    "dedup_substring_rewrite",
    oracle=_span_cte_sql()
    + _REWRITE_CTES
    + f""",
    hubfp AS (
      SELECT fp FROM sh GROUP BY fp HAVING COUNT(*) > {_SPAN_MAX_BLOCK}
    ),
    hubdoc AS (
      SELECT doc_id AS doc, CAST(COUNT(*) AS BIGINT) AS n_hub_exempt
      FROM sh WHERE fp IN (SELECT fp FROM hubfp) GROUP BY doc_id
    )
    SELECT rw.doc, rw.n_tokens, rw.n_removed, rw.dtext AS clean_text,
           CAST(COALESCE(h.n_hub_exempt, 0) AS BIGINT) AS n_hub_exempt
    FROM rw LEFT JOIN hubdoc h ON rw.doc = h.doc
    """,
)
def q_dedup_substring_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The substring-dedup ACTION (Lee et al. 2022 apply step): the
    corpus with every DETECTED repeated span CUT from its higher-id
    copies (the lowest-id document keeps the span). Overlapping cut
    intervals within a doc are merged (running-max island merge — one
    doc can share different spans with different partners), then the
    token stream is rebuilt without the cut positions; untouched
    docs pass through with n_removed = 0. Output: (doc, n_tokens,
    n_removed, clean_text) for EVERY document.

    NOT CUT here (ADVICE r10): spans repeated in more than max_block
    (64) documents — the detection pass's hub cap hides them, so
    mass-duplicated boilerplate passes through this rewrite and is
    instead removed by the exact-dup / segment tiers that run before
    it in a composed pipeline (see remove_repeated_spans's EXEMPTION
    note and the boilerplate-interaction test pinning both halves).
    Round 12 (VERDICT r11 item 8) makes the exemption MEASURABLE:
    every row carries ``n_hub_exempt``, the doc's count of shingle
    positions whose fingerprint is above the cap — 0 across the
    driver corpora (no hub shingles there; the boilerplate test pins
    the nonzero side), so downstream stages can assert the exempt
    mass instead of trusting this paragraph.

    Scale shape (dedup/substring.py remove_repeated_spans): the
    cut-interval side is ∝ detected duplication, never ∝ corpus;
    merging costs one tiny doc-keyed window+groupBy, and the corpus
    text moves through exactly one equi-join against the per-doc
    interval arrays before a pure array-expression rebuild. Full
    value-hash oracle chaining the span CTE (the clean_text column is
    hash-compared byte-for-byte)."""
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        remove_repeated_spans,
    )

    docs = load_table(spark, "documents", sf_dir)
    return remove_repeated_spans(
        docs, "text", "doc_id", min_span=_SPAN_K, max_block=_SPAN_MAX_BLOCK,
        count_hub_exempt=True,
    )


@register(
    "dedup_substring_rewrite_cheap",
    oracle=_span_cte_sql()
    + _REWRITE_CTES
    + """
    SELECT doc, n_tokens, n_removed, dtext AS clean_text FROM rw
    """,
)
def q_dedup_substring_rewrite_cheap(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The substring-rewrite DEFAULT path (round 13, VERDICT r12
    item 6): ``remove_repeated_spans`` with the hub-exemption counter
    OFF — exactly the configuration every composed pipeline runs
    (``pipeline_web_to_shards``, ``decontaminate_redact``). Round 12
    made the registered ``dedup_substring_rewrite`` measure the
    opt-in observability branch (``n_hub_exempt`` adds a shingle
    scan + fp-keyed exchange, a 1.8× x100 cost), which left the
    PRODUCTION path's scale law without a committed record; this
    twin keeps it measured — same detection + island merge + rebuild
    semantics (the shared ``_span_cte_sql`` + ``_REWRITE_CTES``
    oracle chain, clean_text byte-compared), minus the exempt-count
    branch. See q_dedup_substring_rewrite for the full semantics and
    the 100 TB shape."""
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        remove_repeated_spans,
    )

    docs = load_table(spark, "documents", sf_dir)
    out = remove_repeated_spans(
        docs, "text", "doc_id", min_span=_SPAN_K, max_block=_SPAN_MAX_BLOCK,
    )
    return out.select("doc", "n_tokens", "n_removed", "clean_text")


def _decon_redact_oracle() -> str:
    """Positional-3-gram cuts shaped as a ``spans`` CTE so the
    SHARED ``_REWRITE_CTES`` island-merge/rebuild block applies
    verbatim — the redact oracle cannot drift from the rewrite's."""
    toks = tokens_sql("text")
    return (
        f"""
    WITH tall AS (
      SELECT doc_id, {toks} AS toks FROM documents
    ),
    bset AS (
      SELECT DISTINCT unnest({_SQL_3GRAMS.format(t="toks")}) AS g
      FROM tall WHERE doc_id < 10
    ),
    t AS (SELECT doc_id, toks FROM tall WHERE doc_id >= 10),
    pos3 AS (
      SELECT doc_id, pos,
             concat_ws(' ', toks[pos+1], toks[pos+2], toks[pos+3]) AS gg
      FROM (SELECT doc_id, toks,
                   unnest(range(0, greatest(len(toks) - 2, 0))) AS pos
            FROM t)
    ),
    spans AS (
      SELECT doc_id AS doc_b, CAST(pos AS BIGINT) AS start_b,
             CAST(3 AS BIGINT) AS span_len
      FROM pos3 JOIN bset ON gg = g
    )"""
        + _REWRITE_CTES
        + """
    SELECT doc AS doc_id, n_tokens, n_removed AS n_redacted,
           dtext AS clean_text
    FROM rw
    """
    )


@register("decontaminate_redact", oracle=_decon_redact_oracle())
def q_decontaminate_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination by SPAN REDACTION (round 12) — the surgical
    alternative to ``decontaminate_corpus``'s whole-doc drop (the two
    actions production pipelines choose between, per the n-gram
    decontamination practice of Brown et al. 2020 appendix C): every
    position whose word 3-gram appears in the benchmark set (doc_id
    < 10, the shared convention) becomes a cut interval [p, p+3);
    overlapping cuts merge (the running-max island helper shared with
    the substring rewrite) and the token stream is rebuilt without
    the cut positions. Output: (doc_id, n_tokens, n_redacted,
    clean_text) for every scored doc — untouched docs pass through
    with n_redacted = 0, heavily-contaminated docs keep their clean
    remainder instead of dying wholesale.

    Scale shape: the benchmark gram set broadcasts; the positional
    gram scan is scan-local (the zip_with shingle family,
    positional variant); matched cut intervals are ∝ contamination
    (tiny); interval merging is one doc-keyed metadata window; and
    the corpus crosses exactly ONE equi-join against the interval
    arrays before the pure array-expression rebuild (the shared
    ``rebuild_without_intervals`` — document text never shuffles).
    Full value-hash oracle: positional-gram cuts shaped into the
    SHARED ``_REWRITE_CTES`` island/rebuild block, clean_text
    hash-compared byte-for-byte."""
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        merge_cut_intervals,
        rebuild_without_intervals,
    )
    from bigdatafinalproject_hockey_spark.operators.partitioning import (
        ensure_parallelism,
    )

    docs = load_table(spark, "documents", sf_dir)
    sh = docs.select(
        "doc_id", shingles_expr(F.col("text"), 3).alias("grams")
    )
    bench = (
        sh.filter(F.col("doc_id") < 10)
        .select(F.explode("grams").alias("g"))
        .distinct()
    )
    scored = docs.filter(F.col("doc_id") >= 10)
    pos3 = scored.select(
        F.col("doc_id").alias("doc"),
        F.posexplode(
            shingles_expr(F.col("text"), 3, distinct=False)
        ).alias("pos", "g"),
    )
    cuts = pos3.join(F.broadcast(bench), "g").select(
        "doc",
        F.col("pos").cast("long").alias("s"),
        (F.col("pos") + 3).cast("long").alias("e"),
    )
    base = ensure_parallelism(scored).select(
        F.col("doc_id").alias("doc"),
        tokens_expr(F.col("text")).alias("toks"),
    )
    out = rebuild_without_intervals(
        base, merge_cut_intervals(cuts), removed_alias="n_redacted"
    )
    return out.withColumnRenamed("doc", "doc_id")


# ---------------------------------------------------------------------------
# composed web-corpus day-0 pipeline: extract -> quality gate -> span dedup
# ---------------------------------------------------------------------------

_WEB_PIPE_PREFIX = f"""
    clean AS (
      SELECT doc_id,
             {_EXTRACT_CLEAN_SQL} AS text,
             CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 2 END AS n_blocks_kept,
             CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 3 END AS n_blocks_dropped
      FROM documents
    ),
    gated AS (
      SELECT doc_id, text FROM clean
      WHERE len({tokens_sql("text")}) >= 20
        AND n_blocks_dropped * 2 < n_blocks_kept + n_blocks_dropped
    ),"""


@register(
    "pipeline_web_curation",
    oracle=_span_cte_sql(source="gated", prefix=_WEB_PIPE_PREFIX)
    + """
    SELECT doc_a, doc_b, start_a, start_b, span_len FROM spans
    """,
)
def q_pipeline_web_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The web-corpus DAY-0 pipeline composed end-to-end (round 10) —
    the markup-side twin of ``pipeline_document_curation`` /
    ``pipeline_embedding_curation``: (1) HTML -> clean text via the
    Arrow-batched extractor (deterministic fixture pages,
    ``extraction.py``), (2) a quality gate on the EXTRACTION's own
    signals — >= 20 extracted tokens AND boilerplate-block share
    < 1/2 in exact integer form (the gate does real work: even-parity
    fixture pages carry a 3/5 dropped-block share and are cut — 250
    of 500 docs survive at sf0.01), (3) variable-length substring
    dedup over the SURVIVORS' clean text (7 maximal spans of 39-93
    tokens at sf0.01). This is the production order: extract before
    scoring, score before the expensive pair stage — the span
    detection's inverted index is built only over gated survivors.

    Plan: the extractor stage is exchange-free, the gate is a
    map-side filter on the extractor's output columns, and the span
    pass adds its usual two exchanges — three stages, two exchanges
    total. Full value-hash oracle: the closed-form extraction CTE
    chains into the gate and the shared span CTE."""
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        repeated_spans,
    )
    from bigdatafinalproject_hockey_spark.extraction import (
        extract_html_text_batched,
        html_fixture_expr,
    )

    docs = load_table(spark, "documents", sf_dir).select(
        "doc_id", html_fixture_expr("text", "doc_id").alias("html")
    )
    ex = extract_html_text_batched(docs, "html", "doc_id")
    gated = ex.filter(
        (F.size(tokens_expr("clean_text")) >= 20)
        & (
            F.col("n_blocks_dropped") * 2
            < F.col("n_blocks_kept") + F.col("n_blocks_dropped")
        )
    )
    return repeated_spans(
        gated, "clean_text", "doc_id",
        min_span=_SPAN_K, max_block=_SPAN_MAX_BLOCK,
    )


# ---------------------------------------------------------------------------
# Composed web -> training-shards pipeline (the full day-0 chain)
# ---------------------------------------------------------------------------


# ---------------------------------------------------------------------------
# URL/domain blocklist filter + per-URL dedup (C4-style stage 0)
# ---------------------------------------------------------------------------

# Blocked REGISTERED domains (last two host labels) — in production a
# table of millions of rows (the C4 badwords/blocklist stage), here a
# literal broadcast relation.
_URL_BLOCKLIST = ["spamfarm.biz", "tracker.net"]

_URL_FIXTURE_SQL = """
    (CASE WHEN doc_id % 2 = 0 THEN 'https://' ELSE 'http://' END)
    || (CASE WHEN doc_id % 3 = 0 THEN 'www.' ELSE '' END)
    || (CASE WHEN (doc_id // 2) % 5 = 0 THEN 'spamfarm.biz'
             WHEN (doc_id // 2) % 7 = 3 THEN 'ads.tracker.net'
             ELSE 'site' || CAST((doc_id // 2) % 25 AS VARCHAR)
                  || '.example.com' END)
    || '/' || lang || '/article/' || CAST(doc_id // 2 AS VARCHAR)
    || (CASE WHEN doc_id % 2 = 1
             THEN '?utm_source=feed&ref=' || CAST(doc_id AS VARCHAR)
             ELSE '' END)
    || (CASE WHEN doc_id % 4 = 1 THEN '#s2' ELSE '' END)"""


def _url_fixture_expr():
    """Deterministic fixture URL per document (the corpus has no URL
    column): consecutive doc_id PAIRS share one canonical page, but
    pair members differ in scheme (http/https), a www. prefix, a
    tracking query string, and a fragment — so canonicalization and
    per-URL dedup both do real work — and every 5th/7th pair lands on
    a blocked registered domain (one exact, one via subdomain)."""
    g = F.floor(F.col("doc_id") / 2).cast("long")
    host = (
        F.when((g % 5) == 0, F.lit("spamfarm.biz"))
        .when((g % 7) == 3, F.lit("ads.tracker.net"))
        .otherwise(
            F.concat(
                F.lit("site"), (g % 25).cast("string"),
                F.lit(".example.com"),
            )
        )
    )
    return F.concat(
        F.when((F.col("doc_id") % 2) == 0, F.lit("https://")).otherwise(
            F.lit("http://")
        ),
        F.when((F.col("doc_id") % 3) == 0, F.lit("www.")).otherwise(F.lit("")),
        host,
        F.lit("/"), F.col("lang"), F.lit("/article/"), g.cast("string"),
        F.when(
            (F.col("doc_id") % 2) == 1,
            F.concat(
                F.lit("?utm_source=feed&ref="),
                F.col("doc_id").cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when((F.col("doc_id") % 4) == 1, F.lit("#s2")).otherwise(F.lit("")),
    )


def url_canon_expr(url_col: str):
    """Canonical URL: strip scheme, a leading www., query string /
    fragment, then a host port (example.com:8080/x and example.com/x
    are one page) — all scan-local regexps, shared semantics with the
    oracle's CTE. The port match is anchored at a PATH boundary
    (ADVICE r11): the digits must run to '/' or end-of-string, so a
    malformed authority like host:8080abc/x keeps its colon (distinct
    URL) instead of being conflated with hostabc/x; the boundary is a
    captured group (not a lookahead) because the oracle's RE2 engine
    has no lookahead."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.col(url_col), "^https?://", ""),
                "^www\\.",
                "",
            ),
            "[?#].*$",
            "",
        ),
        "^([^/:]+):[0-9]+(/|$)",
        "$1$2",
    )


def _url_ctes(src: str) -> str:
    """URL canonicalization + blocklist + per-URL dedup as CTEs over
    a ``(doc_id, lang)`` relation ``src`` (the fixture URL is derived
    in-CTE) — parameterized (round 13, VERDICT r12 item 1) so the
    standalone ``filter_url_blocklist`` oracle and the composed
    ``pipeline_web_to_shards`` stage-0 share one definition. Ends
    with ``ukept`` (doc_id, url, canon_url, domain — one row per
    surviving canonical URL). No leading comma."""
    return f"""uu AS (
      SELECT doc_id, {_URL_FIXTURE_SQL} AS url FROM {src}
    ),
    ucn AS (
      SELECT doc_id, url,
             regexp_replace(regexp_replace(regexp_replace(regexp_replace(
               url, '^https?://', ''), '^www\\.', ''), '[?#].*$', ''),
               '^([^/:]+):[0-9]+(/|$)', '\\1\\2')
               AS canon_url
      FROM uu
    ),
    udm AS (
      SELECT *,
             regexp_extract(regexp_extract(canon_url, '^([^/]+)', 1),
                            '([^.]+\\.[^.]+)$', 1) AS domain
      FROM ucn
    ),
    ukp AS (
      SELECT * FROM udm
      WHERE domain NOT IN ({", ".join(f"'{d}'" for d in _URL_BLOCKLIST)})
    ),
    ukept AS (
      SELECT doc_id, url, canon_url, domain FROM (
        SELECT *, ROW_NUMBER() OVER (
                 PARTITION BY canon_url ORDER BY doc_id) AS rn
        FROM ukp
      ) WHERE rn = 1
    )"""


def _url_kept_frame(docs: DataFrame) -> DataFrame:
    """The URL-stage survivors (doc_id, url, canon_url, domain) over
    a ``(doc_id, lang)`` frame — the Spark twin of :func:`_url_ctes`,
    shared by ``filter_url_blocklist`` and the composed pipeline's
    stage 0. Canonicalization and domain extraction are scan-local;
    the blocklist anti-join is broadcast; the only exchange is the
    per-canonical-URL first-occurrence window."""
    spark = docs.sparkSession
    d0 = docs.select("doc_id", _url_fixture_expr().alias("url"))
    host = F.regexp_extract(F.col("canon_url"), "^([^/]+)", 1)
    d = d0.withColumn("canon_url", url_canon_expr("url")).withColumn(
        "domain", F.regexp_extract(host, "([^.]+\\.[^.]+)$", 1)
    )
    blk = spark.createDataFrame(
        [(b,) for b in _URL_BLOCKLIST], "domain string"
    )
    kept = d.join(F.broadcast(blk), "domain", "left_anti")
    w = Window.partitionBy("canon_url").orderBy("doc_id")
    return (
        kept.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "url", "canon_url", "domain")
    )




# The composed pipeline's corpus-tuned Gopher bounds (round 13; see
# _gopher_ctes — the _DECON_WEB_MAX_RATIO precedent). The extracted
# pages' line-rendering density and stop-word frequencies differ from
# the raw corpus, so the three line/stop bounds are retuned to keep
# the battery's removal rate production-shaped (~half, the rate Rae
# et al. report for MassiveWeb): at sf0.01 the battery keeps 64 of
# 121 gated docs (53%); every other rule — including all nine
# repetition thresholds — keeps the shared constants verbatim.
_GOPHER_WEB_MAX_ELLIPSIS = 0.55
_GOPHER_WEB_MAX_SYMBOL = 0.04
_GOPHER_WEB_MIN_STOP = 1


def _web_to_shards_oracle() -> str:
    """The full-chain oracle (round 13, VERDICT r12 item 1 — the
    complete production order): URL blocklist/dedup (stage 0, before
    any extraction) → extraction closed form → gate → Unicode suffix
    normalization → the full Gopher rule battery → CCNet tertile-rate
    mix → decontamination (benchmark set drawn from the hygiene
    output) → span CTEs → rewrite CTEs → tokenize-to-ids checksum →
    greedy packing (recursive CTE) → md5 reshard. Every segment
    reuses the SHARED parameterized CTE builders of its standalone
    query (_url_ctes/extraction closed form/_gopher_ctes/
    _unigram_lang_ctes+_tertile_ctes+_tertile_mix_ctes/_decon_ctes/
    _span_cte_sql/_REWRITE_CTES/tokenizer constants), so the composed
    oracle cannot drift from the per-stage ones."""
    from bigdatafinalproject_hockey_spark.extraction import CLEAN_SUFFIX

    # WITH RECURSIVE is needed by the packing CTE below; DuckDB lets
    # non-recursive CTEs share the clause, so the keyword rides in the
    # injected prefix.
    prefix = (
        "RECURSIVE "
        + _url_ctes("documents")
        + f""",
    clean AS (
      SELECT doc_id,
             {_EXTRACT_CLEAN_SQL} AS text,
             CASE WHEN doc_id % 2 = 1 THEN 3 ELSE 2 END AS n_blocks_kept,
             CASE WHEN doc_id % 2 = 1 THEN 2 ELSE 3 END AS n_blocks_dropped
      FROM documents SEMI JOIN ukept USING (doc_id)
    ),
    gated AS (
      SELECT doc_id, text FROM clean
      WHERE len({tokens_sql("text")}) >= 20
        AND n_blocks_dropped * 2 < n_blocks_kept + n_blocks_dropped
    ),
    norm AS MATERIALIZED (
      SELECT doc_id, text || '{CLEAN_SUFFIX}' AS text FROM gated
    ),
    """
        + _gopher_ctes(
            "norm",
            max_ellipsis=_GOPHER_WEB_MAX_ELLIPSIS,
            max_symbol=_GOPHER_WEB_MAX_SYMBOL,
            min_stop=_GOPHER_WEB_MIN_STOP,
        )
        + """,
    gkept AS MATERIALIZED (
      SELECT n.doc_id, n.text
      FROM norm n JOIN gopher g USING (doc_id)
      WHERE g.keep
    ),
    glang AS (
      SELECT k.doc_id, d.lang, k.text
      FROM gkept k JOIN documents d USING (doc_id)
    ),
    """
        + _unigram_lang_ctes("glang")
        + ",\n    "
        + _tertile_ctes()
        + ",\n    "
        + _tertile_mix_ctes()
        + """,
    mixed AS MATERIALIZED (
      SELECT g.doc_id, g.text FROM gkept g SEMI JOIN qmix USING (doc_id)
    ),
    """
        + _decon_ctes("mixed", _DECON_WEB_MAX_RATIO, bench_source="norm")
        + ","
    )
    return (
        _span_cte_sql(source="decon", prefix=prefix)
        + _REWRITE_CTES
        + f""",
    tokpos AS (
      SELECT doc, unnest(range(len(tk))) AS pos, unnest(tk) AS token
      FROM (SELECT doc, {tokens_sql("dtext")} AS tk FROM rw)
    ),
    tcounts AS (SELECT token, COUNT(*) AS cnt FROM tokpos GROUP BY token),
    tvocab AS (
      SELECT token, vid FROM (
        SELECT token,
               ROW_NUMBER() OVER (ORDER BY cnt DESC, token) - 1 AS vid
        FROM tcounts
      ) WHERE vid < {_TOKENIZE_V}
    ),
    ids AS (
      SELECT tp.doc, tp.pos,
             CAST(COALESCE(v.vid,
                  {_TOKENIZE_V} + ({portable_hash64_sql("tp.token")}
                                   & {_TOKENIZE_B - 1})) AS BIGINT) AS tid
      FROM tokpos tp LEFT JOIN tvocab v USING (token)
    ),
    tokagg AS (
      SELECT doc, CAST(SUM((pos + 1) * tid) AS BIGINT) AS tok_checksum
      FROM ids GROUP BY doc
    ),
    meta AS (
      SELECT rw.doc, rw.n_tokens, rw.n_removed,
             rw.n_tokens - rw.n_removed AS n_kept,
             COALESCE(a.tok_checksum, 0) AS tok_checksum
      FROM rw LEFT JOIN tokagg a ON rw.doc = a.doc
    ),
    pdocs AS (
      SELECT doc, doc % {_PACK_SHARDS} AS shard, n_kept,
             ROW_NUMBER() OVER (
               PARTITION BY doc % {_PACK_SHARDS} ORDER BY doc
             ) AS rn
      FROM meta
    ),
    wpacked AS (
      SELECT doc, shard, n_kept, rn,
             CAST(0 AS BIGINT) AS seq_id, n_kept AS seq_fill
      FROM pdocs WHERE rn = 1
      UNION ALL
      SELECT d.doc, d.shard, d.n_kept, d.rn,
             CASE WHEN p.seq_fill + d.n_kept <= {_PACK_CAPACITY}
                  THEN p.seq_id ELSE p.seq_id + 1 END,
             CASE WHEN p.seq_fill + d.n_kept <= {_PACK_CAPACITY}
                  THEN p.seq_fill + d.n_kept ELSE d.n_kept END
      FROM pdocs d JOIN wpacked p
        ON d.shard = p.shard AND d.rn = p.rn + 1
    ),
    wkeyed AS (
      SELECT p.*,
             md5(CAST(p.shard AS VARCHAR) || ':'
                 || CAST(p.seq_id AS VARCHAR)) AS shard_key
      FROM wpacked p
    ),
    wassigned AS (
      SELECT *, CAST(('0x' || substr(shard_key, 1, 1)) AS INTEGER)
                    AS train_shard
      FROM wkeyed
    )
    SELECT a.train_shard,
           CAST(ROW_NUMBER() OVER (
             PARTITION BY a.train_shard
             ORDER BY a.shard_key, a.shard, a.seq_id, a.doc
           ) AS BIGINT) AS shard_pos,
           CAST(a.shard AS BIGINT) AS shard, a.seq_id,
           a.doc AS doc_id, m.n_tokens, m.n_removed,
           CAST(a.n_kept AS BIGINT) AS n_kept, m.tok_checksum,
           a.seq_fill, a.shard_key
    FROM wassigned a JOIN meta m ON a.doc = m.doc
    """
    )


@register("pipeline_web_to_shards", oracle=_web_to_shards_oracle())
def q_pipeline_web_to_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPLETE web-corpus day-0-to-training-shards pipeline
    (round 11; VERDICT r10 item 2; decontamination added round 12,
    VERDICT r11 item 3; the full production order — URL stage 0 +
    Gopher battery + tertile mix — round 13, VERDICT r12 item 1) —
    the artifact a production LLM data pipeline actually ships,
    composing eleven of this tier's stages in the C4/CCNet/
    RefinedWeb/Gopher production order:

      (0) URL blocklist + canonical-URL dedup BEFORE fetch/extract
          (the C4 stage-0; 292 of 500 docs survive at sf0.01)
      (1) HTML → clean text (Arrow-batched extractor, fixture pages)
      (2) quality gate on the extraction's own signals (≥ 20 tokens,
          boilerplate-block share < 1/2 — 121 survivors at sf0.01)
      (3) Unicode hygiene on survivors (NFC + control/bidi strip;
          a deterministic dirty suffix injected in-plan makes the
          normalization observable, norm = clean || CLEAN_SUFFIX)
      (4) the FULL Gopher rule battery over the normalized text
          (the shared _gopher_frame — all word/line/stop rules plus
          the nine Table A1 repetition rules; the pipeline's three
          corpus-tuned line/stop bounds at _GOPHER_WEB_*; keeps 64
          of 121 at sf0.01, the ~half removal rate Rae et al.
          report for MassiveWeb)
      (5) CCNet tertile-rate mix (head/½/⅛) scored by each doc's
          own language's unigram LM (31 survivors at sf0.01)
      (6) DECONTAMINATION: every doc whose 3-gram overlap with the
          hygiene-level benchmark set crosses _DECON_WEB_MAX_RATIO
          is dropped (_decon_apply) — the stage whose absence is
          the classic shipped-shards production incident
      (7) variable-length substring dedup REWRITE (not just
          detection — remove_repeated_spans cuts every detected
          repeated span from its higher-id copies)
      (8) tokenize-to-ids over the REWRITTEN text (top-V vocab +
          hashed OOV), folded to one order-sensitive checksum per doc
          (Σ (pos+1)·token_id) so the packed output stays doc-sized
          while hash-pinning every token id and position
      (9) greedy sequence packing (capacity 256, shard = doc % 8)
      (10) deterministic md5 reshard into 16 training shards with
          dense per-shard positions.

    Scale shape: stage 0 is scan-local expressions + a broadcast
    anti-join + one canonical-URL window, and it PRUNES the corpus
    before the Arrow extractor spends anything; two Arrow stages
    (extract, normalize) fused exchange-free on the scan; the gate
    halves the battery's input; the battery's shuffles carry (doc,
    gram) COUNTS only and its keep list is doc_id-width; the mix
    adds one lang-window over doc-level scores (lang rides a pruned
    metadata join); the decontamination drop list broadcasts into an
    anti-join (text never shuffles there) and further thins the span
    input; the rewrite joins interval arrays back to the surviving
    corpus ONCE; the tokenizer's vocab broadcasts; packing moves
    metadata columns only; the reshard is one map-side key + one
    window. Raw HTML never shuffles anywhere in the chain.

    MATERIALIZATION BOUNDARIES: the chain's fan-out points (the
    normalized corpus feeds the battery's four legs, the mix, AND
    the benchmark gram set; the battery survivors feed the per-lang
    scoring AND the mix semi-join; the mixed corpus feeds the
    decontamination scores AND the anti-join base; the
    decontaminated corpus feeds the span detector AND the rebuild
    base; the rewritten corpus feeds tokenization AND the metadata
    leg; the metadata table feeds packing AND the final attach)
    would each re-evaluate their whole upstream lineage lazily.
    Each boundary therefore localCheckpoints eagerly (the
    graph_bfs_hops precedent; at 100 TB these are exactly the
    points a production pipeline persists between stages).

    Full value-hash oracle chaining the SHARED per-stage CTE
    builders — _url_ctes, extraction closed form, _gopher_ctes,
    _unigram_lang_ctes + _tertile_ctes + _tertile_mix_ctes,
    _decon_ctes, _span_cte_sql, _REWRITE_CTES, the tokenizer
    constants, and the packing recursive CTE."""
    from bigdatafinalproject_hockey_spark.dedup.substring import (
        remove_repeated_spans,
    )
    from bigdatafinalproject_hockey_spark.extraction import (
        DIRTY_SUFFIX,
        extract_html_text_batched,
        html_fixture_expr,
        normalize_unicode_batched,
    )

    src = load_table(spark, "documents", sf_dir)
    # STAGE 0 — URL blocklist + canonical-URL dedup (round 13,
    # VERDICT r12 item 1): the C4-style filter every production
    # pipeline runs BEFORE fetch/extract spends anything on the page.
    # The survivor id set is doc_id-width; the corpus joins it
    # semi-style so blocked pages never reach the Arrow extractor.
    url_kept = _url_kept_frame(src).select("doc_id")
    docs = src.join(url_kept, "doc_id", "semi").select(
        "doc_id", html_fixture_expr("text", "doc_id").alias("html")
    )
    ex = extract_html_text_batched(docs, "html", "doc_id")
    gated = ex.filter(
        (F.size(tokens_expr("clean_text")) >= 20)
        & (
            F.col("n_blocks_dropped") * 2
            < F.col("n_blocks_kept") + F.col("n_blocks_dropped")
        )
    )
    dirty = gated.select(
        "doc_id",
        F.concat(F.col("clean_text"), F.lit(DIRTY_SUFFIX)).alias("text"),
    )
    norm = normalize_unicode_batched(dirty, "text", "doc_id").select(
        "doc_id", F.col("norm_text").alias("text")
    )
    norm = norm.localCheckpoint(eager=True)
    # QUALITY GATE (round 13): the full Gopher rule battery over the
    # normalized text — the shared _gopher_frame with the pipeline's
    # corpus-tuned line/stop bounds (constants above). The keep list
    # is doc_id-width; the battery's own shuffles carry counts only.
    # gkept fans out to the per-lang LM scoring AND the mix semi-join
    # below, so it checkpoints eagerly like every other boundary.
    g = _gopher_frame(
        norm,
        max_ellipsis=_GOPHER_WEB_MAX_ELLIPSIS,
        max_symbol=_GOPHER_WEB_MAX_SYMBOL,
        min_stop=_GOPHER_WEB_MIN_STOP,
    )
    gkept = norm.join(
        g.filter(F.col("keep")).select("doc_id"), "doc_id", "semi"
    )
    gkept = gkept.localCheckpoint(eager=True)
    # TERTILE MIX (round 13): CCNet head/middle/tail rate sampling
    # over the battery survivors, scored by each doc's OWN language's
    # unigram LM (lang rides a pruned doc_id-keyed join from the
    # source scan — two metadata columns, never text).
    glang = gkept.join(src.select("doc_id", "lang"), "doc_id")
    mix_ids = _tertile_mix_frame(glang).select("doc_id")
    mixed = gkept.join(mix_ids, "doc_id", "semi")
    mixed = mixed.localCheckpoint(eager=True)
    # Decontamination (round 12, VERDICT r11 item 3): drop the
    # benchmark docs and every doc whose 3-gram benchmark overlap
    # crosses the shared threshold BEFORE the expensive span stage —
    # the drop list broadcasts, text never shuffles. The benchmark
    # gram set is drawn from the HYGIENE output (round 13): the
    # quality stages legitimately drop the doc_id < 10 stand-ins
    # from the scored corpus, and a production benchmark set is
    # external to the pipeline entirely. Another fan-out boundary
    # (the scores leg and the anti-join base both read it), so it
    # checkpoints eagerly like the others.
    decon = _decon_apply(mixed, _DECON_WEB_MAX_RATIO, bench_df=norm)
    decon = decon.localCheckpoint(eager=True)
    rw = remove_repeated_spans(
        decon, "text", "doc_id", min_span=_SPAN_K, max_block=_SPAN_MAX_BLOCK
    )
    rw = rw.localCheckpoint(eager=True)

    toks = rw.select(
        "doc", F.posexplode(tokens_expr("clean_text")).alias("pos", "token")
    )
    counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("cnt"))
    top = counts.orderBy(F.col("cnt").desc(), "token").limit(_TOKENIZE_V)
    wv = Window.orderBy(F.col("cnt").desc(), F.col("token"))
    vocab = top.select("token", (F.row_number().over(wv) - 1).alias("vid"))
    oov = F.lit(_TOKENIZE_V) + portable_hash64_expr(
        F.col("token")
    ).bitwiseAND(F.lit(_TOKENIZE_B - 1))
    ids = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc",
        "pos",
        F.coalesce(F.col("vid").cast("long"), oov.cast("long")).alias("tid"),
    )
    tokagg = ids.groupBy("doc").agg(
        F.sum((F.col("pos") + 1) * F.col("tid"))
        .cast("long")
        .alias("tok_checksum")
    )
    meta = (
        rw.select(
            "doc",
            "n_tokens",
            "n_removed",
            (F.col("n_tokens") - F.col("n_removed")).alias("n_kept"),
        )
        .join(tokagg, "doc", "left")
        .withColumn("tok_checksum", F.coalesce("tok_checksum", F.lit(0)))
    )
    meta = meta.localCheckpoint(eager=True)

    packed = pack_sequences(
        meta.select(
            (F.col("doc") % _PACK_SHARDS).alias("shard"), "doc", "n_kept"
        ),
        shard_cols=["shard"],
        order_col="doc",
        tokens_col="n_kept",
        capacity=_PACK_CAPACITY,
    )
    keyed = packed.withColumn(
        "shard_key",
        F.md5(
            F.concat_ws(
                ":",
                F.col("shard").cast("string"),
                F.col("seq_id").cast("string"),
            )
        ),
    ).withColumn(
        "train_shard",
        F.conv(F.substring("shard_key", 1, 1), 16, 10).cast("int"),
    )
    w = Window.partitionBy("train_shard").orderBy(
        "shard_key", "shard", "seq_id", "doc"
    )
    out = keyed.withColumn("shard_pos", F.row_number().over(w).cast("long"))
    return out.join(
        meta.select("doc", "n_tokens", "n_removed", "tok_checksum"), "doc"
    ).select(
        "train_shard",
        "shard_pos",
        F.col("shard").cast("long").alias("shard"),
        "seq_id",
        F.col("doc").alias("doc_id"),
        "n_tokens",
        "n_removed",
        F.col("n_kept").cast("long").alias("n_kept"),
        "tok_checksum",
        "seq_fill",
        "shard_key",
    )


# ---------------------------------------------------------------------------
# Unicode text hygiene (NFC + control/bidi strip)
# ---------------------------------------------------------------------------


def _register_text_normalize_unicode() -> None:
    # Oracle is built from the SAME constants as the Spark fixture, so
    # the two can never drift: expected = text || CLEAN_SUFFIX.
    from bigdatafinalproject_hockey_spark.extraction import (
        CLEAN_SUFFIX,
        DIRTY_N_STRIPPED,
    )

    oracle = f"""
    SELECT doc_id,
           text || '{CLEAN_SUFFIX}' AS norm_text,
           CAST({DIRTY_N_STRIPPED} AS INTEGER) AS n_stripped
    FROM documents
    """

    @register("text_normalize_unicode", oracle=oracle)
    def q_text_normalize_unicode(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """Unicode corpus hygiene (round 10) — the canonicalization
        step CCNet-class pipelines run before fingerprinting and
        tokenization: NFC composition (decomposed e+COMBINING ACUTE →
        é; singleton U+2126 OHM SIGN → U+03A9 Ω) plus removal of C0
        controls and invisible bidi marks (LRM/RLM/LRE/RLE/PDF/LRO/
        RLO) — byte-different spellings of identical text otherwise
        defeat exact-dedup fingerprints and fragment tokenizer vocab.
        Row-local Arrow stage, zero exchanges
        (extraction.normalize_unicode_batched).

        Fixture: the (pure-ASCII, verified) corpus text plus a
        deterministic dirty suffix exercising every normalization
        class — including (ADVICE r10) the modern bidi ISOLATES
        U+2066-U+2069 alongside the legacy embedding controls; the
        expected output is closed-form (text || CLEAN_SUFFIX, exactly
        4 stripped marks), so the oracle hash-pins composition,
        singleton mapping, and every strip class byte-for-byte.
        Generic-input behavior (idempotence, ASCII fixed-point,
        arbitrary-unicode totality) is pinned by hypothesis property
        tests."""
        from bigdatafinalproject_hockey_spark.extraction import (
            dirty_text_expr,
            normalize_unicode_batched,
        )

        docs = load_table(spark, "documents", sf_dir).select(
            "doc_id", dirty_text_expr("text").alias("text")
        )
        return normalize_unicode_batched(docs, "text", "doc_id")


_register_text_normalize_unicode()


def _register_text_normalize_nfkc() -> None:
    from bigdatafinalproject_hockey_spark.extraction import (
        CLEAN_NFKC_SUFFIX,
        DIRTY_NFKC_N_STRIPPED,
    )

    oracle = f"""
    SELECT doc_id,
           text || '{CLEAN_NFKC_SUFFIX}' AS norm_text,
           CAST({DIRTY_NFKC_N_STRIPPED} AS INTEGER) AS n_stripped
    FROM documents
    """

    @register("text_normalize_nfkc", oracle=oracle)
    def q_text_normalize_nfkc(
        spark: SparkSession, sf_dir: str
    ) -> DataFrame:
        """NFKC compatibility-fold hygiene (round 11; VERDICT r10
        item 8) — the ``text_normalize_unicode`` twin for
        GPT-2/tiktoken-family pipelines: COMPATIBILITY decomposition
        + canonical composition folds presentation variants into
        their plain forms (ligature U+FB01 fi -> "fi", fullwidth
        U+FF15 -> "5", circled U+2461 -> "2") on top of the NFC
        composition and control/bidi strip the NFC op performs.
        CCNet-class pipelines stop at NFC (reversible); tokenizer
        training wants NFKC so "fi" and the ligature share vocab
        mass. Same zero-exchange Arrow-batched row-local stage
        (extraction.normalize_unicode_batched, form="NFKC").

        Fixture: corpus text plus a dirty suffix exercising the
        compatibility classes and one strip class from each half;
        expected output is closed-form (text || CLEAN_NFKC_SUFFIX,
        exactly 2 stripped marks), giving a full value-hash oracle
        from shared constants."""
        from bigdatafinalproject_hockey_spark.extraction import (
            dirty_nfkc_text_expr,
            normalize_unicode_batched,
        )

        docs = load_table(spark, "documents", sf_dir).select(
            "doc_id", dirty_nfkc_text_expr("text").alias("text")
        )
        return normalize_unicode_batched(
            docs, "text", "doc_id", form="NFKC"
        )


_register_text_normalize_nfkc()


@register(
    "filter_url_blocklist",
    oracle=f"""
    WITH {_url_ctes("documents")}
    SELECT doc_id, url, canon_url, domain FROM ukept
    """,
)
def q_filter_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL/domain-level filtering (round 11; VERDICT r10 item 4) —
    the C4-style stage every web-corpus pipeline runs BEFORE fetching
    or processing page content: (1) canonicalize each URL (strip
    scheme, a leading www., tracking query strings, and fragments —
    pure regexp expressions), (2) extract the REGISTERED domain (last
    two host labels, so ads.tracker.net matches a tracker.net block
    entry), (3) drop documents on blocklisted domains via a
    broadcast ANTI-join (the blocklist is a relation — millions of
    rows in production — never an IN-list in the plan), (4) per-URL
    dedup keeping the first occurrence (lowest doc_id) per canonical
    URL. Pairs naturally with ``cap_per_source`` (domination capping
    after rule filtering).

    Scale shape: canonicalization and domain extraction are
    scan-local expressions; the anti-join is map-side (broadcast);
    the only exchange is the per-URL first-occurrence window, keyed
    by the high-cardinality canonical URL (uniform; no skew lever
    needed — a hub URL is exactly what the dedup removes). At sf0.01
    the fixture family yields real work for every stage: of 500
    docs, 156 are blocked (78 pair-groups: 50 exact-domain + 36
    subdomain − 8 overlap), and the 344 survivors dedup to 292 (52
    same-canonical-page duplicates dropped — pair members share a
    page only when their lang path segments also agree, so the strip
    steps are load-bearing, not cosmetic).

    No reference analog (the reference ingests structured CSVs);
    this is the brief's curation tier. Full value-hash oracle from
    the shared fixture closed form (``_url_ctes`` — also composed as
    stage 0 of ``pipeline_web_to_shards``, round 13)."""
    docs = load_table(spark, "documents", sf_dir)
    return _url_kept_frame(docs)


# ---------------------------------------------------------------------------
# BPE tokenizer training: one merge-learning iteration
# ---------------------------------------------------------------------------


@register(
    "bpe_learn_merge",
    oracle=f"""
    WITH RECURSIVE occ AS (
      SELECT unnest({tokens_sql("text")}) AS tok FROM documents
    ),
    ch AS (
      SELECT tok, string_split(tok, '') AS cs,
             CAST(COUNT(*) AS BIGINT) AS freq
      FROM occ GROUP BY 1, 2
    ),
    pairs AS (
      SELECT cs[pos+1] AS x, cs[pos+2] AS y, SUM(freq) AS cnt
      FROM (SELECT cs, freq, unnest(range(0, len(cs)-1)) AS pos FROM ch)
      GROUP BY 1, 2
    ),
    best AS (SELECT x, y FROM pairs ORDER BY cnt DESC, x, y LIMIT 1),
    steps AS (
      SELECT tok, cs, freq, 1 AS i, cs[1] AS out FROM ch
      UNION ALL
      SELECT s.tok, s.cs, s.freq, s.i + 1,
             CASE WHEN regexp_extract(s.out, '([^ ]+)$') = b.x
                       AND s.cs[s.i + 1] = b.y
                  THEN regexp_replace(s.out, '[^ ]+$', b.x || b.y)
                  ELSE s.out || ' ' || s.cs[s.i + 1] END
      FROM steps s, best b
      WHERE s.i < len(s.cs)
    )
    SELECT s.tok, s.freq, b.x AS merge_x, b.y AS merge_y,
           s.out AS segmented,
           CAST(len(string_split(s.out, ' ')) AS INTEGER) AS n_symbols
    FROM steps s, best b WHERE s.i = len(s.cs)
    """,
)
def q_bpe_learn_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONE iteration of BPE tokenizer training (round 10; Sennrich et
    al. 2016, public method) — the merge-learning step between corpus
    curation and tokenization that the tier previously lacked
    (text_bpe_token_count applies a FIXED GPT-2-style pretokenizer;
    this op LEARNS): (1) corpus words + frequencies (the one
    corpus-scale pass — after it, classic BPE iterates on the
    word-TYPE table, whose size is the vocabulary, not the corpus);
    (2) adjacent-symbol pair statistics weighted by word frequency
    (map-side combine, the pair table is tiny); (3) the argmax pair
    (count desc, lexicographic tiebreak — deterministic) broadcast
    back; (4) greedy left-to-right non-overlapping merge application
    per word as a pure expression-level F.aggregate fold over the
    char array — no UDF, no Python. Output: every word type with its
    frequency, the learned merge, and the word's post-merge
    segmentation. Iterating = re-running (2)-(4) on the vocab table;
    per-iteration cost is vocab-bound, which is exactly why
    production BPE trainers scale.

    Full value-hash oracle: pair stats + argmax in SQL, the greedy
    fold replayed as a per-word recursive CTE (depth = word length;
    verified against an independent Python reference)."""
    from bigdatafinalproject_hockey_spark.operators.partitioning import (
        ensure_parallelism,
    )

    docs = load_table(spark, "documents", sf_dir)
    occ = ensure_parallelism(docs).select(
        F.explode(tokens_expr("text")).alias("tok")
    )
    ch = occ.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("freq")
    ).withColumn("cs", F.split("tok", ""))
    # pair stats / argmax / greedy fold are the SHARED helpers the
    # k-iteration trainer loops over (round-11 dedup — one definition
    # of the merge semantics for both ops and the oracle fold).
    pairs = _bpe_pair_stats(ch, "cs")
    best = pairs.orderBy(F.desc("cnt"), "x", "y").limit(1).select("x", "y")
    with_best = ch.crossJoin(F.broadcast(best))
    fold = _bpe_pair_merge_fold("cs")
    return with_best.select(
        "tok",
        "freq",
        F.col("x").alias("merge_x"),
        F.col("y").alias("merge_y"),
        F.concat_ws(" ", fold).alias("segmented"),
        F.size(fold).cast("int").alias("n_symbols"),
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training: full merge-table learning (k iterations)
# ---------------------------------------------------------------------------

_BPE_K = 8


def _bpe_pair_stats(ch: DataFrame, seg_col: str = "seg") -> DataFrame:
    """Adjacent-symbol pair statistics over the word-type table,
    weighted by word frequency (map-side combine): (x, y, cnt).
    Shared by the single-step op and every trainer iteration."""
    return (
        ch.select(
            "freq",
            F.explode(
                F.transform(
                    # guard 1-symbol segs: sequence(1, 0) DESCENDS in
                    # Spark (same trap as the shingle/segment ops)
                    F.when(
                        F.size(seg_col) > 1,
                        F.sequence(F.lit(1), F.size(seg_col) - 1),
                    ).otherwise(F.array().cast("array<int>")),
                    lambda j: F.struct(
                        F.element_at(seg_col, j).alias("x"),
                        F.element_at(seg_col, j + 1).alias("y"),
                    ),
                )
            ).alias("p"),
        )
        .groupBy("p.x", "p.y")
        .agg(F.sum("freq").alias("cnt"))
    )


def _bpe_merge_table(spark: SparkSession, bests: list) -> DataFrame:
    """Union the per-iteration 1-row argmax frames into the learned
    (it, x, y) merge table — shared by the trainer consumers. An
    EMPTY bests list (a corpus with no adjacent pairs at all) yields
    an empty typed table so downstream folds/joins degrade to
    identity instead of crashing (ADVICE r11 early-stop)."""
    from functools import reduce

    if not bests:
        return spark.createDataFrame([], "it int, x string, y string")
    return reduce(lambda a, b: a.unionByName(b), bests)


def _bpe_pair_merge_fold(seg_col: str = "seg"):
    """Greedy left-to-right non-overlapping application of the merge
    (x, y) — broadcast as columns — to a symbol array, as a pure
    expression-level F.aggregate fold (no UDF; identical to the
    single-iteration op's fold, generalized to multi-char symbols)."""
    return F.aggregate(
        F.expr(f"slice({seg_col}, 2, size({seg_col}) - 1)"),
        F.array(F.element_at(seg_col, 1)),
        lambda acc, c: F.when(
            (F.element_at(acc, -1) == F.col("x")) & (c == F.col("y")),
            F.concat(
                F.slice(acc, 1, F.size(acc) - F.lit(1)),
                F.array(F.concat(F.col("x"), F.col("y"))),
            ),
        ).otherwise(F.concat(acc, F.array(c))),
    )


def _bpe_fold_sql(seg_ref: str) -> str:
    """The greedy left-to-right merge application of (b.x, b.y) to a
    space-joined segmentation string, as a DuckDB ``list_reduce`` —
    byte-identical to the Spark ``_bpe_pair_merge_fold`` expression.
    Shared by the learn-loop CTEs and the frozen-vocab delta encode."""
    return f"""list_reduce(
               string_split({seg_ref}, ' '),
               (acc, c) -> CASE
                 WHEN regexp_extract(acc, '([^ ]+)$') = b.x AND c = b.y
                 THEN regexp_replace(acc, '[^ ]+$', b.x || b.y)
                 ELSE acc || ' ' || c END
             )"""


def _bpe_learn_ctes(k: int) -> str:
    """Unrolled DuckDB replay of k BPE merge-learning iterations —
    the ``graph_pagerank`` fixed-k unrolling precedent applied to
    tokenizer training. Each iteration is three CTEs (pair stats /
    argmax / fold), with the greedy merge application expressed as a
    ``list_reduce`` over the previous segmentation (byte-identical to
    the Spark F.aggregate fold; cross-checked against an independent
    Python BPE in tests/test_curation.py). An iteration whose argmax
    is EMPTY (corpus fully merged before k — ADVICE r11) falls back
    to the previous segmentation via a LEFT join, so the partial
    merge table survives instead of cascading to an empty result;
    the merges string aggregates whichever iterations fired. Ends
    after the ``merges`` CTE — shared by the bpe_learn_vocab /
    tokenize_bpe_corpus / tokenize_bpe_delta oracles, which append
    their own final SELECTs."""
    parts = [
        f"""
    WITH occ AS (
      SELECT unnest({tokens_sql("text")}) AS tok FROM documents
    ),
    ch AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq FROM occ GROUP BY tok
    ),
    seg0 AS (
      SELECT tok, freq,
             array_to_string(string_split(tok, ''), ' ') AS seg
      FROM ch
    )"""
    ]
    for i in range(1, k + 1):
        parts.append(_bpe_iter_cte(i, f"seg{i - 1}"))
    return "".join(parts)


def _bpe_iter_cte(i: int, src: str) -> str:
    """ONE merge-learning iteration as CTE text — pair stats over
    ``src`` (a (tok, freq, seg) relation), the argmax b{i}, and the
    folded seg{i} with the empty-argmax fallback. Shared by the base
    learn chain and the vocab-extension's continued iterations."""
    return f""",
    p{i} AS (
      SELECT ss[pos+1] AS x, ss[pos+2] AS y, SUM(freq) AS cnt
      FROM (
        SELECT string_split(seg, ' ') AS ss, freq,
               unnest(range(0, len(string_split(seg, ' ')) - 1)) AS pos
        FROM {src}
      )
      GROUP BY 1, 2
    ),
    b{i} AS MATERIALIZED (
      SELECT x, y FROM p{i} ORDER BY cnt DESC, x, y LIMIT 1
    ),
    seg{i} AS MATERIALIZED (
      SELECT s.tok, s.freq,
             CASE WHEN b.x IS NULL THEN s.seg
                  ELSE {_bpe_fold_sql("s.seg")} END AS seg
      FROM {src} s LEFT JOIN b{i} b ON TRUE
    )"""


def _bpe_merges_cte(upto: int) -> str:
    """The ordered merge-list string over iterations 1..upto —
    appended by the oracles that emit it (the learn CTEs no longer
    end with it, so the vocab-extension can aggregate across BOTH
    the frozen and the continued iterations)."""
    merge_rows = "\n        UNION ALL ".join(
        f"SELECT {i} AS it, x, y FROM b{i}" for i in range(1, upto + 1)
    )
    return f""",
    merges AS (
      SELECT COALESCE(string_agg(x || '+' || y, ' ' ORDER BY it), '')
               AS merges
      FROM ({merge_rows})
    )"""


def _bpe_vocab_oracle(k: int) -> str:
    return (
        _bpe_learn_ctes(k)
        + _bpe_merges_cte(k)
        + f"""
    SELECT s.tok, s.freq, s.seg AS segmented,
           CAST(len(string_split(s.seg, ' ')) AS INTEGER) AS n_symbols,
           m.merges
    FROM seg{k} s, merges m
    """
    )


def _bpe_learn(spark: SparkSession, docs: DataFrame, k: int):
    """The k-iteration BPE merge-learning loop (Sennrich et al. 2016)
    shared by ``bpe_learn_vocab`` (emits the learned model) and
    ``tokenize_bpe_corpus`` (applies it to the corpus). Returns the
    final word-type table ``ch`` (tok, freq, seg: array of learned
    symbols; localCheckpointed) and the list of per-iteration 1-row
    argmax DataFrames (checkpointed, each tagged with its iteration).
    See q_bpe_learn_vocab's docstring for the scale decomposition."""
    from bigdatafinalproject_hockey_spark.operators.partitioning import (
        ensure_parallelism,
    )

    occ = ensure_parallelism(docs).select(
        F.explode(tokens_expr("text")).alias("tok")
    )
    ch = (
        occ.groupBy("tok")
        .agg(F.count(F.lit(1)).cast("long").alias("freq"))
        .withColumn("seg", F.split("tok", ""))
        .localCheckpoint(eager=True)
    )
    return _bpe_learn_iters(ch, [], 1, k)


def _bpe_learn_iters(
    ch: DataFrame, bests: list, start: int, end: int
) -> tuple:
    """Merge-learning iterations ``start..end`` over an already-
    segmented word-type table — the loop body of ``_bpe_learn``,
    shared with ``bpe_vocab_extend``'s continued learning (which
    starts from the frozen model's segmentation at start = k+1).
    ``bests`` is copied on entry (ADVICE r12): callers keeping a
    reference to the pre-extension list must not see it mutated."""
    bests = list(bests)
    for i in range(start, end + 1):
        pairs = _bpe_pair_stats(ch, "seg")
        best = (
            pairs.orderBy(F.desc("cnt"), "x", "y")
            .limit(1)
            .select("x", "y")
            .localCheckpoint(eager=True)
        )
        # EARLY STOP (ADVICE r11): an empty argmax means the corpus is
        # fully merged before iteration k — keep the partial merge
        # table and current segmentation instead of letting the empty
        # crossJoin cascade every later stage (and the output) to
        # empty. isEmpty() launches a cheap take(1)-style job over
        # the <=1-row frame the eager localCheckpoint above already
        # materialized — never a corpus-scale recompute (ADVICE r12).
        # The oracle's LEFT-join fallback (seg_i := seg_{i-1} when
        # b_i is empty) matches exactly.
        if best.isEmpty():
            break
        bests.append(best.select(F.lit(i).alias("it"), "x", "y"))
        ch = (
            ch.crossJoin(F.broadcast(best))
            .select("tok", "freq", _bpe_pair_merge_fold("seg").alias("seg"))
            .localCheckpoint(eager=True)
        )
    return ch, bests


@register("bpe_learn_vocab", oracle=_bpe_vocab_oracle(_BPE_K))
def q_bpe_learn_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL BPE merge-table learning (round 11; VERDICT r10 item 1 —
    Sennrich et al. 2016, public method): iterates the single-step
    ``bpe_learn_merge`` to k=8 sequential merges, producing the
    ordered merge list a real tokenizer trainer emits plus every word
    type's final segmentation. After iteration 1 the greedy fold
    merges MULTI-character symbols (the char-split seed becomes the
    previous segmentation), which is exactly what the one-shot op
    could not express.

    Scale shape — the production BPE trainer decomposition:
    - ONE corpus-scale pass builds the word-TYPE table (tok, freq);
      it is localCheckpointed, so every later step is VOCAB-bound
      (|word types|, heavy-tailed and tiny relative to the corpus —
      this is why production BPE trainers scale to 100 TB corpora).
    - Per iteration: adjacent-pair stats with map-side combine over
      the evolving segmentation, the argmax pair via TakeOrdered
      (count desc, lexicographic tiebreak — never a global sort),
      broadcast back as a 1-row table (audited BNL allowlist), and
      the merge applied as a pure expression fold — no UDF, no
      Python stage anywhere in the loop.
    - Iterations are EAGER with localCheckpoint lineage truncation
      (the ``graph_bfs_hops`` precedent) — a lazy chain would
      re-derive seg_{i-1} once for the pair stats and once for the
      fold, doubling work per level (2^k blowup).
    - Degenerate corpora STOP EARLY (ADVICE r11): an empty argmax at
      iteration i ends the loop with the i-1 merges already learned —
      the partial merge table and current segmentation are the
      output, matching real trainer behavior on a fully-merged
      corpus. The oracle's per-iteration LEFT-join fallback
      (seg_i := seg_{i-1} when b_i is empty) reproduces this
      exactly, so the oracle holds on any input.

    Output: (tok, freq, segmented, n_symbols, merges) where merges is
    the ordered learned merge list ("x+y ..." — constant across
    rows). Full value-hash oracle: the k iterations unrolled as
    DuckDB CTEs with a list_reduce fold (validated against an
    independent Python BPE for the full k in tests/test_curation.py).
    No reference analog (the reference tokenizes nothing); this is
    the brief's text-analysis tier."""
    docs = load_table(spark, "documents", sf_dir)
    ch, bests = _bpe_learn(spark, docs, _BPE_K)

    mtab = _bpe_merge_table(spark, bests)
    # 8-row global fold into the ordered merge-list string (audited
    # single-partition exchange — |k| rows, never data-sized).
    merges_row = mtab.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("it", "x", "y"))),
                lambda s: F.concat(s["x"], F.lit("+"), s["y"]),
            ),
            " ",
        ).alias("merges")
    )
    return ch.crossJoin(F.broadcast(merges_row)).select(
        "tok",
        "freq",
        F.array_join("seg", " ").alias("segmented"),
        F.size("seg").cast("int").alias("n_symbols"),
        "merges",
    )


def _bpe_symtab(spark: SparkSession, ch: DataFrame, bests: list) -> DataFrame:
    """Canonical BPE symbol-id table (sym, sym_id): base alphabet in
    sorted order first, then merged symbols in LEARN order — the id
    scheme of a real BPE vocab file; duplicate strings keep their
    first id. Shared by the corpus encode and the delta encode; the
    windows run over the tiny alphabet+merge set (audited
    single-partition exchanges)."""
    alpha = ch.select(F.explode(F.split("tok", "")).alias("sym")).distinct()
    wa = Window.orderBy("sym")
    alpha_ids = alpha.select(
        "sym", F.lit(0).alias("tier"), F.row_number().over(wa).alias("rk")
    )
    mtab = _bpe_merge_table(spark, bests)
    merge_syms = mtab.select(
        F.concat("x", "y").alias("sym"),
        F.lit(1).alias("tier"),
        F.col("it").alias("rk"),
    )
    sym_first = (
        alpha_ids.unionByName(merge_syms)
        .groupBy("sym")
        .agg(F.min(F.col("tier") * 100000 + F.col("rk")).alias("ord"))
    )
    ws = Window.orderBy("ord")
    return sym_first.select(
        "sym", (F.row_number().over(ws) - 1).cast("int").alias("sym_id")
    )


def _bpe_symtab_ctes(k: int) -> str:
    """Canonical BPE symbol-id table CTEs (sorted base alphabet
    first, then merged symbols in learn order; duplicate strings keep
    their first id) — shared by the tokenize_bpe_corpus and
    tokenize_bpe_delta oracles. Appends after the learn CTEs; ends
    with the ``symtab`` CTE."""
    merge_rows = "\n      UNION ALL ".join(
        f"SELECT b{i}.x || b{i}.y AS sym, 1 AS tier, {i} AS rk FROM b{i}"
        for i in range(1, k + 1)
    )
    return f""",
    alpha AS (
      SELECT DISTINCT unnest(string_split(tok, '')) AS sym FROM ch
    ),
    alpha_ids AS (
      SELECT sym, 0 AS tier,
             ROW_NUMBER() OVER (ORDER BY sym) AS rk
      FROM alpha
    ),
    merge_syms AS (
      {merge_rows}
    ),
    sym_first AS (
      SELECT sym, MIN(tier * 100000 + rk) AS ord
      FROM (SELECT * FROM alpha_ids UNION ALL SELECT * FROM merge_syms)
      GROUP BY sym
    ),
    symtab AS (
      SELECT sym,
             CAST(ROW_NUMBER() OVER (ORDER BY ord) - 1 AS INTEGER)
               AS sym_id
      FROM sym_first
    )"""


def _bpe_apply_oracle(k: int) -> str:
    return (
        _bpe_learn_ctes(k)
        + _bpe_symtab_ctes(k)
        + f""",
    corpus AS (
      SELECT doc_id, unnest(range(len(tk))) AS pos, unnest(tk) AS tok
      FROM (SELECT doc_id, {tokens_sql("text")} AS tk
            FROM documents)
    ),
    segx AS (
      SELECT tok,
             unnest(range(len(string_split(seg, ' ')))) AS sub_pos,
             unnest(string_split(seg, ' ')) AS sym
      FROM seg{k}
    )
    SELECT c.doc_id, CAST(c.pos AS INT) AS pos,
           CAST(s.sub_pos AS INT) AS sub_pos,
           s.sym AS symbol, t.sym_id
    FROM corpus c JOIN segx s USING (tok) JOIN symtab t ON s.sym = t.sym
    """
    )


@register("tokenize_bpe_corpus", oracle=_bpe_apply_oracle(_BPE_K))
def q_tokenize_bpe_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE ENCODE — the apply half of learned subword tokenization
    (round 11): train the k=8 merge table (the shared ``_bpe_learn``
    loop), build the canonical BPE symbol vocabulary (base alphabet
    in sorted order, then merged symbols in LEARN order — the id
    scheme of a real BPE vocab file; duplicate strings keep their
    first id), and tokenize the corpus with it: every corpus token
    position expands to its learned subword symbols with dense
    sub-positions and symbol ids.

    Scale shape — the production encode path: learning is vocab-bound
    (see bpe_learn_vocab); the APPLY is one corpus scan + TWO
    broadcast joins (word-type → segmentation, symbol → id; both
    tables are vocabulary-sized) — the corpus itself never shuffles,
    exactly how a real tokenizer worker memoizes word→pieces. The
    symbol-table construction windows run over the tiny
    alphabet+merge set (audited single-partition exchanges).

    Output: (doc_id, pos, sub_pos, symbol, sym_id) — the exploded
    layout ``pack_sequences`` consumes, the learned-vocabulary twin
    of ``tokenize_to_ids``' fixed top-V scheme. Full value-hash
    oracle: the shared unrolled learn CTEs chained into the
    vocabulary construction and the apply joins."""
    docs = load_table(spark, "documents", sf_dir)
    ch, bests = _bpe_learn(spark, docs, _BPE_K)
    symtab = _bpe_symtab(spark, ch, bests)

    corpus = docs.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "tok")
    )
    segx = ch.select("tok", F.posexplode("seg").alias("sub_pos", "sym"))
    return (
        corpus.join(F.broadcast(segx), "tok")
        .join(F.broadcast(symtab), "sym")
        .select(
            "doc_id",
            F.col("pos").cast("int").alias("pos"),
            F.col("sub_pos").cast("int").alias("sub_pos"),
            F.col("sym").alias("symbol"),
            "sym_id",
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: frozen-vocab delta encode (unseen text)
# ---------------------------------------------------------------------------

# Delta-batch fixture: every 7th document re-arrives as "new" text in
# which odd token positions are REVERSED (reverse of a seen word is
# almost never itself a seen word type, but draws on the same
# alphabet) — a deterministic mix of seen and genuinely unseen word
# types, shared closed-form with the oracle. Round 13 (VERDICT r12
# item 3): every third delta doc ALSO carries OUT-OF-ALPHABET
# characters — tokens at pos % 5 == 2 get 'Q' prepended (the corpus
# is lowercase [a-z0-9], so an uppercase letter can never be in the
# training alphabet; pure ASCII, so char-split/reverse semantics are
# identical in both engines) — exercising the explicit-UNK path of
# the delta encode.
_BPE_DELTA_MOD = 7
_BPE_OOA_MOD = 21  # delta docs with out-of-alphabet injections
_BPE_OOA_POS = 5   # ... at token positions pos % _BPE_OOA_POS == 2
_BPE_UNK_ID = -1   # the explicit UNK symbol id (real ids are >= 0)


def _bpe_delta_corpus(docs: DataFrame) -> DataFrame:
    """The deterministic delta-batch fixture (every
    ``_BPE_DELTA_MOD``-th doc with odd token positions reversed, and
    every ``_BPE_OOA_MOD``-th doc with the out-of-alphabet 'Q'
    prepended at positions ``pos % _BPE_OOA_POS == 2``) as
    (doc_id, pos, tok) — the Spark twin of ``_bpe_delta_ctes``'s
    dcorpus, shared by the delta encode and the vocab extension."""
    base = docs.filter((F.col("doc_id") % _BPE_DELTA_MOD) == 0)
    rev = F.when((F.col("pos") % 2) == 1, F.reverse("tok0")).otherwise(
        F.col("tok0")
    )
    return base.select(
        "doc_id", F.posexplode(tokens_expr("text")).alias("pos", "tok0")
    ).select(
        "doc_id",
        F.col("pos").cast("int").alias("pos"),
        F.when(
            ((F.col("doc_id") % _BPE_OOA_MOD) == 0)
            & ((F.col("pos") % _BPE_OOA_POS) == 2),
            F.concat(F.lit("Q"), rev),
        )
        .otherwise(rev)
        .alias("tok"),
    )


def _bpe_replay_unseen(
    dtypes: DataFrame, ch: DataFrame, bests: list
) -> DataFrame:
    """Unseen word types (anti-join against the frozen vocab) with
    the learned merges replayed in order over their char-split seed —
    each fold is the SAME expression the trainer applied at that
    iteration, so a seen type would replay to its frozen segmentation
    byte-for-byte (pinned by test). Cost ∝ |new word types|; every
    fold is a 1-row broadcast. Shared by the delta encode and the
    vocab extension."""
    unseen = dtypes.join(F.broadcast(ch.select("tok")), "tok", "left_anti")
    useg = unseen.withColumn("seg", F.split("tok", ""))
    for b in bests:
        useg = useg.crossJoin(F.broadcast(b.select("x", "y"))).select(
            "tok", _bpe_pair_merge_fold("seg").alias("seg")
        )
    return useg


def _bpe_delta_ctes(k: int) -> str:
    """The delta-batch CTE chain: the deterministic fixture corpus
    (every ``_BPE_DELTA_MOD``-th doc, odd positions reversed), its
    distinct word types, and the unseen-type ranked-merge replay
    u0..u{k}. Shared by the tokenize_bpe_delta and bpe_vocab_extend
    oracles, so the replay semantics cannot drift."""
    parts = [
        f""",
    dcorpus AS (
      SELECT doc_id, CAST(pos AS INT) AS pos,
             CASE WHEN doc_id % {_BPE_OOA_MOD} = 0
                       AND pos % {_BPE_OOA_POS} = 2
                  THEN 'Q' || rtok ELSE rtok END AS tok
      FROM (
        SELECT doc_id, pos,
               CASE WHEN pos % 2 = 1 THEN reverse(tok) ELSE tok END
                 AS rtok
        FROM (
          SELECT doc_id, unnest(range(len(tk))) AS pos,
                 unnest(tk) AS tok
          FROM (SELECT doc_id, {tokens_sql("text")} AS tk
                FROM documents WHERE doc_id % {_BPE_DELTA_MOD} = 0)
        )
      )
    ),
    dtypes AS (SELECT DISTINCT tok FROM dcorpus),
    u0 AS (
      SELECT d.tok, array_to_string(string_split(d.tok, ''), ' ') AS seg
      FROM dtypes d ANTI JOIN seg{k} s USING (tok)
    )""",
    ]
    for i in range(1, k + 1):
        parts.append(f""",
    u{i} AS MATERIALIZED (
      SELECT u.tok,
             CASE WHEN b.x IS NULL THEN u.seg
                  ELSE {_bpe_fold_sql("u.seg")} END AS seg
      FROM u{i - 1} u LEFT JOIN b{i} b ON TRUE
    )""")
    return "".join(parts)


def _bpe_delta_oracle(k: int) -> str:
    parts = [
        _bpe_learn_ctes(k),
        _bpe_symtab_ctes(k),
        _bpe_delta_ctes(k),
    ]
    parts.append(f""",
    allseg AS (
      SELECT tok, seg, TRUE AS known_type FROM seg{k}
      UNION ALL
      SELECT tok, seg, FALSE AS known_type FROM u{k}
    ),
    dsegx AS (
      SELECT tok, known_type,
             unnest(range(len(string_split(seg, ' ')))) AS sub_pos,
             unnest(string_split(seg, ' ')) AS sym
      FROM allseg
    )
    SELECT c.doc_id, c.pos, CAST(s.sub_pos AS INT) AS sub_pos,
           s.sym AS symbol,
           CAST(COALESCE(t.sym_id, {_BPE_UNK_ID}) AS INTEGER) AS sym_id,
           (t.sym_id IS NULL) AS is_unk,
           CAST(SUM(CASE WHEN t.sym_id IS NULL THEN 1 ELSE 0 END)
                OVER (PARTITION BY c.doc_id) AS BIGINT) AS n_unk,
           s.known_type
    FROM dcorpus c JOIN dsegx s USING (tok)
         LEFT JOIN symtab t ON s.sym = t.sym
    """)
    return "".join(parts)


@register("tokenize_bpe_delta", oracle=_bpe_delta_oracle(_BPE_K))
def q_tokenize_bpe_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE delta encode — tokenize NEW text against a FROZEN merge
    table (round 12; VERDICT r11 item 1), completing the tokenizer
    lifecycle the way ``ann_index_delta`` completed ANN: train once
    (``bpe_learn_vocab``), encode the day-0 corpus
    (``tokenize_bpe_corpus``), then encode each ARRIVING batch
    without re-learning. ``tokenize_bpe_corpus``'s inner join against
    the training-corpus word-type table silently drops any word type
    unseen at train time; this op closes that gap the way a real
    tokenizer worker does — seen word types reuse the frozen
    (broadcast) word→pieces table, and UNSEEN word types get the
    ranked merges replayed over their char-split seed (the learn
    loop's apply half — the shared ``_bpe_pair_merge_fold``
    expression per merge, in learn order — without re-learning).

    Scale shape: the replay runs on the DISTINCT unseen word types
    only — cost ∝ |new word types|, never ∝ |batch| (the memoization
    that makes production tokenizer fleets cheap); each of the k
    folds is a pure expression over a 1-row broadcast merge, the
    frozen segmentation + symbol tables broadcast, and the delta
    batch itself never shuffles. A word type that WAS seen at train
    time replays to the identical segmentation (the fold is
    deterministic given the merge list — pinned by test), so the
    seen/unseen split is a pure memoization, not a semantic fork.

    OUT-OF-ALPHABET characters (round 13, VERDICT r12 item 3): a
    delta word containing a character unseen at train time replays to
    a segmentation whose singleton symbol has no vocabulary id. The
    id lookup is therefore a LEFT join with an explicit UNK id
    (sym_id = ``_BPE_UNK_ID``), a per-position ``is_unk`` flag, and a
    per-doc ``n_unk`` counter — no input position is ever dropped
    (pinned by test: every character of every delta token appears in
    the output). This is the explicit-UNK half of the two production
    designs (the other being GPT-2's byte-level base alphabet, where
    no character is unrepresentable by construction); the fixture
    injects 'Q' (outside the lowercase training alphabet) into every
    third delta doc so both sides of ``is_unk`` are real.

    Output: (doc_id, pos, sub_pos, symbol, sym_id, is_unk, n_unk,
    known_type) — the ``tokenize_bpe_corpus`` layout plus the
    provenance flags. Full value-hash oracle: the shared learn +
    symtab CTEs chained into the delta fixture, the unseen-type
    ANTI join, and the k-fold replay; per-position equality with an
    independent Python BPE on the unseen words pinned by test."""
    docs = load_table(spark, "documents", sf_dir)
    ch, bests = _bpe_learn(spark, docs, _BPE_K)
    symtab = _bpe_symtab(spark, ch, bests)
    dcorpus = _bpe_delta_corpus(docs)
    useg = _bpe_replay_unseen(dcorpus.select("tok").distinct(), ch, bests)

    allseg = (
        ch.select("tok", "seg")
        .withColumn("known_type", F.lit(True))
        .unionByName(useg.withColumn("known_type", F.lit(False)))
    )
    dsegx = allseg.select(
        "tok", "known_type", F.posexplode("seg").alias("sub_pos", "sym")
    )
    # Round 13 (VERDICT r12 item 3): the symbol-id lookup is a LEFT
    # join with an explicit UNK id — the previous inner join silently
    # DROPPED any sub-position whose symbol was absent from the
    # training alphabet (the one silent-data-loss path left in the
    # tokenizer lifecycle). Production tokenizers avoid the problem
    # with a byte-level base alphabet (GPT-2) or an explicit UNK;
    # this op takes the UNK route (sym_id = -1, per-position is_unk,
    # per-doc n_unk) so the loss is visible and countable. The n_unk
    # window is doc-keyed over the delta batch's metadata-width
    # output rows — a delta-sized exchange, never the corpus.
    out = (
        dcorpus.join(F.broadcast(dsegx), "tok")
        .join(F.broadcast(symtab), "sym", "left")
        .select(
            "doc_id",
            "pos",
            F.col("sub_pos").cast("int").alias("sub_pos"),
            F.col("sym").alias("symbol"),
            F.coalesce(F.col("sym_id"), F.lit(_BPE_UNK_ID))
            .cast("int")
            .alias("sym_id"),
            F.col("sym_id").isNull().alias("is_unk"),
            "known_type",
        )
    )
    w = Window.partitionBy("doc_id")
    return out.select(
        "doc_id",
        "pos",
        "sub_pos",
        "symbol",
        "sym_id",
        "is_unk",
        F.sum(F.col("is_unk").cast("int")).over(w).cast("long").alias(
            "n_unk"
        ),
        "known_type",
    )


# ---------------------------------------------------------------------------
# BPE tokenizer: vocabulary EXTENSION (continued learning, frozen prefix)
# ---------------------------------------------------------------------------

_BPE_EXT_K = 4  # additional merges learned on the grown corpus


def _bpe_extend_oracle(k: int, k2: int) -> str:
    parts = [
        _bpe_learn_ctes(k),
        _bpe_delta_ctes(k),
        f""",
    dfreqs AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS freq
      FROM dcorpus GROUP BY tok
    ),
    uch AS (
      SELECT COALESCE(s.tok, d.tok) AS tok,
             COALESCE(s.freq, 0) + COALESCE(d.freq, 0) AS freq,
             COALESCE(s.seg, u.seg) AS seg
      FROM seg{k} s FULL JOIN dfreqs d ON s.tok = d.tok
           LEFT JOIN u{k} u ON COALESCE(s.tok, d.tok) = u.tok
    )""",
    ]
    parts.append(_bpe_iter_cte(k + 1, "uch"))
    for i in range(k + 2, k + k2 + 1):
        parts.append(_bpe_iter_cte(i, f"seg{i - 1}"))
    parts.append(_bpe_merges_cte(k + k2))
    parts.append(f"""
    SELECT s.tok, s.freq, s.seg AS segmented,
           CAST(len(string_split(s.seg, ' ')) AS INTEGER) AS n_symbols,
           m.merges, CAST({k} AS INTEGER) AS n_frozen
    FROM seg{k + k2} s, merges m
    """)
    return "".join(parts)


@register("bpe_vocab_extend", oracle=_bpe_extend_oracle(_BPE_K, _BPE_EXT_K))
def q_bpe_vocab_extend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE vocabulary EXTENSION (round 12) — continued merge learning
    on a GROWN corpus with the day-0 merges frozen as a prefix,
    completing the tokenizer lifecycle: train (``bpe_learn_vocab``) →
    encode (``tokenize_bpe_corpus``) → encode new batches
    (``tokenize_bpe_delta``) → EXTEND the vocabulary when the corpus
    has grown enough to justify new merges. Freezing the prefix is
    the production constraint that matters: the first k merge ids
    (and every symbol id they produce) stay byte-stable, so
    checkpoints and already-tokenized shards remain valid — the
    domain-adaptation recipe public tokenizer stacks document
    (extend-don't-retrain; Sennrich 2016 merges are order-prefix
    composable by construction).

    Shape: (1) the frozen k=8 model trains exactly as
    ``bpe_learn_vocab`` (one corpus pass, vocab-bound iterations);
    (2) the delta batch's word types join the frozen segmentation —
    seen types reuse it, unseen types get the ranked-merge replay
    (the SHARED ``_bpe_replay_unseen`` fold, ∝ |new types|);
    (3) union word-type table = base ⟗ delta freqs (vocab-sized
    full join; freqs ADD for types in both) with the frozen-merge
    segmentation — eagerly checkpointed (#union_types) like every
    trainer boundary; (4) k2=4 MORE iterations of the SHARED
    ``_bpe_learn_iters`` loop run over it — each still vocab-bound,
    argmax broadcast back, pure expression fold, early-stop on an
    empty argmax. Output: every union word type's final segmentation
    + the full ordered merge list (frozen prefix first) + n_frozen.

    Full value-hash oracle: the shared learn CTEs, the shared delta
    replay CTEs, the union CTE, and the continued iterations via the
    SAME per-iteration CTE builder — plus a from-scratch Python
    reference pinning that the frozen prefix really is a prefix and
    the new merges equal independent continued learning
    (tests/test_curation.py)."""
    docs = load_table(spark, "documents", sf_dir)
    ch, bests = _bpe_learn(spark, docs, _BPE_K)

    dcorpus = _bpe_delta_corpus(docs)
    dfreq = dcorpus.groupBy("tok").agg(
        F.count(F.lit(1)).cast("long").alias("dfreq")
    )
    useg = _bpe_replay_unseen(dfreq.select("tok"), ch, bests)
    uch = (
        ch.select("tok", "freq", "seg")
        .join(dfreq, "tok", "full")
        .join(useg.withColumnRenamed("seg", "useg"), "tok", "left")
        .select(
            "tok",
            (
                F.coalesce("freq", F.lit(0)) + F.coalesce("dfreq", F.lit(0))
            ).cast("long").alias("freq"),
            F.coalesce("seg", "useg").alias("seg"),
        )
        .localCheckpoint(eager=True)
    )

    ch2, bests = _bpe_learn_iters(
        uch, bests, _BPE_K + 1, _BPE_K + _BPE_EXT_K
    )
    mtab = _bpe_merge_table(spark, bests)
    merges_row = mtab.agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("it", "x", "y"))),
                lambda s: F.concat(s["x"], F.lit("+"), s["y"]),
            ),
            " ",
        ).alias("merges")
    )
    return ch2.crossJoin(F.broadcast(merges_row)).select(
        "tok",
        "freq",
        F.array_join("seg", " ").alias("segmented"),
        F.size("seg").cast("int").alias("n_symbols"),
        "merges",
        F.lit(_BPE_K).cast("int").alias("n_frozen"),
    )
