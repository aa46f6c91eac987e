"""MinHash + LSH near-duplicate candidate pairs (sub-quadratic path).

Shingle → minhash signature → banded bucket self-join, entirely in
built-in Catalyst expressions (xxhash64 / transform / array_min /
posexplode) — no MLlib, no per-pair Python, no UDFs. Compared to
``pyspark.ml.feature.MinHashLSH.approxSimilarityJoin`` this

- hashes each shingle STRING once, then derives the k minhash
  functions by re-hashing the resulting long (long-hashing is ~10×
  cheaper than re-hashing the string k times), and
- scores candidate pairs by signature agreement (the classic MinHash
  Jaccard estimator, an O(k) zip_with) instead of MLlib's exact
  set-intersection UDF over sparse vectors, which is O(|shingles|)
  per candidate pair and runs in Python-free but codegen-free scala
  UDF land.

Two hash families feed ONE dataflow (``_lsh_pairs``): the fast
xxhash64 family (``minhash_candidate_pairs``) and an engine-portable
md5/universal-hash family (``minhash_candidate_pairs_portable``).
Only the signature and band-key expressions differ. The portable
twin's DuckDB oracle (``minhash_lsh_oracle_sql``) therefore checks the
shared dataflow; the xxhash expressions are not reproducible in an
external SQL engine and stay rows-only.

At 100 TB the shuffles are the fingerprint exchange (exact-dup
collapse, below) and the band-bucket exchange, both keyed on uniform
hashes; each is materialized ONCE and its second consumer reads the
same shuffle files via planner exchange reuse — no persist, no cache
copy of the signature table (plan-locked in tests/test_plans.py).
Exact-duplicate clusters are the pathological skew case for banded
LSH — n identical docs share every band key, putting an n²-pair
bucket in one task. The dataflow therefore COLLAPSES token-identical
docs first (fingerprint of the sorted shingle-hash set): copies link
to their representative via star edges (n-1 rows, jaccard_dist 0) and
only representatives enter the banded self-join. The emitted pair set
is reduced but its transitive closure — what dedup components
consume — is identical.

Capability parity: sub-quadratic near-dup candidate generation for the
training-data-pipeline tier (SURVEY.md §2.15a); the reference itself
has no dedup (reference `code/experiment.py` is dedup-free).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from bigdatafinalproject_hockey_spark.functions.hashing import (
    portable_hash64_expr,
    portable_hash64_sql,
    splitmix64,
)
from bigdatafinalproject_hockey_spark.functions.text import tokens_expr, tokens_sql
from bigdatafinalproject_hockey_spark.operators.partitioning import ensure_parallelism

# Universal-hash family for the PORTABLE minhash variant:
# h_k(x) = (a_k * x + b_k) mod P over the top-31-bit reduction of the
# portable shingle hash. P = 2^31 - 1 (Mersenne), a_k odd < 2^31, so
# a_k * x < 2^62 stays in exact signed-64 arithmetic in EVERY engine.
_MINHASH_P = (1 << 31) - 1


def _minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    a = [(splitmix64(2 * k + 1) & (_MINHASH_P - 1)) | 1 for k in range(num_hashes)]
    b = [splitmix64(2 * k + 2) % _MINHASH_P for k in range(num_hashes)]
    # (x & (P-1)) | 1 can in principle yield exactly P (≡ 0 mod P),
    # which would make h_k constant — a degenerate slot. The shipped
    # 32 coefficients are all in range; fail loudly if a larger family
    # ever hits the edge rather than silently weakening the signature.
    assert all(0 < v < _MINHASH_P for v in a), "degenerate minhash coefficient"
    return a, b


def shingles_expr(col: str, n: int = 3, distinct: bool = True):
    """Word n-gram shingles from the token array.

    Built by zip_with-ing n-1 shifted copies of the token array —
    O(tokens) array ops per row. (A transform-over-indices with
    per-index slice/indexing is ~40× slower: nested HOF indexing
    doesn't codegen and re-evaluates the array per position.)
    n=1 degenerates to the distinct token set. ``distinct=False``
    keeps the POSITIONAL gram array — element i is the gram starting
    at token position i — for consumers that cut or annotate spans
    (decontaminate_redact) rather than set-compare.
    """
    toks = tokens_expr(col)
    if n <= 1:
        return F.array_distinct(toks) if distinct else toks
    acc = toks
    for k in range(1, n):
        shifted = F.slice(toks, k + 1, F.greatest(F.size(toks) - k, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.concat_ws(" ", a, b))
    full = F.when(
        F.size(toks) >= n, F.slice(acc, 1, F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<string>"))
    return F.array_distinct(full) if distinct else full


def shingle_hashes_from_token_hashes_expr(th_col, n: int = 3):
    """Distinct 64-bit n-gram shingle hashes from an ``array<long>`` of
    token hashes — WITHOUT ever materializing the n-gram strings.

    An n-gram's hash is the hash-combine of its n token hashes
    (zip_with over shifted copies, xxhash64 of two longs per step).
    Versus hashing concat_ws'd shingle strings this allocates no
    strings and re-touches no string bytes. Hash-tuple collisions
    stand in for string equality (negligible at 64 bits).

    Take the PRE-MATERIALIZED token-hash array (its own projection),
    not a text column: this expression references its input ~2n times,
    and inlining tokenize+hash here would put 2n copies of it into the
    generated code — Janino compile time is part of query latency.
    """
    th = F.col(th_col) if isinstance(th_col, str) else th_col
    if n <= 1:
        return F.array_distinct(th)
    acc = th
    for k in range(1, n):
        shifted = F.slice(th, k + 1, F.greatest(F.size(th) - k, F.lit(0)))
        acc = F.zip_with(acc, shifted, lambda a, b: F.xxhash64(a, b))
    full = F.when(
        F.size(th) >= n, F.slice(acc, 1, F.size(th) - (n - 1))
    ).otherwise(F.array().cast("array<bigint>"))
    return F.array_distinct(full)


def minhash_signature_expr(hash_array_col, num_hashes: int = 32):
    """Array of ``num_hashes`` minhash values from a PRE-HASHED shingle
    array (``array<long>``).

    The caller materializes the one-string-hash-per-shingle array in
    its own projection; here each of the k hash functions is
    h_k(x) = xxhash64(base_hash, k) — the standard one-base-hash
    family. Long re-hashing stays in whole-stage codegen and avoids k
    passes over the string bytes. (Taking the pre-hashed array as
    input matters: inlining the string hash here would let each of the
    k transforms re-hash the strings.)
    """
    # One aggregate whose k-loop is DATA (sequence(0, k-1)), not k
    # unrolled array_min(transform(...)) expressions: element-wise
    # running min of the k derived hashes. Equivalent values, but the
    # expression tree is ~k× smaller — unrolled, plan construction
    # alone (one Py4J round-trip per node) cost ~2 s of query latency,
    # and the generated code grew with k.
    ks = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    max_long = F.lit((1 << 63) - 1).cast("bigint")
    return F.aggregate(
        hash_array_col if not isinstance(hash_array_col, str) else F.col(hash_array_col),
        F.array_repeat(max_long, num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            # NB: single-parameter lambdas only — PySpark reads a
            # two-parameter transform-lambda as (element, index), so a
            # `lambda h, k=k:` default-arg capture would silently bind
            # k to the index column instead.
            F.transform(ks, lambda k: F.xxhash64(h, k)),
            lambda x, y: F.least(x, y),
        ),
    )


def _banded(sig: DataFrame, band_keys: Column) -> DataFrame:
    """(doc, sig, band_idx, band_key): one row per band of each doc.
    ``band_keys`` is an array expression over the ``sig`` column.
    Shingle-less docs (n_sh = 0) get a NULL array, and posexplode of
    NULL emits no rows — the empty-doc filter without a Filter node
    (see ``minhash_candidate_pairs`` for why there is none)."""
    return sig.select(
        "doc",
        "sig",
        F.posexplode(F.when(F.col("n_sh") > 0, band_keys)).alias(
            "band_idx", "band_key"
        ),
    )


def _est_dist(sig_a: Column, sig_b: Column, num_hashes: int) -> Column:
    """Estimated Jaccard distance: 1 - signature-agreement rate,
    rounded to 6 dp."""
    matches = F.size(
        F.filter(F.zip_with(sig_a, sig_b, lambda x, y: x == y), lambda m: m)
    )
    return F.round(F.lit(1.0) - matches.cast("double") / F.lit(float(num_hashes)), 6)


def _lsh_pairs(
    sig: DataFrame,
    band_keys: Column,
    num_hashes: int,
    max_jaccard_distance: float,
) -> DataFrame:
    """The MinHash+LSH dataflow both hash families share, from a
    (doc, n_sh, sig, fp) frame and a band-key array expression over
    ``sig``: exact-dup star collapse → band posexplode → co-partitioned
    self-join → agreement estimate → dropDuplicates → union."""
    # Exact-dup collapse: one fingerprint-keyed exchange over the
    # COMPACT (doc, n_sh, sig, fp) rows — the heavy shingle arrays
    # never shuffle. Both the star-edge branch and the representative
    # branch read it, but NOT via persist: the branches' fp-exchange
    # subtrees are canonically identical, so the planner materializes
    # the shuffle once and ReusedExchange serves the second consumer
    # from the same shuffle files (verified in the final adaptive
    # plan, tests/test_plans.py). Persisting here was pure overhead —
    # cache materialization of the wide sig rows cost ~0.5-1 s at
    # bench scale and duplicate storage at 100 TB, for reuse the
    # shuffle already provides.
    tagged = sig.withColumn("rep", F.min("doc").over(Window.partitionBy("fp")))
    # Star edges for exact clusters; empty docs (n_sh=0) share a
    # fingerprint but are NOT duplicates of each other — excluded, as
    # they are from banding.
    exact_edges = tagged.filter(
        (F.col("n_sh") > 0) & (F.col("doc") != F.col("rep"))
    ).select(
        F.col("rep").alias("doc_a"),
        F.col("doc").alias("doc_b"),
        F.lit(0.0).alias("jaccard_dist"),
    )
    reps = tagged.filter(F.col("doc") == F.col("rep")).select("doc", "n_sh", "sig")

    # The self-join scans the exploded bucket table twice, and
    # everything upstream (shingle + k×hash) is the expensive narrow
    # stage. Repartition BY THE JOIN KEYS: both join sides then end at
    # the SAME canonical band-key exchange, which the engine
    # materializes once and serves to the second side via
    # ReusedExchange — co-partitioned join, one band-bucket shuffle
    # total, no cache. (An explicit persist here bought the same
    # single-computation guarantee but paid cache materialization on
    # top of the shuffle files that already exist — measured ~0.5 s
    # slower at bench scale and double storage at corpus scale.)
    exploded = _banded(reps, band_keys).repartition("band_idx", "band_key")
    a, b = exploded.alias("a"), exploded.alias("b")
    near_pairs = (
        a.join(b, on=["band_idx", "band_key"], how="inner")
        .filter(F.col("a.doc") < F.col("b.doc"))
        .select(
            F.col("a.doc").alias("doc_a"),
            F.col("b.doc").alias("doc_b"),
            _est_dist(F.col("a.sig"), F.col("b.sig"), num_hashes).alias(
                "jaccard_dist"
            ),
        )
        # A pair colliding in several bands appears once per collision;
        # the distance is a pure function of the pair, so plain
        # dropDuplicates (not a groupBy) is enough. The alternative —
        # keep only the first colliding band's row by recomputing band
        # keys from the joined signatures, the form dedup/simhash.py and
        # minhash_incremental_matches use — was measured on the
        # collision-heavy near-dup x10 corpus: the per-collision-instance
        # recompute (32 slice hashes + array allocs per row) read 108 s
        # against ~3 s for this form. The dedup exchange moves only
        # 24-byte pair rows, so trading it for per-instance expression
        # work loses exactly where collisions are densest. First-band
        # pays off only when the recompute is integer-cheap relative to
        # the row (simhash's shift/mask blocks) or the collision
        # multiplicity is store-bounded (the incremental matcher).
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("jaccard_dist") <= max_jaccard_distance)
    )
    return near_pairs.unionByName(exact_edges)


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    max_jaccard_distance: float = 0.3,
) -> DataFrame:
    """Candidate near-dup pairs with ESTIMATED Jaccard distance <= cutoff.

    Output: doc_a, doc_b, jaccard_dist (1 - signature-agreement rate).
    Pairs are deduped (doc_a < doc_b). Two docs are candidates iff all
    ``num_hashes/num_bands`` minhashes of at least one band agree —
    the (1/b)^(1/r) S-curve. Defaults (b=16, r=2) put the curve's
    midpoint at sim = (1/16)^(1/2) = 0.25, i.e. ~99% collision
    probability at sim 0.5 — matched to the dedup cutoffs this engine
    uses. Raise rows-per-band for a sharper/stricter curve.

    Skew hardening: token-identical docs (equal sorted shingle-hash
    sets, 64-bit fingerprint) are collapsed BEFORE banding — each
    exact cluster emits star edges (min-id representative → copy,
    jaccard_dist 0.0) and only its representative enters the banded
    self-join, so a 10⁴-copy cluster costs 10⁴-1 output rows instead
    of a single ~5×10⁷-pair straggler bucket
    (tests/test_properties.py pins the timing). The pair set is
    REDUCED relative to all-pairs — copies reach their near-dups
    transitively through their representative — with an identical
    transitive closure, which is what dedup_components consumes.
    Empty docs (no shingles) still never pair.

    The fast hash family: xxhash64 token hashes combined into shingle
    hashes, the xxhash64 minhash family, an xxhash64 fingerprint, and
    band keys hashed from each band's signature slice. The dataflow
    after the signatures is ``_lsh_pairs``, shared with
    ``minhash_candidate_pairs_portable``; only these expressions are
    unchecked by an oracle.
    """
    assert num_hashes % num_bands == 0, "bands must evenly divide hashes"
    rows_per_band = num_hashes // num_bands

    # Shingling + signatures are far more expensive per row than the
    # scan; widen a narrow scan layout first (a 3× win at bench scale,
    # where the corpus arrives as one parquet split). NO Filter node
    # anywhere in this pre-exchange pipeline: a deterministic filter on
    # a derived column gets predicate-pushed below the exchange with
    # the full shingle expression substituted in — the whole tokenize/
    # shingle pass would then run once more, single-threaded, on the
    # scan side. Empty docs are instead dropped by the posexplode of a
    # NULL band array (``_banded``).
    # Layered projections — tokens, token hashes, shingle hashes,
    # signature — each alias used several times by the next layer.
    # Catalyst's CollapseProject keeps non-cheap aliases with multiple
    # uses as separate projections, so each layer appears ONCE in the
    # generated code (both evaluated once via codegen subexpression
    # reuse AND compiled once — a single inlined mega-expression made
    # Janino compilation dominate cold-query latency).
    toks = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"), tokens_expr(text_col).alias("tk")
    )
    th = toks.select("doc", F.transform("tk", lambda t: F.xxhash64(t)).alias("th"))
    hashed = th.select(
        "doc", shingle_hashes_from_token_hashes_expr("th", shingle_n).alias("hs")
    )
    sig = hashed.select(
        "doc",
        F.size("hs").alias("n_sh"),
        minhash_signature_expr(F.col("hs"), num_hashes).alias("sig"),
        # content fingerprint: equal distinct-shingle SETS ⇒ equal
        # fingerprint (sorted before hashing); 64-bit collisions are
        # the same risk class as the shingle hashing itself.
        F.xxhash64(F.array_sort("hs")).alias("fp"),
    )
    # Band key = hash of the band's signature slice (+ band index so
    # identical slices in different bands don't collide cross-band).
    # Built as one transform over sequence(0, b-1), not b unrolled
    # exprs — same plan-size rationale as the signature above.
    band_keys = F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.xxhash64(
            F.slice(F.col("sig"), b * rows_per_band + 1, F.lit(rows_per_band)), b
        ),
    )
    return _lsh_pairs(sig, band_keys, num_hashes, max_jaccard_distance)


def _portable_signatures(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
    num_hashes: int,
) -> DataFrame:
    """(doc, n_sh, sig, fp) with ENGINE-PORTABLE hashes: md5-derived
    63-bit shingle hashes, literal universal-hash minhash family, md5
    content fingerprint. Shared by the portable batch pair-finder and
    the incremental matcher so both stay value-identical to the SQL
    oracles."""
    a_co, b_co = _minhash_coeffs(num_hashes)
    max63 = F.lit((1 << 63) - 1).cast("long")
    shingled = ensure_parallelism(df).select(
        F.col(id_col).alias("doc"),
        shingles_expr(text_col, shingle_n).alias("shs"),
    )
    hashed = shingled.select(
        "doc",
        F.transform(
            "shs", lambda s: portable_hash64_expr(s).bitwiseAND(max63)
        ).alias("hs"),
    )
    ks = F.sequence(F.lit(0), F.lit(num_hashes - 1))
    a_arr = F.array(*[F.lit(v).cast("long") for v in a_co])
    b_arr = F.array(*[F.lit(v).cast("long") for v in b_co])
    sig_expr = F.aggregate(
        F.col("hs"),
        F.array_repeat(F.lit(_MINHASH_P).cast("long"), num_hashes),
        lambda acc, h: F.zip_with(
            acc,
            F.transform(
                ks,
                lambda k: (
                    F.element_at(a_arr, k + 1) * F.shiftright(h, 32)
                    + F.element_at(b_arr, k + 1)
                )
                % F.lit(_MINHASH_P),
            ),
            lambda x, y: F.least(x, y),
        ),
    )
    return hashed.select(
        "doc",
        F.size("hs").alias("n_sh"),
        sig_expr.alias("sig"),
        F.md5(
            F.concat_ws(",", F.transform(F.array_sort("hs"), lambda h: h.cast("string")))
        ).alias("fp"),
    )


def _band_slice_eq(sig_a: str, sig_b: str, num_bands: int, rows_per_band: int):
    """array<boolean>: per band, whether the two signatures' band
    slices are equal — the slice-level truth the string band keys
    render injectively. Used to locate a pair's first colliding band
    from columns already on the joined row."""
    return F.array(
        *[
            F.slice(F.col(sig_a), b * rows_per_band + 1, rows_per_band)
            == F.slice(F.col(sig_b), b * rows_per_band + 1, rows_per_band)
            for b in range(num_bands)
        ]
    )


def _band_keys_expr(num_bands: int, rows_per_band: int):
    """String band keys over a ``sig`` column: the band's signature
    slice joined with ':' — identical rendering in every engine."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_bands - 1)),
        lambda b: F.concat_ws(
            ":",
            F.transform(
                F.sequence(F.lit(0), F.lit(rows_per_band - 1)),
                lambda j: F.get(F.col("sig"), b * rows_per_band + j).cast("string"),
            ),
        ),
    )


def minhash_candidate_pairs_portable(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    max_jaccard_distance: float = 0.3,
) -> DataFrame:
    """ENGINE-PORTABLE MinHash+LSH candidate pairs: the same
    ``_lsh_pairs`` dataflow and output contract as
    minhash_candidate_pairs, fed by cross-engine-reproducible hashes,
    so the flagship dedup pipeline gets a full value-hash DuckDB
    oracle (minhash_lsh_oracle_sql) instead of a rows-only check. What
    differs is only the hash family:

    - shingle hash: portable md5-derived 64-bit hash of the n-gram
      string, sign bit masked (63-bit non-negative — identical decimal
      rendering in every engine);
    - minhash family: h_k(x) = (a_k·x₃₁ + b_k) mod (2³¹-1) with
      literal splitmix64-derived coefficients (x₃₁ = top 31 bits) —
      exact signed-64 arithmetic everywhere, no engine hash;
    - band key: the band's signature slice joined as a string;
    - content fingerprint: md5 of the sorted shingle-hash list.

    Trade-off vs the fast variant: md5 per distinct shingle instead of
    xxhash64 per token (~2-3× the narrow-stage cost), identical shuffle
    structure and skew hardening.
    """
    assert num_hashes % num_bands == 0, "bands must evenly divide hashes"
    sig = _portable_signatures(df, text_col, id_col, shingle_n, num_hashes)
    band_keys = _band_keys_expr(num_bands, num_hashes // num_bands)
    return _lsh_pairs(sig, band_keys, num_hashes, max_jaccard_distance)


def _shingle_hash_ctes(table: str, text_col: str, id_col: str, shingle_n: int) -> str:
    """``tok``/``sh``/``hs`` CTEs: the portable 63-bit shingle hashes
    (``hs``) per document, as ``_portable_signatures`` builds them."""
    gram = " || ' ' || ".join(f"tk[i + {j + 1}]" for j in range(shingle_n))
    h63 = f"CAST(({portable_hash64_sql('s')} & 9223372036854775807) AS BIGINT)"
    return f"""tok AS (SELECT {id_col}, {tokens_sql(text_col)} AS tk FROM {table}),
    sh AS (
      SELECT {id_col},
             list_distinct(
               CASE WHEN len(tk) >= {shingle_n}
                    THEN list_transform(range(len(tk) - {shingle_n - 1}),
                                        i -> {gram})
                    ELSE [] END) AS shs
      FROM tok
    ),
    hs AS (
      SELECT {id_col}, list_transform(shs, s -> {h63}) AS hs FROM sh
    )"""


def _band_ctes(src: str, id_col: str, num_hashes: int, num_bands: int) -> str:
    """``hk``/``sigs``/``banded`` CTEs over the ``hs`` column of CTE
    ``src``: the universal-hash signature and its string band keys.
    Signature mins are computed relationally (shingle-hash rows × a
    k-table, GROUP BY) rather than as a k-slot fold — equivalent
    values, saner SQL."""
    assert num_hashes % num_bands == 0, "bands must evenly divide hashes"
    r = num_hashes // num_bands
    a_co, b_co = _minhash_coeffs(num_hashes)
    a_list = "[" + ",".join(str(v) for v in a_co) + "]"
    b_list = "[" + ",".join(str(v) for v in b_co) + "]"
    return f"""hk AS (
      SELECT {id_col}, k.i AS k,
             MIN(({a_list}[k.i + 1] * (h >> 32) + {b_list}[k.i + 1])
                 % {_MINHASH_P}) AS mh
      FROM (SELECT {id_col}, unnest(hs) AS h FROM {src}), range({num_hashes}) k(i)
      GROUP BY 1, 2
    ),
    sigs AS (
      SELECT {id_col}, list(mh ORDER BY k) AS sig FROM hk GROUP BY {id_col}
    ),
    banded AS (
      SELECT s.{id_col}, s.sig, b.i AS band_idx,
             array_to_string(s.sig[b.i * {r} + 1 : b.i * {r} + {r}], ':')
               AS band_key
      FROM sigs s, range({num_bands}) b(i)
    )"""


def _est_dist_sql(a: str, b: str, num_hashes: int) -> str:
    """DuckDB twin of ``_est_dist`` over the ``sig`` columns of table
    aliases ``a`` and ``b``."""
    return (
        f"ROUND(1.0 - CAST(len(list_filter(range({num_hashes}), "
        f"i -> {a}.sig[i + 1] = {b}.sig[i + 1])) AS DOUBLE) / {num_hashes}, 6)"
    )


def minhash_lsh_cte_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
) -> str:
    """The portable MinHash+LSH pipeline as a composable CTE chain —
    everything up to the thresholded union: ends with the ``near``
    (banded candidates with jaccard_dist) and ``exact_edges`` CTEs.
    ``minhash_lsh_oracle_sql`` wraps it with the final SELECT;
    ``dedup_keep_best_minhash``'s oracle chains the recursive
    component + keep-best CTEs onto it. No leading comma, no WITH
    keyword."""
    return f"""{_shingle_hash_ctes(table, text_col, id_col, shingle_n)},
    fp AS (
      SELECT {id_col}, len(hs) AS n_sh, hs,
             md5(array_to_string(list_sort(hs), ',')) AS fp
      FROM hs
    ),
    tagged AS (
      SELECT *, MIN({id_col}) OVER (PARTITION BY fp) AS rep FROM fp
    ),
    exact_edges AS (
      SELECT rep AS doc_a, {id_col} AS doc_b, 0.0 AS jaccard_dist
      FROM tagged WHERE n_sh > 0 AND {id_col} <> rep
    ),
    reps AS (SELECT {id_col}, n_sh, hs FROM tagged WHERE {id_col} = rep),
    {_band_ctes("reps", id_col, num_hashes, num_bands)},
    near AS (
      SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
             {_est_dist_sql("a", "b", num_hashes)} AS jaccard_dist
      FROM banded a JOIN banded b
        ON a.band_idx = b.band_idx AND a.band_key = b.band_key
           AND a.{id_col} < b.{id_col}
    )"""


def minhash_lsh_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    max_jaccard_distance: float = 0.3,
) -> str:
    """DuckDB SQL replicating minhash_candidate_pairs_portable EXACTLY:
    same tokenizer, same n-gram shingles, same portable 63-bit shingle
    hash, same literal (a_k, b_k) minhash family, same banding, same
    exact-dup star-edge collapse. Built on the composable
    ``minhash_lsh_cte_sql`` chain."""
    ctes = minhash_lsh_cte_sql(
        table, text_col, id_col, shingle_n, num_hashes, num_bands
    )
    return f"""
    WITH {ctes}
    SELECT doc_a, doc_b, jaccard_dist FROM near
    WHERE jaccard_dist <= {max_jaccard_distance}
    UNION ALL
    SELECT doc_a, doc_b, jaccard_dist FROM exact_edges
    """


def minhash_incremental_matches(
    delta: DataFrame,
    store: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    max_jaccard_distance: float = 0.3,
) -> DataFrame:
    """INCREMENTAL near-dup detection: for each new ``delta`` document,
    find its best near-duplicate among the already-ingested ``store``
    corpus — the ingest-gate decision a production pipeline makes per
    batch ("is this new doc a near-copy of something we already
    have?"). Exact-dup collapse is unnecessary here: the join is
    delta×store, so exact store clusters cost |cluster| candidate rows
    per colliding delta doc, not |cluster|².

    Emits one row per CONTAMINATED delta doc: (doc_new, doc_match,
    jaccard_dist) where doc_match is the store doc with the smallest
    estimated distance (ties → smallest id). Clean delta docs emit
    nothing — downstream anti-joins the ingest batch against this.

    Scale shape: at production scale the store side is a PERSISTED
    banded-signature table (computed once per snapshot, bucketed on
    (band_idx, band_key) via operators.bucketing so repeated ingests
    skip its shuffle); only the delta — orders of magnitude smaller —
    is hashed per batch, and the candidate join shuffles the small
    delta side to the store's layout. Hashes are the engine-portable
    family (_portable_signatures), and banding and the estimate are
    ``_lsh_pairs``' own helpers, so the whole incremental decision is
    value-checkable against a SQL oracle.
    """
    assert num_hashes % num_bands == 0
    r = num_hashes // num_bands
    band_keys = _band_keys_expr(num_bands, r)

    def banded(df: DataFrame) -> DataFrame:
        sig = _portable_signatures(df, text_col, id_col, shingle_n, num_hashes)
        return _banded(sig, band_keys)

    s = banded(store).select(
        F.col("doc").alias("store_doc"),
        F.col("sig").alias("store_sig"),
        "band_idx",
        "band_key",
    )
    d = banded(delta)
    # First-colliding-band filter instead of a post-join
    # dropDuplicates exchange (the trade-off is on ``_lsh_pairs``): a
    # (delta, store) pair colliding in k bands emits its row from
    # band min(k) only, so the per-pair dedup happens BEFORE the
    # candidate rows shuffle (and before the best-match window), not
    # after. The collision index comes from the two signatures
    # already on the joined row (band keys are injective slice
    # renderings); carrying the band-key ARRAYS through the store-
    # side shuffle instead measured ~3× its bytes at x100.
    first_band = (
        F.array_position(
            _band_slice_eq("sig", "store_sig", num_bands, r), True
        )
        - 1
    )
    cand = (
        d.join(s, on=["band_idx", "band_key"], how="inner")
        .filter(F.col("band_idx") == first_band)
        .select(
            F.col("doc").alias("doc_new"),
            F.col("store_doc").alias("doc_match"),
            _est_dist(F.col("sig"), F.col("store_sig"), num_hashes).alias(
                "jaccard_dist"
            ),
        )
        .filter(F.col("jaccard_dist") <= max_jaccard_distance)
    )
    best = Window.partitionBy("doc_new").orderBy("jaccard_dist", "doc_match")
    return (
        cand.withColumn("rn", F.row_number().over(best))
        .filter(F.col("rn") == 1)
        .drop("rn")
    )


def minhash_incremental_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    split_id: int = 400,
    shingle_n: int = 3,
    num_hashes: int = 32,
    num_bands: int = 16,
    max_jaccard_distance: float = 0.3,
) -> str:
    """DuckDB SQL replicating minhash_incremental_matches with the
    store = docs with id < split_id and delta = the rest — same
    portable hashes, banding, estimate, and best-match tie-break. The
    CTEs are ``minhash_lsh_cte_sql``'s, with signatures over every doc
    (``hs``) instead of the exact-dup representatives."""
    return f"""
    WITH {_shingle_hash_ctes(table, text_col, id_col, shingle_n)},
    {_band_ctes("hs", id_col, num_hashes, num_bands)},
    cand AS (
      SELECT DISTINCT d.{id_col} AS doc_new, s.{id_col} AS doc_match,
             {_est_dist_sql("d", "s", num_hashes)} AS jaccard_dist
      FROM banded d JOIN banded s
        ON d.band_idx = s.band_idx AND d.band_key = s.band_key
      WHERE d.{id_col} >= {split_id} AND s.{id_col} < {split_id}
    )
    SELECT doc_new, doc_match, jaccard_dist FROM (
      SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_new
                                   ORDER BY jaccard_dist, doc_match) AS rn
      FROM cand WHERE jaccard_dist <= {max_jaccard_distance}
    ) WHERE rn = 1
    """
