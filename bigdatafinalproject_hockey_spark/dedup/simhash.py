"""SimHash document fingerprints — constant-size near-dup signatures.

Classic Charikar simhash over the token set: each token contributes
its 64-bit hash as ±1 votes per bit position; the fingerprint is the
sign vector packed into a long. Documents within a small hamming
distance are near-dup candidates.

Implemented entirely with Catalyst higher-order expressions
(aggregate over the token-hash array zip_with'ing a 64-slot counter
array) — JVM-side, no Python in the row path. Token hashes use the
engine-portable md5-derived hash (functions/hashing.py), so the whole
operator — fingerprints, banding, hamming filter — is reproducible in
DuckDB and carries a full value-hash oracle (simhash_oracle_sql).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.functions.hashing import (
    portable_hash64_expr,
    portable_hash64_sql,
)
from bigdatafinalproject_hockey_spark.functions.text import (
    distinct_tokens_expr,
    tokens_sql,
)
from bigdatafinalproject_hockey_spark.operators.partitioning import ensure_parallelism

N_BITS = 64


def simhash_expr(text_col: Column | str) -> Column:
    """64-bit simhash of the document's distinct token set, as a long.

    Each token is hashed ONCE (transform over the token array) before
    the vote aggregate — the 64 per-bit extractions then reference the
    lambda-bound hash, not 64 copies of the hash call. Bit positions
    are unrolled at plan-build time (shift amounts must be literals),
    so this compiles to one aggregate over the hash array producing a
    64-slot vote vector, then a literal-folded pack.
    """
    hashes = F.transform(distinct_tokens_expr(text_col), portable_hash64_expr)
    zeros = F.array_repeat(F.lit(0), N_BITS)
    # votes[i] += (bit i of hash64(token)) ? 1 : -1, for every token
    votes = F.aggregate(
        hashes,
        zeros,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int")
                    for i in range(N_BITS)
                ]
            ),
            lambda a, b: a + (b * 2 - 1),
        ),
    )
    # pack sign bits: OR together 2^i for every positive vote slot
    packed = F.lit(0).cast("long")
    for i in range(N_BITS):
        bit = F.when(
            F.element_at(votes, i + 1) > 0,
            F.shiftleft(F.lit(1).cast("long"), i),
        ).otherwise(F.lit(0).cast("long"))
        packed = packed.bitwiseOR(bit)
    return packed


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    # The 64-slot vote aggregate is ~100× the scan cost per row — make
    # sure it runs on every core even when the scan was one split.
    return ensure_parallelism(df).select(
        F.col(id_col), simhash_expr(text_col).alias("simhash")
    )


def hamming_expr(a: Column, b: Column) -> Column:
    """Hamming distance between two packed 64-bit fingerprints."""
    return F.bit_count(a.bitwiseXOR(b))


def simhash_near_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Near-dup pairs by simhash hamming distance — EXACTLY complete
    within the radius.

    Candidate generation uses pigeonhole banding (Manku, Jain &
    Sarma, "Detecting near-duplicates for web crawling", WWW'07): the
    64 fingerprint bits split into ``max_hamming + 1`` contiguous
    blocks, so any pair within ``max_hamming`` flips agrees EXACTLY on
    at least one block and must collide in its bucket — candidate
    recall is 1.0 by construction, not probabilistically. The exact
    hamming filter then trims the candidates. (The previous form
    blocked on one fixed 16-bit band and silently missed most pairs
    whose flips touched it — caught by the recall property test.)

    Scale: block width = 64/(k+1) bits caps bucket selectivity; for
    large k the buckets coarsen toward all-pairs (the semantics do
    too). Same co-partitioned reuse pattern as dedup/minhash.py: the
    one bucket-key exchange is materialized once and the self-join's
    second side reads the same shuffle files via ReusedExchange — no
    cache copy of the banded table (round 4).
    """
    assert 0 <= max_hamming < 32, "pigeonhole banding needs blocks >= 2 bits"
    n_bands = max_hamming + 1
    width = N_BITS // n_bands
    # distribute the remainder: the first (64 mod n_bands) blocks get
    # one extra bit; offsets cover all 64 bits exactly once
    widths = [width + (1 if i < N_BITS % n_bands else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]

    fps = simhash_fingerprints(df, text_col, id_col)
    # band value = the block's bits (band index rides posexplode);
    # 8 + 16×n_bands bytes/doc; the self-join scans this twice and the
    # 64-slot vote aggregate above it is by far the most expensive
    # stage — repartition by the join keys so both join sides end at
    # the SAME canonical exchange: the vote aggregate runs once into
    # the shuffle, ReusedExchange feeds the second side.
    blocks = F.array(
        *[
            F.shiftrightunsigned("simhash", offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )
            for i in range(n_bands)
        ]
    )
    banded = fps.select(
        F.col(id_col),
        "simhash",
        F.posexplode(blocks).alias("band_idx", "band_val"),
    ).repartition("band_idx", "band_val")
    a = banded.alias("a")
    b = banded.alias("b")
    # A pair may collide in several clean blocks. Round 13 (guide
    # §2.3): keep only the FIRST clean block's row — the block bits
    # are recomputable from the two fingerprints that already ride
    # the joined row (band_val equality IS block-bit equality; no
    # hashing), so the per-pair dedup is a filter expression instead
    # of the round-12 post-join dropDuplicates exchange that shuffled
    # every collision instance (up to n_bands× the distinct pairs).
    block_eq = F.array(
        *[
            F.shiftrightunsigned(F.col("a.simhash"), offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )
            == F.shiftrightunsigned(F.col("b.simhash"), offsets[i]).bitwiseAND(
                F.lit((1 << widths[i]) - 1)
            )
            for i in range(n_bands)
        ]
    )
    first_band = F.array_position(block_eq, True) - 1
    return (
        a.join(b, on=["band_idx", "band_val"], how="inner")
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .filter(F.col("band_idx") == first_band)
        .select(
            F.col(f"a.{id_col}").alias("doc_a"),
            F.col(f"b.{id_col}").alias("doc_b"),
            hamming_expr(F.col("a.simhash"), F.col("b.simhash")).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )


def simhash_oracle_sql(
    table: str = "documents",
    text_col: str = "text",
    id_col: str = "doc_id",
    max_hamming: int = 8,
) -> str:
    """DuckDB SQL replicating simhash_near_pairs EXACTLY — same
    tokenizer, same portable md5-derived token hash, same pigeonhole
    bands (literal offsets/masks generated from the same Python
    arithmetic), same hamming filter — so an approximate near-dup
    operator gets a full value-hash driver check.

    The fingerprint lives in a UBIGINT here vs Spark's signed long;
    the bit patterns are identical and only (doc_a, doc_b, hamming)
    are compared. The per-bit votes are relational (token-hash rows ×
    a 64-row bit table) rather than a 64-term expression — simpler SQL
    for an oracle that runs once at sf0.01 scale.
    """
    n_bands = max_hamming + 1
    width = N_BITS // n_bands
    widths = [width + (1 if i < N_BITS % n_bands else 0) for i in range(n_bands)]
    offsets = [sum(widths[:i]) for i in range(n_bands)]
    toks = tokens_sql(text_col)
    h64 = portable_hash64_sql("token")
    bands_values = ", ".join(
        f"({i}, {offsets[i]}, {(1 << widths[i]) - 1})" for i in range(n_bands)
    )
    return f"""
    WITH tok AS (
      SELECT {id_col}, unnest(list_distinct({toks})) AS token FROM {table}
    ),
    th AS (SELECT {id_col}, {h64} AS h64 FROM tok),
    votes AS (
      SELECT {id_col}, b.i AS bit_i,
             SUM(CASE WHEN (h64 >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS vote
      FROM th, range({N_BITS}) b(i)
      GROUP BY 1, 2
    ),
    fp0 AS (
      SELECT {id_col},
             CAST(SUM(CASE WHEN vote > 0 THEN CAST(1 AS UBIGINT) << bit_i
                           ELSE CAST(0 AS UBIGINT) END) AS UBIGINT) AS simhash
      FROM votes GROUP BY 1
    ),
    fp AS (
      SELECT d.{id_col}, COALESCE(fp0.simhash, CAST(0 AS UBIGINT)) AS simhash
      FROM {table} d LEFT JOIN fp0 USING ({id_col})
    ),
    banded AS (
      SELECT {id_col}, simhash, band_idx,
             (simhash >> off) & CAST(mask AS UBIGINT) AS band_val
      FROM fp, (VALUES {bands_values}) bands(band_idx, off, mask)
    )
    SELECT DISTINCT a.{id_col} AS doc_a, b.{id_col} AS doc_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
    FROM banded a JOIN banded b
      ON a.band_idx = b.band_idx AND a.band_val = b.band_val
         AND a.{id_col} < b.{id_col}
    WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
    """
