"""Sampling, splits, and top-k (SURVEY.md §2.8, §2.10).

The reference samples 20% of GAMES (keys, not rows) with numpy seed
42 and filters both tables to the sampled keys
(create_subsample.py:54-72); splits train/test temporally on max
season (code/experiment.py:564-567) with a seeded randomSplit
fallback (570-572); and takes a driver-side top-10 (45-52).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.operators.aggregates import (
    agg_global_max,
    collect_scalar,
)
from bigdatafinalproject_hockey_spark.operators.joins import semi_join_keys


def sample_by_key(
    df: DataFrame,
    key_cols: Sequence[str],
    fraction: float,
    seed: int = 42,
) -> DataFrame:
    """Key-consistent random sample: sample the DISTINCT keys, then
    semi-join rows to the sampled keys — every row of a sampled key is
    kept together (reference create_subsample.py:54-72). Row-level
    df.sample would tear key groups apart."""
    keys = df.select(*key_cols).distinct().sample(False, fraction, seed)
    return semi_join_keys(df, keys, key_cols)


def deterministic_uniform_expr(key: Column | str, salt: str = "") -> Column:
    """Uniform-[0,1) draw as a pure function of (key, salt): top 53
    bits of the portable 64-bit hash, scaled. Unlike RNG sampling
    (df.sample / sampleBy), the draw is reproducible across engines
    (DuckDB oracle), stable under re-partitioning and task retries,
    and needs no seed plumbing. 53 bits = double mantissa, so the
    scale is exact and engines cannot disagree in the last ulp."""
    from bigdatafinalproject_hockey_spark.functions.hashing import (
        portable_hash64_expr,
    )

    c = F.col(key) if isinstance(key, str) else key
    h = portable_hash64_expr(F.concat(c.cast("string"), F.lit(salt)))
    return F.shiftrightunsigned(h, 11).cast("double") / F.lit(float(1 << 53))


def sample_by_key_mod(
    df: DataFrame, key_col: str, modulus: int, keep_residue: int = 0
) -> DataFrame:
    """Deterministic engine-agnostic key sample: keep keys where
    key % modulus == r. Same key-consistency property as
    sample_by_key but reproducible across engines (used by the
    DuckDB-oracle checks, where Spark's sample RNG can't be mirrored)."""
    return df.filter(F.pmod(F.col(key_col), F.lit(modulus)) == F.lit(keep_residue))


def sample_temperature(
    df: DataFrame,
    key_col: str,
    group_col: str,
    budget_frac: float = 0.4,
    alpha: float = 0.5,
    salt: str = ":temp",
) -> DataFrame:
    """α-temperature sampling over a group (source/domain/language)
    column — the multilingual-mixture technique (mT5/XLM-R style,
    public method): sample group g with effective share ∝ n_g^α, so
    α<1 flattens dominant groups and boosts rare ones, under a total
    budget of ``budget_frac``·N docs.

    Per-group keep probability: p_g = min(1, B·w_g / Σw / n_g) with
    integer weights w_g = round(n_g^α · 1e6) and B = floor(N·budget).
    Integer weight sums keep the arithmetic partition-order-exact
    (a parallel double sum is not associative), and the per-doc draw
    is the deterministic portable-hash uniform — so the whole sample
    is engine-reproducible, retry-stable, and needs no seed plumbing.
    Only α=0.5 is wired through the registered query: sqrt is
    IEEE-exact everywhere, pow is not guaranteed bit-identical across
    engines (other α values work Spark-side; their oracles would
    need care).

    Scale design: one map-side-combined count per group, a scalar
    totals broadcast, and a broadcast rates join — the per-doc filter
    is map-side, so the operator is one aggregation shuffle at any
    corpus size (group cardinality is bounded by contract).

    Output: the input rows that survive, plus their group's
    ``keep_prob``."""
    if alpha != 0.5:
        raise ValueError(
            "only alpha=0.5 (sqrt) is supported: pow() is not "
            "bit-identical across engines, sqrt is"
        )
    counts = df.groupBy(group_col).agg(F.count(F.lit(1)).alias("n_g"))
    weights = counts.withColumn(
        "w_g", F.round(F.sqrt(F.col("n_g")) * F.lit(1_000_000.0)).cast("long")
    )
    tot = weights.agg(
        F.sum("w_g").alias("sum_w"), F.sum("n_g").alias("n_total")
    )
    rates = weights.crossJoin(F.broadcast(tot)).select(
        group_col,
        F.least(
            F.lit(1.0),
            F.floor(F.col("n_total") * F.lit(budget_frac)).cast("double")
            * F.col("w_g").cast("double")
            / F.col("sum_w").cast("double")
            / F.col("n_g").cast("double"),
        ).alias("keep_prob"),
    )
    u = deterministic_uniform_expr(key_col, salt)
    return df.join(F.broadcast(rates), group_col).filter(u < F.col("keep_prob"))


def split_temporal(
    df: DataFrame, time_col: str
) -> tuple[DataFrame, DataFrame]:
    """Train = strictly before the max period, test = the max period —
    the reference's leakage-free split (code/experiment.py:564-567).
    One collect of one scalar; both halves stay lazy."""
    return split_at(df, time_col, collect_scalar(agg_global_max(df, time_col)))


def split_at(
    df: DataFrame, time_col: str, max_val: object
) -> tuple[DataFrame, DataFrame]:
    """``split_temporal`` for a caller that already knows the max
    period. A NULL max (empty input) leaves both halves empty."""
    train = df.filter(F.col(time_col) < F.lit(max_val))
    test = df.filter(F.col(time_col) == F.lit(max_val))
    return train, test


def split_random(
    df: DataFrame, weights: Sequence[float] = (0.8, 0.2), seed: int = 42
) -> list[DataFrame]:
    """Seeded random split fallback (reference code/experiment.py:570-572)."""
    return df.randomSplit(list(weights), seed=seed)


def topk(df: DataFrame, order_by: Sequence[Column], k: int = 10) -> DataFrame:
    """Global top-K, distributed: Spark plans orderBy+limit as
    TakeOrderedAndProject (per-partition heaps + driver merge of K
    rows) — the scalable form of the reference's driver-side python
    sort (code/experiment.py:45-52). order_by must break ties."""
    return df.orderBy(*order_by).limit(k)
