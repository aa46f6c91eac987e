"""Join operators (SURVEY.md §2.6).

The reference's joins are all inner equi-joins: a 3-column composite
key join of results ⋈ per-game event aggregates
(reference code/experiment.py:372-379) and a home/away self-join to
build matchups (code/experiment.py:502-541). We add semi/anti forms
(the reference's pandas ``isin`` subsampling, create_subsample.py:72)
and a broadcast-aware star join.

Scale notes: big⋈big equi joins shuffle both sides on the key —
unavoidable but AQE handles skew; big⋈small must BROADCAST the small
side (dims here are region/nation/supplier-sized). A self-join on the
same key is one shuffle, not two, because both sides share the
exchange (Catalyst ReusedExchange).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from bigdatafinalproject_hockey_spark.operators.strings import quote_ident, sql_literal


def join_equi(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    how: str = "inner",
) -> DataFrame:
    """Multi-column equi-join on same-named keys — the reference's
    3-key join (code/experiment.py:372-379) generalized. Joining with
    a key-name list (not a boolean expr) keeps ONE copy of each key
    column in the output, avoiding the duplicate-name re-projection
    dance the reference needs (381-397)."""
    return left.join(right, list(keys), how)


def join_self_matchup(
    df: DataFrame,
    keys: Sequence[str],
    split_col: str,
    left_value: object,
    right_value: object,
    left_prefix: str = "home_",
    right_prefix: str = "away_",
) -> DataFrame:
    """Self-join rows where split_col == left_value to rows of the same
    keys where split_col == right_value — the reference's home⋈away
    matchup builder (code/experiment.py:502-541), one output row per
    key group.

    All non-key columns get side prefixes, resolving the self-join
    ambiguity the reference handles with a 31-line aliased select. Each
    side is one ``where`` and one renaming ``selectExpr``, both SQL
    text, so the build sends a few py4j commands per side, not a few
    per column.
    """
    rest = [c for c in df.columns if c not in keys and c != split_col]

    def side(value: object, prefix: str) -> DataFrame:
        return df.where(f"{quote_ident(split_col)} = {sql_literal(value)}").selectExpr(
            *map(quote_ident, keys),
            *[f"{quote_ident(c)} AS {quote_ident(prefix + c)}" for c in rest],
        )

    return side(left_value, left_prefix).join(
        side(right_value, right_prefix), list(keys), "inner"
    )


def semi_join_keys(df: DataFrame, keys_df: DataFrame, on: Sequence[str]) -> DataFrame:
    """Filter df to rows whose key appears in keys_df — the distributed
    form of the reference's ``isin(sampled_games)``
    (create_subsample.py:72, 86). left_semi never widens the row and
    never duplicates on multi-matches."""
    return df.join(keys_df, list(on), "left_semi")


def anti_join_keys(df: DataFrame, keys_df: DataFrame, on: Sequence[str]) -> DataFrame:
    """NOT EXISTS complement of semi_join_keys (capability extension)."""
    return df.join(keys_df, list(on), "left_anti")


def join_star(
    fact: DataFrame,
    dims: Sequence[tuple[DataFrame, Sequence[str]]],
) -> DataFrame:
    """Fact table joined to a chain of dimension tables, each broadcast.

    At 100 TB the fact side streams through all dim hash maps in one
    stage with zero shuffles — verify with .explain(): every join
    should be BroadcastHashJoin.
    """
    out = fact
    for dim, keys in dims:
        out = out.join(F.broadcast(dim), list(keys), "inner")
    return out


def join_salted(
    left: DataFrame,
    right: DataFrame,
    keys: Sequence[str],
    salt: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Equi-join with key salting — the manual fix for shuffle skew
    when one key holds a disproportionate share of the LEFT side.

    Each left row gets a deterministic pseudo-random salt in
    [0, salt); the right side is replicated ``salt`` times so every
    (key, salt) bucket can still match. A hot key's rows now spread
    over ``salt`` shuffle partitions instead of one straggler task.
    Cost: right side × salt — use only when right is the smaller
    side and AQE's skew-join splitting (which handles the same
    problem without replication) isn't available or isn't firing,
    e.g. for a non-sort-merge plan or a skewed aggregation feeding
    the join.

    The salt derives from a hash of the whole left row (not rand()),
    so retried tasks salt identically — required for exactly-once
    results under speculative execution.

    Only LEFT-preserving joins are allowed: the right side is
    replicated ``salt``×, so right/full (and right_semi/right_anti)
    would emit every unmatched right row once per replica.
    """
    allowed = {"inner", "left", "left_outer", "left_semi", "left_anti"}
    if how not in allowed:
        raise ValueError(
            f"join_salted: how={how!r} is not semantics-preserving under "
            f"right-side replication; use one of {sorted(allowed)}"
        )
    left_s = left.withColumn(
        "_salt", F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(salt))
    )
    right_s = right.withColumn(
        "_salt", F.explode(F.array(*[F.lit(i).cast("long") for i in range(salt)]))
    )
    return left_s.join(right_s, [*keys, "_salt"], how).drop("_salt")


def join_range(
    left: DataFrame,
    bands: DataFrame,
    value_col: str,
    lo_col: str = "lo",
    hi_col: str = "hi",
) -> DataFrame:
    """Band (range) join: attach the band whose [lo, hi) interval
    contains ``value_col``.

    The band table is small by construction (it enumerates intervals),
    so this is a broadcast nested-loop with a range predicate — each
    fact row probes the in-memory band list; no shuffle of the fact
    side. Never express this as a big⋈big theta join: with a large
    right side, bucket both sides by a common interval grid first so
    the join becomes equi on the bucket id.
    """
    cond = (F.col(value_col) >= F.col(lo_col)) & (F.col(value_col) < F.col(hi_col))
    return left.join(F.broadcast(bands), cond, "inner")


def join_asof(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_time: str,
    right_time: str,
) -> DataFrame:
    """As-of join: for every left row, the single right row with the
    greatest ``right_time`` <= ``left_time`` within the same key group
    (inclusive, trades-⋈-quotes style); left rows with no prior right
    row keep nulls (left-outer semantics).

    Spark has no as-of join operator; the naive range-join + argmax is
    quadratic in matches. This is the scalable formulation: UNION both
    sides tagged, ONE shuffle on (key, time), then a running
    last-non-null window carries each right row's payload forward to
    the left rows that follow it. Cost = one sort-shuffle of
    |left|+|right|, independent of match multiplicity.

    The right side must be unique per (key, right_time) — pre-aggregate
    it if not; at equal timestamps the right row sorts first so an
    exactly-simultaneous row is visible (>= semantics, matching
    DuckDB's ``ASOF JOIN ... ON l.t >= r.t``).

    Output: all left columns + every non-key right column (nullable).
    """
    keys = list(on)
    left_payload = [c for c in left.columns if c not in keys and c != left_time]
    right_payload = [
        c for c in right.columns if c not in keys and c != right_time
    ]
    clash = ({right_time, *right_payload} & {left_time, *left_payload})
    if clash:
        raise ValueError(
            f"join_asof: rename right-side columns {sorted(clash)} — they "
            "collide with left-side names"
        )
    l_tagged = left.select(
        *[F.col(k) for k in keys],
        F.col(left_time).alias("_t"),
        F.lit(1).alias("_is_left"),
        *[F.col(c) for c in left_payload],
        *[F.lit(None).cast(right.schema[c].dataType).alias(c) for c in right_payload],
        F.lit(None).cast(right.schema[right_time].dataType).alias("_rt"),
    )
    r_tagged = right.select(
        *[F.col(k) for k in keys],
        F.col(right_time).alias("_t"),
        F.lit(0).alias("_is_left"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in left_payload],
        *[F.col(c) for c in right_payload],
        F.col(right_time).alias("_rt"),
    )
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy(*keys)
        .orderBy(F.col("_t"), F.col("_is_left"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    # Carry the most recent right row as ONE struct, not column-by-
    # column: independent last(col, ignorenulls=True) per payload
    # column would stitch values from DIFFERENT right rows whenever
    # the most recent row holds a NULL payload — true ASOF semantics
    # (DuckDB ASOF JOIN) return the single most recent row including
    # its NULLs. The struct is non-null exactly on right rows, so one
    # last(ignorenulls) takes the whole row atomically.
    rrow = F.when(
        F.col("_is_left") == 0,
        F.struct(F.col("_rt"), *[F.col(c) for c in right_payload]),
    )
    carried = l_tagged.unionByName(r_tagged).select(
        *keys,
        "_t",
        "_is_left",
        *left_payload,
        F.last(rrow, ignorenulls=True).over(w).alias("_rrow"),
    )
    return carried.filter(F.col("_is_left") == 1).select(
        *keys,
        F.col("_t").alias(left_time),
        *left_payload,
        F.col("_rrow._rt").alias(right_time),
        *[F.col(f"_rrow.{c}").alias(c) for c in right_payload],
    )
