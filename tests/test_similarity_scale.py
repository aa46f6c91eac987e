"""Locks on the computed sign-LSH key width (round 8 — VERDICT r7
item 1): the width rule itself, its landing points at the driver and
probe scales, and bit-equality between the computed-width query
(`dedup_semantic_autokey`) and the oracle-pinned static 8-bit twin
(`dedup_semantic_scaled`) at driver scale."""

from __future__ import annotations

import os

from bigdatafinalproject_hockey_spark.queries import QUERIES
from bigdatafinalproject_hockey_spark.queries.scale import _parquet_num_rows
from bigdatafinalproject_hockey_spark.similarity import computed_bits_per_band

SF_SMOKE = "/root/testdata/sf0.001"
SF_DRIVER = "/root/testdata/sf0.01"


def test_width_rule_landing_points():
    """The rule is bits = max(8, ceil(log2 C)) at num_bands == target:
    every driver SF floors at 8 (bit-identical to the static oracle
    family); a 10× corpus crosses to 9; the 100× corpus
    lands on the 12-bit configuration measured linear in round 7."""
    assert computed_bits_per_band(1) == 8
    assert computed_bits_per_band(10) == 8      # sf0.001/sf0.01 (n=500)
    assert computed_bits_per_band(40) == 8      # sf0.1 (n=2000)
    assert computed_bits_per_band(400) == 9     # 10× corpus (n=20k)
    assert computed_bits_per_band(4000) == 12   # 100× corpus (n=200k)


def test_width_rule_is_monotone_and_bounds_candidates():
    """Candidates/vector = num_bands * C / 2^bits must stay <= num_bands
    for every C (the O(1) invariant the quadratic 8-bit regime broke:
    at C=4000 fixed 8 bits gives 125 candidates/vector)."""
    prev = 0
    for c in [1, 10, 40, 100, 256, 400, 1000, 4000, 10_000, 1_000_000]:
        bits = computed_bits_per_band(c)
        assert bits >= prev
        prev = bits
        if bits > 8:  # above the floor the target bound is exact
            assert 8 * c / (1 << bits) <= 8.0, (c, bits)


def test_driver_sfs_sit_on_the_floor():
    for sf_dir in (SF_SMOKE, SF_DRIVER, "/root/testdata/sf0.1"):
        n = _parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
        assert computed_bits_per_band(max(n // 50, 1)) == 8, sf_dir


def test_autokey_bit_identical_to_static_twin_at_driver_scale(spark):
    """At driver scale the computed width floors at 8 bits, so the
    autokey query must produce byte-identical survivors to the static
    8-bit `dedup_semantic_scaled` — same sidecar, same assignment,
    same drop rule. This is the equality that lets the static oracle
    family verify the computed-width path end-to-end."""
    a = sorted(
        tuple(r) for r in
        QUERIES["dedup_semantic_autokey"](spark, SF_DRIVER).collect()
    )
    b = sorted(
        tuple(r) for r in
        QUERIES["dedup_semantic_scaled"](spark, SF_DRIVER).collect()
    )
    assert a == b
    assert len(a) > 0


# --- width-adaptive oracle (round 9, ADVICE r8 medium) ----------------------
# The static `bucketed_ivf_assign_cte` pins bits=8, so until round 9 the
# >8-bit configurations — the ones large corpora use — had
# no output verification. The registered oracle is now the width-ADAPTIVE
# CTE (recomputes the query's own width rule in SQL and CASE-selects the
# matching hyperplane family); these tests pin (a) its equality with the
# static family on the 8-bit floor, (b) the >8-bit path end-to-end on a
# mid-size fixture where the AUTO rule leaves the floor, and (c) the exact
# 12-bit family the 100x probe measures, Spark vs DuckDB.

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq

from bigdatafinalproject_hockey_spark.queries import ORACLE_SQL
from bigdatafinalproject_hockey_spark import sidecar
from bigdatafinalproject_hockey_spark.queries.scale import _emb_signkeys_bucketed
from bigdatafinalproject_hockey_spark.similarity import (
    bucketed_ivf_assign_cte,
    bucketed_ivf_assign_cte_autokey,
    bucketed_ivf_assignment_from_keys,
    semantic_dedup_from_assignment,
)
from tests.oracle_utils import compare_frames

_DEDUP_TAIL = """, pairs AS (
  SELECT b.vec_id AS dup_id FROM assign a
  JOIN assign b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE ROUND(list_dot_product(a.emb, b.emb) /
        (sqrt(list_dot_product(a.emb, a.emb)) *
         sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.3
) SELECT vec_id, cell FROM assign
WHERE vec_id NOT IN (SELECT dup_id FROM pairs)"""


def _emb_view(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW embeddings AS SELECT * FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet')"
    )
    return con


def test_adaptive_oracle_equals_static_family_on_the_floor():
    """On corpora where the width rule floors at 8 bits the adaptive
    CTE must select exactly the static 8-bit family — DuckDB only,
    both driver SFs."""
    for sf_dir in (SF_SMOKE, SF_DRIVER):
        con = _emb_view(sf_dir)
        a = con.execute(
            "WITH " + bucketed_ivf_assign_cte(centroid_stride=50) + _DEDUP_TAIL
            + " ORDER BY vec_id"
        ).fetchall()
        b = con.execute(
            "WITH "
            + bucketed_ivf_assign_cte_autokey(centroid_stride=50)
            + _DEDUP_TAIL
            + " ORDER BY vec_id"
        ).fetchall()
        assert a == b and len(a) > 0, sf_dir


def _midsize_fixture_dir() -> str:
    """A DETERMINISTIC ~16k-vector corpus (32 rotated disjoint-id
    copies of the sf0.01 embeddings) — big enough that the width rule
    leaves the 8-bit floor (C = 320 -> 9 bits). Content is a pure
    function of the source table, built once in the sidecar store so
    the key sidecar ingest stays idempotent across test runs."""
    src_path = os.path.join(SF_DRIVER, "embeddings.parquet")

    def build(d: str) -> None:
        src = pq.read_table(src_path)
        vec = src.column("vec_id").to_pylist()
        emb = src.column("embedding").to_pylist()
        lab = src.column("label").to_pylist()
        n = len(vec)
        assert min(vec) == 0 and max(vec) == n - 1 and n % 50 == 0
        ids, embs, labs = [], [], []
        for k in range(32):
            r = k % 64
            for v, e, l in zip(vec, emb, lab):
                ids.append(v + k * n)
                embs.append(e[r:] + e[:r])  # exact-value rotation
                labs.append(l)
        t = pa.table(
            {
                "vec_id": pa.array(ids, pa.int64()),
                "embedding": pa.array(embs, pa.list_(pa.float32())),
                "label": pa.array(labs, pa.int32()),
            }
        )
        pq.write_table(t, os.path.join(d, "embeddings.parquet"))

    return sidecar.cached("fixture_embmid", [src_path], "v1", build)


def test_autokey_above_floor_matches_registered_oracle(spark):
    """THE verification the measured configuration was missing: on a
    corpus where the rule computes >8 bits, the registered Spark query
    and the registered adaptive oracle must hash-agree end-to-end
    (same width selected, same key family, same survivors)."""
    sf_dir = _midsize_fixture_dir()
    n = _parquet_num_rows(os.path.join(sf_dir, "embeddings.parquet"))
    assert computed_bits_per_band(max(n // 50, 1)) == 9  # above the floor
    sp = QUERIES["dedup_semantic_autokey"](spark, sf_dir).toPandas()
    od = _emb_view(sf_dir).execute(ORACLE_SQL["dedup_semantic_autokey"]).df()
    compare_frames(sp, od, "dedup_semantic_autokey@midsize")
    # the >8-bit regime must actually deduplicate, not orphan-singleton
    # its way to a trivial pass
    assert 0 < len(sp) < n


def test_12bit_family_matches_oracle_on_midsize(spark):
    """The exact key width the 100x probe measures (12 bits at 200k
    vectors), forced on the mid-size fixture: Spark's versioned-
    sidecar path vs the static DuckDB family at the same width."""
    sf_dir = _midsize_fixture_dir()
    keys = _emb_signkeys_bucketed(spark, sf_dir, bits_per_band=12)
    assign = bucketed_ivf_assignment_from_keys(keys)
    sp = semantic_dedup_from_assignment(assign, min_cosine=0.3).toPandas()
    od = (
        _emb_view(sf_dir)
        .execute(
            "WITH "
            + bucketed_ivf_assign_cte(centroid_stride=50, bits_per_band=12)
            + _DEDUP_TAIL
        )
        .df()
    )
    compare_frames(sp, od, "dedup_semantic_12bit@midsize")


def test_ivfpq_topk_shared_assignment_is_bit_identical(spark):
    """`ivfpq_topk(assignment=...)` (round 9 — the exchange-sharing
    lever ann_recall_eval_pq uses) must reproduce the fresh-assignment
    path bit-for-bit, exactly like ivf_cosine_topk's round-7 param."""
    from bigdatafinalproject_hockey_spark.catalog import load_table
    from bigdatafinalproject_hockey_spark.queries.scale import _ivf_centroids
    from bigdatafinalproject_hockey_spark.similarity import (
        ivf_cell_assignment,
        ivfpq_topk,
        pq_codebooks,
    )

    emb = load_table(spark, "embeddings", SF_SMOKE)
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    qs = emb.filter(emb.vec_id < 10)
    fresh = sorted(tuple(r) for r in ivfpq_topk(emb, centroids, cb, qs).collect())
    shared = sorted(
        tuple(r)
        for r in ivfpq_topk(
            emb, centroids, cb, qs,
            assignment=ivf_cell_assignment(emb, centroids),
        ).collect()
    )
    assert fresh == shared and len(fresh) > 0


def test_adaptive_oracle_out_of_family_fails_loud():
    """A corpus whose computed width falls outside the embedded family
    must ERROR, never silently mis-bucket: shrink the family to
    widths=(8,) and run it on the mid-size fixture (computed bits = 9)
    — DuckDB's lazy CASE reaches the error() branch and raises."""
    import pytest

    sf_dir = _midsize_fixture_dir()
    con = _emb_view(sf_dir)
    sql = (
        "WITH "
        + bucketed_ivf_assign_cte_autokey(centroid_stride=50, widths=(8,))
        + " SELECT COUNT(*) AS n FROM assign"
    )
    with pytest.raises(Exception, match="beyond the oracle family"):
        con.execute(sql).fetchall()


def test_rerank_output_is_exact_ranking_of_the_shortlist(spark):
    """The refine stage's contract: its top-5 is a SUBSET of the ADC
    shortlist, ordered by exact rounded cosine (desc, id tiebreak) —
    i.e. rerank re-orders the compressed index's candidates, it never
    invents or drops candidates outside the shortlist."""
    from bigdatafinalproject_hockey_spark.catalog import load_table
    from bigdatafinalproject_hockey_spark.queries.scale import _ivf_centroids
    from bigdatafinalproject_hockey_spark.similarity import (
        ivfpq_rerank_topk,
        ivfpq_topk,
        pq_codebooks,
    )

    emb = load_table(spark, "embeddings", SF_SMOKE)
    centroids = _ivf_centroids(emb)
    cb = pq_codebooks(emb)
    qs = emb.filter(emb.vec_id < 10)
    shortlist = {
        (r.query_id, r.neighbor_id)
        for r in ivfpq_topk(emb, centroids, cb, qs, k=20).collect()
    }
    rr = ivfpq_rerank_topk(emb, centroids, cb, qs, k=5, shortlist=20).collect()
    assert rr and all((r.query_id, r.neighbor_id) in shortlist for r in rr)
    by_q = {}
    for r in rr:
        by_q.setdefault(r.query_id, []).append(r)
    for rows in by_q.values():
        rows.sort(key=lambda r: r.rnk)
        keys = [(-r.cosine, r.neighbor_id) for r in rows]
        assert keys == sorted(keys)  # exact-cosine desc, id tiebreak


def test_index_delta_covers_exactly_the_delta(spark):
    """Incremental ingest must index every arriving vector exactly
    once per subspace, assign only to FROZEN base centroids, and use
    only FROZEN base codebook code ids."""
    from bigdatafinalproject_hockey_spark.queries import QUERIES

    rows = QUERIES["ann_index_delta"](spark, SF_SMOKE).collect()
    n = _parquet_num_rows(os.path.join(SF_SMOKE, "embeddings.parquet"))
    cut = (n * 4) // 5
    ids = {r.vec_id for r in rows}
    assert ids == set(range(cut, n))  # every delta vector, nothing else
    per_vec = {}
    for r in rows:
        per_vec.setdefault(r.vec_id, set()).add(r.m)
        assert r.cell % 50 == 0 and r.cell < cut  # frozen base centroid
        assert 0 <= r.code < 16 and r.code * 50 < cut  # frozen base codebook
    assert all(ms == set(range(8)) for ms in per_vec.values())
