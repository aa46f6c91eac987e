"""Property-based tests (hypothesis): the custom operators must agree
with brute-force reference implementations on arbitrary small inputs,
not just on the fixture shapes. Few examples per property — each
example pays a Spark job — but each example is adversarially chosen
(duplicate keys, equal timestamps, empty sides).
"""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from bigdatafinalproject_hockey_spark.dedup.components import connected_components
from bigdatafinalproject_hockey_spark.operators.joins import join_asof
from bigdatafinalproject_hockey_spark.operators.windows import win_sliding

SLOW = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)

_keys = st.integers(min_value=0, max_value=3)
_times = st.integers(min_value=0, max_value=20)


@SLOW
@given(
    left=st.lists(st.tuples(_keys, _times), min_size=1, max_size=12, unique=True),
    right=st.lists(st.tuples(_keys, _times), min_size=0, max_size=12, unique=True),
)
def test_join_asof_matches_bruteforce(spark, left, right):
    """For every left row: value of the right row with the greatest
    rts <= ts in the same key, or null."""
    lschema = T.StructType(
        [T.StructField("k", T.IntegerType()), T.StructField("ts", T.IntegerType())]
    )
    ldf = spark.createDataFrame([(k, t) for k, t in left], lschema)
    rrows = [(k, t, float(k * 100 + t)) for k, t in right]
    rdf = spark.createDataFrame(
        rrows,
        T.StructType(
            [
                T.StructField("k", T.IntegerType()),
                T.StructField("rts", T.IntegerType()),
                T.StructField("val", T.DoubleType()),
            ]
        ),
    )
    got = {
        (r["k"], r["ts"]): r["val"]
        for r in join_asof(ldf, rdf, ["k"], "ts", "rts").collect()
    }
    for k, t in left:
        cands = [(rt, v) for rk, rt, v in rrows if rk == k and rt <= t]
        want = max(cands)[1] if cands else None
        assert got[(k, t)] == want, (k, t)


@SLOW
@given(
    rows=st.lists(
        st.tuples(_keys, st.integers(0, 50)), min_size=1, max_size=20
    ),
    lookback=st.integers(min_value=1, max_value=4),
)
def test_sliding_window_matches_pandas(spark, rows, lookback):
    """rowsBetween(-N, -1) == pandas shift(1).rolling(N, min_periods=1)
    per key, ordered by the unique row id."""
    data = [(k, i, float(v)) for i, (k, v) in enumerate(rows)]
    df = spark.createDataFrame(data, ["k", "rid", "v"])
    out = win_sliding(
        df,
        partition_by=["k"],
        order_by=["rid"],
        measures={"m": "avg(v)"},
        lookback=lookback,
    )
    got = {r["rid"]: r["m"] for r in out.collect()}
    pdf = pd.DataFrame(data, columns=["k", "rid", "v"]).sort_values(["k", "rid"])
    want = (
        pdf.groupby("k")["v"]
        .apply(lambda s: s.shift(1).rolling(lookback, min_periods=1).mean())
        .reset_index(level=0, drop=True)
    )
    for rid, w in zip(pdf["rid"], want):
        g = got[rid]
        if pd.isna(w):
            assert g is None
        else:
            assert abs(g - w) < 1e-9


@SLOW
@given(
    edges=st.lists(
        st.tuples(st.integers(0, 9), st.integers(0, 9)),
        min_size=1,
        max_size=15,
    ).filter(lambda es: any(a != b for a, b in es))
)
def test_connected_components_matches_union_find(spark, edges):
    edges = [(a, b) for a, b in edges if a != b]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    want = {n: find(n) for n in parent}
    df = spark.createDataFrame(edges, ["doc_a", "doc_b"])
    got = {
        r["node"]: r["component_id"] for r in connected_components(df).collect()
    }
    assert got == want


@settings(
    max_examples=6,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(
    n_shared=st.integers(min_value=0, max_value=30),
    n_only_a=st.integers(min_value=1, max_value=30),
    n_only_b=st.integers(min_value=1, max_value=30),
)
def test_minhash_estimator_tracks_exact_jaccard(spark, n_shared, n_only_a, n_only_b):
    """The signature-agreement Jaccard estimate must track the exact
    token-set Jaccard within the k=32 sampling bound (sigma ~ 0.09;
    0.35 is ~4 sigma, flake-free). Guards against hash functions that
    are secretly correlated or constant."""
    from bigdatafinalproject_hockey_spark.dedup.minhash import (
        minhash_signature_expr,
    )

    a_toks = [f"s{i}" for i in range(n_shared)] + [f"a{i}" for i in range(n_only_a)]
    b_toks = [f"s{i}" for i in range(n_shared)] + [f"b{i}" for i in range(n_only_b)]
    exact = n_shared / (n_shared + n_only_a + n_only_b)
    df = spark.createDataFrame([(1, a_toks), (2, b_toks)], ["doc", "tk"])
    th = df.select(
        "doc", F.transform("tk", lambda t: F.xxhash64(t)).alias("th")
    )
    sigs = {
        r["doc"]: r["sig"]
        for r in th.select(
            "doc", minhash_signature_expr(F.col("th"), 32).alias("sig")
        ).collect()
    }
    est = sum(1 for x, y in zip(sigs[1], sigs[2]) if x == y) / 32.0
    assert abs(est - exact) <= 0.35


def test_cosine_lsh_recall_on_planted_near_dups(spark):
    """Banded sign-LSH must find essentially all TRUE near-duplicates
    (cosine >= 0.95): per-bit collision prob 1 - theta/pi ≈ 0.9 gives
    band prob 0.43, so missing all 16 bands has prob ~1e-4 per pair.
    Also pins sub-quadratic candidate generation: the exact same pairs
    must be a strict subset of brute force with far fewer comparisons.
    """
    import numpy as np

    from bigdatafinalproject_hockey_spark.similarity import (
        cosine_lsh_near_pairs,
        embedding_near_dup_pairs,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(60, 64))
    rows = []
    for i, v in enumerate(base):
        rows.append((i, [float(x) for x in v]))
        # plant a near-dup of every 3rd vector: tiny additive noise
        if i % 3 == 0:
            w = v + rng.normal(scale=0.02, size=64)
            rows.append((1000 + i, [float(x) for x in w]))
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_near_dup_pairs(df, min_cosine=0.95).collect()
    }
    found = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in cosine_lsh_near_pairs(df, min_cosine=0.95).collect()
    }
    planted = {(i, 1000 + i) for i in range(0, 60, 3)}
    assert planted <= set(exact)  # the fixture really planted near-dups
    recall = len(set(found) & set(exact)) / len(exact)
    assert recall >= 0.95
    # found pairs are genuine (same rounded cosine as brute force)
    for pair, cos in found.items():
        assert pair in exact and abs(cos - exact[pair]) < 1e-9


@pytest.mark.parametrize(
    "twin, n_copies",
    [("fast", 10_000), ("portable", 1_000)],
    ids=["fast", "portable"],
)
def test_minhash_survives_pathological_exact_dup_cluster(spark, twin, n_copies):
    """An exact-duplicate cluster must NOT form a quadratic band bucket
    (~5×10⁷ pairs in one task at 10⁴ copies): the fingerprint collapse
    emits exactly n-1 star edges at distance 0 and bands only the
    representative, and planted near-dups are still found. Both hash
    families run the one shared dataflow; their pair SETS may differ
    at the S-curve margin, these structural guarantees may not. The
    wall-clock bound keeps a regression visible — without the
    collapse this shape runs for minutes; with it, seconds."""
    import time

    from bigdatafinalproject_hockey_spark.dedup.minhash import (
        minhash_candidate_pairs,
        minhash_candidate_pairs_portable,
    )

    pairs_fn = {
        "fast": minhash_candidate_pairs,
        "portable": minhash_candidate_pairs_portable,
    }[twin]
    text = "the quick brown fox jumps over the lazy dog again and again"
    rows = [(i, text) for i in range(n_copies)]
    # plus a near-dup pair of distinct docs to prove the LSH path still runs
    rows += [(20_000, "alpha beta gamma delta epsilon zeta eta theta iota"),
             (20_001, "alpha beta gamma delta epsilon zeta eta theta kappa")]
    df = spark.createDataFrame(rows, ["doc_id", "text"]).repartition(8)

    t0 = time.time()
    pairs = pairs_fn(
        df, "text", "doc_id", shingle_n=3, max_jaccard_distance=0.5
    ).collect()
    elapsed = time.time() - t0
    assert elapsed < 120, f"straggler bucket suspected: {elapsed:.0f}s"

    star = [(r["doc_a"], r["doc_b"]) for r in pairs if r["jaccard_dist"] == 0.0]
    assert sorted(star) == [(0, i) for i in range(1, n_copies)]
    near = {(r["doc_a"], r["doc_b"]) for r in pairs if r["jaccard_dist"] > 0.0}
    assert (20_000, 20_001) in near
    # reduced pair set: n-1 star edges + the near pair, nothing quadratic
    assert len(pairs) < n_copies + 10


def test_tokens_sql_matches_tokens_expr_on_unicode_edge_cases(spark):
    """The DuckDB tokenizer every text oracle uses must split exactly
    as the Spark one, including on case-mapping edge cases: U+0130
    (Spark lowers it to i + U+0307), final sigma, ligatures, the
    Kelvin sign, titlecase digraphs, Roman numerals, emoji, NBSP,
    separators at the ends, and the empty string."""
    import duckdb

    from bigdatafinalproject_hockey_spark.functions.text import (
        tokens_expr,
        tokens_sql,
    )

    texts = [
        "İstanbul",
        "DİYARBAKIR and İzmir",
        "iİi İ",
        "ÉCOLE élève Café",
        "Straße STRASSE",
        "ΣΊΣΥΦΟΣ όσος",
        "ﬁle ﬂow",
        "5\u212a temperature",
        "ǅemal Ǆ ǆ",
        "Ⅻ chapter ⅻ",
        "ŉ apostrophe",
        "emoji 😀 test 🇨🇦",
        "non\u00a0breaking space",
        "dotless ı and I",
        "  leading, trailing!  ",
        "MiXeD-case_words 123abc a--b",
        "tab\tnew\nline",
        "",
    ]
    df = spark.createDataFrame(list(enumerate(texts)), ["i", "text"])
    got_spark = {
        r["i"]: list(r["tk"])
        for r in df.select("i", tokens_expr("text").alias("tk")).collect()
    }
    con = duckdb.connect()
    con.register("t", pd.DataFrame({"i": range(len(texts)), "text": texts}))
    got_duck = {
        i: list(tk)
        for i, tk in con.execute(
            f"SELECT i, {tokens_sql('text')} AS tk FROM t"
        ).fetchall()
    }
    assert got_duck == got_spark
    assert got_spark[0] == ["i", "stanbul"]


def test_simhash_recall_vs_exact_jaccard_on_planted_near_dups(spark):
    """SimHash must behave like a similarity sketch, quantitatively:
    on a corpus with planted near-dups (one token changed out of ~25),
    the hamming-8 pair set must recover most pairs whose exact token
    Jaccard >= 0.8, and stay far from exhaustive (no all-pairs
    degeneration on unrelated docs)."""
    import random

    from bigdatafinalproject_hockey_spark.dedup.simhash import simhash_near_pairs

    rng = random.Random(11)
    vocab = [f"tok{j}" for j in range(400)]
    rows, truth = [], set()
    for i in range(40):
        toks = rng.sample(vocab, 25)
        rows.append((i, " ".join(toks)))
        if i % 2 == 0:  # plant a near-dup: replace one token
            near = list(toks)
            near[0] = f"novel{i}"
            rows.append((1000 + i, " ".join(near)))
            truth.add((i, 1000 + i))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    # exact Jaccard >= 0.8 pairs (brute force over token sets)
    sets = {i: set(t.split()) for i, t in rows}
    ids = sorted(sets)
    exact = {
        (a, b)
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
        if len(sets[a] & sets[b]) / len(sets[a] | sets[b]) >= 0.8
    }
    assert truth <= exact  # the plants really are >= 0.8 Jaccard

    from bigdatafinalproject_hockey_spark.dedup.simhash import (
        simhash_fingerprints,
    )

    found = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(df, "text", "doc_id", max_hamming=8).collect()
    }
    # 1) pigeonhole banding is EXACTLY complete within the radius:
    #    found == all pairs with true hamming <= 8 (brute force)
    fp = {r["doc_id"]: r["simhash"] for r in
          simhash_fingerprints(df, "text", "doc_id").collect()}
    within = {
        (a, b): bin((fp[a] ^ fp[b]) & ((1 << 64) - 1)).count("1")
        for ai, a in enumerate(ids)
        for b in ids[ai + 1 :]
    }
    within = {p: h for p, h in within.items() if h <= 8}
    assert found == within
    # 2) hamming-8 tracks high Jaccard well enough to be a useful
    #    near-dup sketch on planted one-token edits
    recall = len(set(found) & exact) / len(exact)
    assert recall >= 0.5, f"recall {recall:.2f} over {len(exact)} true pairs"
    # 3) not degenerate: far fewer pairs than the 60*59/2 all-pairs set
    assert len(found) < 0.2 * (len(ids) * (len(ids) - 1) / 2)


def test_sample_stratified_per_stratum_tolerance(spark):
    """sampleBy must hit each stratum's requested fraction within
    binomial noise (4 sigma) — pins both the grouping (no cross-stratum
    leakage) and the rate, not just 'it runs'."""
    import math

    rows = [(i, "big" if i % 4 else "small") for i in range(8000)]
    df = spark.createDataFrame(rows, ["id", "lang"])
    fractions = {"big": 0.25, "small": 1.0}
    out = df.sampleBy("lang", fractions, seed=42).groupBy("lang").count()
    got = {r["lang"]: r["count"] for r in out.collect()}
    totals = {"big": 6000, "small": 2000}
    for lang, frac in fractions.items():
        n, want = totals[lang], totals[lang] * frac
        sigma = math.sqrt(n * frac * (1 - frac))
        assert abs(got.get(lang, 0) - want) <= 4 * sigma + 1, (
            f"{lang}: got {got.get(lang, 0)}, want ~{want}"
        )
    assert got["small"] == 2000  # fraction 1.0 keeps the stratum whole


def test_deterministic_uniform_rate_and_stability(spark):
    """The hash-based uniform draw must hit the target fraction within
    binomial noise AND be invariant to partitioning (RNG sampling is
    not stable under repartition; the deterministic draw is the fix)."""
    import math

    from pyspark.sql import functions as F

    from bigdatafinalproject_hockey_spark.operators.sampling import (
        deterministic_uniform_expr,
    )

    n, frac = 20000, 0.25
    df = spark.range(n).select(F.col("id"))
    u = deterministic_uniform_expr("id", ":t")
    kept = df.filter(u < frac)
    got = kept.count()
    sigma = math.sqrt(n * frac * (1 - frac))
    assert abs(got - n * frac) <= 4 * sigma, got
    # partitioning-invariant: identical sample after a repartition
    re_ids = {r["id"] for r in df.repartition(17).filter(u < frac).collect()}
    assert re_ids == {r["id"] for r in kept.collect()}


# --- PPM codec: roundtrip + header-whitespace tolerance (no Spark) ---

_dims = st.integers(min_value=1, max_value=9)


@settings(max_examples=60, deadline=None)
@given(
    w=_dims,
    h=_dims,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ws=st.sampled_from([b"\n", b" ", b"\t", b"\n\n ", b" \t\n"]),
)
def test_ppm_roundtrip_any_dims_any_header_whitespace(w, h, seed, ws):
    """decode(encode(arr)) == arr for arbitrary dims/content, and the
    parser accepts any whitespace run between header fields (netpbm
    allows it) while still requiring EXACTLY one byte after maxval."""
    import numpy as np

    from bigdatafinalproject_hockey_spark.multimodal import decode_ppm, encode_ppm

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_ppm(encode_ppm(arr)), arr)
    # same raster behind a reformatted (still-legal) header
    loose = b"P6" + ws + b"%d" % w + ws + b"%d" % h + ws + b"255\n" + arr.tobytes()
    assert np.array_equal(decode_ppm(loose), arr)


@settings(max_examples=50, deadline=None)
@given(
    w=_dims,
    h=_dims,
    seed=st.integers(min_value=0, max_value=2**31 - 1),
    ft=st.integers(min_value=0, max_value=4),
)
def test_png_roundtrip_any_dims_any_filter(w, h, seed, ft):
    """decode_png(encode_png(arr, ft)) == arr for arbitrary dims and
    content under EVERY scanline filter type — the unfilter paths
    (Sub/Up/Average/Paeth) are exact inverses of the filter paths by
    the PNG spec's mod-256 arithmetic, so any mismatch is a decoder
    bug, not tolerance."""
    import numpy as np

    from bigdatafinalproject_hockey_spark.multimodal import decode_png, encode_png

    rng = np.random.default_rng(seed)
    arr = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
    assert np.array_equal(decode_png(encode_png(arr, filter_type=ft)), arr)


@settings(max_examples=40, deadline=None)
@given(
    n=st.integers(min_value=1, max_value=40),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_holt_hof_matches_local_replay(spark, n, seed):
    """The pure-JVM aggregate() Holt fold must equal a local Python
    replay of the α=β=½ recursion BIT-FOR-BIT on arbitrary integer
    series — the half-coefficient recursion is a fixed tree of
    correctly-rounded IEEE ops, so any drift means the HOF reordered
    an operation."""
    import random as _random

    from bigdatafinalproject_hockey_spark.operators.grouped import (
        holt_linear_half_hof,
    )

    rng = _random.Random(seed)
    xs = [float(rng.randint(-10_000, 10_000)) for _ in range(n)]
    pdf = pd.DataFrame({"g": [1] * n, "t": list(range(n)), "x": xs})
    df = spark.createDataFrame(pdf, schema="g long, t long, x double")
    row = (
        holt_linear_half_hof(df, ["g"], ["t"], "x")
        .collect()[0]
        .asDict()
    )
    lvl = trend = 0.0
    for i, v in enumerate(xs):
        if i == 0:
            lvl, trend = v, 0.0
        else:
            new_lvl = (v + (lvl + trend)) / 2.0
            trend = ((((v + (lvl + trend)) / 2.0) - lvl) + trend) / 2.0
            lvl = new_lvl
    assert row["n_points"] == n
    assert row["level"] == lvl
    assert row["trend"] == trend
    assert row["forecast"] == lvl + trend
