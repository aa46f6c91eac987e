"""Seeded input generators for the benchmark.

Two input sets, each a pure function of ``seed`` and the sizes below:

* ``hockey``: reference-shaped ``results.csv``, ``events.csv`` and a
  ``teams.json`` name map (FIXTURES.md section A) for the CLI.
* ``tables``: the ten parquet tables of ``catalog.SCHEMAS`` for the
  registry queries, including a ``documents`` corpus with a fixed
  near-duplicate share.

``ensure`` writes a set under ``<root>/<kind>-<seed>-<digest>`` where
the digest covers this file's source and the sizes, so a new seed or a
changed generator gives a fresh directory and an unchanged one is
reused. Nothing outside ``root`` is written.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --- hockey ------------------------------------------------------------

HOCKEY_SIZE = {"seasons": 3, "teams": 20, "games_per_team": 24, "events_per_side": (15, 40)}

# (canonical name, code, mapped?). A league of n teams takes n - n//5
# mapped teams and n//5 (~20%) unmapped ones, which fall back to the
# strip-non-letters rule.
TEAMS = [
    ("Thunder Bay Wolves", "TBW", True),
    ("Ville de Québec", "QUE", True),
    ("N.Y. Harbormen", "NYH", True),
    ("St. Cloud Saints", "STC", True),
    ("Iron Ridge", "IRN", True),
    ("Lakeshore United", "LKU", True),
    ("Montréal Voyageurs", "MTV", True),
    ("L.A. Comets", "LAC", True),
    ("Atlanta Firebirds", "WPF", True),
    ("Hartford Whalers", "CAR", True),
    ("Québec Nordiques", "COL", True),
    ("San José Sharks", "SJS", True),
    ("T.B. Bolts", "TBB", True),
    ("N.J. Devils", "NJD", True),
    ("St. Louis Blues", "STL", True),
    ("Granite Falls", "GRF", True),
    ("Cedar Rapids", "CDR", True),
    ("Port Huron", "PTH", True),
    ("Red Deer Rebels", "RDR", True),
    ("Basin City", None, False),
    ("Oldtown HC", None, False),
    ("Silver Lake", None, False),
    ("Pine Bluff", None, False),
    ("Kettle Creek", None, False),
]

# Extra map keys: relocated franchises / abbreviations seen in raw data.
ALIASES = {"Atlanta Firebirds": "ATL Firebirds", "Hartford Whalers": "HFD Whalers"}


def _raw_forms(name: str) -> list[str]:
    """Messy spellings that normalize (trim + collapse spaces) to the
    same key: padding, doubled and tripled inner spaces, a tab."""
    first = name.replace(" ", "  ", 1)
    return [name, f" {name} ", first, name.replace(" ", " \t", 1), name + "  "]


def team_map() -> dict[str, str]:
    m = {}
    for name, code, mapped in TEAMS:
        if mapped:
            m[name] = code
            if name in ALIASES:
                m[ALIASES[name]] = code
    return m


def _write_hockey(seed: int, out: str, size: dict) -> dict:
    rng = np.random.default_rng(seed)
    n_teams, n_seasons = size["teams"], size["seasons"]
    gpt = size["games_per_team"]
    lo, hi = size["events_per_side"]
    chosen = [t for t in TEAMS if t[2]][: n_teams - n_teams // 5]
    chosen += [t for t in TEAMS if not t[2]][: n_teams // 5]
    forms = []
    for name, _code, _m in chosen:
        f = _raw_forms(name)
        if name in ALIASES:
            f.append(ALIASES[name])
        forms.append(f)

    res_rows = []  # (game, season, date, team_idx, is_home, goal, win, points, xg)
    ev_game, ev_season, ev_team_idx, ev_strength = [], [], [], []
    games = 0
    for s in range(n_seasons):
        year = 2007 + s
        season = int(f"{year}{year + 1}")
        strength = rng.normal(0.0, 1.0, n_teams)
        start = pd.Timestamp(year=year, month=10, day=1)
        n = 0
        for day in range(gpt):
            order = rng.permutation(n_teams)
            date = start + pd.Timedelta(days=2 * day + int(rng.integers(0, 2)))
            dstr = f"{date.month}/{date.day}/{date.year}"
            for i in range(0, n_teams - 1, 2):
                h, a = int(order[i]), int(order[i + 1])
                n += 1
                gid = int(f"{year}02{n:04d}")
                p_home = 1.0 / (1.0 + np.exp(-(1.1 * (strength[h] - strength[a]) + 0.15)))
                home_win = bool(rng.random() < p_home)
                loser_goals = int(rng.poisson(1.8))
                winner_goals = loser_goals + 1 + int(rng.poisson(0.8))
                ot_loss = bool(rng.random() < 0.2)
                for t, is_home in ((h, 1), (a, 0)):
                    won = home_win if is_home else not home_win
                    goals = winner_goals if won else loser_goals
                    points = 2 if won else (1 if ot_loss else 0)
                    xg = round(max(0.05, 0.7 * goals + 0.4 * strength[t] + rng.normal(0.6, 0.5)), 3)
                    res_rows.append((gid, season, dstr, t, is_home, goals, int(won), points, xg))
                    ev_game.append(gid)
                    ev_season.append(season)
                    ev_team_idx.append(t)
                    ev_strength.append(strength[t])
        games += n

    # results.csv
    rr = pd.DataFrame(
        res_rows,
        columns=["Game Id", "Season", "Date", "team", "Is_Home", "Goal", "Win", "Points", "xG"],
    )
    pick = rng.integers(0, 1 << 30, len(rr))
    rr["Ev_Team"] = [forms[t][k % len(forms[t])] for t, k in zip(rr["team"], pick)]
    rr["Type"] = "REG"
    rr["G+/-"] = rr["Goal"] - rr.groupby("Game Id")["Goal"].transform("sum") + rr["Goal"]
    rr["Favorite"] = ""
    rr["Odds"] = np.where(rng.random(len(rr)) < 0.3, r"\N", np.round(rng.uniform(1.5, 3.5, len(rr)), 2).astype(str))
    rr = rr[["Game Id", "Season", "Date", "Type", "Ev_Team", "Is_Home", "Goal", "Win",
             "Points", "xG", "G+/-", "Favorite", "Odds"]]
    rr.to_csv(os.path.join(out, "results.csv"), index=False)

    # events.csv — one block of rows per (game, team)
    counts = rng.integers(lo, hi + 1, len(ev_game))
    n_ev = int(counts.sum())
    g = np.repeat(np.asarray(ev_game, dtype=np.int64), counts)
    sn = np.repeat(np.asarray(ev_season, dtype=np.int64), counts)
    ti = np.repeat(np.asarray(ev_team_idx), counts)
    st = np.repeat(np.asarray(ev_strength), counts)
    u = rng.random((5, n_ev))
    corsi = u[0] < np.clip(0.45 + 0.06 * st, 0.1, 0.9)
    fenwick = corsi & (u[1] < 0.75)
    shot = fenwick & (u[2] < 0.7)
    goal = shot & (u[3] < np.clip(0.09 + 0.02 * st, 0.01, 0.5))
    pick = rng.integers(0, 1 << 30, n_ev)
    team_raw = np.array([forms[t][k % len(forms[t])] for t, k in zip(ti, pick)], dtype=object)
    kinds = np.array(["faceoff", "hit", "giveaway", "takeaway", "penalty", "stoppage"])
    event = np.where(goal, "goal", np.where(shot, "shot-on-goal", np.where(
        fenwick, "missed-shot", np.where(corsi, "blocked-shot", kinds[rng.integers(0, len(kinds), n_ev)]))))
    dist = np.round(rng.uniform(5, 65, n_ev), 1)
    angle = np.round(rng.uniform(0, 89, n_ev), 1)
    goal_col = np.where(u[4] < 0.03, r"\N", goal.astype(int).astype(str))
    ev = pd.DataFrame({
        "GameID": g,
        "Season": sn,
        "SeasonState": "regular",
        "Venue": np.where(rng.random(n_ev) < 0.05, "", np.where(rng.random(n_ev) < 0.5, "Home", "Away")),
        "Period": rng.integers(1, 4, n_ev),
        "EventTeam": team_raw,
        "Event": event,
        "Corsi": corsi.astype(int),
        "Fenwick": fenwick.astype(int),
        "Shot": shot.astype(int),
        "Goal": goal_col,
        "ShotDistance": np.where(corsi, dist.astype(str), ""),
        "ShotAngle": np.where(corsi, angle.astype(str), ""),
        "xG_F": np.where(fenwick, np.round(rng.uniform(0, 0.4, n_ev), 3).astype(str), ""),
        "x": rng.integers(-99, 100, n_ev),
        "y": rng.integers(-42, 43, n_ev),
    })
    ev.to_csv(os.path.join(out, "events.csv"), index=False)
    with open(os.path.join(out, "teams.json"), "w") as f:
        json.dump(team_map(), f, ensure_ascii=False, indent=1)
    return {"games": games, "result_rows": len(rr), "event_rows": n_ev}


# --- registry tables ---------------------------------------------------

TABLE_SIZE = {
    "customer": 300, "supplier": 20, "part": 400, "orders": 3000,
    "lineitem": 12000, "events": 2000, "event_users": 30,
    "documents": 1000, "near_dup_share": 0.05, "embeddings": 500, "dim": 64,
}
WORDS = ("join hash row batch scan column customer filter small slow merge order vector "
         "line table data agg value key stream window a spark part group big sort query "
         "fast the").split()


def _corpus(rng: np.random.Generator, n: int, near_dup_share: float) -> pd.DataFrame:
    """Random-word documents; a ``near_dup_share`` of them are copies
    of an earlier document with one trailing token appended."""
    texts = []
    n_dup = int(round(n * near_dup_share))
    dup_at = set(rng.choice(np.arange(n // 10, n), n_dup, replace=False).tolist())
    for i in range(n):
        if i in dup_at:
            texts.append(texts[int(rng.integers(0, i))][:-4] + " dup")
            continue
        k = int(rng.integers(10, 100))
        t = " ".join(WORDS[j] for j in rng.integers(0, len(WORDS), k))
        texts.append(t[: int(rng.integers(40, 580))].rstrip() or "a")
    langs = np.array(["en", "zh", "es", "de", "fr"])
    lang = langs[np.searchsorted(np.cumsum([0.42, 0.15, 0.15, 0.14, 0.14]), rng.random(n), side="right").clip(0, 4)]
    return pd.DataFrame({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": lang,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _write_tables(seed: int, out: str, size: dict) -> dict:
    rng = np.random.default_rng(seed)

    def day(lo: str, n_days: int, k: int):
        base = np.datetime64(lo, "us")
        return base + rng.integers(0, n_days, k).astype("timedelta64[D]").astype("timedelta64[us]")

    def money(lo, hi, k):
        return np.round(rng.uniform(lo, hi, k), 2)

    nc, ns, npart = size["customer"], size["supplier"], size["part"]
    no, nl, ne = size["orders"], size["lineitem"], size["events"]
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    frames = {
        "region": pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32), "r_name": regions}),
        "nation": pd.DataFrame({
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }),
        "customer": pd.DataFrame({
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(nc)],
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": money(-999.99, 9999.99, nc),
            "c_mktsegment": np.array(["MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE", "HOUSEHOLD"])[rng.integers(0, 5, nc)],
        }),
        "supplier": pd.DataFrame({
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": money(-999.99, 9999.99, ns),
        }),
        "part": pd.DataFrame({
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": [f"{a} {b}" for a, b in zip(
                np.array(["red", "small", "hot", "blue", "big", "cold", "green", "old"])[rng.integers(0, 8, npart)],
                np.array(["ring", "widget", "plate", "bolt", "gear", "pipe", "valve", "frame"])[rng.integers(0, 8, npart)])],
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
            "p_type": np.array(["MEDIUM", "STANDARD", "LARGE", "PROMO", "SMALL", "ECONOMY"])[rng.integers(0, 6, npart)],
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 1),
        }),
        "orders": pd.DataFrame({
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": np.array(["P", "O", "F"])[rng.integers(0, 3, no)],
            "o_totalprice": money(1000, 500000, no),
            "o_orderdate": day("1995-01-01", 2404, no),
            "o_orderpriority": np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])[rng.integers(0, 5, no)],
        }),
        "lineitem": pd.DataFrame({
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": money(900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": np.array(["R", "A", "N"])[rng.integers(0, 3, nl)],
            "l_linestatus": np.array(["O", "F"])[rng.integers(0, 2, nl)],
            "l_shipdate": day("1995-01-02", 2498, nl),
        }),
    }
    ts = np.datetime64("2024-01-01", "us") + np.sort(rng.integers(0, 30 * 86400 * 10**6, ne)).astype("timedelta64[us]")
    frames["events"] = pd.DataFrame({
        "event_id": np.arange(ne, dtype=np.int64),
        "ts": ts,
        "user_id": rng.integers(0, size["event_users"], ne).astype(np.int64),
        "event_type": np.array(["signup", "error", "click", "view", "purchase"])[rng.integers(0, 5, ne)],
        "value": np.round(rng.exponential(60.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    frames["documents"] = _corpus(rng, size["documents"], size["near_dup_share"])
    nv, dim = size["embeddings"], size["dim"]
    centers = rng.normal(0, 1, (10, dim))
    label = rng.integers(0, 10, nv)
    emb = centers[label] + rng.normal(0, 0.6, (nv, dim))
    emb = (emb / np.linalg.norm(emb, axis=1, keepdims=True)).astype(np.float32)
    frames["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(nv, dtype=np.int64),
        "embedding": list(emb),
        "label": label.astype(np.int32),
    })
    rows = {}
    for name, df in frames.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(1, "embedding", pa.array(list(emb), type=pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(out, f"{name}.parquet"))
        rows[name] = len(df)
    return rows


# --- cache -------------------------------------------------------------

_WRITERS = {"hockey": (_write_hockey, HOCKEY_SIZE), "tables": (_write_tables, TABLE_SIZE)}


def ensure(kind: str, seed: int, root: str) -> tuple[str, dict]:
    """Return ``(directory, sizes)`` for input set ``kind`` at ``seed``,
    generating it under ``root`` unless an identical set is there."""
    writer, size = _WRITERS[kind]
    with open(__file__, "rb") as f:
        digest = hashlib.sha256(f.read() + repr(sorted(size.items())).encode()).hexdigest()[:10]
    out = os.path.join(root, f"{kind}-{seed}-{digest}")
    stamp = os.path.join(out, "sizes.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            return out, json.load(f)
    os.makedirs(root, exist_ok=True)
    for old in os.listdir(root):  # keep one set per kind on disk
        if old.startswith(f"{kind}-"):
            shutil.rmtree(os.path.join(root, old), ignore_errors=True)
    os.makedirs(out)
    sizes = writer(seed, out, size)
    with open(stamp, "w") as f:
        json.dump(sizes, f)
    return out, sizes


if __name__ == "__main__":
    import sys

    kind, seed, root = sys.argv[1], int(sys.argv[2]), sys.argv[3]
    print(json.dumps(ensure(kind, seed, root)))
