"""Oracle check: compare registry queries against their DuckDB oracles
under a PLAIN SparkSession.

``__spark_entry__`` is imported with a plain session (no custom
confs; Spark 4 defaults: ANSI on, AQE on, 200 shuffle partitions,
machine-local session TZ), and each named ``queries()`` entry is
compared with its ``oracle_sql()`` on DuckDB: row count + schema +
order-insensitive value hash (``tests/oracle_utils.normalize``). The
pytest parity suite runs the same compare under the engine's TUNED
session (``session.get_session``), so the plain session is the axis
this script adds.

Run from the repo root, in a fresh process:

    python scripts/oracle_check.py [--sf DIR] [name ...]

Without names it walks the whole registry. Each query prints one
line: OK, rows-only (no oracle), MISMATCH or ERROR. The exit code is
0 iff no query mismatches or raises.
"""

from __future__ import annotations

import os
import sys
import traceback

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))


def main(argv: list[str]) -> int:
    sf = "/root/testdata/sf0.01"
    if argv[:1] == ["--sf"]:
        sf, argv = argv[1], argv[2:]
    from pyspark.sql import SparkSession

    # PLAIN session; inside a process that already has one, that one.
    spark = SparkSession.builder.master("local[16]").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    import __spark_entry__ as entry_mod
    from oracle_utils import duckdb_conn, normalize

    from bigdatafinalproject_hockey_spark.streaming import tws_available

    qs, osql = entry_mod.queries(), entry_mod.oracle_sql()
    # Why the TWS operator is (or is not) a registered query here.
    tws_ok, tws_reason = tws_available()
    print(f"[streaming-tws] available={tws_ok}: {tws_reason}")
    print(
        f"[streaming-tws] stream_stateful_totals_tws registered: "
        f"{'stream_stateful_totals_tws' in qs}"
    )

    n_ok = n_rows_only = 0
    fails: list[str] = []
    with duckdb_conn(sf) as con:
        for name in argv or list(qs):
            try:
                sp = qs[name](spark, sf).toPandas()
                if name not in osql:
                    n_rows_only += 1
                    print(f"{name}: rows-only {len(sp)}")
                    continue
                od = con.execute(osql[name]).df()
                c1, r1 = normalize(sp)
                c2, r2 = normalize(od)
                if c1 == c2 and r1 == r2:
                    n_ok += 1
                    print(f"{name}: OK ({len(sp)}/{len(od)})")
                else:
                    fails.append(name)
                    why = "schema" if c1 != c2 else "values"
                    print(f"{name}: MISMATCH ({why}; {len(sp)}/{len(od)})")
            except Exception as exc:  # noqa: BLE001
                fails.append(name)
                print(f"{name}: ERROR {type(exc).__name__}: {exc}")
                traceback.print_exc(limit=3)
    print(f"\n{n_ok} oracle-OK, {n_rows_only} rows-only, {len(fails)} failed")
    if fails:
        print("FAILS:", fails)
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
