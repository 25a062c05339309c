"""Local emulation of the driver's correctness gate.

Runs every queries() entry on Spark at a given sf_dir and the matching
oracle_sql() in DuckDB (driver tables registered as views), comparing
row count + order-insensitive value content (sorted columns, stringified
rows). Prints one line per query and a final summary.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
ONLY = set(sys.argv[2:])

TABLES = "region nation customer supplier part orders lineitem events documents embeddings".split()


def canon(df_pandas):
    import pandas as pd

    df = df_pandas.copy()
    df = df[sorted(df.columns)]

    def cell(v):
        if v is None or v != v:
            return "∅"
        if isinstance(v, float):
            # Tag floats so an integer-valued float (e.g. DuckDB HUGEINT ->
            # pandas float64 147709.0) can never collide with a true int
            # (Spark bigint 147709).  The driver stringifies exactly, so a
            # float/int type divergence IS a hash mismatch there — round 2's
            # t_fuzzy_headers red row was hidden locally by the old
            # untagged "{v:.6g}" formatting.
            return f"f:{v:.6g}"
        return str(v)

    rows = ["\x1f".join(cell(v) for v in row) for row in df.itertuples(index=False)]
    return sorted(rows)


def main():
    from logboost_spark.session import get_spark
    import __spark_entry__ as E

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    from logboost_spark.entry_queries import build_oracles
    from logboost_spark.fixtures.transcripts import sf_from_dir

    qs = E.queries()
    # oracles parameterized to the sf under test so both engines read the
    # same fixture (the driver itself always runs E.oracle_sql() at sf0.01)
    oracles = build_oracles(sf_from_dir(SF_DIR))
    results = {}
    for name, fn in qs.items():
        if ONLY and name not in ONLY:
            continue
        t0 = time.time()
        try:
            sdf = fn(spark, SF_DIR).toPandas()
        except Exception as ex:
            results[name] = f"SPARK_ERROR {type(ex).__name__}: {str(ex).splitlines()[0][:140]}"
            print(name, "=>", results[name])
            continue
        if name not in oracles:
            results[name] = f"ROWS_ONLY rows={len(sdf)}"
            print(f"{name:26s} => {results[name]} ({time.time()-t0:.1f}s)")
            continue
        try:
            odf = con.execute(oracles[name]).fetchdf()
        except Exception as ex:
            results[name] = f"ORACLE_ERROR {type(ex).__name__}: {str(ex).splitlines()[0][:140]}"
            print(name, "=>", results[name])
            continue
        sc, oc = canon(sdf), canon(odf)
        if len(sc) != len(oc):
            results[name] = f"ROWCOUNT_MISMATCH spark={len(sc)} oracle={len(oc)}"
        elif sc != oc:
            diff = [(a, b) for a, b in zip(sc, oc) if a != b][:3]
            results[name] = f"VALUE_MISMATCH n={sum(1 for a, b in zip(sc, oc) if a != b)} first={diff[:1]}"
        else:
            results[name] = f"OK rows={len(sc)}"
        print(f"{name:26s} => {results[name][:220]} ({time.time()-t0:.1f}s)")

    n_ok = sum(1 for v in results.values() if v.startswith(("OK", "ROWS_ONLY")))
    print(f"\nSUMMARY: {n_ok}/{len(results)} pass")
    bad = {k: v for k, v in results.items() if not v.startswith(("OK", "ROWS_ONLY"))}
    for k, v in bad.items():
        print("FAIL", k, "=>", v[:300])
    return 0 if not bad else 1


if __name__ == "__main__":
    sys.exit(main())
