"""Local replica of the driver's correctness gate: run every queries()
entry on Spark and its oracle_sql() on DuckDB at the same sf, compare
row-count + schema + order-insensitive value hash. A query without an
oracle fails. Runs on ``bench.bench_session``'s session shape.

Usage: python tools/check_correctness.py [sf_dir] [query ...]
"""

from __future__ import annotations

import hashlib
import os
import sys
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod

TABLES = entrymod.TABLES


def _norm_cell(v):
    if isinstance(v, float):
        # tolerate representation jitter, not value jitter
        return f"{v:.10g}"
    return str(v)


def frame_summary(pdf: pd.DataFrame):
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    rows = ["|".join(_norm_cell(v) for v in row) for row in pdf.itertuples(index=False)]
    rows.sort()
    h = hashlib.sha256("\n".join(rows).encode()).hexdigest()[:16]
    return len(pdf), list(pdf.columns), h, rows


def main():
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])
    # imported here: perfbench imports this module for frame_summary alone
    from bench import bench_session

    spark, _ = bench_session("pfrs-check-correctness")

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")

    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            spark_pdf = fn(spark, sf_dir).toPandas()
        except Exception as exc:
            print(f"[FAIL-SPARK] {name}: {type(exc).__name__}: {str(exc)[:300]}")
            failures.append(name)
            continue
        t1 = time.time()
        if name not in oracles:
            print(f"[FAIL-NO-ORACLE] {name}: {len(spark_pdf)} rows  ({t1-t0:.1f}s)")
            failures.append(name)
            continue
        try:
            duck_pdf = con.execute(oracles[name]).fetchdf()
        except Exception as exc:
            print(f"[FAIL-ORACLE] {name}: {type(exc).__name__}: {str(exc)[:300]}")
            failures.append(name)
            continue
        n_s, cols_s, h_s, rows_s = frame_summary(spark_pdf)
        n_d, cols_d, h_d, rows_d = frame_summary(duck_pdf)
        ok = n_s == n_d and cols_s == cols_d and h_s == h_d
        status = "OK" if ok else "MISMATCH"
        print(
            f"[{status}] {name}: spark {n_s} rows / duck {n_d} rows"
            f"  hash {h_s}/{h_d}  ({t1-t0:.1f}s)"
        )
        if not ok:
            failures.append(name)
            if cols_s != cols_d:
                print(f"    cols spark={cols_s}\n    cols duck ={cols_d}")
            if n_s == n_d and cols_s == cols_d:
                diff = [
                    (a, b) for a, b in zip(rows_s, rows_d) if a != b
                ][:5]
                for a, b in diff:
                    print(f"    spark: {a}\n    duck : {b}")
    print()
    if failures:
        print("FAILURES:", ", ".join(failures))
        sys.exit(1)
    print("ALL OK")


if __name__ == "__main__":
    main()
