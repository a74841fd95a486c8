"""Empirical check: does the hamming_near_dup window plan (two branches
over one (band, band_val) exchange) evaluate its upstream Python scan
once (AQE shuffle-stage reuse) or twice?

Counts Python-scan input rows with an accumulator while running the
banded engine end-to-end. rows_seen == n  -> scan ran once.
rows_seen == 2n -> both branches recomputed it.
"""

from __future__ import annotations

import os
import sys
from typing import Iterator

import pandas as pd

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import bench_session
from pangeo_forge_recipes_spark.operators.dedup import hamming_near_dup


def main() -> None:
    spark, _ = bench_session("pfrs-reusecheck")
    sc = spark.sparkContext
    acc = sc.accumulator(0)
    n = 4000
    base = spark.range(n).select("id")

    def scan(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            acc.add(len(pdf))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["id"],
                    "sig": (pdf["id"] // 3 * 48271) % 2147483647,
                }
            )

    sigs = base.mapInPandas(scan, "doc_id long, sig long")
    out = hamming_near_dup(sigs, "sig", max_hamming=3, bands=4)
    n_pairs = out.count()
    print(f"RESULT rows_seen={acc.value} n={n} pairs={n_pairs} "
          f"scan_ran={'once' if acc.value <= n else 'twice-or-more'}",
          flush=True)


if __name__ == "__main__":
    main()
