"""Dress rehearsal of the driver's correctness gate: run registered
queries on a vanilla SparkSession at sf0.01 and compare each against its
DuckDB oracle with the driver-style canonicalizer
(tests/oracle_harness.compare_query).

The per-round driver only checks a 50-query window; a whole-registry
run is the whole-surface signal and writes REHEARSAL.json. Naming
queries checks only those and writes nothing. Run from the repo root:

    python tools/rehearse.py [sf_dir [name ...]]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "tests"))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default="/root/testdata/sf0.01")
    ap.add_argument("names", nargs="*", help="queries to check (default: all)")
    args = ap.parse_args()
    sf_dir = args.sf_dir

    from pyspark_postgres_loader_spark.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    unknown = sorted(set(args.names) - set(QUERIES))
    if unknown:
        ap.error(f"unknown query names: {', '.join(unknown)}")
    names = args.names or list(QUERIES)

    from pyspark.sql import SparkSession

    from oracle_harness import compare_query

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    t0 = time.time()
    fails: dict[str, str] = {}
    for name in names:
        try:
            compare_query(spark, sf_dir, name)
        except Exception as exc:  # noqa: BLE001 — survey, don't abort
            fails[name] = f"{type(exc).__name__}: {exc}"[:300]
            print(f"FAIL {name}: {fails[name]}", flush=True)
    result = {
        "sf_dir": sf_dir,
        "n_queries": len(names),
        "n_pass": len(names) - len(fails),
        "failures": fails,
        "wall_sec": round(time.time() - t0, 1),
    }
    if not args.names:
        with open(os.path.join(ROOT, "REHEARSAL.json"), "w") as f:
            json.dump(result, f, indent=1, sort_keys=True)
    print(
        f"rehearsal: {result['n_pass']}/{result['n_queries']} pass "
        f"at {sf_dir} in {result['wall_sec']}s"
    )
    spark.stop()
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
