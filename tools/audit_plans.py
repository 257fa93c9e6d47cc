"""Plan audit: dump the FORMATTED physical plan of registered queries
at the bench scale factor and summarize anti-pattern signals per query
(guide §1.1/§7.2):

- Exchange count (shuffles), SortMergeJoin / ShuffledHashJoin /
  BroadcastNestedLoopJoin / CartesianProduct occurrences,
- BatchEvalPython (row-at-a-time Python UDF) vs ArrowEvalPython /
  MapInPandas / FlatMapGroupsInPandas nodes,
- FileScan count and whether any scan carries PushedFilters,
- WholeStageCodegen span count.

Audits every registered query, or only the named ones. Writes one plan
file per query to ``<out>/<name>.txt`` (``<out>/<name>_<suffix>.txt``
with ``--suffix``, e.g. the ``before``/``after`` evidence pairs an
optimization record cites) and a JSON summary to
``<out>/summary[_<suffix>].json`` whose rows carry each query's
``bench_sec`` from the committed BENCH_DETAIL.json, so hot+suspicious
queries can be ranked. ``--out`` defaults to a fresh
temporary directory, printed at the end; audits are regenerated on
demand, not committed.

Run from the repo root:

    python tools/audit_plans.py [sf_dir [name ...]] [--out DIR] [--suffix S]
"""

from __future__ import annotations

import argparse
import json
import os
import re
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# formatted-mode plans list every node once as a details header
# "(<id>) <NodeName>"; count those (tree lines would double-count and
# carry suffixes like "SortMergeJoin Inner" that word-boundary
# patterns miss — the r15 first pass undercounted SMJs exactly so)
_PATTERNS = {
    "exchange": re.compile(r"^\(\d+\) Exchange\b", re.M),
    "sort_merge_join": re.compile(r"^\(\d+\) SortMergeJoin\b", re.M),
    "shuffled_hash_join": re.compile(r"^\(\d+\) ShuffledHashJoin\b", re.M),
    "broadcast_hash_join": re.compile(r"^\(\d+\) BroadcastHashJoin\b", re.M),
    "bnl_join": re.compile(r"^\(\d+\) BroadcastNestedLoopJoin\b", re.M),
    "cartesian": re.compile(r"^\(\d+\) CartesianProduct\b", re.M),
    "batch_eval_python": re.compile(r"^\(\d+\) BatchEvalPython\b", re.M),
    "arrow_eval_python": re.compile(r"^\(\d+\) ArrowEvalPython\b", re.M),
    "map_in_pandas": re.compile(
        r"^\(\d+\) (MapInPandas|PythonMapInArrow|MapInArrow)\b", re.M
    ),
    "flatmap_groups": re.compile(r"^\(\d+\) FlatMapGroupsInPandas\b", re.M),
    "file_scan": re.compile(r"^\(\d+\) Scan parquet\b", re.M),
    "sort": re.compile(r"^\(\d+\) Sort\b", re.M),
    "window": re.compile(r"^\(\d+\) Window\b", re.M),
    "rdd_scan": re.compile(r"^\(\d+\) Scan ExistingRDD\b", re.M),
}


def main() -> None:
    import time

    from pyspark_postgres_loader_spark import registry
    from pyspark_postgres_loader_spark.session import get_spark

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("sf_dir", nargs="?", default=os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("names", nargs="*", help="queries to audit (default: all)")
    ap.add_argument("--out", help="output directory (default: a new temp dir)")
    ap.add_argument("--suffix", help="plan files are written as <name>_<suffix>.txt")
    args = ap.parse_args()
    sf_dir = args.sf_dir
    out_dir = args.out or tempfile.mkdtemp(prefix="plan-audit-")
    os.makedirs(out_dir, exist_ok=True)

    spark = get_spark(app_name="plan-audit")
    qs = registry.all_queries()
    if args.names:
        qs = {n: qs[n] for n in args.names}
    tail = f"_{args.suffix}" if args.suffix else ""

    # committed bench timings for ranking
    times: dict[str, float] = {}
    try:
        with open(os.path.join(ROOT, "BENCH_DETAIL.json")) as f:
            times = json.load(f)["queries"]
    except (OSError, ValueError, KeyError):
        pass

    jvm = spark.sparkContext._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")

    summary = {}
    t_all = time.time()
    for name, fn in qs.items():
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            plan = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001 — survey, don't abort
            summary[name] = {"error": f"{type(exc).__name__}: {exc}"[:200]}
            continue
        with open(os.path.join(out_dir, f"{name}{tail}.txt"), "w") as f:
            f.write(plan)
        row = {k: len(p.findall(plan)) for k, p in _PATTERNS.items()}
        row["pushed_filters"] = len(re.findall(r"PushedFilters: \[[^\]]", plan))
        row["build_sec"] = round(time.time() - t0, 2)
        row["bench_sec"] = times.get(name)
        summary[name] = row
        print(f"{name}: exch={row['exchange']} smj={row['sort_merge_join']} "
              f"bep={row['batch_eval_python']} cart={row['cartesian']} "
              f"build={row['build_sec']}s", flush=True)

    with open(os.path.join(out_dir, f"summary{tail}.json"), "w") as f:
        json.dump({"sf_dir": sf_dir, "wall_sec": round(time.time() - t_all, 1),
                   "queries": summary}, f, indent=1, sort_keys=True)
    print(f"audited {len(summary)} queries in {round(time.time()-t_all,1)}s "
          f"-> {out_dir}")
    spark.stop()


if __name__ == "__main__":
    main()
