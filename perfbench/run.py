"""The engine's benchmark: one workload per invocation, against the
public API, on Spark local mode with one task thread per core.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. It generates its input tables
under ``.perfbench_data/`` (once per checkout), sets up, runs one
untimed warm pass that checks every output against DuckDB, then
times a fixed number of passes sized to take about ``S`` seconds on the
reference machine. The last
line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0``
the metrics are the end-to-end ones; with ``--trace 1`` they are the
per-layer ones, taken from traced passes that alternate with untraced
ones. Per-pass and per-query detail, and the spans of a traced run, go
to ``.perfbench_out/``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import random
import shutil
import signal
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT]

import procstat  # noqa: E402  (perfbench/ is sys.path[0] when run as a script)


def _process_start() -> float:
    """This process's start time on the ``perf_counter`` clock (10 ms
    resolution): process age from /proc, subtracted from now."""
    with open("/proc/self/stat") as f:
        raw = f.read()
    start_ticks = int(raw[raw.rindex(")") + 2 :].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.perf_counter() - (uptime - start_ticks / os.sysconf("SC_CLK_TCK"))


PROCESS_START = _process_start()

SF = 0.01
# Nominal seconds of one warm pass on the reference machine (4 vCPUs).
# A run times round(--seconds / nominal) passes, at least MIN_PASSES:
# a fixed amount of work, so every run reports the same pass indices
# of the JVM's warm-up curve however fast the machine is that minute.
NOMINAL_PASS_S = {"load_upsert": 4.5, "query_mix": 5.5}
MIN_PASSES = 3  # fewest passes a median is taken over
WALL_LIMIT_S = 140.0  # start no pass after this; a run must end within 180 s

QUERY_WORKLOADS = {
    # TPC-H joins, aggregation and shuffle (no Python workers), two
    # mapInPandas decode walks, and an iterative ANN search over an
    # app_cache substrate
    "query_mix": (
        "q3_shipping_priority",
        "ingest_parquet_native_walk",
        "ingest_zstd_frame_walk",
        "ann_nsw_beam_topk",
    ),
}
WORKLOADS = ("load_upsert", *QUERY_WORKLOADS)

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "pass_cpu_s": "s", "peak_rss_mb": "MB"}
LAYER_UNITS = {
    "sources.read_s": "s",
    "introspection.fetch_s": "s",
    "schema_contract.align_s": "s",
    "sinks.upsert.call_s": "s",
    "sinks.upsert.python_s": "s",
    "sinks.db.execute_n": "count",
    "sinks.db.execute_s": "s",
    "sinks.db.commit_n": "count",
    "sinks.db.rollback_n": "count",
    "sinks.db.rows_per_execute": "rows",
    "sinks.upsert.rows_rejected": "rows",
    "load.insert_rows_per_s": "rows/s",
    "load.update_rows_per_s": "rows/s",
    "registry.build_s": "s",
    "spark.plan_s": "s",
    "spark.exec_s": "s",
    "spark.jobs_n": "count",
    "spark.stages_n": "count",
    "spark.tasks_n": "count",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.executor_run_s": "s",
    "spark.jvm_gc_s": "s",
    "spark.utilization": "ratio",
    "python_worker.cpu_s": "s",
    "python_worker.spawn_n": "count",
    "operators.app_cache.build_s": "s",
    "operators.app_cache.timed_builds_n": "count",
    "failed_share": "ratio",
    "trace.overhead_s": "s",
}
_SPARK_KEYS = (
    "jobs_n stages_n tasks_n shuffle_read_bytes shuffle_write_bytes "
    "spill_bytes executor_run_s jvm_gc_s"
).split()


class Run:
    """State of one benchmark invocation."""

    def __init__(self, args, run_dir: str, sf_dir: str) -> None:
        self.traced = bool(args.trace)
        self.run_dir, self.sf_dir = run_dir, sf_dir
        self.rng = random.Random(args.seed)
        self.cores = len(os.sched_getaffinity(0))
        self.attempted = self.failed = 0
        self.failures: list[str] = []
        self.spark = None
        self.tracer = None
        self.app_cache_builds: list[tuple[str, float, bool]] = []  # (key, s, timed)
        self.timing = False  # True once the first timed pass has begun
        self.check_s = 0.0  # seconds spent computing expected results

    def fail(self, what: str, reason: str) -> None:
        self.failed += 1
        self.failures.append(f"{what}: {reason}")
        print(f"perfbench: FAILED {what}: {reason}", file=sys.stderr)

    def job_group(self, group: str | None) -> None:
        sc = self.spark.sparkContext
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(group, group)


# --- query workloads ---------------------------------------------------------


class QueryWorkload:
    def __init__(self, run: Run, names: tuple[str, ...]) -> None:
        from pyspark_postgres_loader_spark import registry

        registry._ensure_loaded()
        self.run, self.names, self.queries = run, names, registry.QUERIES

    def run_pass(self, traced: bool) -> dict[str, float]:
        """Every query once, in a seeded order; returns per-layer sums."""
        run = self.run
        order = list(self.names)
        run.rng.shuffle(order)
        layers: dict[str, float] = {}
        for name in order:
            run.attempted += 1
            spec = self.queries[name]
            t0 = time.perf_counter()
            try:
                if traced:
                    self._traced_query(spec, layers)
                else:
                    spec.fn(run.spark, run.sf_dir).write.format("noop").mode(
                        "overwrite"
                    ).save()
            except Exception as exc:  # noqa: BLE001 — a failing query is a counted failure
                run.fail(name, f"{type(exc).__name__}: {exc}")
            layers[f"_query.{name}"] = time.perf_counter() - t0
        return layers

    def _traced_query(self, spec, layers: dict[str, float]) -> None:
        run, tr = self.run, self.run.tracer
        group = f"perfbench-{tr.pass_id}-{spec.name}"
        run.job_group(group)
        try:
            with tr.span("query", query=spec.name) as q:
                with tr.span("registry.build"):
                    df = spec.fn(run.spark, run.sf_dir)
                with tr.span("spark.plan"):
                    df._jdf.queryExecution().executedPlan()
                with tr.span("spark.exec"):
                    df.write.format("noop").mode("overwrite").save()
        finally:
            run.job_group(None)
        from spans import job_group_metrics

        q["spark"] = job_group_metrics(run.spark.sparkContext, group)
        for k, v in q["spark"].items():
            layers[f"spark.{k}"] = layers.get(f"spark.{k}", 0.0) + v

    def warm(self) -> None:
        """Untimed warm pass that is also the correctness gate: every
        query collected and compared with its DuckDB oracle. The
        oracle's own seconds are kept out of ``setup_s``."""
        import oracle

        run = self.run
        con = oracle.duckdb_views(run.sf_dir)
        try:
            for name in self.names:
                run.attempted += 1
                try:
                    why, oracle_s = oracle.query_mismatch(
                        run.spark, con, run.sf_dir, self.queries[name]
                    )
                    run.check_s += oracle_s
                except Exception as exc:  # noqa: BLE001
                    why = f"{type(exc).__name__}: {exc}"
                if why is not None:
                    run.fail(f"oracle {name}", why)
        finally:
            con.close()


# --- load workload -------------------------------------------------------------


class LoadWorkload:
    """``pipeline.load_to_database`` from ``orders`` parquet into a
    DuckDB file with the reference defaults (batched strategy,
    ``batch_size=1000``, ``parallelism=1``). The target has a primary
    key and a CHECK that rejects a seed-chosen key set, about one row in
    10,000 and at least two, so batch-bisection quarantine runs."""

    TABLE = "orders_tgt"

    def __init__(self, run: Run) -> None:
        import pyarrow.parquet as pq

        self.run = run
        self.source = os.path.join(run.sf_dir, "orders.parquet")
        n = pq.ParquetFile(self.source).metadata.num_rows
        keys = sorted(run.rng.sample(range(n), max(2, n // 10_000)))
        self.check_sql = f"o_orderkey NOT IN ({', '.join(map(str, keys))})"
        self.db = os.path.join(run.run_dir, "target.duckdb")
        self.counter_dir = os.path.join(run.run_dir, "db_counts")
        os.makedirs(self.counter_dir)

    def _reset(self) -> None:
        import duckdb

        con = duckdb.connect(self.db)
        try:
            con.execute(f"DROP TABLE IF EXISTS {self.TABLE}")
            con.execute(
                f"CREATE TABLE {self.TABLE} (o_orderkey BIGINT PRIMARY KEY, "
                "o_custkey BIGINT, o_orderstatus VARCHAR, o_totalprice DECIMAL(12,2), "
                f"o_orderdate DATE, o_orderpriority VARCHAR, CHECK ({self.check_sql}))"
            )
        finally:
            con.close()

    def _call(self, phase: str, traced: bool, layers: dict[str, float]) -> tuple[float, float]:
        """One timed ``load_to_database`` call, checked afterwards;
        returns (wall s, process-tree CPU s)."""
        from dbproxy import DuckDBFactory
        from pyspark_postgres_loader_spark import pipeline

        import oracle

        run = self.run
        factory = DuckDBFactory(self.db, self.counter_dir if traced else None)
        run.attempted += 1
        group = f"perfbench-{run.tracer.pass_id}-{phase}" if traced else None
        if traced:
            run.job_group(group)
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        try:
            with run.tracer.span(f"load.{phase}") if traced else contextlib.nullcontext():
                result = pipeline.load_to_database(
                    run.spark, "parquet", {"path": self.source}, self.TABLE,
                    factory, dialect="duckdb", batch_size=1000, parallelism=1,
                )
        except Exception as exc:  # noqa: BLE001
            run.fail(f"load {phase}", f"{type(exc).__name__}: {exc}")
            return time.perf_counter() - t0, procstat.tree_cpu_s() - cpu0
        finally:
            if traced:
                run.job_group(None)
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        t_check = time.perf_counter()
        why = oracle.load_mismatch(self.db, self.TABLE, self.source, self.check_sql, result.stats)
        run.check_s += time.perf_counter() - t_check
        if why is not None:
            run.fail(f"load {phase}", why)
        if traced:
            from spans import job_group_metrics

            from dbproxy import drain_counts

            for k, v in job_group_metrics(run.spark.sparkContext, group).items():
                layers[f"spark.{k}"] = layers.get(f"spark.{k}", 0.0) + v
            for k, v in drain_counts(self.counter_dir).items():
                layers[f"db.{k}"] = layers.get(f"db.{k}", 0.0) + v
            layers["sinks.upsert.rows_rejected"] = (
                layers.get("sinks.upsert.rows_rejected", 0.0) + result.stats.rows_rejected
            )
            layers[f"load.{phase}_rows_per_s"] = result.stats.rows_seen / wall
        return wall, cpu

    def run_pass(self, traced: bool) -> dict[str, float]:
        """Insert into an empty target, then the same load again, where
        every key conflicts. Only the two calls are timed."""
        layers: dict[str, float] = {}
        self._reset()
        w1, c1 = self._call("insert", traced, layers)
        w2, c2 = self._call("update", traced, layers)
        layers["_wall"], layers["_cpu"] = w1 + w2, c1 + c2
        return layers

    def warm(self) -> None:
        """Untimed warm pass; each load call is checked right after it
        ran, in every pass."""
        self.run_pass(False)


# --- tracing hooks ---------------------------------------------------------------


class LoadPathHooks:
    """Spans around the load path's layer calls, installed by rebinding
    the names ``pipeline`` looks up at call time; removed afterwards."""

    def __init__(self, tracer) -> None:
        from pyspark_postgres_loader_spark import pipeline

        self.pipeline, self.tracer = pipeline, tracer
        self.saved = {
            n: getattr(pipeline, n)
            for n in ("get_source_dataframe", "align_to_target", "upsert_dataframe", "INTROSPECTORS")
        }

    def __enter__(self):
        p, tr, s = self.pipeline, self.tracer, self.saved
        p.get_source_dataframe = tr.wrap("sources.get_source_dataframe", s["get_source_dataframe"])
        p.align_to_target = tr.wrap("schema_contract.align_to_target", s["align_to_target"])
        p.upsert_dataframe = tr.wrap("sinks.upsert.upsert_dataframe", s["upsert_dataframe"])
        p.INTROSPECTORS = {
            k: (tr.wrap("introspection.fetch_schema", a), tr.wrap("introspection.fetch_key", b))
            for k, (a, b) in s["INTROSPECTORS"].items()
        }
        return self

    def __exit__(self, *exc) -> None:
        for n, v in self.saved.items():
            setattr(self.pipeline, n, v)


def hook_app_cache(run: Run) -> None:
    """Record every substrate build ``operators.app_cache.app_scoped``
    performs, and whether a timed pass had begun."""
    from pyspark_postgres_loader_spark.operators import app_cache

    inner = app_cache.app_scoped

    def app_scoped(cache, spark, key_tail, build):
        key = (spark.sparkContext.applicationId,) + tuple(key_tail)
        if key in cache:
            return inner(cache, spark, key_tail, build)
        t0 = time.perf_counter()
        try:
            return inner(cache, spark, key_tail, build)
        finally:
            run.app_cache_builds.append(
                ("/".join(map(str, key_tail)), time.perf_counter() - t0, run.timing)
            )

    app_cache.app_scoped = app_scoped


def layer_metrics(run: Run, passes: list[dict], pass_layers: list[dict]) -> dict[str, float]:
    """Per-layer values: each key's median over the traced passes."""
    traced = [(p, layers) for p, layers in zip(passes, pass_layers) if p["traced"]]
    per_pass = []
    for p, layers in traced:
        spans = run.tracer.totals(p["id"])
        v = dict.fromkeys(LAYER_UNITS, 0.0)
        v["sources.read_s"] = spans.get("sources.get_source_dataframe", 0.0)
        v["introspection.fetch_s"] = spans.get("introspection.fetch_schema", 0.0) + spans.get(
            "introspection.fetch_key", 0.0
        )
        v["schema_contract.align_s"] = spans.get("schema_contract.align_to_target", 0.0)
        call = spans.get("sinks.upsert.upsert_dataframe", 0.0)
        v["sinks.upsert.call_s"] = call
        db_s = sum(layers.get(f"db.{k}", 0.0) for k in ("execute_s", "commit_s", "rollback_s", "connect_s"))
        v["sinks.upsert.python_s"] = call - db_s if call else 0.0
        v["sinks.db.execute_n"] = layers.get("db.execute_n", 0.0)
        v["sinks.db.execute_s"] = layers.get("db.execute_s", 0.0)
        v["sinks.db.commit_n"] = layers.get("db.commit_n", 0.0)
        v["sinks.db.rollback_n"] = layers.get("db.rollback_n", 0.0)
        if v["sinks.db.execute_n"]:
            v["sinks.db.rows_per_execute"] = layers.get("db.rows_bound", 0.0) / v["sinks.db.execute_n"]
        v["sinks.upsert.rows_rejected"] = layers.get("sinks.upsert.rows_rejected", 0.0)
        v["load.insert_rows_per_s"] = layers.get("load.insert_rows_per_s", 0.0)
        v["load.update_rows_per_s"] = layers.get("load.update_rows_per_s", 0.0)
        v["registry.build_s"] = spans.get("registry.build", 0.0)
        v["spark.plan_s"] = spans.get("spark.plan", 0.0)
        v["spark.exec_s"] = spans.get("spark.exec", 0.0)
        for k in _SPARK_KEYS:
            v[f"spark.{k}"] = layers.get(f"spark.{k}", 0.0)
        v["spark.utilization"] = v["spark.executor_run_s"] / (p["wall_s"] * run.cores)
        v["python_worker.cpu_s"] = p["worker_cpu_s"]
        v["python_worker.spawn_n"] = p["worker_spawn_n"]
        per_pass.append(v)
    out = {k: statistics.median(v[k] for v in per_pass) for k in LAYER_UNITS}
    out["operators.app_cache.build_s"] = sum(s for _, s, timed in run.app_cache_builds if not timed)
    out["operators.app_cache.timed_builds_n"] = float(
        sum(1 for *_, timed in run.app_cache_builds if timed)
    )
    out["failed_share"] = run.failed / max(1, run.attempted)
    untraced = [p["wall_s"] for p in passes if not p["traced"]]
    out["trace.overhead_s"] = statistics.median(p["wall_s"] for p, _ in traced) - statistics.median(
        untraced
    )
    return out


# --- running a workload ----------------------------------------------------------


def _start_spark(run_dir: str, cores: int):
    from pyspark_postgres_loader_spark import session

    return session.get_spark(
        app_name="perfbench",
        master=f"local[{cores}]",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(run_dir, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        },
    )


def _machine_calib_s() -> float:
    """Median seconds of a fixed single-threaded Python loop: how fast
    the shared machine is right now, recorded next to each run's
    figures so a drift of the machine can be told from a change."""
    def loop() -> float:
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i * i % 7
        return time.perf_counter() - t0

    return statistics.median(loop() for _ in range(3))


def _stop_spark(spark) -> None:
    """Stop Spark, end the JVM (it exits when its stdin closes) and wait
    until every process this one started has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
            proc = getattr(gateway, "proc", None)
            if proc is not None:
                proc.stdin.close()
                try:
                    proc.wait(timeout=30)
                except Exception:  # noqa: BLE001 — fall through to the kill below
                    proc.kill()
                    proc.wait()
        deadline = time.monotonic() + 20
        while True:
            others = [p for p in procstat.tree() if p != os.getpid()]
            if not others:
                break
            if time.monotonic() > deadline:
                for pid in others:
                    try:
                        os.kill(pid, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
            try:  # reap direct children
                while os.waitpid(-1, os.WNOHANG)[0]:
                    pass
            except ChildProcessError:
                pass
            time.sleep(0.05)


def measure(run: Run, workload, n_passes: int) -> tuple[list[dict], list[dict]]:
    """Time ``n_passes`` passes. A traced run makes at least four, in
    untraced-traced-traced-untraced order, so the JVM's warm-up trend
    does not bias the traced-minus-untraced overhead."""
    passes, pass_layers = [], []
    if run.traced:
        n_passes = max(4, n_passes + n_passes % 2)
    for i in range(n_passes):
        if time.perf_counter() - PROCESS_START > WALL_LIMIT_S and len(passes) >= MIN_PASSES:
            break
        traced = run.traced and i % 4 in (1, 2)
        sampler = procstat.PeakSampler(interval_s=0.02, watch_workers=True) if traced else None
        if traced:
            run.tracer.pass_id = i
            before_workers = procstat.python_workers()
            sampler.start()
        cpu0 = procstat.tree_cpu_s()
        t0 = time.perf_counter()
        with LoadPathHooks(run.tracer) if traced else contextlib.nullcontext():
            with run.tracer.span("pass") if traced else contextlib.nullcontext():
                layers = workload.run_pass(traced)
        wall = time.perf_counter() - t0
        cpu = procstat.tree_cpu_s() - cpu0
        rec = {"id": i, "traced": traced, "wall_s": layers.pop("_wall", wall),
               "cpu_s": layers.pop("_cpu", cpu),
               "query_s": {k[7:]: layers.pop(k) for k in list(layers) if k.startswith("_query.")}}
        if traced:
            sampler.stop()
            after_workers = procstat.python_workers()
            # a worker that exited was reaped by the daemon, which now
            # carries its CPU time in cutime/cstime
            rec["worker_cpu_s"] = sum(after_workers.values()) - sum(before_workers.values())
            rec["worker_spawn_n"] = len(sampler.worker_pids - set(before_workers))
            run.tracer.pass_id = None
        passes.append(rec)
        pass_layers.append(layers)
    return passes, pass_layers


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=16)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # SIGTERM unwinds like an exception, so the JVM and workers still stop
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        import pyspark_postgres_loader_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the engine package is not importable here: {exc}", file=sys.stderr)
        return 2

    import datagen

    run_dir = os.path.join(ROOT, ".perfbench_run", str(os.getpid()))
    out_dir = os.path.join(ROOT, ".perfbench_out")
    for sub in ("tmp", "spark-local"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.makedirs(out_dir, exist_ok=True)
    # Python workers import the engine and perfbench/ modules; they and
    # the JVM inherit this environment, so all scratch stays in run_dir.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT, HERE] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["TMPDIR"] = os.path.join(run_dir, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_dir, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "2g")

    spark = None
    rss = procstat.PeakSampler(interval_s=0.1)
    try:
        sf_dir = datagen.ensure(os.path.join(ROOT, ".perfbench_data"), SF)
        run = Run(args, run_dir, sf_dir)
        os.environ["SPARK_GRAFT_CPUS"] = str(run.cores)
        if run.traced:
            from spans import Tracer

            run.tracer = Tracer()
        spark = run.spark = _start_spark(run_dir, run.cores)
        if run.traced:
            hook_app_cache(run)
        if args.workload == "load_upsert":
            workload = LoadWorkload(run)
        else:
            workload = QueryWorkload(run, QUERY_WORKLOADS[args.workload])
        workload.warm()
        run.timing = True
        setup_s = time.perf_counter() - PROCESS_START - run.check_s
        rss.start()
        steal0 = procstat.cpu_steal()
        passes, layers = measure(
            run, workload, max(MIN_PASSES, round(args.seconds / NOMINAL_PASS_S[args.workload]))
        )
        steal = procstat.cpu_steal(steal0)
        rss.stop()
        calib = _machine_calib_s()
    except Exception:  # noqa: BLE001 — report and exit non-zero without a result
        traceback.print_exc()
        return 1
    finally:
        rss.stop()
        try:
            if spark is not None:
                _stop_spark(spark)
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    timed = [p for p in passes if not p["traced"]]
    e2e = {
        "setup_s": setup_s,
        "pass_s": statistics.median(p["wall_s"] for p in timed),
        "pass_cpu_s": statistics.median(p["cpu_s"] for p in timed),
        "peak_rss_mb": rss.peak_mb,
    }
    if run.traced:
        values, units = layer_metrics(run, passes, layers), LAYER_UNITS
    else:
        values, units = e2e, E2E_UNITS
    detail = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cores": run.cores, "sf": SF,
        "end_to_end": e2e, "passes": passes, "pass_max_s": max(p["wall_s"] for p in timed),
        "app_cache_builds": run.app_cache_builds, "failures": run.failures,
        "machine_steal_share": steal, "machine_calib_s": calib,
    }
    if run.traced:
        detail["per_layer"] = values
        run.tracer.write(
            os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace.json"), detail
        )
    else:
        with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(detail, f, indent=1)
    for k, v in values.items():
        print(f"perfbench: {args.workload} {k} = {v:.6g} {units[k]}", file=sys.stderr)
    print(
        json.dumps(
            {
                "correct": run.failed == 0,
                "attempted": run.attempted,
                "failed": run.failed,
                "metrics": {k: {"value": v, "unit": units[k]} for k, v in values.items()},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
