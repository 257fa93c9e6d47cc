"""DuckDB connection factory for the load workload, with an optional
counting/timing DBAPI proxy.

The factory is a module-level class so that Spark can pickle it into
the sink's executor closure. The engine's own
``cli.make_file_db_connection_factory("duckdb", path)`` cannot be used
here: it returns ``functools.partial(duckdb.connect, path)``, which
fails to pickle (``cannot pickle 'PyCapsule' object``). That defect is
known and left unfixed by the benchmark (see perfbench/README.md).

With ``counter_dir`` set, every connection counts and times its
statements, commits and rollbacks, and writes the totals to one JSON
file in ``counter_dir`` when it closes. Executors run in other
processes, so files are how the counts reach the Spark driver process.
"""

from __future__ import annotations

import json
import os
import re
import time
import uuid

_INSERT_COLS = re.compile(r"^\s*INSERT\s+INTO\s+\S+\s*\(([^)]*)\)", re.IGNORECASE)


def _rows_bound(sql: str, params) -> int:
    """Rows a statement carries: flattened multi-row VALUES params
    divided by the INSERT's column count; 0 for other statements."""
    m = _INSERT_COLS.match(sql)
    if not m or not params:
        return 0
    return len(params) // (m.group(1).count(",") + 1)


class _Counts:
    def __init__(self) -> None:
        self.c = {
            "execute_n": 0,
            "execute_s": 0.0,
            "rows_bound": 0,
            "commit_n": 0,
            "commit_s": 0.0,
            "rollback_n": 0,
            "rollback_s": 0.0,
            "connect_s": 0.0,
            "failed_execute_n": 0,
        }

    def timed(self, kind: str, fn, *args):
        t0 = time.perf_counter()
        try:
            return fn(*args)
        except Exception:
            if kind == "execute":
                self.c["failed_execute_n"] += 1
            raise
        finally:
            self.c[f"{kind}_s"] += time.perf_counter() - t0
            self.c[f"{kind}_n"] += 1


class CountingCursor:
    def __init__(self, cur, counts: _Counts) -> None:
        self._cur, self._counts = cur, counts

    def execute(self, sql, params=None):
        self._counts.c["rows_bound"] += _rows_bound(sql, params)
        args = (sql,) if params is None else (sql, params)
        return self._counts.timed("execute", self._cur.execute, *args)

    def executemany(self, sql, seq):
        seq = list(seq)
        self._counts.c["rows_bound"] += len(seq)
        return self._counts.timed("execute", self._cur.executemany, sql, seq)

    def __getattr__(self, name):
        return getattr(self._cur, name)


class CountingConnection:
    def __init__(self, conn, counts: _Counts, out_dir: str) -> None:
        self._conn, self._counts, self._out_dir = conn, counts, out_dir

    def cursor(self):
        return CountingCursor(self._conn.cursor(), self._counts)

    def commit(self):
        return self._counts.timed("commit", self._conn.commit)

    def rollback(self):
        return self._counts.timed("rollback", self._conn.rollback)

    def close(self):
        self._conn.close()
        path = os.path.join(self._out_dir, f"{os.getpid()}-{uuid.uuid4().hex}.json")
        with open(path + ".tmp", "w") as f:
            json.dump(self._counts.c, f)
        os.replace(path + ".tmp", path)

    def __getattr__(self, name):
        return getattr(self._conn, name)


class DuckDBFactory:
    """Picklable zero-argument connection factory for a DuckDB file."""

    def __init__(self, path: str, counter_dir: str | None = None) -> None:
        self.path, self.counter_dir = path, counter_dir

    def __call__(self):
        import duckdb

        # one DuckDB thread: the stand-in target must not compete with
        # Spark's task threads for the cores, and tiny multi-threaded
        # statements make the load's timing jittery
        config = {"threads": 1}
        if self.counter_dir is None:
            return duckdb.connect(self.path, config=config)
        counts = _Counts()
        t0 = time.perf_counter()
        conn = duckdb.connect(self.path, config=config)
        counts.c["connect_s"] += time.perf_counter() - t0
        return CountingConnection(conn, counts, self.counter_dir)


def drain_counts(counter_dir: str) -> dict[str, float]:
    """Sum and delete every counter file written so far."""
    total: dict[str, float] = {}
    for name in os.listdir(counter_dir):
        if not name.endswith(".json"):
            continue
        path = os.path.join(counter_dir, name)
        with open(path) as f:
            for k, v in json.load(f).items():
                total[k] = total.get(k, 0) + v
        os.remove(path)
    return total
