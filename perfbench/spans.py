"""In-memory spans for the traced run, and Spark status-store readouts.

Spans are recorded by the benchmark around calls into the engine's
public functions; nothing inside the engine is instrumented. Each span
has a name, start, end, its parent span and the pass it belongs to.
They stay in memory and are written once, when the run ends.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.pass_id: int | None = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "pass": self.pass_id,
            "start": time.perf_counter(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def totals(self, pass_id: int) -> dict[str, float]:
        """Summed span seconds by name within one pass."""
        out: dict[str, float] = {}
        for s in self.spans:
            if s["pass"] == pass_id:
                out[s["name"]] = out.get(s["name"], 0.0) + s["end"] - s["start"]
        return out

    def write(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1, default=str)


_STAGE_FIELDS = {
    "executor_run_s": lambda st: st.executorRunTime() / 1000.0,
    "jvm_gc_s": lambda st: st.jvmGcTime() / 1000.0,
    "shuffle_read_bytes": lambda st: st.shuffleReadBytes(),
    "shuffle_write_bytes": lambda st: st.shuffleWriteBytes(),
    "spill_bytes": lambda st: st.memoryBytesSpilled() + st.diskBytesSpilled(),
    "tasks_n": lambda st: st.numTasks(),
}


def job_group_metrics(sc, group: str) -> dict[str, float]:
    """Jobs, stages, tasks, run time, GC, shuffle and spill of every
    job Spark ran under ``group``, read from its status store."""
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # stage ends are delivered asynchronously
    store = jsc.statusStore()
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stage_ids: set[int] = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stage_ids.update(info.stageIds)
    out = dict.fromkeys(["jobs_n", "stages_n", *_STAGE_FIELDS], 0.0)
    out["jobs_n"] = float(len(jobs))
    for sid in stage_ids:
        try:
            st = store.lastStageAttempt(sid)
        except Py4JJavaError:  # stage never submitted (skipped)
            continue
        if st.status().toString() == "SKIPPED":
            continue
        out["stages_n"] += 1
        for key, get in _STAGE_FIELDS.items():
            out[key] += get(st)
    return out
