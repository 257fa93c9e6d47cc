"""Bench output contract: the driver captures EXACTLY 2000 chars of
stdout tail and parses the last line as JSON. Rounds 3 AND 4 both
overflowed that window (r4 budgeted 2200 on a wrong ~3000 assumption)
and were recorded as ``parsed: null`` — these tests pin the 1800-char
budget as a LITERAL so a bad constant can't self-certify."""

from __future__ import annotations

import importlib.util
import json
from types import SimpleNamespace

_spec = importlib.util.spec_from_file_location("bench", "bench.py")
bench = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(bench)


def test_compact_line_fits_capture_window():
    # worst case: every registered query present with a long name
    timings = {f"some_rather_long_query_name_{i:04d}": i * 0.123 for i in range(200)}
    line = bench._compact_line(99.9, timings, 0.1)
    # LITERAL bound: the driver tail is exactly 2000 chars; 1800 leaves
    # headroom. Do not replace with `<= bench._LINE_BUDGET` — r4's test
    # did that and let a too-large constant (2200) pass itself.
    assert len(line) <= 1800
    assert bench._LINE_BUDGET <= 1800

    parsed = json.loads(line)
    assert parsed["metric"] == "headline_queries_total_wall"
    assert parsed["value"] == 99.9
    assert parsed["n_queries"] == 200
    assert parsed["queries_elided"] + len(parsed["queries"]) == 200
    # slowest-first retention: every kept entry >= every elided one
    kept = set(parsed["queries"])
    kept_min = min(parsed["queries"].values())
    elided_max = max(
        (t for n, t in timings.items() if n not in kept), default=float("-inf")
    )
    assert kept_min >= round(elided_max, 2) - 0.01


def test_compact_line_small_set_keeps_everything():
    timings = {"q1": 1.5, "q2": 0.25}
    parsed = json.loads(bench._compact_line(1.75, timings, 0.01))
    assert parsed["queries"] == {"q1": 1.5, "q2": 0.25}
    assert parsed["queries_elided"] == 0


def test_compact_line_reports_error_count():
    line = bench._compact_line(1.0, {"q": 1.0}, 0.1, n_errors=3)
    assert json.loads(line)["n_errors"] == 3
    assert len(line) <= 1800


def test_compact_line_budget_holds_for_any_timings():
    """Property: whatever the registry grows into (many queries, long
    names, large/odd durations), the stdout line stays parseable and
    under the 1800-char capture budget."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    name = st.text(
        alphabet="abcdefghijklmnopqrstuvwxyz_", min_size=1, max_size=60
    )
    timings = st.dictionaries(
        name, st.floats(0, 1e6, allow_nan=False), min_size=0, max_size=400
    )

    @settings(max_examples=200, deadline=None)
    @given(timings=timings, total=st.floats(0, 1e9, allow_nan=False), n_err=st.integers(0, 999))
    def check(timings, total, n_err):
        line = bench._compact_line(round(total, 3), timings, 0.1, n_err)
        assert len(line) <= 1800
        parsed = json.loads(line)
        assert parsed["n_queries"] == len(timings)
        assert parsed["n_errors"] == n_err
        assert parsed["queries_elided"] == len(timings) - len(parsed["queries"])

    check()


def test_compact_line_carries_pass_variance():
    line = bench._compact_line(3.0, {"q": 1.0}, 0.1, 0, [3.2, 3.0, 3.1])
    parsed = json.loads(line)
    assert parsed["passes"] == 3
    assert parsed["pass_totals_sec"] == [3.2, 3.0, 3.1]
    assert abs(parsed["spread_sec"] - 0.2) < 1e-9
    assert len(line) <= 1800


def test_compact_line_budget_holds_with_pass_totals():
    timings = {f"some_rather_long_query_name_{i:04d}": i * 0.123 for i in range(200)}
    line = bench._compact_line(99.9, timings, 0.1, 5, [123456.789] * 3)
    assert len(line) <= 1800
    parsed = json.loads(line)
    assert parsed["queries_elided"] + len(parsed["queries"]) == 200


class _Clock:
    """Fake ``time`` module: ``run_one`` advances it by a scripted
    duration, so ``_time_passes`` is tested without Spark or sleeps."""

    def __init__(self):
        self.now = 0.0

    def perf_counter(self):
        return self.now


def _scripted(monkeypatch, durations):
    """→ (run_one, calls): each call pops the name's next duration; a
    duration of ``None`` raises instead."""
    clock = _Clock()
    monkeypatch.setattr(bench, "time", clock)
    calls = []

    def run_one(name):
        calls.append(name)
        d = durations[name].pop(0)
        if d is None:
            raise ValueError(f"{name} broke")
        clock.now += d

    return run_one, calls


def test_time_passes_records_min_of_every_pass(monkeypatch):
    run_one, calls = _scripted(
        monkeypatch, {"a": [3.0, 1.0, 2.0], "b": [0.5, 0.7, 0.25]}
    )
    timings, errors, totals = bench._time_passes(run_one, ["a", "b"], 3)
    assert timings == {"a": 1.0, "b": 0.25}
    assert errors == {}
    assert totals == [3.5, 1.7, 2.25]
    # pass order: every name once per pass, in the given order
    assert calls == ["a", "b"] * 3


def test_time_passes_drops_a_failing_name_for_good(monkeypatch):
    run_one, calls = _scripted(
        monkeypatch,
        {"a": [1.0, 1.0, 1.0], "bad": [2.0, None], "c": [0.5, 0.5, 0.5]},
    )
    timings, errors, totals = bench._time_passes(
        run_one, ["a", "bad", "c"], 3
    )
    # recorded once, never re-run after it raised, no timing kept
    assert list(errors) == ["bad"]
    assert errors["bad"] == "ValueError: bad broke"
    assert calls.count("bad") == 2
    assert "bad" not in timings
    # totals cover only the names that completed every pass: pass 1's
    # 2.0 s for "bad" is not in them
    assert totals == [1.5, 1.5, 1.5]
    assert timings == {"a": 1.0, "c": 0.5}


def test_time_passes_single_pass_is_the_warmup_shape(monkeypatch):
    run_one, _ = _scripted(monkeypatch, {"a": [None], "b": [1.0]})
    timings, errors, totals = bench._time_passes(run_one, ["a", "b"], 1)
    assert set(errors) == {"a"}
    assert timings == {"b": 1.0} and totals == [1.0]


def test_isolated_with_no_names_starts_no_child():
    assert bench._isolated([]) == {}


def test_isolated_child_isolates_a_raising_query(monkeypatch, capsys):
    """One raising query is reported by name; the others are still
    timed min-of-3 with their best pass's phase records (no Spark:
    registry, session and warmup are fakes)."""
    from pyspark_postgres_loader_spark import registry

    phase_log = []
    monkeypatch.setattr(registry, "RUN_LOG", phase_log)
    run_one, calls = _scripted(
        monkeypatch,
        {"a": [9.0, 3.0, 1.0, 2.0], "bad": [None], "c": [9.0, 0.5, 0.5, 0.7]},
    )

    class _Query:  # queries[name](spark, sf).write.format(..).mode(..).save()
        def __init__(self, name):
            self.name, self.write = name, self

        def format(self, _):
            return self

        mode = format

        def save(self):
            run_one(self.name)
            phase_log.append((self.name, calls.count(self.name)))

    queries = {n: (lambda n: lambda spark, sf: _Query(n))(n) for n in ("a", "bad", "c")}
    monkeypatch.setattr(bench, "get_spark", lambda app_name: SimpleNamespace(stop=lambda: None))
    monkeypatch.setattr(bench.registry, "all_queries", lambda: queries)
    monkeypatch.setattr(bench, "_warmup", lambda spark, sf: None)

    bench._isolated_child(["a", "bad", "c"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["a"] == 1.0 and out["c"] == 0.5
    assert out["_errors"] == {"bad": "ValueError: bad broke"}
    assert "bad" not in out
    # phase records of the fastest pass: a's 3rd call, c's 2nd (a tie
    # keeps the first)
    assert out["_attribution"] == {"a": [["a", 3]], "c": [["c", 2]]}
    # warm pass + 3 timed passes for the good names; "bad" ran once
    assert calls.count("a") == 4 and calls.count("bad") == 1


def test_run_noop_returns_only_the_records_of_its_run(monkeypatch):
    """The shared runner saves through the noop sink and returns exactly
    the run-log records appended while the query ran: not the ones
    already in the log, not the ones a later run appends."""
    from pyspark_postgres_loader_spark import registry

    run_log = [{"kind": "stream", "sink": "earlier"}]
    monkeypatch.setattr(registry, "RUN_LOG", run_log)
    saved = []

    class _Query:  # queries[name](spark, sf).write.format(..).mode(..).save()
        def __init__(self, name):
            self.name, self.write = name, self

        def format(self, fmt):
            saved.append(fmt)
            return self

        def mode(self, _):
            return self

        def save(self):
            run_log.append({"kind": "substrate_build", "substrate": self.name})
            run_log.append({"kind": "stream", "sink": self.name})

    queries = {n: (lambda n: lambda spark, sf: _Query(n))(n) for n in ("a", "b")}
    got = bench._run_noop(queries, None, "sf", "a")
    bench._run_noop(queries, None, "sf", "b")
    assert got == [
        {"kind": "substrate_build", "substrate": "a"},
        {"kind": "stream", "sink": "a"},
    ]
    assert saved == ["noop", "noop"]
