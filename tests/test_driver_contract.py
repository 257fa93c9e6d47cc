"""Driver-contract invariants: __spark_entry__ surface shape and the
registry's derived driver-facing ordering (the round driver records
correctness for a bounded prefix of queries(), so the order IS part of
the contract)."""

from __future__ import annotations

import shutil
from pathlib import Path

import pytest

import __spark_entry__ as E
from pyspark_postgres_loader_spark import registry
from pyspark_postgres_loader_spark.registry import (
    _TOUCHED,
    QUERIES,
    _ensure_loaded,
    driver_order,
    last_checked,
)

ROOT = Path(__file__).resolve().parents[1]
WINDOW = 50  # rows the driver checks per round (CORRECTNESS_r04/r05)


def test_queries_and_oracles_align():
    qs, oracles = E.queries(), E.oracle_sql()
    assert set(oracles) <= set(qs)
    # round-2 invariant: every registered query is oracle-checked
    assert set(oracles) == set(qs)
    assert all(isinstance(sql, str) and "SELECT" in sql.upper() for sql in oracles.values())


def test_driver_order_on_synthetic_ledger():
    last = {"a": 3, "b": 1, "c": 5, "d": 5, "e": 2, "x": 5}
    # c, h live (last < round); e and d expired (last >= round)
    touched = {"c": 6, "h": 6, "e": 2, "d": 4}
    names = ["a", "b", "c", "d", "e", "f", "g", "h", "x"]
    assert driver_order(names, last, touched) == [
        "h", "c",  # live touched, by (last, name)
        "f", "g",  # never checked: round 0, ties by name
        "b", "e", "a", "d", "x",  # stalest first; d ties x by name
    ]


def test_ledger_reads_newest_round_per_query(tmp_path):
    (tmp_path / "CORRECTNESS_r02.json").write_text('{"a": {}, "b": {}}')
    (tmp_path / "CORRECTNESS_r10.json").write_text('{"a": {}}')
    (tmp_path / "CORRECTNESS_r9.json").write_text('{"b": {}, "c": {}}')
    (tmp_path / "CORRECTNESS_r11_c8.json").write_text('{"z": {}}')
    assert last_checked(tmp_path) == {"a": 10, "b": 9, "c": 9}


def test_window_leads_with_touched_then_stalest():
    _ensure_loaded()
    names = list(QUERIES)
    window = names[:WINDOW]
    last = last_checked(ROOT)
    live = {n for n, r in _TOUCHED.items() if last.get(n, 0) < r}
    assert set(window[: len(live)]) == live
    # the driver does not re-check its newest greens unless touched
    newest = max(last.values())
    assert {n for n in window if last.get(n) == newest} <= live
    # past the touched names the window is the stalest of the rest
    rest_last = [last.get(n, 0) for n in names[len(live):]]
    assert rest_last == sorted(rest_last)
    # every query that has never received a driver correctness row
    # sits in the window
    never_checked = [n for n in names if n not in last]
    assert not [n for n in never_checked if n not in window]


def test_round17_window_split(tmp_path):
    """Derived from the r01..r16 ledgers with the round-17 touched set:
    the touched names lead the window, and past them the window holds
    the stalest of the rest — no name outside it was checked earlier
    than a name inside it."""
    _ensure_loaded()
    for n in range(1, 17):
        shutil.copy(ROOT / f"CORRECTNESS_r{n:02d}.json", tmp_path)
    last = last_checked(tmp_path)
    r17 = {n for n, r in _TOUCHED.items() if r == 17}
    window = driver_order(QUERIES, last, dict.fromkeys(r17, 17))[:WINDOW]
    assert set(window[: len(r17)]) == r17
    outside = set(QUERIES) - set(window)
    assert max(last.get(n, 0) for n in window[len(r17):]) <= min(
        last.get(n, 0) for n in outside
    )


def test_touched_names_are_registered(monkeypatch):
    _ensure_loaded()
    assert set(_TOUCHED) <= set(QUERIES)
    monkeypatch.setattr(registry, "_LOADED", False)
    monkeypatch.setattr(registry, "_TOUCHED", {"no_such_query": 99})
    with pytest.raises(RuntimeError, match="no_such_query"):
        _ensure_loaded()


def test_entry_smoke(spark):
    rows = E.entry(spark).collect()
    assert len(rows) > 0
    assert {"l_returnflag", "l_linestatus"} <= set(rows[0].asDict())
