"""Property tests for the sink's bisection-quarantine core
(`sinks.upsert._batch_and_upsert`) — driven as a plain Python iterator
consumer, no Spark session: for ANY poison pattern, batch size, and
chunk form (executemany, multi-row VALUES, Arrow relation; savepoint
vs commit-per-chunk), the accounting invariants and final DB state hold.

The e2e tests pick a handful of poison layouts; these cover the space:
poison at batch boundaries, all-poison batches (early abort), empty
input, batch_size 1 (degenerate bisection), adjacent poison runs, and
intra-batch duplicate keys (last-wins dedup and the rejected-winner
replay of the single-statement forms).
"""

from __future__ import annotations

import dataclasses
import functools
import os
import uuid

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql.types import LongType, StructField, StructType

from pyspark_postgres_loader_spark.sinks.sql_builder import (
    DUCKDB,
    EXECUTEMANY,
    POSTGRES,
)
from pyspark_postgres_loader_spark.sinks.upsert import (
    _RELATION,
    _batch_and_upsert,
    _dedup_key_indices,
    chunk_writer,
    execute_batch_with_quarantine,
)

from tests import fake_pg

_SCHEMA = StructType(
    [StructField("id", LongType()), StructField("qty", LongType())]
)
_DDL = "CREATE TABLE t (id BIGINT PRIMARY KEY, qty BIGINT NOT NULL CHECK (qty >= 0))"

# mode -> (dialect, target): executemany and multi-row VALUES on fake-pg
# (savepoints), the Arrow relation on a DuckDB file (commit-per-chunk)
_MODES = {
    "executemany": (dataclasses.replace(POSTGRES, chunk_form=EXECUTEMANY), "pg"),
    "values": (POSTGRES, "pg"),
    "arrow": (DUCKDB, "duckdb"),
}
modes = st.sampled_from(sorted(_MODES))


def _duckdb_connect(path: str):
    return duckdb.connect(path)


def _run(tmpdir: str, rows, batch_size: int, mode: str):
    """Drive the per-partition consumer exactly as the Spark task does,
    against a fresh database. Poison = negative qty (CHECK constraint).
    Returns (stats tuple, final {id: qty} in the DB)."""
    dialect, target = _MODES[mode]
    if target == "pg":
        path = os.path.join(tmpdir, f"pg-{uuid.uuid4().hex}.db")
        factory = functools.partial(fake_pg.connect, path)
    else:
        path = os.path.join(tmpdir, f"t-{uuid.uuid4().hex}.duckdb")
        factory = functools.partial(_duckdb_connect, path)
    conn = factory()
    conn.cursor().execute(_DDL)
    conn.commit()
    conn.close()

    (out,) = list(
        _batch_and_upsert(
            rows,
            factory,
            chunk_writer(_SCHEMA, "t", ["id"], dialect=dialect),
            batch_size,
            use_savepoint=dialect.supports_savepoint,
            key_indices=_dedup_key_indices(["id", "qty"], ["id"], dialect),
        )
    )
    seen, loaded, rejected, messages, aborted, truncated = out
    conn = factory()
    cur = conn.cursor()
    cur = getattr(cur, "_cur", cur)  # fake-pg: read the SQLite cursor
    state = dict(cur.execute("SELECT id, qty FROM t").fetchall())
    conn.close()
    return (seen, loaded, rejected, aborted), state


def _model(rows, batch_size: int, dedup: bool):
    """The sink's documented semantics, replayed in plain Python:
    executemany applies rows in turn; the single-statement forms send
    each batch's last occurrence per key, credit superseded occurrences
    of a loaded winner as loaded, and replay those of a rejected winner
    one by one. A full batch with nothing loaded aborts the partition."""
    state: dict[int, int] = {}
    seen = loaded = rejected = 0
    for start in range(0, len(rows), batch_size):
        batch = rows[start:start + batch_size]
        seen += len(batch)
        applied = credited = r = 0
        if dedup:
            last = {k: i for i, (k, _) in enumerate(batch)}
            for k, i in last.items():
                occurrences = [q for kk, q in batch if kk == k]
                if batch[i][1] >= 0:
                    state[k] = batch[i][1]
                    applied += 1
                    credited += len(occurrences) - 1
                    continue
                r += 1
                for q in occurrences[:-1]:
                    if q >= 0:
                        state[k] = q
                        applied += 1
                    else:
                        r += 1
        else:
            for k, q in batch:
                if q >= 0:
                    state[k] = q
                    applied += 1
                else:
                    r += 1
        loaded += applied + credited
        rejected += r
        if len(batch) == batch_size and applied == 0 and r > 0:
            return (seen, loaded, rejected, True), state
    return (seen, loaded, rejected, False), state


@given(
    poison=st.lists(st.booleans(), min_size=0, max_size=60),
    batch_size=st.integers(1, 16),
    mode=modes,
)
@settings(max_examples=90, deadline=None)
def test_quarantine_invariants_for_any_poison_pattern(
    tmp_path_factory, poison, batch_size, mode
):
    rows = [(i, -1 if bad else i) for i, bad in enumerate(poison)]
    (seen, loaded, rejected, aborted), state = _run(
        str(tmp_path_factory.mktemp("sq")), rows, batch_size, mode
    )
    db_ids = sorted(state)
    n_poison = sum(poison)

    if not aborted:
        # full accounting: every row seen, each either loaded or rejected
        assert seen == len(rows)
        assert loaded + rejected == seen
        assert rejected == n_poison
        # the database holds exactly the clean rows
        assert db_ids == [i for i, bad in enumerate(poison) if not bad]
    else:
        # early abort fires only after a WHOLE batch was rejected
        # row-by-row; everything processed up to that point still obeys
        # loaded + rejected == seen, and nothing loaded is poison
        assert loaded + rejected == seen <= len(rows)
        assert rejected >= batch_size  # at least the aborting batch
        assert set(db_ids) <= {i for i, bad in enumerate(poison) if not bad}

    # loaded rows are in the DB in both cases
    assert loaded == len(db_ids)


@given(batch_size=st.integers(1, 8), mode=modes)
@settings(max_examples=20, deadline=None)
def test_all_poison_aborts_partition(tmp_path_factory, batch_size, mode):
    rows = [(i, -1) for i in range(batch_size * 3)]
    (seen, loaded, rejected, aborted), state = _run(
        str(tmp_path_factory.mktemp("sq")), rows, batch_size, mode
    )
    assert aborted  # first full batch rejected row-by-row → stop early
    assert loaded == 0 and state == {}
    assert seen == batch_size  # stopped after the first batch
    assert rejected == batch_size


@given(mode=modes)
@settings(max_examples=10, deadline=None)
def test_empty_partition_never_connects(tmp_path_factory, mode):
    tmpdir = str(tmp_path_factory.mktemp("sq"))
    (seen, loaded, rejected, aborted), state = _run(tmpdir, [], 5, mode)
    assert (seen, loaded, rejected, aborted) == (0, 0, 0, False)


@given(
    rows=st.lists(
        st.tuples(st.integers(0, 5), st.integers(-2, 9)), min_size=0, max_size=40
    ),
    batch_size=st.integers(1, 16),
    mode=modes,
)
@settings(max_examples=90, deadline=None)
def test_intra_batch_duplicate_keys_match_model(
    tmp_path_factory, rows, batch_size, mode
):
    """Few keys, so batches repeat keys; qty < 0 is poison. Stats and
    the final table equal the documented semantics of the chunk form,
    and every seen row is either loaded or rejected."""
    dialect, _ = _MODES[mode]
    got = _run(str(tmp_path_factory.mktemp("sq")), rows, batch_size, mode)
    assert got == _model(rows, batch_size, dedup=dialect.chunk_form != EXECUTEMANY)
    seen, loaded, rejected, _ = got[0]
    assert loaded + rejected == seen


def test_arrow_chunk_leaves_no_registered_relation(tmp_path):
    """The Arrow form's relation is unregistered after a chunk that
    loads, one that fails in the database (then bisects), and one that
    fails converting to Arrow before anything is registered."""
    conn = duckdb.connect(str(tmp_path / "r.duckdb"))
    cur = conn.cursor()
    cur.execute(_DDL)
    write_chunk = chunk_writer(_SCHEMA, "t", ["id"], dialect=DUCKDB)
    messages: list[str] = []
    results = []
    for batch in ([(1, 1), (2, 2)], [(3, 3), (4, -1)], [(5, 2**70)]):
        results.append(execute_batch_with_quarantine(
            cur, write_chunk, batch, messages, conn=conn, use_savepoint=False
        ))
        with pytest.raises(duckdb.CatalogException):
            cur.execute(f"SELECT * FROM {_RELATION}")
    assert results == [(2, 0, 0), (1, 1, 0), (0, 1, 0)]
    assert cur.execute("SELECT id, qty FROM t ORDER BY id").fetchall() == [
        (1, 1), (2, 2), (3, 3)
    ]
    conn.close()
