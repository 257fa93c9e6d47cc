"""The shared decode-walk generator (``operators.walkbatch``): verdict
classification, DDL-derived dtypes and failure rows, batching, memo
scopes across a pickle round trip, and the generator's plan name."""

from __future__ import annotations

import ast
import pathlib

import pandas as pd
import pytest
from pyspark import cloudpickle

from pyspark_postgres_loader_spark.operators import walkbatch
from pyspark_postgres_loader_spark.operators.walkbatch import decode_walk
from pyspark_postgres_loader_spark.registry import QUERIES, _ensure_loaded

SCHEMA = "doc_id long, status string, n int, total long, ratio double, tag string"
CALLS: list[int] = []  # facts invocations, by doc_id


class _Capture:
    """Stands in for a DataFrame: returns the generator mapInPandas gets."""

    def __init__(self, schema):
        self.schema = schema

    def mapInPandas(self, fn, schema):
        assert schema == self.schema
        return fn


def _key(doc_id: int) -> int:
    return doc_id % 3


def _facts(doc_id: int) -> tuple:
    CALLS.append(doc_id)
    g = doc_id % 3
    if g == 1:
        raise NotImplementedError("feature the decoder declines")
    if g == 2:
        raise ValueError("page CRC mismatch")
    return ("decoded", 7, 2**40, 0.5, "t")


def _raising(exc):
    def facts(doc_id):
        raise exc
    return facts


def _walk(facts=_facts, key=_key, schema=SCHEMA, **kw):
    return decode_walk(_Capture(schema), "_test_batches", key, facts,
                       schema, **kw)


def _run(gen, *batches):
    frames = gen(iter(pd.DataFrame({"doc_id": b}) for b in batches))
    return pd.concat(list(frames), ignore_index=True)


@pytest.fixture(autouse=True)
def _fresh():
    CALLS.clear()
    walkbatch._WORKER_MEMOS.pop("_test_batches", None)
    yield
    walkbatch._WORKER_MEMOS.pop("_test_batches", None)


@pytest.mark.parametrize("exc, status", [
    (NotImplementedError("x"), "unsupported"),
    (ValueError("frame CRC-16 mismatch"), "crc_error"),
    (ValueError("stored CHECKSUM differs"), "crc_error"),
    (ValueError("sync marker mismatch"), "mismatch"),
    (ValueError("truncated header"), "corrupt"),  # token miss
    (KeyError("x"), "corrupt"),
])
def test_verdict_branches(exc, status):
    gen = _walk(_raising(exc), value_errors=(
        ("CRC", "crc_error"), ("CHECKSUM", "crc_error"),
        ("mismatch", "mismatch")))
    out = _run(gen, [5])
    assert out["status"].tolist() == [status]


def test_first_matching_token_wins():
    gen = _walk(_raising(ValueError("sync marker mismatch (CRC)")),
                value_errors=(("mismatch", "mismatch"), ("CRC", "crc_error")))
    assert _run(gen, [1])["status"].tolist() == ["mismatch"]


def test_dtypes_and_failure_row_from_ddl():
    out = _run(_walk(value_errors=(("CRC", "crc_error"),)), [0, 1, 2])
    assert list(out.columns) == ["doc_id", "status", "n", "total", "ratio", "tag"]
    assert dict(out.dtypes.astype(str)) == {
        "doc_id": "int64", "status": "object", "n": "int32",
        "total": "int64", "ratio": "float64", "tag": "object",
    }
    rows = [tuple(r) for r in out.itertuples(index=False)]
    assert rows == [
        (0, "decoded", 7, 2**40, 0.5, "t"),
        (1, "unsupported", 0, 0, 0.0, ""),
        (2, "crc_error", 0, 0, 0.0, ""),
    ]


def test_schema_must_lead_with_doc_id_and_status():
    with pytest.raises(ValueError, match="doc_id, status"):
        _walk(schema="doc_id long, form string, status string")


def test_empty_batches_skipped_and_facts_once_per_key():
    gen = _walk()
    frames = list(gen(iter([
        pd.DataFrame({"doc_id": pd.Series([], dtype="int64")}),
        pd.DataFrame({"doc_id": [0, 3, 6, 1]}),
        pd.DataFrame({"doc_id": pd.Series([], dtype="int64")}),
        pd.DataFrame({"doc_id": [4, 9, 2, 5]}),
    ])))
    assert [len(f) for f in frames] == [4, 4]
    assert sorted(CALLS) == [0, 1, 2]  # one call per key: 0, 1, 2 (mod 3)
    assert frames[1]["doc_id"].tolist() == [4, 9, 2, 5]


def test_worker_memo_survives_pickle_round_trip():
    gen = cloudpickle.loads(cloudpickle.dumps(_walk(worker_memo=True)))
    _run(gen, [0, 1])
    assert sorted(CALLS) == [0, 1]
    # a second task: a fresh unpickled copy, same worker process
    again = cloudpickle.loads(cloudpickle.dumps(_walk(worker_memo=True)))
    _run(again, [3, 4, 2])
    assert sorted(CALLS) == [0, 1, 2]
    assert set(walkbatch._WORKER_MEMOS["_test_batches"]) == {0, 1, 2}


def test_per_iterator_memo_does_not_persist():
    gen = cloudpickle.loads(cloudpickle.dumps(_walk()))
    _run(gen, [0, 3])
    _run(gen, [0, 3])
    assert CALLS == [0, 0]
    assert "_test_batches" not in walkbatch._WORKER_MEMOS


_OPERATORS = (pathlib.Path(__file__).resolve().parent.parent
              / "pyspark_postgres_loader_spark" / "operators")


def test_walk_names_are_unique():
    """Worker-lifetime memos are keyed by walk name."""
    names = []
    for path in sorted(_OPERATORS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if (isinstance(node, ast.Call)
                    and getattr(node.func, "id", None) == "decode_walk"):
                names.append(ast.literal_eval(node.args[1]))
    assert len(names) >= 61
    assert all(n.startswith("_") and n.endswith("_batches") for n in names)
    assert len(names) == len(set(names))


_ensure_loaded()
_BATCH_QUERIES = sorted(n for n in QUERIES if not n.startswith("stream_"))


@pytest.mark.parametrize("name", _BATCH_QUERIES)
def test_map_in_pandas_nodes_are_named(spark, sf_dir, name):
    """Plans name each walk (``MapInPandas _zs_batches(doc_id#..)``), not
    a bare ``partial`` or the helper's inner ``batches``."""
    df = QUERIES[name].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas partial(" not in plan
    assert "MapInPandas batches(" not in plan
