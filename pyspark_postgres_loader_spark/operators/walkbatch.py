"""One ``mapInPandas`` generator for every per-document decode walk.

A decode walk maps the ``doc_id`` column to one row of facts per
document: fabricate the document's payload, decode it with our own
decoder, reduce the result to integers. Each walk supplies only

- ``key(doc_id)`` — the memo key. Fixtures are group-deterministic (a
  payload is a pure function of its group and fault flags), so each
  distinct payload is decoded once per memo: a pure-Python decode paid
  per row for a few dozen distinct payloads verifies nothing extra. A
  real corpus has per-document payloads and pays per-document decode;
  batching and verdicts are the same;
- ``facts(doc_id)`` — the row tail after ``doc_id``, starting with the
  status (a walk may succeed with statuses other than ``decoded``);
- one DDL ``schema`` string starting ``doc_id long, status string``.

This module owns the rest: the batch loop, the pandas column names and
dtypes (derived from the DDL), the typed failure verdicts and the
zero-filled failure row, and the memo.

Imports only the stdlib and pandas at top level: Python workers import
it to unpickle every walk.
"""

from __future__ import annotations

from typing import Callable, Hashable, Iterator

import pandas as pd

_DTYPES = {"long": "int64", "int": "int32", "double": "float64"}

# walk name -> worker-lifetime memo. Reached only through ``_memo`` (a
# module function, pickled by reference): a dict captured by the pickled
# generator would arrive on the worker as a fresh by-value copy per task.
_WORKER_MEMOS: dict[str, dict] = {}


def _memo(name: str) -> dict:
    return _WORKER_MEMOS.setdefault(name, {})


def _verdict(exc: Exception, value_errors: tuple[tuple[str, str], ...]) -> str:
    """The typed fault verdict: ``unsupported`` for a feature the decoder
    declines, the status of the first ``value_errors`` token found in a
    ``ValueError`` message (e.g. ``("CRC", "crc_error")``), otherwise
    ``corrupt``."""
    if isinstance(exc, NotImplementedError):
        return "unsupported"
    if isinstance(exc, ValueError):
        msg = str(exc)
        for token, status in value_errors:
            if token in msg:
                return status
    return "corrupt"


def decode_walk(
    df,
    name: str,
    key: Callable[[int], Hashable],
    facts: Callable[[int], tuple],
    schema: str,
    *,
    value_errors: tuple[tuple[str, str], ...] = (),
    worker_memo: bool = False,
):
    """``df.mapInPandas`` over ``df``'s ``doc_id`` column, one
    ``(doc_id,) + facts(doc_id)`` row per document, ``facts`` called once
    per distinct ``key`` per memo. A raising ``facts`` yields
    ``(verdict,)`` followed by zeros (``""`` for string columns).

    The memo is fresh per partition iterator unless ``worker_memo``, which
    keeps it for the Python worker's lifetime — right when one worker
    serves many small partitions of the same few keys (e.g. after a
    ``repartition``), so later tasks skip the decode entirely.

    ``name`` names the generator, so plans show ``MapInPandas name(...)``.
    """
    fields = [f.split() for f in schema.split(",")]
    columns = [c for c, _t in fields]
    if columns[:2] != ["doc_id", "status"]:
        raise ValueError(f"{name}: schema must start 'doc_id, status'")
    dtypes = {c: _DTYPES[t] for c, t in fields if t in _DTYPES}
    zeros = tuple("" if t == "string" else 0 for _c, t in fields[2:])

    def batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo = _memo(name) if worker_memo else {}

        def get(doc_id: int) -> tuple:
            k = key(doc_id)
            row = memo.get(k)
            if row is None:
                try:
                    row = facts(doc_id)
                except Exception as exc:  # noqa: BLE001 — quarantine verdict
                    row = (_verdict(exc, value_errors),) + zeros
                memo[k] = row
            return row

        for pdf in it:
            if pdf.empty:
                continue
            rows = [(int(d),) + get(int(d)) for d in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=columns).astype(dtypes)

    batches.__name__ = batches.__qualname__ = name
    return df.mapInPandas(batches, schema)
