"""Native safetensors walk — the tensor-shard format modern model
weights and embedding dumps actually ship in (HuggingFace hubs store
checkpoints as *.safetensors precisely because the format is
walkable: a bounded JSON index + a flat buffer, no pickle execution).

Implements the public specification natively:

- 8-byte little-endian u64 header length (bounded — the spec's
  100 MB header cap is enforced, so a corrupt length is a typed
  error, never a giant allocation);
- the JSON header: ``{name: {dtype, shape, data_offsets}}`` plus the
  optional ``__metadata__`` string map;
- offset validation per the reference implementation's rules: every
  ``data_offsets`` pair must be non-negative, match the tensor's
  element count × dtype width, and the pairs must tile the byte
  buffer EXACTLY — no gaps, no overlaps, no tail slack (the property
  that makes the format zero-copy mappable);
- value decode for fixed-width numeric dtypes (I8/I16/I32/I64, U8,
  F32/F64, BOOL); F16/BF16 and the FP8 family are the honest typed
  boundary.

Correctness evidence: no safetensors library exists in this
environment, so the fixture assembler is hand-written from the spec
with numpy producing the little-endian tensor bytes (an independent
byte-layout producer), the container layout is pinned by a
known-byte test, and the DuckDB oracle replays the closed-form
tensor-value lattice (the F32 tensor carries small integers, exactly
representable, so its decoded sum is an exact BIGINT both sides).
Typed verdicts, each non-vacuous: buffer truncation ('corrupt'), a
gap opened between two tensors' offsets ('mismatch' — the tiling
check is provably live), an FP8 dtype ('unsupported').

Scale notes (100 TB): Arrow-batched ``mapInPandas``; the header-first
walk is the format's own lazy-loading path (readers map single
tensors by offset without touching the rest — exactly how shard
inspection at fleet scale should behave); integer facts only
re-enter the JVM.

Reference: the safetensors format specification (public); no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_MAX_HEADER = 100_000_000  # the spec's header cap

_WIDTHS = {
    "I8": 1, "U8": 1, "BOOL": 1, "I16": 2, "U16": 2, "F16": 2,
    "BF16": 2, "I32": 4, "U32": 4, "F32": 4, "I64": 8, "U64": 8,
    "F64": 8,
}
_DECODE = {
    "I8": "b", "U8": "B", "BOOL": "B", "I16": "h", "U16": "H",
    "I32": "i", "U32": "I", "I64": "q", "U64": "Q", "F32": "f",
    "F64": "d",
}


def walk_safetensors(data: bytes) -> dict:
    """Walk one safetensors blob → decoded tensors + container facts.
    NotImplementedError for F16/BF16/FP8 dtypes ('unsupported');
    ValueError with 'tile' for offset gaps/overlaps ('mismatch');
    plain ValueError for structural damage ('corrupt')."""
    if len(data) < 8:
        raise ValueError("truncated safetensors length prefix")
    hlen = struct.unpack_from("<Q", data, 0)[0]
    if hlen > _MAX_HEADER:
        raise ValueError("safetensors header exceeds the spec cap")
    if 8 + hlen > len(data):
        raise ValueError("truncated safetensors header")
    try:
        header = json.loads(data[8 : 8 + hlen].decode("utf-8"))
    except (UnicodeDecodeError, json.JSONDecodeError) as exc:
        raise ValueError(f"safetensors header is not JSON ({exc})") from exc
    if not isinstance(header, dict):
        raise ValueError("safetensors header is not an object")
    meta = header.pop("__metadata__", {})
    if not isinstance(meta, dict):
        raise ValueError("__metadata__ is not an object")
    buf = data[8 + hlen :]
    entries = []
    for name, spec in header.items():
        if not isinstance(spec, dict):
            raise ValueError(f"tensor {name!r} spec is not an object")
        dtype = spec.get("dtype")
        shape = spec.get("shape")
        offs = spec.get("data_offsets")
        if (
            not isinstance(dtype, str)
            or not isinstance(shape, list)
            or not isinstance(offs, list)
            or len(offs) != 2
            or not all(isinstance(v, int) and v >= 0 for v in offs)
            or not all(isinstance(v, int) and v >= 0 for v in shape)
        ):
            raise ValueError(f"tensor {name!r} spec is malformed")
        if dtype not in _WIDTHS:
            raise NotImplementedError(f"safetensors dtype {dtype!r}")
        n = 1
        for v in shape:
            n *= v
        start, end = offs
        if end < start or end > len(buf):
            raise ValueError(f"tensor {name!r} offsets out of range")
        if end - start != n * _WIDTHS[dtype]:
            raise ValueError(
                f"tensor {name!r} offsets disagree with shape x dtype"
            )
        entries.append((name, dtype, shape, start, end, n))
    if not entries:
        raise ValueError("safetensors blob holds no tensors")
    # the zero-copy tiling rule: sorted offsets must cover the buffer
    # exactly — gaps and overlaps are both integrity failures
    entries.sort(key=lambda e: e[3])
    pos = 0
    for name, _d, _s, start, end, _n in entries:
        if start != pos:
            raise ValueError(
                f"tensor offsets do not tile the buffer (gap/overlap "
                f"at {name!r})"
            )
        pos = end
    if pos != len(buf):
        raise ValueError("tensor offsets do not tile the buffer (tail)")
    tensors = {}
    for name, dtype, shape, start, end, n in entries:
        if dtype in ("F16", "BF16"):
            raise NotImplementedError(f"safetensors dtype {dtype!r}")
        vals = list(struct.unpack_from(f"<{n}{_DECODE[dtype]}", buf, start))
        tensors[name] = {"dtype": dtype, "shape": shape, "values": vals}
    return {"n_meta": len(meta), "tensors": tensors}


# ------------------------------------------------ fixture assembler


def build_safetensors(
    tensors: list[tuple[str, str, list[int], bytes]],
    metadata: dict[str, str] | None = None,
) -> bytes:
    """Hand-assembled safetensors blob per the public spec:
    (name, dtype, shape, raw little-endian bytes) per tensor, offsets
    assigned contiguously in list order."""
    header: dict = {}
    if metadata:
        header["__metadata__"] = metadata
    buf = bytearray()
    for name, dtype, shape, raw in tensors:
        header[name] = {
            "dtype": dtype,
            "shape": shape,
            "data_offsets": [len(buf), len(buf) + len(raw)],
        }
        buf += raw
    hjson = json.dumps(header, separators=(",", ":")).encode("utf-8")
    return struct.pack("<Q", len(hjson)) + hjson + bytes(buf)


_ST_GROUPS = 9


def _st_tensors(g: int):
    import numpy as np

    n0 = 300 + 17 * g
    r1, c1 = 8 + g, 16 + g
    n2 = 200 + 9 * g
    n3 = 150 + 11 * g
    t0 = np.array([(i * 13 + 7 * g) % 100_000 for i in range(n0)],
                  dtype="<i8")
    t1 = np.array([(i * 5 + 11 * g) % 30_000 for i in range(r1 * c1)],
                  dtype="<i4").reshape(r1, c1)
    t2 = np.array([(i * 3 + g) % 251 for i in range(n2)], dtype="<u1")
    # small integers: exactly representable in f32, so the decoded
    # sum is an exact BIGINT the oracle replays
    t3 = np.array([(i * 7 + 13 * g) % 100 for i in range(n3)],
                  dtype="<f4")
    return [
        ("weights.w0", "I64", [n0], t0.tobytes()),
        ("weights.w1", "I32", [r1, c1], t1.tobytes()),
        ("tokens.mask", "U8", [n2], t2.tobytes()),
        ("emb.scale", "F32", [n3], t3.tobytes()),
    ]


def _st_payload(doc_id: int) -> bytes:
    g = doc_id % _ST_GROUPS
    corrupt = doc_id % 11 == 3
    mismatch = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or mismatch)
    tensors = _st_tensors(g)
    if unsup:
        # an FP8 tensor: honestly unsupported dtype
        tensors = tensors + [("q.fp8", "F8_E4M3", [4], b"\x00" * 4)]
    blob = bytearray(
        build_safetensors(tensors, metadata={"format": "pt",
                                             "group": str(g)})
    )
    if corrupt:
        del blob[-8:]  # buffer now shorter than the declared offsets
    elif mismatch:
        # open a 4-byte gap: shift tensor 3's offsets up in the JSON
        # header (the buffer untouched) — the tiling check must fire
        hlen = struct.unpack_from("<Q", blob, 0)[0]
        header = json.loads(bytes(blob[8 : 8 + hlen]))
        s, e = header["emb.scale"]["data_offsets"]
        header["emb.scale"]["data_offsets"] = [s + 4, e + 4]
        hjson = json.dumps(header, separators=(",", ":")).encode()
        blob = bytearray(
            struct.pack("<Q", len(hjson)) + hjson + bytes(blob[8 + hlen :])
            + b"\x00" * 4
        )
    return bytes(blob)


def _st_key(doc_id: int) -> tuple:
    return (doc_id % _ST_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _st_facts(doc_id: int) -> tuple:
    f = walk_safetensors(_st_payload(doc_id))
    t = f["tensors"]
    i_sum = (
        sum(t["weights.w0"]["values"])
        + sum(t["weights.w1"]["values"])
        + sum(t["tokens.mask"]["values"])
    )
    f_sum = sum(int(v) for v in t["emb.scale"]["values"])
    n_elems = sum(len(e["values"]) for e in t.values())
    return (
        "decoded", len(t), n_elems, f["n_meta"],
        i_sum, f_sum,
    )


def _st_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_ST_GROUPS} AS g FROM documents
    ),
    t0 AS (
      SELECT g, CAST(SUM((i * 13 + 7 * g) % 100000) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM grp, LATERAL (SELECT unnest(range(0, 300 + 17 * g)) AS i)
      GROUP BY g
    ),
    t1 AS (
      SELECT g, CAST(SUM((i * 5 + 11 * g) % 30000) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM grp, LATERAL (
        SELECT unnest(range(0, (8 + g) * (16 + g))) AS i)
      GROUP BY g
    ),
    t2 AS (
      SELECT g, CAST(SUM((i * 3 + g) % 251) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM grp, LATERAL (SELECT unnest(range(0, 200 + 9 * g)) AS i)
      GROUP BY g
    ),
    t3 AS (
      SELECT g, CAST(SUM((i * 7 + 13 * g) % 100) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM grp, LATERAL (SELECT unnest(range(0, 150 + 11 * g)) AS i)
      GROUP BY g
    ),
    sums AS (
      SELECT t0.g,
             CAST(4 AS INT) AS n_tensors,
             t0.n + t1.n + t2.n + t3.n AS n_elems,
             CAST(2 AS INT) AS n_meta,
             t0.s + t1.s + t2.s AS i_sum,
             t3.s AS f_sum
      FROM t0 JOIN t1 ON t0.g = t1.g JOIN t2 ON t0.g = t2.g
      JOIN t3 ON t0.g = t3.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'mismatch'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_tensors END AS n_tensors,
           CASE WHEN {bad} THEN 0 ELSE s.n_elems END AS n_elems,
           CASE WHEN {bad} THEN 0 ELSE s.n_meta END AS n_meta,
           CASE WHEN {bad} THEN 0 ELSE s.i_sum END AS i_sum,
           CASE WHEN {bad} THEN 0 ELSE s.f_sum END AS f_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_ST_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_safetensors_walk", oracle=_st_oracle())
def ingest_safetensors_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """safetensors shard read with no safetensors library: u64 header
    length (spec's 100 MB cap enforced), JSON index decode incl.
    __metadata__, per-tensor shape × dtype-width × offset consistency,
    the zero-copy TILING rule (offsets must cover the buffer exactly
    — the 'mismatch' fixture opens a 4-byte gap in the header only,
    proving the check reads both sides), and little-endian value
    decode for the fixed-width numeric dtypes (the F32 tensor carries
    exactly-representable small integers so its sum is an exact
    BIGINT on both engines). numpy produces the tensor bytes
    independently; the oracle replays the value lattice. Typed
    verdicts: truncation ('corrupt'), offset gap ('mismatch'), FP8
    dtype ('unsupported' — with F16/BF16).

    Scale notes (100 TB): header-first is the format's own lazy-load
    path; Arrow-batched mapInPandas, integer facts only."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_st_batches", _st_key, _st_facts,
        "doc_id long, status string, n_tensors int, n_elems long, n_meta int, "
        "i_sum long, f_sum long",
        value_errors=(("tile", "mismatch"),),
    ).transform(_presentation_sort, "doc_id")
