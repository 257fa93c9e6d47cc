"""Native Arrow IPC STREAM walk — the wire-format sibling of the
Feather-V2 file walk (operators/arrowipc.py). Flight does gRPC
payloads, Kafka/socket feeds and ``pyarrow.ipc.new_stream`` all ship
this framing: no footer, no magic — just a self-describing message
sequence, consumed strictly forward:

- encapsulated-message framing: 0xFFFFFFFF continuation marker,
  int32 metadata length (8-byte aligned), FlatBuffers ``Message``
  table, then ``bodyLength`` bytes of body;
- the FIRST message must be the Schema (decoded with arrowipc.py's
  hand-written FlatBuffers vtable reader — no flatbuffers library);
- every following RecordBatch is decoded with the SAME shared
  ``_decode_record_batch`` the file walk uses (validity bitmaps,
  fixed-width values, LZ4/zstd body buffers through this repo's own
  decoders), with the FieldNode row counts cross-checked against the
  batch header's length;
- end-of-stream is the spec's 8-byte marker (continuation +
  zero length; the legacy bare-zero form is accepted too), and bytes
  after EOS are structural damage.

The stream walk exists because the access pattern is genuinely
different from the file walk: no footer-first random access, no
redundant Block list to cross-check — a reader must trust the
in-band framing alone, which is exactly what a 100 TB ingest job
tailing a Flight/Kafka feed does.

Correctness evidence: pyarrow (independent C++ implementation) is
the runtime WRITER via ``ipc.new_stream`` across uncompressed / LZ4 /
zstd groups with multi-chunk tables and a closed-form null lattice;
the DuckDB oracle replays the lattice and never sees an Arrow byte.
Typed verdicts, each non-vacuous: truncation that eats the EOS
marker and part of the last body ('corrupt'), a FieldNode row count
patched away from the batch header's length ('mismatch' — the
carried-twice value the stream format still has), a Utf8 column
('unsupported').

Scale notes (100 TB): Arrow-batched ``mapInPandas``; strictly
sequential WITHIN one stream (the format has no index), parallel
across documents; ~50 B of integer facts re-enter the JVM per
stream; the only shuffle is the harness ``orderBy``.

Reference: Apache Arrow columnar IPC specification, "Encapsulated
message format" / "IPC Streaming Format" (public); no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .arrowipc import (
    _HDR_DICTIONARY,
    _HDR_RECORD_BATCH,
    _HDR_SCHEMA,
    _decode_record_batch,
    _fb_root,
    _i32,
    _schema_fields,
    _u32,
)
from .walkbatch import decode_walk

# ------------------------------------------------ stream walk


def walk_arrow_ipc_stream(data: bytes) -> dict:
    """Walk one Arrow IPC stream → per-column decoded values (None at
    null slots) plus stream facts. NotImplementedError for
    non-fixed-width columns / dictionary batches / unknown body
    codecs; ValueError with 'mismatch' when a FieldNode row count
    disagrees with its RecordBatch header; plain ValueError for
    structural damage (truncation, missing Schema, bytes past EOS)."""
    try:
        return _walk_stream(data)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        # corrupt FlatBuffers offsets/vtables: structural damage,
        # typed like truncation (campaign-fuzz-pinned)
        raise ValueError(f"malformed arrow stream ({exc})") from exc


def _walk_stream(data: bytes) -> dict:
    fields: list[tuple[str, str, int]] | None = None
    columns: list[list] = []
    n_rows = 0
    n_batches = 0
    null_count = 0
    p = 0
    saw_eos = False
    while True:
        if p + 4 > len(data):
            raise ValueError("arrow stream truncated before EOS")
        head = _u32(data, p)
        if head == 0:  # legacy end-of-stream (bare zero length)
            p += 4
            saw_eos = True
            break
        if head != 0xFFFFFFFF:
            raise ValueError("arrow stream missing continuation marker")
        if p + 8 > len(data):
            raise ValueError("arrow stream message length truncated")
        mlen = _i32(data, p + 4)
        if mlen == 0:  # end-of-stream marker
            p += 8
            saw_eos = True
            break
        if mlen < 0 or p + 8 + mlen > len(data):
            raise ValueError("arrow stream message metadata truncated")
        meta = data[p + 8 : p + 8 + mlen]
        msg = _fb_root(meta)
        hdr = msg.byte(1)
        blen = msg.int64(3)
        if blen < 0 or p + 8 + mlen + blen > len(data):
            raise ValueError("arrow stream message body truncated")
        body = data[p + 8 + mlen : p + 8 + mlen + blen]
        if fields is None:
            if hdr != _HDR_SCHEMA:
                raise ValueError("arrow stream does not start with a Schema")
            schema_t = msg.table(2)
            if schema_t is None:
                raise ValueError("arrow stream Schema message is empty")
            fields = _schema_fields(schema_t)
            columns = [[] for _ in fields]
        elif hdr == _HDR_DICTIONARY:
            raise NotImplementedError("arrow dictionary batches")
        elif hdr == _HDR_RECORD_BATCH:
            rows, nulls = _decode_record_batch(
                meta, msg, body, fields, columns
            )
            n_rows += rows
            null_count += nulls
            n_batches += 1
        else:
            raise ValueError(f"arrow stream unexpected header tag {hdr}")
        p += 8 + mlen + blen
    if not saw_eos:
        raise ValueError("arrow stream ended without an EOS marker")
    if p != len(data):
        raise ValueError("arrow stream has bytes beyond EOS")
    if fields is None:
        raise ValueError("arrow stream carries no Schema")
    if n_batches == 0:
        raise ValueError("arrow stream carries no record batches")
    return {
        "fields": [n for n, _, _ in fields],
        "n_batches": n_batches,
        "n_rows": n_rows,
        "null_count": null_count,
        "columns": columns,
    }


# ------------------------------------------------ fixture writer

_AS_GROUPS = 8


def _as_n(g: int) -> int:
    return 1400 + 71 * g


def _as_chunk(g: int) -> int:
    return 350 + 40 * (g % 5)


def _as_codec(g: int) -> str | None:
    return (None, "lz4", "zstd")[g % 3]


def _as_id(g: int, i: int) -> int:
    return (i * 11 + 5 * g) % 90_000


def _as_val(g: int, i: int) -> int | None:
    if i % 5 == 4:
        return None
    return (i * i * 7 + 331 * g) % 20_000


def _as_bytes(g: int, with_str: bool = False) -> bytes:
    import pyarrow as pa
    import pyarrow.ipc as ipc

    n = _as_n(g)
    cols = {
        "id": pa.array([_as_id(g, i) for i in range(n)], type=pa.int64()),
        "val": pa.array([_as_val(g, i) for i in range(n)],
                        type=pa.int32()),
    }
    if with_str:
        cols["s"] = pa.array([str(i) for i in range(n)])
    t = pa.table(cols)
    sink = pa.BufferOutputStream()
    opts = ipc.IpcWriteOptions(compression=_as_codec(g))
    with ipc.new_stream(sink, t.schema, options=opts) as w:
        w.write_table(t, max_chunksize=_as_chunk(g))
    return sink.getvalue().to_pybytes()


def _patch_first_node(blob: bytearray) -> None:
    """Patch FieldNode 0's row count inside the FIRST RecordBatch
    message — the batch header keeps its own length, so the
    carried-twice value disagrees."""
    p = 0
    while True:
        head = _u32(blob, p)
        if head != 0xFFFFFFFF:
            raise AssertionError("fixture stream lost its framing")
        mlen = _i32(blob, p + 4)
        meta = bytes(blob[p + 8 : p + 8 + mlen])
        msg = _fb_root(meta)
        if msg.byte(1) == _HDR_RECORD_BATCH:
            rb = msg.table(2)
            nst, _ = rb.vector(1, 16)
            abs_p = p + 8 + nst
            rows = struct.unpack_from("<q", blob, abs_p)[0]
            struct.pack_into("<q", blob, abs_p, rows + 3)
            return
        p += 8 + mlen + msg.int64(3)


def _as_payload(doc_id: int) -> bytes:
    g = doc_id % _AS_GROUPS
    corrupt = doc_id % 11 == 3
    mismatch = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or mismatch)
    blob = bytearray(_as_bytes(g, with_str=unsup))
    if corrupt:
        del blob[-10:]  # eats the EOS marker + tail of the last body
    elif mismatch:
        _patch_first_node(blob)
    return bytes(blob)


# ------------------------------------------------ spark + oracle


def _as_key(doc_id: int) -> tuple:
    return (doc_id % _AS_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _as_facts(doc_id: int) -> tuple:
    f = walk_arrow_ipc_stream(_as_payload(doc_id))
    ids, vals = f["columns"][0], f["columns"][1]
    return (
        "decoded", f["n_batches"], f["n_rows"],
        sum(ids),
        sum(v for v in vals if v is not None),
        f["null_count"],
    )


def _as_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_AS_GROUPS} AS g FROM documents
    ),
    recs AS (
      SELECT g, 350 + 40 * (g % 5) AS chunk,
             unnest(range(0, 1400 + 71 * g)) AS i
      FROM grp
    ),
    vals AS (
      SELECT g, chunk,
             (i * 11 + 5 * g) % 90000 AS id,
             CASE WHEN i % 5 = 4 THEN NULL
                  ELSE (i * i * 7 + 331 * g) % 20000 END AS val
      FROM recs
    ),
    sums AS (
      SELECT g,
             CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / MAX(chunk)) AS INT)
               AS n_batches,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(id) AS BIGINT) AS id_sum,
             CAST(SUM(val) AS BIGINT) AS val_sum,
             CAST(SUM(CASE WHEN val IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nulls
      FROM vals GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'mismatch'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_batches END AS n_batches,
           CASE WHEN {bad} THEN 0 ELSE s.n_rows END AS n_rows,
           CASE WHEN {bad} THEN 0 ELSE s.id_sum END AS id_sum,
           CASE WHEN {bad} THEN 0 ELSE s.val_sum END AS val_sum,
           CASE WHEN {bad} THEN 0 ELSE s.n_nulls END AS n_nulls
    FROM documents d
    JOIN sums s ON d.doc_id % {_AS_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_arrow_ipc_stream_walk", oracle=_as_oracle())
def ingest_arrow_ipc_stream_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arrow IPC STREAM read with no flatbuffers or Arrow reader in
    the loop: strictly-forward encapsulated-message framing (the
    footer-less wire format Flight/Kafka feeds use), Schema-first
    contract, the shared native FlatBuffers RecordBatch decoder with
    validity bitmaps and LZ4/zstd body buffers through this repo's
    OWN decoders, and spec EOS handling (8-byte marker + the legacy
    bare-zero form; bytes past EOS are damage). pyarrow's
    ``ipc.new_stream`` is the independent runtime WRITER; the DuckDB
    oracle replays the closed-form value lattice (incl. the i%5=4
    null lattice) and never sees an Arrow byte. Typed verdicts, each
    non-vacuous: truncation eating the EOS marker ('corrupt'), a
    FieldNode row count patched away from its batch header
    ('mismatch'), a Utf8 column ('unsupported').

    Scale notes (100 TB): sequential within a stream (the format has
    no index — that is the point of the walk), parallel across
    documents via Arrow-batched mapInPandas; integer facts only
    re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_as_batches", _as_key, _as_facts,
        "doc_id long, status string, n_batches int, n_rows long, id_sum long, "
        "val_sum long, n_nulls long",
        value_errors=(("mismatch", "mismatch"),),
    ).transform(_presentation_sort, "doc_id")
