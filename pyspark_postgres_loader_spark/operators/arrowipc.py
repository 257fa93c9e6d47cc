"""Native Arrow IPC file (Feather V2) walk — the ML-exchange format:
training shards, feature stores and dataframe interchange all ship
Arrow IPC. Implements the public Arrow columnar IPC specification
natively, including a minimal FlatBuffers reader (vtable-indirected
tables, vectors, structs, strings — nothing generated, no flatbuffers
library):

- ``ARROW1`` front/back magics, the trailing int32 footer length,
  the Footer table (schema + record-batch Block structs);
- Schema decode: field names, Int bit width/signedness via the
  type-table union; non-fixed-width types (Utf8 & friends) are the
  honest typed boundary, as are dictionary batches;
- per-block message framing: 0xFFFFFFFF continuation marker, int32
  metadata length, the Message table (version / header union /
  bodyLength) — with the Message bodyLength CROSS-CHECKED against the
  footer Block's bodyLength (a real integrity signal the format
  carries twice);
- RecordBatch decode: FieldNode structs (row count + null count),
  Buffer structs (offset/length into the body), validity-bitmap
  decode (LSB-first) for nullable columns, little-endian fixed-width
  value decode;
- body-buffer compression per the spec's BodyCompression table:
  each buffer is an int64 uncompressed-length prefix + an LZ4 FRAME
  (routed through operators/lz4frame.py's native decoder, own XXH32)
  or a ZSTD frame (operators/zstdfse.py's FSE+Huffman decoder), with
  ``-1`` marking a stored buffer.

Correctness evidence: pyarrow — an INDEPENDENT implementation — is
the runtime WRITER (uncompressed / lz4 / zstd groups, multi-chunk,
nullable column with a closed-form null lattice); the DuckDB oracle
replays the value lattice and never sees an Arrow byte. Typed
verdicts, each non-vacuous: tail truncation ('corrupt'), a patched
footer bodyLength under an intact message ('mismatch'), a Utf8
column ('unsupported').

Scale notes (100 TB): Arrow-batched ``mapInPandas``; the footer-first
walk (footer → blocks → one message per batch) is exactly how real
readers project/prune batches without scanning; parallel across
files; only integer facts re-enter the JVM.

Reference: Apache Arrow columnar format / IPC specification +
Message.fbs/Schema.fbs/File.fbs (public); no repo counterpart
(SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .lz4frame import decompress_lz4_frame
from .zstdfse import decompress_frame
from .walkbatch import decode_walk

_MAGIC = b"ARROW1"

# ------------------------------------------------ flatbuffers reader


def _u16(b: bytes, p: int) -> int:
    if p + 2 > len(b):
        raise ValueError("flatbuffer u16 out of bounds")
    return struct.unpack_from("<H", b, p)[0]


def _i32(b: bytes, p: int) -> int:
    if p + 4 > len(b):
        raise ValueError("flatbuffer i32 out of bounds")
    return struct.unpack_from("<i", b, p)[0]


def _u32(b: bytes, p: int) -> int:
    if p + 4 > len(b):
        raise ValueError("flatbuffer u32 out of bounds")
    return struct.unpack_from("<I", b, p)[0]


def _i64(b: bytes, p: int) -> int:
    if p + 8 > len(b):
        raise ValueError("flatbuffer i64 out of bounds")
    return struct.unpack_from("<q", b, p)[0]


class _FbTable:
    """One FlatBuffers table: fields resolve through the vtable
    (absent slot → None/default per the format)."""

    def __init__(self, buf: bytes, pos: int):
        if pos < 0 or pos + 4 > len(buf):
            raise ValueError("flatbuffer table position out of bounds")
        self.b = buf
        self.pos = pos
        self.vt = pos - _i32(buf, pos)
        if self.vt < 0 or self.vt + 4 > len(buf):
            raise ValueError("flatbuffer vtable out of bounds")
        self.vt_size = _u16(buf, self.vt)

    def _fpos(self, slot: int) -> int | None:
        o = 4 + 2 * slot
        if o + 2 > self.vt_size:
            return None
        off = _u16(self.b, self.vt + o)
        return None if off == 0 else self.pos + off

    def byte(self, slot: int, default: int = 0) -> int:
        p = self._fpos(slot)
        if p is None:
            return default
        if p >= len(self.b):
            raise ValueError("flatbuffer byte out of bounds")
        return self.b[p]

    def int64(self, slot: int, default: int = 0) -> int:
        p = self._fpos(slot)
        return default if p is None else _i64(self.b, p)

    def int32(self, slot: int, default: int = 0) -> int:
        p = self._fpos(slot)
        return default if p is None else _i32(self.b, p)

    def bool_(self, slot: int, default: bool = False) -> bool:
        p = self._fpos(slot)
        return default if p is None else self.b[p] != 0

    def table(self, slot: int) -> "_FbTable | None":
        p = self._fpos(slot)
        if p is None:
            return None
        return _FbTable(self.b, p + _u32(self.b, p))

    def vector(self, slot: int, elem_size: int = 1) -> tuple[int, int] | None:
        """→ (first-element position, element count) or None; the
        declared count must FIT in the buffer at ``elem_size`` bytes
        per element (a corrupt count is a bounds error, never a
        multi-billion-iteration loop)."""
        p = self._fpos(slot)
        if p is None:
            return None
        vp = p + _u32(self.b, p)
        n = _u32(self.b, vp)
        if vp + 4 + n * elem_size > len(self.b):
            raise ValueError("flatbuffer vector overruns buffer")
        return vp + 4, n

    def string(self, slot: int) -> str | None:
        v = self.vector(slot)
        if v is None:
            return None
        st, n = v
        if st + n > len(self.b):
            raise ValueError("flatbuffer string out of bounds")
        return self.b[st : st + n].decode("utf-8")

    def vtable_elem(self, slot: int) -> int | None:
        return self._fpos(slot)


def _fb_root(buf: bytes) -> _FbTable:
    return _FbTable(buf, _u32(buf, 0))


# Schema.fbs Type union tags (public definition)
_TYPE_INT = 2
_TYPE_FLOAT = 3
# Message.fbs MessageHeader union tags
_HDR_SCHEMA = 1
_HDR_DICTIONARY = 2
_HDR_RECORD_BATCH = 3


def _schema_fields(schema: _FbTable) -> list[tuple[str, str, int]]:
    """Footer/stream Schema table → [(name, kind, byte width)].
    kind ∈ {'int','uint','float'}; anything else is the typed
    boundary."""
    fv = schema.vector(1, 4)
    if fv is None:
        raise ValueError("arrow schema has no fields")
    st, nf = fv
    out: list[tuple[str, str, int]] = []
    for k in range(nf):
        fp = st + 4 * k
        ft = _FbTable(schema.b, fp + _u32(schema.b, fp))
        name = ft.string(0) or f"f{k}"
        ttag = ft.byte(2)
        tt = ft.table(3)
        if ttag == _TYPE_INT and tt is not None:
            bw = tt.int32(0)
            if bw not in (8, 16, 32, 64):
                raise ValueError(f"arrow int bit width {bw}")
            out.append((name, "int" if tt.bool_(1) else "uint", bw // 8))
        elif ttag == _TYPE_FLOAT and tt is not None:
            # precision: 0 HALF, 1 SINGLE, 2 DOUBLE
            prec = tt.byte(0)
            if prec == 0:
                raise NotImplementedError("arrow float16 column")
            out.append((name, "float", 4 if prec == 1 else 8))
        else:
            raise NotImplementedError(f"arrow type tag {ttag}")
    return out


def _decode_buffer(
    body: bytes, off: int, length: int, codec: int | None
) -> bytes:
    if off < 0 or off + length > len(body):
        raise ValueError("arrow buffer outside message body")
    raw = body[off : off + length]
    if codec is None or length == 0:
        return raw
    usize = _i64(raw, 0)
    if usize == -1:
        return raw[8:]
    if codec == 0:  # LZ4_FRAME
        out, _ = decompress_lz4_frame(raw[8:])
    elif codec == 1:  # ZSTD
        out, _ = decompress_frame(raw[8:])
    else:
        raise NotImplementedError(f"arrow body compression codec {codec}")
    if len(out) != usize:
        raise ValueError("arrow buffer uncompressed size mismatch")
    return out


_FMT = {("int", 1): "b", ("int", 2): "h", ("int", 4): "i",
        ("int", 8): "q", ("uint", 1): "B", ("uint", 2): "H",
        ("uint", 4): "I", ("uint", 8): "Q", ("float", 4): "f",
        ("float", 8): "d"}


def _decode_record_batch(
    meta: bytes,
    msg: _FbTable,
    body: bytes,
    fields: list[tuple[str, str, int]],
    columns: list[list],
) -> tuple[int, int]:
    """Decode one RecordBatch message (shared by the file and stream
    walks) → (row count, null count); appends values to ``columns``."""
    rb = msg.table(2)
    if rb is None:
        raise ValueError("arrow message lacks a RecordBatch header")
    rows = rb.int64(0)
    if rows < 0:
        raise ValueError("arrow RecordBatch negative length")
    nodes = rb.vector(1, 16)
    bufs = rb.vector(2, 16)
    if nodes is None or bufs is None:
        raise ValueError("arrow RecordBatch lacks nodes/buffers")
    nst, nn = nodes
    bst2, nbuf = bufs
    if nn != len(fields) or nbuf != 2 * len(fields):
        raise ValueError("arrow node/buffer counts do not match schema")
    comp = rb.table(3)
    codec = None
    if comp is not None:
        if comp.byte(1) != 0:
            raise NotImplementedError("arrow non-BUFFER compression")
        codec = comp.byte(0)
    null_count = 0
    for c, (name, kind, width) in enumerate(fields):
        node_p = nst + 16 * c
        f_rows = _i64(meta, node_p)
        f_nulls = _i64(meta, node_p + 8)
        if f_rows != rows:
            raise ValueError("arrow field node row count mismatch")
        vb_p = bst2 + 16 * (2 * c)
        db_p = bst2 + 16 * (2 * c + 1)
        validity = _decode_buffer(
            body, _i64(meta, vb_p), _i64(meta, vb_p + 8), codec
        )
        values_raw = _decode_buffer(
            body, _i64(meta, db_p), _i64(meta, db_p + 8), codec
        )
        if len(values_raw) < rows * width:
            raise ValueError("arrow data buffer shorter than rows")
        vals = list(
            struct.unpack_from(
                f"<{rows}{_FMT[(kind, width)]}", values_raw, 0
            )
        )
        if f_nulls:
            if len(validity) * 8 < rows:
                raise ValueError("arrow validity bitmap too short")
            seen_nulls = 0
            for i in range(rows):
                if not (validity[i >> 3] >> (i & 7)) & 1:
                    vals[i] = None
                    seen_nulls += 1
            if seen_nulls != f_nulls:
                raise ValueError("arrow null_count disagrees with bitmap")
            null_count += f_nulls
        columns[c].extend(vals)
    return rows, null_count


def walk_arrow_ipc(data: bytes) -> dict:
    """Walk one Arrow IPC file → per-column decoded values (None at
    null slots) plus container facts. NotImplementedError for
    non-fixed-width columns / dictionary batches / unknown body
    codecs; ValueError with 'mismatch' when the footer Block and the
    Message disagree on bodyLength; plain ValueError for structural
    damage."""
    try:
        return _walk_arrow_ipc(data)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        # corrupt FlatBuffers offsets/vtables can route reads past a
        # declared bound or into the wrong shape — structural damage,
        # typed like truncation (campaign-fuzz-pinned)
        raise ValueError(f"malformed arrow structure ({exc})") from exc


def _walk_arrow_ipc(data: bytes) -> dict:
    if len(data) < 8 + 4 + 6 + 6 or data[:6] != _MAGIC:
        raise ValueError("bad arrow front magic")
    if data[-6:] != _MAGIC:
        raise ValueError("bad arrow tail magic")
    flen = _i32(data, len(data) - 10)
    foot_start = len(data) - 10 - flen
    if flen <= 0 or foot_start < 8:
        raise ValueError("arrow footer length out of bounds")
    foot = data[foot_start : len(data) - 10]
    root = _fb_root(foot)
    schema_t = root.table(1)
    if schema_t is None:
        raise ValueError("arrow footer lacks a schema")
    fields = _schema_fields(schema_t)
    dv = root.vector(2, 24)
    if dv is not None and dv[1] > 0:
        raise NotImplementedError("arrow dictionary batches")
    bv = root.vector(3, 24)
    if bv is None or bv[1] == 0:
        raise ValueError("arrow footer lists no record batches")
    bst, nb = bv
    # stream prelude: the first framed message must be the Schema
    if _u32(data, 8) != 0xFFFFFFFF:
        raise ValueError("arrow stream missing continuation marker")
    smeta_len = _i32(data, 12)
    if smeta_len <= 0 or 16 + smeta_len > len(data):
        raise ValueError("arrow schema message truncated")
    smsg = _fb_root(data[16 : 16 + smeta_len])
    if smsg.byte(1) != _HDR_SCHEMA:
        raise ValueError("arrow first message is not a Schema")
    columns: list[list] = [[] for _ in fields]
    n_rows = 0
    null_count = 0
    for k in range(nb):
        bp = bst + 24 * k
        off = _i64(foot, bp)
        mlen = _i32(foot, bp + 8)
        blen = _i64(foot, bp + 16)
        if off < 0 or off + mlen > len(data):
            raise ValueError("arrow block outside file")
        if _u32(data, off) != 0xFFFFFFFF:
            raise ValueError("arrow block missing continuation marker")
        metalen = _i32(data, off + 4)
        if metalen <= 0 or off + 8 + metalen + blen > len(data):
            raise ValueError("arrow block body truncated")
        meta = data[off + 8 : off + 8 + metalen]
        msg = _fb_root(meta)
        if msg.byte(1) == _HDR_DICTIONARY:
            raise NotImplementedError("arrow dictionary batches")
        if msg.byte(1) != _HDR_RECORD_BATCH:
            raise ValueError("arrow block message is not a RecordBatch")
        if msg.int64(3) != blen:
            raise ValueError(
                "arrow footer/message bodyLength mismatch"
            )
        body = data[off + 8 + metalen : off + 8 + metalen + blen]
        rows, nulls = _decode_record_batch(meta, msg, body, fields, columns)
        n_rows += rows
        null_count += nulls
    return {
        "fields": [n for n, _, _ in fields],
        "n_batches": nb,
        "n_rows": n_rows,
        "null_count": null_count,
        "columns": columns,
    }


# ------------------------------------------------ fixture writer

_AR_GROUPS = 9


def _ar_n(g: int) -> int:
    return 1500 + 83 * g


def _ar_codec(g: int) -> str | None:
    return (None, "lz4", "zstd")[g % 3]


def _ar_id(g: int, i: int) -> int:
    return (i * 13 + g * 7) % 100_000


def _ar_val(g: int, i: int) -> int | None:
    if i % 7 == 3:
        return None
    return (i * i * 3 + 997 * g) % 32_768


def _ar_bytes(g: int, with_str: bool = False) -> bytes:
    import pyarrow as pa
    import pyarrow.ipc as ipc

    n = _ar_n(g)
    cols = {
        "id": pa.array([_ar_id(g, i) for i in range(n)], type=pa.int64()),
        "val": pa.array([_ar_val(g, i) for i in range(n)],
                        type=pa.int32()),
    }
    if with_str:
        cols["s"] = pa.array([str(i) for i in range(n)])
    t = pa.table(cols)
    sink = pa.BufferOutputStream()
    opts = ipc.IpcWriteOptions(compression=_ar_codec(g))
    with ipc.new_file(sink, t.schema, options=opts) as w:
        w.write_table(t, max_chunksize=400 + 50 * (g % 4))
    return sink.getvalue().to_pybytes()


def _ar_payload(doc_id: int) -> bytes:
    g = doc_id % _AR_GROUPS
    corrupt = doc_id % 11 == 3
    mismatch = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or mismatch)
    blob = bytearray(_ar_bytes(g, with_str=unsup))
    if corrupt:
        del blob[-8:]  # kills footer length + tail magic
    elif mismatch:
        # patch block 0's bodyLength in the FOOTER only: the message
        # keeps its own bodyLength, so the double-carried value
        # disagrees — the cross-check the format invites
        flen = struct.unpack_from("<i", blob, len(blob) - 10)[0]
        foot_start = len(blob) - 10 - flen
        foot = bytes(blob[foot_start : len(blob) - 10])
        root = _fb_root(foot)
        bst, _ = root.vector(3)
        struct.pack_into(
            "<q", blob, foot_start + bst + 16,
            _i64(foot, bst + 16) + 64,
        )
    return bytes(blob)


# ------------------------------------------------ spark + oracle


def _ar_key(doc_id: int) -> tuple:
    return (doc_id % _AR_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _ar_facts(doc_id: int) -> tuple:
    f = walk_arrow_ipc(_ar_payload(doc_id))
    ids, vals = f["columns"][0], f["columns"][1]
    return (
        "decoded", f["n_batches"], f["n_rows"],
        sum(ids),
        sum(v for v in vals if v is not None),
        f["null_count"],
    )


def _ar_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_AR_GROUPS} AS g FROM documents
    ),
    recs AS (
      SELECT g, 400 + 50 * (g % 4) AS chunk,
             unnest(range(0, 1500 + 83 * g)) AS i
      FROM grp
    ),
    vals AS (
      SELECT g, chunk,
             (i * 13 + g * 7) % 100000 AS id,
             CASE WHEN i % 7 = 3 THEN NULL
                  ELSE (i * i * 3 + 997 * g) % 32768 END AS val
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
    JOIN sums s ON d.doc_id % {_AR_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_arrow_ipc_walk", oracle=_ar_oracle())
def ingest_arrow_ipc_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow IPC file (Feather V2) read with no flatbuffers or Arrow
    reader in the loop: native FlatBuffers vtable walk of the Footer
    / Message / RecordBatch tables, schema-driven fixed-width column
    decode with validity-bitmap null handling, and body-buffer
    decompression through this repo's OWN LZ4-frame and zstd
    decoders. pyarrow is the independent runtime WRITER; the DuckDB
    oracle replays the closed-form value lattice (incl. the i%7=3
    null lattice) and never sees an Arrow byte. Typed verdicts, each
    non-vacuous: tail truncation ('corrupt'), a footer bodyLength
    patched away from the message's own copy ('mismatch' — the
    double-carried length is cross-checked), a Utf8 column
    ('unsupported' — fixed-width numerics are the honest scope).

    Scale notes (100 TB): footer-first walk is the format's batch
    pruning path; Arrow-batched mapInPandas, parallel across files,
    integer facts only re-entering the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_ar_batches", _ar_key, _ar_facts,
        "doc_id long, status string, n_batches int, n_rows long, id_sum long, "
        "val_sum long, n_nulls long",
        value_errors=(("mismatch", "mismatch"),),
    ).transform(_presentation_sort, "doc_id")
