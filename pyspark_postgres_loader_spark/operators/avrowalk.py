"""Native Avro object-container-file walk — the one mainstream data
container the engine did not yet read (Kafka archive dumps, Hive/
Sqoop exports and many table formats ship Avro). Implements the
public Avro 1.11 object container file spec natively:

- ``Obj\\x01`` magic, the file-metadata map (zigzag-long-counted
  string→bytes entries, incl. the negative-count size-prefixed block
  form), ``avro.schema`` JSON and ``avro.codec`` dispatch;
- the 16-byte sync marker framing every data block, cross-checked
  against the header marker per block;
- block codecs routed through this repo's OWN native decoders:
  ``deflate`` → operators/inflate.py (RFC 1951), ``snappy`` →
  operators/snappy.py raw-block decode + the spec's trailing 4-byte
  big-endian CRC-32 of the UNCOMPRESSED bytes, ``bzip2`` →
  operators/bzip2.py, ``xz`` → operators/xzwalk.py, ``zstandard`` →
  operators/zstdfse.py's FSE+Huffman frame decoder, ``null`` →
  pass-through. Unknown codecs are the typed 'unsupported' boundary;
- schema-driven record decode: fields read in schema order by type
  (long/int zigzag varints, string/bytes as length-prefixed, boolean,
  float/double), with per-block record counts cross-checked against
  the records actually decoded.

Correctness evidence: no Avro library exists in this environment, so
the runtime fixture is hand-assembled from the public spec — but the
CODEC layer inside each block is produced by INDEPENDENT compressors
(stdlib zlib/bz2/lzma, pyarrow's snappy and zstd bindings) and
decoded by OUR natives, the container layout is pinned against
hand-computed known-byte vectors in tests/test_avro_walk.py, and the
DuckDB oracle replays the closed-form record lattice without seeing
an Avro byte. Typed verdicts are all non-vacuous: truncation inside
the final sync ('corrupt'), a flipped sync-marker byte
('mismatch'), an ``lzo`` codec declaration ('unsupported'), a
flipped stored snappy CRC byte ('crc_error').

Scale notes (100 TB): Arrow-batched ``mapInPandas``; decode is
sequential WITHIN a file (the container's inherent block chain) and
parallel across documents; only ~50 B of integer facts re-enter the
JVM per file; the only shuffle is the harness ``orderBy``.

Reference: Apache Avro specification, "Object Container Files"
(public); no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import json
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .byteprim import zigzag_long
from .bzip2 import decompress_bz2
from .inflate import inflate_raw
from .snappy import snappy_decompress_block
from .xzwalk import decompress_xz
from .zstdfse import decompress_frame
from .walkbatch import decode_walk

_AVRO_MAGIC = b"Obj\x01"

# ------------------------------------------------ primitive coding


def encode_long(v: int) -> bytes:
    """Writer-side zigzag varint (used by the fixture assembler)."""
    u = (v << 1) ^ (v >> 63) if v >= 0 else ((-v) << 1) - 1
    u &= (1 << 64) - 1
    out = bytearray()
    while True:
        b = u & 0x7F
        u >>= 7
        if u:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _read_bytes(data: bytes, pos: int) -> tuple[bytes, int]:
    n, pos = zigzag_long(data, pos)
    if n < 0 or pos + n > len(data):
        raise ValueError("avro bytes field truncated")
    return data[pos : pos + n], pos + n


# ------------------------------------------------ codec dispatch


def _decode_block_data(codec: str, data: bytes) -> bytes:
    if codec == "null":
        return data
    if codec == "deflate":
        out, used = inflate_raw(data)
        if used != len(data):
            raise ValueError("avro deflate block has trailing garbage")
        return out
    if codec == "snappy":
        if len(data) < 4:
            raise ValueError("avro snappy block shorter than its CRC")
        out = snappy_decompress_block(data[:-4])
        stored = struct.unpack(">I", data[-4:])[0]
        if zlib.crc32(out) & 0xFFFFFFFF != stored:
            raise ValueError("avro snappy block CRC32 mismatch (CRC)")
        return out
    if codec == "bzip2":
        out, _ = decompress_bz2(data)
        return out
    if codec == "xz":
        out, _ = decompress_xz(data)
        return out
    if codec == "zstandard":
        out, used = decompress_frame(data)
        if used != len(data):
            raise ValueError("avro zstd block has trailing garbage")
        return out
    raise NotImplementedError(f"avro codec {codec!r}")


# ------------------------------------------------ record decode

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}


def _compile_type(t):
    """Schema type → decode node. Supported: primitives, NESTED
    records (r12 — Iceberg manifests need them), and the optional
    union ["null", X] in either order; everything else is the honest
    typed boundary."""
    if isinstance(t, str):
        if t not in _PRIMITIVES:
            raise NotImplementedError(f"avro field type {t!r}")
        return ("prim", t)
    if isinstance(t, dict) and t.get("type") == "record":
        return ("record", _record_fields(t))
    if isinstance(t, dict) and isinstance(t.get("type"), str):
        # {"type": "long", ...} wrapper form
        return _compile_type(t["type"])
    if isinstance(t, list):
        if len(t) != 2 or "null" not in t:
            raise NotImplementedError(f"avro union {t!r}")
        null_idx = t.index("null")
        other = t[1 - null_idx]
        return ("opt", null_idx, _compile_type(other))
    raise NotImplementedError(f"avro field type {t!r}")


def _record_fields(schema: dict) -> list[tuple[str, tuple]]:
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise NotImplementedError("avro non-record top-level schema")
    fields = schema.get("fields", [])
    if not isinstance(fields, list):
        raise ValueError("avro record schema fields is not a list")
    out: list[tuple[str, tuple]] = []
    for f in fields:
        if not isinstance(f, dict) or not isinstance(f.get("name"), str):
            raise ValueError("avro field is not a named object")
        out.append((f["name"], _compile_type(f.get("type"))))
    if not out:
        raise ValueError("avro record schema has no fields")
    return out


def _flat_names(fields: list[tuple[str, tuple]], prefix: str = "") -> list[str]:
    """Dotted flattened field names in decode order."""
    out: list[str] = []
    for name, node in fields:
        full = prefix + name
        kind = node[0]
        inner = node
        if kind == "opt":
            inner = node[2]
            kind = inner[0]
        if kind == "record":
            out.extend(_flat_names(inner[1], full + "."))
        else:
            out.append(full)
    return out


def _flat_width(node: tuple) -> int:
    if node[0] == "prim":
        return 1
    if node[0] == "opt":
        return _flat_width(node[2])
    return sum(_flat_width(n) for _, n in node[1])


def _decode_node(node: tuple, data: bytes, pos: int) -> tuple[tuple, int]:
    """Decode one node → (flattened value tuple, new position)."""
    kind = node[0]
    if kind == "prim":
        v, pos = _read_value(node[1], data, pos)
        return (v,), pos
    if kind == "opt":
        idx, pos = zigzag_long(data, pos)
        if idx not in (0, 1):
            raise ValueError("avro union branch index out of range")
        if idx == node[1]:  # the null branch
            return (None,) * _flat_width(node[2]), pos
        return _decode_node(node[2], data, pos)
    vals: list = []
    for _, child in node[1]:
        v, pos = _decode_node(child, data, pos)
        vals.extend(v)
    return tuple(vals), pos


def _read_value(t: str, data: bytes, pos: int):
    if t == "null":
        return None, pos
    if t == "boolean":
        if pos >= len(data):
            raise ValueError("avro boolean truncated")
        return data[pos] != 0, pos + 1
    if t in ("int", "long"):
        return zigzag_long(data, pos)
    if t == "float":
        if pos + 4 > len(data):
            raise ValueError("avro float truncated")
        return struct.unpack_from("<f", data, pos)[0], pos + 4
    if t == "double":
        if pos + 8 > len(data):
            raise ValueError("avro double truncated")
        return struct.unpack_from("<d", data, pos)[0], pos + 8
    b, pos = _read_bytes(data, pos)
    if t == "string":
        return b.decode("utf-8"), pos
    return b, pos


# ------------------------------------------------ container walk


def walk_avro(data: bytes) -> dict:
    """Walk one Avro object container file → schema-decoded records
    plus container facts. Raises NotImplementedError for unknown
    codecs / non-primitive schemas, ValueError with 'sync' for a
    block sync-marker mismatch, with 'CRC' for a snappy block
    checksum failure, plain ValueError for structural damage."""
    if len(data) < 4 or data[:4] != _AVRO_MAGIC:
        raise ValueError("bad avro magic")
    pos = 4
    # file metadata map: zigzag-counted blocks, negative count carries
    # a byte-size long (the spec's skippable form), 0 terminates
    meta: dict[str, bytes] = {}
    while True:
        count, pos = zigzag_long(data, pos)
        if count == 0:
            break
        if count < 0:
            _, pos = zigzag_long(data, pos)  # block byte size (skipped)
            count = -count
        for _ in range(count):
            k, pos = _read_bytes(data, pos)
            v, pos = _read_bytes(data, pos)
            meta[k.decode("utf-8")] = v
    if "avro.schema" not in meta:
        raise ValueError("avro metadata lacks avro.schema")
    try:
        schema = json.loads(meta["avro.schema"])
    except json.JSONDecodeError as exc:
        raise ValueError(f"avro schema is not JSON ({exc})") from exc
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    fields = _record_fields(schema)
    root = ("record", fields)
    if pos + 16 > len(data):
        raise ValueError("avro header sync truncated")
    sync = data[pos : pos + 16]
    pos += 16
    records: list[tuple] = []
    n_blocks = 0
    while pos < len(data):
        count, pos = zigzag_long(data, pos)
        if count <= 0:
            raise ValueError("avro block record count must be positive")
        if count > 1 << 24:
            # all-null-field records legally consume ZERO body bytes,
            # so the size field cannot bound the count — cap it before
            # it sizes the decode loop (the width-0 allocation lesson)
            raise ValueError("implausible avro block record count")
        size, pos = zigzag_long(data, pos)
        if size < 0 or pos + size + 16 > len(data):
            raise ValueError("avro block truncated")
        raw = _decode_block_data(codec, data[pos : pos + size])
        pos += size
        if data[pos : pos + 16] != sync:
            raise ValueError("avro block sync marker mismatch")
        pos += 16
        rpos = 0
        for _ in range(count):
            rec, rpos = _decode_node(root, raw, rpos)
            records.append(rec)
        if rpos != len(raw):
            raise ValueError("avro block has bytes beyond its records")
        n_blocks += 1
    if n_blocks == 0:
        raise ValueError("avro container has no data blocks")
    return {
        "codec": codec,
        "n_meta": len(meta),
        "fields": _flat_names(fields),
        "n_blocks": n_blocks,
        "records": records,
    }


# ------------------------------------------------ fixture writer

_AV_GROUPS = 12
_AV_BLOCK = 500
_AV_CODECS = ("null", "deflate", "snappy", "bzip2", "xz", "zstandard")

_AV_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "Doc",
        "fields": [
            {"name": "id", "type": "long"},
            {"name": "val", "type": "long"},
            {"name": "name", "type": "string"},
        ],
    },
    separators=(",", ":"),
)


def _av_n(g: int) -> int:
    return 1800 + 97 * g


def _av_record(g: int, i: int) -> tuple[int, int, str]:
    return (
        (i * 17 + 29 * g) % 10_000,
        (i * i * 5 + i * 11 + 997 * g) % 65_536,
        "u" + str((i * 7 + g) % 97),
    )


def _compress_block(codec: str, raw: bytes) -> bytes:
    """INDEPENDENT compressors only (stdlib / pyarrow) — the walk
    inflates through this repo's own decoders, so encoder and decoder
    cannot share a bug."""
    if codec == "null":
        return raw
    if codec == "deflate":
        co = zlib.compressobj(9, zlib.DEFLATED, -15)
        return co.compress(raw) + co.flush()
    if codec == "snappy":
        import pyarrow as pa

        body = pa.Codec("snappy").compress(raw, asbytes=True)
        return body + struct.pack(">I", zlib.crc32(raw) & 0xFFFFFFFF)
    if codec == "bzip2":
        import bz2

        return bz2.compress(raw, 1)
    if codec == "xz":
        import lzma

        return lzma.compress(raw, format=lzma.FORMAT_XZ)
    if codec == "zstandard":
        import pyarrow as pa

        return pa.Codec("zstd", compression_level=3).compress(
            raw, asbytes=True
        )
    raise AssertionError(codec)


def build_avro_container(
    records: list[tuple[int, int, str]],
    codec: str,
    sync: bytes,
    block_records: int = _AV_BLOCK,
    declared_codec: str | None = None,
) -> bytes:
    """Hand-assembled Avro object container file per the public spec
    (no Avro library exists here; layout pinned by known-byte tests).
    ``declared_codec`` lets the fixture write an unsupported codec
    NAME over null-coded data."""
    out = bytearray(_AVRO_MAGIC)
    meta = [
        (b"avro.schema", _AV_SCHEMA.encode()),
        (b"avro.codec", (declared_codec or codec).encode()),
    ]
    out += encode_long(len(meta))
    for k, v in meta:
        out += encode_long(len(k)) + k
        out += encode_long(len(v)) + v
    out += encode_long(0)
    out += sync
    for start in range(0, len(records), block_records):
        chunk = records[start : start + block_records]
        raw = bytearray()
        for rid, val, name in chunk:
            nb = name.encode("utf-8")
            raw += encode_long(rid) + encode_long(val)
            raw += encode_long(len(nb)) + nb
        body = _compress_block(codec, bytes(raw))
        out += encode_long(len(chunk)) + encode_long(len(body))
        out += body + sync
    return bytes(out)


def _av_sync(g: int) -> bytes:
    return bytes((g * 31 + i * 7 + 3) % 256 for i in range(16))


def _av_payload(doc_id: int) -> bytes:
    g = doc_id % _AV_GROUPS
    corrupt = doc_id % 11 == 3
    mismatch = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or mismatch)
    crc_err = doc_id % 19 == 7 and not (corrupt or mismatch or unsup)
    recs = [_av_record(g, i) for i in range(_av_n(g))]
    if unsup:
        # honest 'unsupported': a codec name we do not implement
        return build_avro_container(
            recs, "null", _av_sync(g), declared_codec="lzo"
        )
    # crc_err docs force the snappy codec so the flipped byte lands in
    # the spec's stored CRC-32 of the uncompressed block bytes
    codec = "snappy" if crc_err else _AV_CODECS[g % len(_AV_CODECS)]
    blob = bytearray(build_avro_container(recs, codec, _av_sync(g)))
    if corrupt:
        del blob[-8:]  # cut inside the final block's sync marker
    elif mismatch:
        blob[-1] ^= 0x01  # flip inside the final sync marker
    elif crc_err:
        blob[-17] ^= 0x01  # last byte of block data = stored CRC tail
    return bytes(blob)


# ------------------------------------------------ spark + oracle


def _av_key(doc_id: int) -> tuple:
    return (doc_id % _AV_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5, doc_id % 19 == 7)


def _av_facts(doc_id: int) -> tuple:
    f = walk_avro(_av_payload(doc_id))
    id_sum = sum(r[0] for r in f["records"])
    val_sum = sum(r[1] for r in f["records"])
    nls = sum(len(r[2]) for r in f["records"])
    return (
        "decoded", f["n_blocks"], len(f["records"]),
        id_sum, val_sum, nls,
    )


def _av_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5 OR d.doc_id % 19 = 7")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_AV_GROUPS} AS g FROM documents
    ),
    recs AS (
      SELECT g, unnest(range(0, 1800 + 97 * g)) AS i FROM grp
    ),
    vals AS (
      SELECT g,
             (i * 17 + 29 * g) % 10000 AS id,
             (i * i * 5 + i * 11 + 997 * g) % 65536 AS val,
             1 + LENGTH(CAST((i * 7 + g) % 97 AS VARCHAR)) AS name_len
      FROM recs
    ),
    sums AS (
      SELECT g,
             CAST(CEIL(CAST(COUNT(*) AS DOUBLE) / {_AV_BLOCK}) AS INT)
               AS n_blocks,
             CAST(COUNT(*) AS BIGINT) AS n_records,
             CAST(SUM(id) AS BIGINT) AS id_sum,
             CAST(SUM(val) AS BIGINT) AS val_sum,
             CAST(SUM(name_len) AS BIGINT) AS name_len_sum
      FROM vals GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'mismatch'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                WHEN d.doc_id % 19 = 7 THEN 'crc_error'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_blocks END AS n_blocks,
           CASE WHEN {bad} THEN 0 ELSE s.n_records END AS n_records,
           CASE WHEN {bad} THEN 0 ELSE s.id_sum END AS id_sum,
           CASE WHEN {bad} THEN 0 ELSE s.val_sum END AS val_sum,
           CASE WHEN {bad} THEN 0 ELSE s.name_len_sum END
             AS name_len_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_AV_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_avro_container_walk", oracle=_av_oracle())
def ingest_avro_container_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avro object-container read with no Avro library: magic +
    metadata-map decode, ``avro.schema`` JSON-driven record decode,
    per-block sync-marker cross-check, and SIX block codecs all
    routed through this repo's own native decoders (null, deflate →
    inflate.py, snappy + spec CRC-32 → snappy.py, bzip2 → bzip2.py,
    xz → xzwalk.py, zstandard → zstdfse.py). Block bodies are
    produced by independent compressors (stdlib zlib/bz2/lzma,
    pyarrow snappy/zstd); the oracle replays the closed-form record
    lattice and never sees an Avro byte. Typed verdicts, each
    non-vacuous: truncation inside the final sync ('corrupt'), a
    flipped sync byte ('mismatch'), an lzo codec declaration
    ('unsupported'), a flipped stored snappy CRC ('crc_error').

    Scale notes (100 TB): Arrow-batched mapInPandas, parallel across
    files, sequential only within one container (its inherent block
    chain); ~50 B of integer facts re-enter the JVM per file. The
    repartition BY FIXTURE COMBO below is load-bearing: the sf0.1
    documents scan is a single input split, which serialized all
    ~30 (group, fault) container decodes — six codecs incl. the
    pure-Python bzip2/xz paths, ~8 s — into ONE worker (BENCH r13
    attribution); co-partitioning docs by their combo key spreads
    the decodes across the executor pool AND keeps the per-worker
    memo dense (each worker sees few distinct combos)."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % 8),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 17 == 2).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
        (F.col("doc_id") % 19 == 7).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_av_batches", _av_key, _av_facts,
        "doc_id long, status string, n_blocks int, n_records long, "
        "id_sum long, val_sum long, name_len_sum long",
        value_errors=(
            ("sync marker mismatch", "mismatch"),
            ("CRC", "crc_error"),
        ),
        # a per-iterator memo re-decoded every key in each of the 32
        # partitions (VERDICT r12: the suite's slowest query, 7.8 s)
        worker_memo=True,
    )
    # presentation sort WITHOUT a global orderBy: rangepartitioning
    # SAMPLES its child, which re-executes the whole decode subtree
    # (measured 3.1 s vs 1.4 s per pass at sf0.1); a single-partition
    # exchange + in-partition sort materializes the 60 kB fact rows
    # once and sorts them in one task
    return out.repartition(1).sortWithinPartitions("doc_id")
