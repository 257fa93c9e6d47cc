"""TFRecord stream walk — the TensorFlow training-data container.

The format (public TensorFlow docs) is a flat sequence of framed
records: an 8-byte little-endian length, a 4-byte MASKED CRC-32C of
the length bytes, the payload, and a 4-byte masked CRC-32C of the
payload. Masking (from the public format definition) is
``rotr15(crc) + 0xa282ead8`` — it exists so a CRC over data that
itself contains CRCs stays discriminating. Both checksums are
implemented from the spec: CRC-32C (Castagnoli, reflected polynomial
0x82F63B78) pinned against the published check vector
(``"123456789"`` → 0xE3069283), then the rotate-add mask.

Honest scope: the FRAMING layer is complete — there is nothing else
in the format; the payloads are opaque bytes (in real corpora,
serialized ``tf.train.Example`` protos — parsing those is a schema
concern, not a container concern, and stays out of scope on purpose).

Determinism: payloads are a closed-form byte lattice per (group,
record), so the DuckDB oracle replays every payload byte; statuses:
'decoded', 'corrupt' (tail truncation inside the final payload CRC),
'crc_error' (a flipped stored length-CRC bit — proves the masked
verification executes; length CRCs are what streaming readers use to
resynchronize, so verifying them is the operationally important
half).

Scale notes (100 TB): Arrow-batched ``mapInPandas`` decode map —
TFRecord is sequential within a shard BY DESIGN (that is the format's
whole point: cheap sequential reads), parallelism is across shard
files, exactly how TensorFlow's own readers scale.

Reference: no counterpart (SURVEY.md §2l multimodal/ingest extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_POLY = 0x82F63B78  # CRC-32C reflected
_MASK_DELTA = 0xA282EAD8

_TABLE = []
for _b in range(256):
    _c = _b
    for _ in range(8):
        _c = (_c >> 1) ^ (_POLY if _c & 1 else 0)
    _TABLE.append(_c)


def crc32c(data: bytes) -> int:
    """CRC-32C (Castagnoli). Check vector: b'123456789' → 0xE3069283."""
    crc = 0xFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFF


def masked_crc32c(data: bytes) -> int:
    """TFRecord's masked CRC: rotate right 15, add the mask delta."""
    c = crc32c(data)
    return (((c >> 15) | (c << 17)) + _MASK_DELTA) & 0xFFFFFFFF


def build_tfrecord(payload: bytes) -> bytes:
    length = struct.pack("<Q", len(payload))
    return (
        length
        + struct.pack("<I", masked_crc32c(length))
        + payload
        + struct.pack("<I", masked_crc32c(payload))
    )


def walk_tfrecords(stream: bytes) -> list[bytes]:
    """Walk a TFRecord stream → payload list. ``ValueError`` with
    'CRC' for either checksum failing ('crc_error'); plain
    ``ValueError`` for truncation ('corrupt')."""
    records: list[bytes] = []
    pos = 0
    while pos < len(stream):
        if pos + 12 > len(stream):
            raise ValueError("truncated tfrecord length frame")
        length_bytes = stream[pos : pos + 8]
        stored_len_crc = struct.unpack("<I", stream[pos + 8 : pos + 12])[0]
        if stored_len_crc != masked_crc32c(length_bytes):
            raise ValueError("tfrecord length CRC mismatch")
        length = struct.unpack("<Q", length_bytes)[0]
        pos += 12
        if pos + length + 4 > len(stream):
            raise ValueError("truncated tfrecord payload")
        payload = stream[pos : pos + length]
        stored_crc = struct.unpack(
            "<I", stream[pos + length : pos + length + 4]
        )[0]
        if stored_crc != masked_crc32c(payload):
            raise ValueError("tfrecord payload CRC mismatch")
        pos += length + 4
        records.append(payload)
    return records


# ------------------------------------------------- driver-oracled query

_TFR_GROUPS = 9


def _tfr_payloads_of(g: int) -> list[bytes]:
    """Closed-form record set for group ``g``: 2 + g % 4 records;
    record r holds 32 + 12*r + g bytes of ``(19 i + 23 r + 31 g) % 251``."""
    return [
        bytes((19 * i + 23 * r + 31 * g) % 251 for i in range(32 + 12 * r + g))
        for r in range(2 + g % 4)
    ]


def _tfr_payload(doc_id: int) -> bytes:
    g = doc_id % _TFR_GROUPS
    stream = b"".join(build_tfrecord(p) for p in _tfr_payloads_of(g))
    if doc_id % 17 == 2 and doc_id % 11 != 3:
        # flip one bit of the FIRST record's stored length CRC
        stream = stream[:8] + bytes([stream[8] ^ 0x01]) + stream[9:]
    if doc_id % 11 == 3:
        stream = stream[:-3]  # cut inside the final payload CRC
    return stream


def _tfr_key(doc_id: int) -> tuple:
    return (doc_id % _TFR_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2)


def _tfr_facts(doc_id: int) -> tuple:
    records = walk_tfrecords(_tfr_payload(doc_id))
    csum = wsum = off = 0
    for p in records:
        for i, b in enumerate(p):
            csum += b
            wsum += (off + i + 1) * b
        off += len(p)
    return ("decoded", len(records), off, csum, wsum)


def _tfr_oracle() -> str:
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_TFR_GROUPS} AS g FROM documents
    ),
    rec AS (
      SELECT g, unnest(range(0, 2 + g % 4)) AS r FROM grp
    ),
    sized AS (
      SELECT g, r, 32 + 12 * r + g AS len,
             COALESCE(SUM(32 + 12 * r + g) OVER (
               PARTITION BY g ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS off
      FROM rec
    ),
    vals AS (
      SELECT g, off + i + 1 AS gpos, (19 * i + 23 * r + 31 * g) % 251 AS v
      FROM (SELECT *, unnest(range(0, len)) AS i FROM sized)
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(*) FROM rec WHERE rec.g = v.g) AS INT)
               AS n_records,
             CAST(COUNT(*) AS BIGINT) AS total_bytes,
             CAST(SUM(v.v) AS BIGINT) AS content_sum,
             CAST(SUM(v.gpos * v.v) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                THEN 0 ELSE s.n_records END AS n_records,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                THEN 0 ELSE s.total_bytes END AS total_bytes,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_TFR_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_tfrecord_walk", oracle=_tfr_oracle())
def ingest_tfrecord_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TFRecord shard ingestion: the complete framing layer — 8-byte
    length, masked CRC-32C over the length bytes AND over each
    payload (CRC-32C from the Castagnoli polynomial, pinned to its
    published check vector; the rotate-add mask from the public format
    definition) — with closed-form payloads the oracle replays byte
    for byte. Typed verdicts: truncation ('corrupt') and a flipped
    stored length-CRC bit ('crc_error' — the checksum streaming
    readers resynchronize on).

    Scale notes (100 TB): Arrow-batched mapInPandas decode map;
    sequential within a shard by the format's design, parallel across
    shards — exactly TensorFlow's own reader model."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_tfr_batches", _tfr_key, _tfr_facts,
        "doc_id long, status string, n_records int, total_bytes long, "
        "content_sum long, wsum long",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
