"""Zstandard frame walk (RFC 8878) — the other container modern
training corpora arrive in.

Same honest-scope policy as the MP3/AAC transport walks: everything
the FRAME layer defines is implemented and oracled — magic numbers,
frame-header descriptor decode (FCS field sizing, single-segment,
dictionary-ID flag, the reserved bit that must be zero), window
descriptor, frame content size, the 3-byte block-header walk
(last/type/size), SKIPPABLE frames (magic 0x184D2A5x, the metadata
carrier), multi-frame concatenation, and the frame content checksum
(low 32 bits of XXH64 seed 0, implemented from the public spec and
pinned against published test vectors). RAW and RLE blocks carry real
decodable content; COMPRESSED blocks (FSE/Huffman entropy stage) are
the typed 'unsupported' boundary — no half-verified decoder ships.
Nonzero dictionary IDs are likewise 'unsupported' (no dictionary
store), reserved block types and reserved descriptor bits 'corrupt'.

Determinism: RAW/RLE content is a closed-form byte lattice per
(group, frame, block, offset) so the DuckDB oracle replays every
decompressed byte — frame/skippable/block counts, content length,
content sum and a global-position-weighted sum pinning frame AND block
order — without touching xxhash or deflate bits (the checksum verdict
surfaces as the 'crc_error' status class instead).

Scale notes (100 TB): Arrow-batched ``mapInPandas`` decode map; frames
walk sequentially within a payload (the format's data dependency),
parallelism is across documents; integer facts only re-enter the JVM.

Reference: no counterpart (SURVEY.md §2l multimodal/ingest extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .byteprim import xxh64
from .walkbatch import decode_walk

_MAGIC = 0xFD2FB528
_SKIP_MAGIC_BASE = 0x184D2A50  # low nibble 0..15 all skippable


def build_zstd_frame(
    blocks: list[tuple], checksum: bool = True, single_segment: bool = True
) -> bytes:
    """One RFC 8878 frame from ``blocks`` — each ('raw', bytes) or
    ('rle', byte_value, count). Single-segment layout with a 1-byte
    frame content size (content must fit 255 bytes then), content
    checksum optional."""
    content = b"".join(
        b[1] if b[0] == "raw" else bytes([b[1]]) * b[2] for b in blocks
    )
    out = bytearray(struct.pack("<I", _MAGIC))
    fcs_flag = 0  # 1-byte FCS (single segment) — fixture frames are small
    desc = (fcs_flag << 6) | (0x20 if single_segment else 0) | (
        0x04 if checksum else 0
    )
    out.append(desc)
    if not single_segment:
        out.append(0x00)  # window descriptor
    if single_segment:
        if len(content) > 255:
            raise ValueError("fixture frames keep FCS in one byte")
        out.append(len(content))
    for k, b in enumerate(blocks):
        last = 1 if k == len(blocks) - 1 else 0
        if b[0] == "raw":
            btype, size, body = 0, len(b[1]), b[1]
        else:
            btype, size, body = 1, b[2], bytes([b[1]])
        hdr = last | (btype << 1) | (size << 3)
        out += struct.pack("<I", hdr)[:3]
        out += body
    if checksum:
        out += struct.pack("<I", xxh64(content) & 0xFFFFFFFF)
    return bytes(out)


def build_skippable_frame(payload: bytes, nibble: int = 0) -> bytes:
    return struct.pack("<II", _SKIP_MAGIC_BASE | (nibble & 0xF), len(payload)) + payload


def walk_zstd_frames(payload: bytes):
    """Walk concatenated zstd + skippable frames → (n_frames,
    n_skippable, blocks) with ``blocks`` a list of per-block content
    bytes in stream order. Typed verdicts: ``NotImplementedError`` for
    compressed blocks / nonzero dictionary IDs ('unsupported'),
    ``ValueError`` with 'CHECKSUM' for a failed content checksum
    ('crc_error'), plain ``ValueError`` for structural damage."""
    pos = 0
    n_frames = n_skip = 0
    blocks: list[bytes] = []
    if not payload:
        raise ValueError("empty zstd payload")
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated frame magic")
        magic = struct.unpack("<I", payload[pos : pos + 4])[0]
        pos += 4
        if (magic & 0xFFFFFFF0) == _SKIP_MAGIC_BASE:
            if pos + 4 > len(payload):
                raise ValueError("truncated skippable size")
            size = struct.unpack("<I", payload[pos : pos + 4])[0]
            pos += 4 + size
            if pos > len(payload):
                raise ValueError("truncated skippable payload")
            n_skip += 1
            continue
        if magic != _MAGIC:
            raise ValueError(f"bad zstd magic 0x{magic:08x}")
        if pos >= len(payload):
            raise ValueError("truncated frame header descriptor")
        desc = payload[pos]
        pos += 1
        if desc & 0x08:
            raise ValueError("reserved frame descriptor bit set")
        fcs_flag = desc >> 6
        single = bool(desc & 0x20)
        has_checksum = bool(desc & 0x04)
        did_size = (0, 1, 2, 4)[desc & 0x03]
        if not single:
            pos += 1  # window descriptor
        if did_size:
            if pos + did_size > len(payload):
                raise ValueError("truncated dictionary ID")
            did = int.from_bytes(payload[pos : pos + did_size], "little")
            pos += did_size
            if did:
                raise NotImplementedError(f"zstd dictionary {did} not loaded")
        fcs_bytes = (1 if single else 0, 2, 4, 8)[fcs_flag]
        fcs = None
        if fcs_bytes:
            if pos + fcs_bytes > len(payload):
                raise ValueError("truncated frame content size")
            fcs = int.from_bytes(payload[pos : pos + fcs_bytes], "little")
            if fcs_bytes == 2:
                fcs += 256
            pos += fcs_bytes
        content = bytearray()
        frame_blocks: list[bytes] = []
        while True:
            if pos + 3 > len(payload):
                raise ValueError("truncated block header")
            hdr = int.from_bytes(payload[pos : pos + 3], "little")
            pos += 3
            last, btype, size = hdr & 1, (hdr >> 1) & 3, hdr >> 3
            if btype == 0:
                if pos + size > len(payload):
                    raise ValueError("truncated raw block")
                body = payload[pos : pos + size]
                pos += size
            elif btype == 1:
                if pos + 1 > len(payload):
                    raise ValueError("truncated RLE block")
                body = bytes([payload[pos]]) * size
                pos += 1
            elif btype == 2:
                raise NotImplementedError(
                    "zstd compressed block (FSE/Huffman entropy stage)"
                )
            else:
                raise ValueError("reserved zstd block type")
            frame_blocks.append(body)
            content += body
            if last:
                break
        if fcs is not None and fcs != len(content):
            raise ValueError("frame content size mismatch")
        if has_checksum:
            if pos + 4 > len(payload):
                raise ValueError("truncated frame trailer")
            stored = struct.unpack("<I", payload[pos : pos + 4])[0]
            pos += 4
            if stored != (xxh64(bytes(content)) & 0xFFFFFFFF):
                raise ValueError("zstd content CHECKSUM mismatch")
        n_frames += 1
        blocks.extend(frame_blocks)
    return n_frames, n_skip, blocks


# ------------------------------------------------- driver-oracled query

_ZS_GROUPS = 12


def _zs_blocks_of(g: int) -> list[list[tuple]]:
    """Closed-form frame/block layout for group ``g``: 1 + g % 2
    frames; frame f holds 1 + (g + f) % 3 blocks; block b is RLE when
    (f + b) % 3 == 2 (value (3g + 7b + f) % 253 repeated 20 + b) else
    RAW with 24 + 8b + g bytes of the lattice
    ``(11 i + 29 b + 41 f + 5 g) % 253``."""
    frames = []
    for f in range(1 + g % 2):
        blocks: list[tuple] = []
        for b in range(1 + (g + f) % 3):
            if (f + b) % 3 == 2:
                blocks.append(("rle", (3 * g + 7 * b + f) % 253, 20 + b))
            else:
                blocks.append(
                    (
                        "raw",
                        bytes(
                            (11 * i + 29 * b + 41 * f + 5 * g) % 253
                            for i in range(24 + 8 * b + g)
                        ),
                    )
                )
        frames.append(blocks)
    return frames


def _zs_payload(doc_id: int) -> bytes:
    g = doc_id % _ZS_GROUPS
    frames = _zs_blocks_of(g)
    parts = []
    if g % 4 == 1:  # a leading skippable metadata frame
        parts.append(build_skippable_frame(b"\x55" * (6 + g), nibble=g % 16))
    parts += [build_zstd_frame(blocks) for blocks in frames]
    payload = b"".join(parts)
    if doc_id % 17 == 2 and doc_id % 11 != 3:
        payload = payload[:-4] + bytes([payload[-4] ^ 0x01]) + payload[-3:]
    if doc_id % 13 == 5 and doc_id % 17 != 2 and doc_id % 11 != 3:
        # patch the FIRST block's type bits raw(0) -> compressed(2):
        # the typed entropy-stage boundary (block 0 of frame 0 is
        # always RAW: (f + b) % 3 == 0)
        off = len(parts[0]) if g % 4 == 1 else 0
        # block header starts after magic(4)+desc(1)+fcs(1) in the
        # single-segment fixture layout
        i = off + 6
        payload = payload[:i] + bytes([payload[i] | 0x04]) + payload[i + 1 :]
    if doc_id % 11 == 3:
        payload = payload[:-3]  # cut inside the trailing 4-byte checksum
    return payload


def _zs_key(doc_id: int) -> tuple:
    return (doc_id % _ZS_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _zs_facts(doc_id: int) -> tuple:
    n_frames, n_skip, blocks = walk_zstd_frames(_zs_payload(doc_id))
    csum = wsum = off = 0
    for body in blocks:
        for i, b in enumerate(body):
            csum += b
            wsum += (off + i + 1) * b
        off += len(body)
    return (
        "decoded", n_frames, n_skip, len(blocks), off, csum, wsum,
    )


def _zs_oracle() -> str:
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_ZS_GROUPS} AS g FROM documents
    ),
    fb AS (
      SELECT g, f, unnest(range(0, 1 + (g + f) % 3)) AS b
      FROM (SELECT g, unnest(range(0, 1 + g % 2)) AS f FROM grp)
    ),
    sized AS (
      SELECT g, f, b,
             (f + b) % 3 = 2 AS is_rle,
             CASE WHEN (f + b) % 3 = 2 THEN 20 + b
                  ELSE 24 + 8 * b + g END AS len
      FROM fb
    ),
    offs AS (
      SELECT *, COALESCE(SUM(len) OVER (
               PARTITION BY g ORDER BY f, b
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS off
      FROM sized
    ),
    vals AS (
      SELECT g, off + i + 1 AS gpos,
             CASE WHEN is_rle THEN (3 * g + 7 * b + f) % 253
                  ELSE (11 * i + 29 * b + 41 * f + 5 * g) % 253 END AS v
      FROM (SELECT *, unnest(range(0, len)) AS i FROM offs)
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(DISTINCT f) FROM fb WHERE fb.g = v.g) AS INT)
               AS n_frames,
             CAST(CASE WHEN v.g % 4 = 1 THEN 1 ELSE 0 END AS INT)
               AS n_skippable,
             CAST((SELECT COUNT(*) FROM fb WHERE fb.g = v.g) AS INT)
               AS n_blocks,
             CAST(COUNT(*) AS BIGINT) AS total_bytes,
             CAST(SUM(v.v) AS BIGINT) AS content_sum,
             CAST(SUM(v.gpos * v.v) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_frames END AS n_frames,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_skippable END AS n_skippable,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_blocks END AS n_blocks,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.total_bytes END AS total_bytes,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_ZS_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_zstd_frame_walk", oracle=_zs_oracle())
def ingest_zstd_frame_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zstandard (RFC 8878) frame-layer ingestion: multi-frame walk
    with skippable metadata frames, frame-header descriptor decode,
    RAW + RLE block decode, frame-content-size validation, and XXH64
    content-checksum verification — with the FSE/Huffman entropy stage
    as the honest typed 'unsupported' boundary (the MP3/AAC transport-
    walk policy). The oracle replays every RAW/RLE content byte in
    closed form; the position-weighted sum pins frame and block order.
    Typed verdicts: tail truncation ('corrupt'), a flipped checksum bit
    ('crc_error' — proves XXH64 verification executes), a
    compressed-type block ('unsupported').

    Scale notes (100 TB): Arrow-batched mapInPandas decode map; only
    integer facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_zs_batches", _zs_key, _zs_facts,
        "doc_id long, status string, n_frames int, n_skippable int, "
        "n_blocks int, total_bytes long, content_sum long, wsum long",
        value_errors=(("CHECKSUM", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
