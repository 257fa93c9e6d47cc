"""Zstandard SEEKABLE format — random access into compressed shards.

A 100 TB corpus stored as plain .zst shards has a brutal property:
serving one record means decompressing from the shard's first byte.
The seekable format (the public zstd contrib specification) fixes
this: the file is a sequence of INDEPENDENT zstd frames, and a
trailing skippable frame carries a seek table so a reader can binary-
search the frame containing any uncompressed offset and decompress
only that frame — the layout a random-access training-data loader
actually wants.

Layout (seekable_format.md, public):

- N ordinary zstd frames (each independently decompressible);
- one skippable frame (magic ``0x184D2A5E``) whose payload is the
  seek table: N entries of 4-byte LE compressed size + 4-byte LE
  decompressed size (+ 4-byte checksum — the LOW 32 BITS of the
  XXH64 of the uncompressed data — when the descriptor flag is
  set), then a 9-byte footer: 4-byte LE frame count, 1 descriptor
  byte (bit 7 = checksum flag), and the seekable magic
  ``0x8F92EAB1``.

The walk parses the footer FROM THE END (exactly how a seeking
reader finds the table without scanning), then verifies the whole
verifiable surface: per-entry compressed sizes against the actual
frame boundaries, decompressed sizes against this repo's own RFC
8878 decoder output (operators/zstdfse.py), per-frame XXH64-low32
checksums (operators/byteprim.xxh64), and the table's total against
the file. A seek PROBE then resolves a target uncompressed offset
to its frame via the table's prefix sums alone — the random-access
operation the format exists for — and the probe result is checked
against the ground truth from full decompression.

Typed verdicts: truncation / bad magics ('corrupt'), a flipped
content byte under an intact stored checksum ('crc_error'), a
patched decompressed-size entry ('mismatch' — the table lies about
the data; a seeking reader MUST notice or it returns wrong bytes).

Scale notes (100 TB): the point of the format IS scale — the seek
table is O(frames) metadata; a reader touches one frame per probe.
Fixture decode rides the usual Arrow-batched mapInPandas +
per-worker memo + typed quarantine shape.

Reference: zstd contrib seekable_format (public spec); reference
repo has no compression surface (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .zstdfse import decompress_frame
from .byteprim import xxh64
from .zstdwalk import build_zstd_frame
from .walkbatch import decode_walk

_SEEK_SKIP_MAGIC = 0x184D2A5E
_SEEK_FOOTER_MAGIC = 0x8F92EAB1
_D_CHECKSUM = 0x80


def build_zstd_seekable(chunks: list[bytes],
                        with_checksum: bool = True) -> bytes:
    """Assemble a seekable file from uncompressed chunks (each
    becomes one frame via the RAW/RLE fixture encoder)."""
    frames = []
    entries = bytearray()
    for c in chunks:
        fr = build_zstd_frame([("raw", c)], checksum=False)
        frames.append(fr)
        entries += struct.pack("<II", len(fr), len(c))
        if with_checksum:
            entries += struct.pack("<I", xxh64(c) & 0xFFFFFFFF)
    desc = _D_CHECKSUM if with_checksum else 0
    table = bytes(entries) + struct.pack(
        "<IBI", len(chunks), desc, _SEEK_FOOTER_MAGIC)
    skip = struct.pack("<II", _SEEK_SKIP_MAGIC, len(table)) + table
    return b"".join(frames) + skip


def walk_zstd_seekable(data: bytes) -> dict:
    """Walk a seekable zstd file: footer-first table parse, every
    frame decompressed through the native zstd decoder, every table
    claim verified. Raises ValueError with 'CHECKSUM' for per-frame
    checksum mismatches and with 'DSIZE' for table/decode size
    disagreements, plain ValueError for structural damage."""
    try:
        return _walk_seekable(data)
    except (IndexError, struct.error, TypeError) as exc:
        raise ValueError(f"malformed seekable zstd ({exc})") from exc


def _walk_seekable(data: bytes) -> dict:
    if len(data) < 17:
        raise ValueError("too short for a seekable footer")
    magic = struct.unpack_from("<I", data, len(data) - 4)[0]
    if magic != _SEEK_FOOTER_MAGIC:
        raise ValueError("missing seekable footer magic")
    n_frames = struct.unpack_from("<I", data, len(data) - 9)[0]
    desc = data[len(data) - 5]
    if desc & 0x7C:
        raise ValueError("reserved seekable descriptor bits set")
    has_ck = bool(desc & _D_CHECKSUM)
    entry_sz = 12 if has_ck else 8
    if n_frames > 1 << 20:
        raise ValueError("implausible seekable frame count")
    table_sz = n_frames * entry_sz + 9
    skip_start = len(data) - table_sz - 8
    if skip_start < 0:
        raise ValueError("seek table exceeds payload")
    sm, ssz = struct.unpack_from("<II", data, skip_start)
    if sm != _SEEK_SKIP_MAGIC:
        raise ValueError("missing seekable skippable-frame magic")
    if ssz != table_sz:
        raise ValueError("skippable size disagrees with seek table")
    entries = []
    off = skip_start + 8
    for i in range(n_frames):
        csz, dsz = struct.unpack_from("<II", data, off)
        ck = None
        if has_ck:
            ck = struct.unpack_from("<I", data, off + 8)[0]
        entries.append((csz, dsz, ck))
        off += entry_sz
    # decompress every frame, verifying the table's every claim
    pos = 0
    chunks = []
    for i, (csz, dsz, ck) in enumerate(entries):
        if pos + csz > skip_start:
            raise ValueError("frame extends into the seek table")
        content, consumed = decompress_frame(data[pos : pos + csz])
        if consumed != csz:
            raise ValueError(
                "table compressed size disagrees with frame (DSIZE)")
        if len(content) != dsz:
            raise ValueError(
                "table decompressed size disagrees with frame (DSIZE)")
        if ck is not None and (xxh64(content) & 0xFFFFFFFF) != ck:
            raise ValueError("seekable frame CHECKSUM mismatch")
        chunks.append(content)
        pos += csz
    if pos != skip_start:
        raise ValueError("frames and seek table do not tile the file")

    def probe(target: int) -> int:
        """Resolve an uncompressed offset to its frame index using
        the table alone (the format's random-access operation)."""
        acc = 0
        for i, (_, dsz, _) in enumerate(entries):
            if target < acc + dsz:
                return i
            acc += dsz
        raise ValueError("probe offset beyond content")

    total_d = sum(d for _, d, _ in entries)
    # cross-check the probe against ground truth from the full decode
    t = (total_d * 2) // 3
    fi = probe(t)
    acc = 0
    for i, c in enumerate(chunks):
        if t < acc + len(c):
            assert i == fi  # table-only probe == ground truth
            probe_byte = c[t - acc]
            break
        acc += len(c)
    return {
        "n_frames": n_frames,
        "has_checksum": has_ck,
        "total_compressed": pos,
        "total_decompressed": total_d,
        "chunks": chunks,
        "probe_frame": fi,
        "probe_byte": probe_byte,
    }


# ------------------------------------------------- driver-oracled query

_SK_GROUPS = 10


def _sk_nchunks(g: int) -> int:
    return 5 + g % 4


def _sk_chunk_len(g: int, f: int) -> int:
    # stays under the fixture encoder's 255-byte single-segment FCS
    return 90 + 11 * f + 7 * g


def _sk_byte(g: int, f: int, i: int) -> int:
    return (37 * i + 11 * f + 5 * g + (i * i) % 13) % 256


def _sk_chunks(g: int) -> list[bytes]:
    return [bytes(_sk_byte(g, f, i) for i in range(_sk_chunk_len(g, f)))
            for f in range(_sk_nchunks(g))]


def _sk_blob(g: int) -> bytes:
    return build_zstd_seekable(_sk_chunks(g), with_checksum=g % 2 == 0)


def _sk_payload(doc_id: int) -> bytes:
    g = doc_id % _SK_GROUPS
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt and g % 2 == 0
    mismatch = doc_id % 13 == 5 and not (corrupt or crc_err)
    blob = bytearray(_sk_blob(g))
    if crc_err:
        # flip a content byte inside the FIRST frame's raw block
        # (frame header is 6 bytes + 3-byte block header)
        blob[9 + 4] ^= 0x01
    if mismatch:
        # patch the first entry's decompressed size (+1) in the table
        n = _sk_nchunks(g)
        entry_sz = 12 if g % 2 == 0 else 8
        table_start = len(blob) - (n * entry_sz + 9) + 4
        blob[table_start] = (blob[table_start] + 1) & 0xFF
    if corrupt:
        del blob[-6:]
    return bytes(blob)


def _sk_key(doc_id: int) -> tuple:
    return (doc_id % _SK_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _sk_facts(doc_id: int) -> tuple:
    f = walk_zstd_seekable(_sk_payload(doc_id))
    b_sum = b_wsum = 0
    for fi, c in enumerate(f["chunks"]):
        for i, b in enumerate(c):
            b_sum += b
            b_wsum += (fi + 1) * (i + 1) * b
    return (
        "decoded", f["n_frames"], int(f["has_checksum"]),
        f["total_decompressed"], b_sum, b_wsum,
        f["probe_frame"], f["probe_byte"],
    )


def _sk_oracle() -> str:
    bad_full = ("d.doc_id % 11 = 3 "
                "OR (d.doc_id % 17 = 2 AND d.doc_id % 2 = 0) "
                "OR (d.doc_id % 13 = 5 "
                "    AND NOT (d.doc_id % 11 = 3 "
                "             OR (d.doc_id % 17 = 2 AND d.doc_id % 2 = 0)))")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_SK_GROUPS} AS g FROM documents
    ),
    fr AS (
      SELECT g, unnest(range(0, 5 + g % 4)) AS f FROM grp
    ),
    by AS (
      SELECT g, f, i,
             (37 * i + 11 * f + 5 * g + (i * i) % 13) % 256 AS b
      FROM (SELECT g, f, unnest(range(0, 90 + 11 * f + 7 * g)) AS i
            FROM fr)
    ),
    lens AS (
      SELECT g, f, 90 + 11 * f + 7 * g AS ln FROM fr
    ),
    totals AS (
      SELECT g, CAST(SUM(ln) AS BIGINT) AS total_d FROM lens GROUP BY g
    ),
    prefix AS (
      SELECT l.g, l.f, l.ln,
             CAST(COALESCE(SUM(l2.ln), 0) AS BIGINT) AS before_d
      FROM lens l LEFT JOIN lens l2
        ON l2.g = l.g AND l2.f < l.f
      GROUP BY l.g, l.f, l.ln
    ),
    probe AS (
      SELECT p.g, p.f AS probe_frame,
             CAST((t.total_d * 2) // 3 - p.before_d AS BIGINT)
               AS local_off
      FROM prefix p JOIN totals t ON p.g = t.g
      WHERE (t.total_d * 2) // 3 >= p.before_d
        AND (t.total_d * 2) // 3 < p.before_d + p.ln
    ),
    probe_byte AS (
      SELECT p.g, p.probe_frame,
             CAST((37 * p.local_off + 11 * p.probe_frame + 5 * p.g
              + (p.local_off * p.local_off) % 13) % 256 AS BIGINT) AS pb
      FROM probe p
    ),
    sums AS (
      SELECT b.g,
             CAST(5 + b.g % 4 AS BIGINT) AS n_frames,
             CAST(SUM(b.b) AS BIGINT) AS b_sum,
             CAST(SUM((b.f + 1) * (b.i + 1) * b.b) AS BIGINT) AS b_wsum
      FROM by b GROUP BY b.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 AND d.doc_id % 2 = 0
                     THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'mismatch'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad_full} THEN 0 ELSE s.n_frames END AS n_frames,
           CASE WHEN {bad_full} THEN 0
                ELSE CASE WHEN d.doc_id % 2 = 0 THEN 1 ELSE 0 END
                END AS has_checksum,
           CASE WHEN {bad_full} THEN 0 ELSE t.total_d
                END AS total_decompressed,
           CASE WHEN {bad_full} THEN 0 ELSE s.b_sum END AS b_sum,
           CASE WHEN {bad_full} THEN 0 ELSE s.b_wsum END AS b_wsum,
           CASE WHEN {bad_full} THEN 0 ELSE p.probe_frame
                END AS probe_frame,
           CASE WHEN {bad_full} THEN 0 ELSE p.pb END AS probe_byte
    FROM documents d
    JOIN sums s ON d.doc_id % {_SK_GROUPS} = s.g
    JOIN totals t ON t.g = s.g
    JOIN probe_byte p ON p.g = s.g
    ORDER BY d.doc_id
    """


@register("ingest_zstd_seekable_walk", oracle=_sk_oracle())
def ingest_zstd_seekable_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The zstd SEEKABLE format walked natively — the random-access
    shard layout a 100 TB training-data loader wants: footer-first
    seek-table parse (exactly how a seeking reader finds it), every
    frame through this repo's own RFC 8878 decoder, every table
    claim verified (compressed sizes vs frame boundaries,
    decompressed sizes vs decode output, XXH64-low32 content
    checksums when flagged, total tiling), plus a table-only seek
    PROBE whose result is cross-checked against the fully-decoded
    ground truth and value-oracled. Checksummed and checksum-free
    tables alternate by group. Typed verdicts: truncation
    ('corrupt'), content flip under an intact stored checksum
    ('crc_error'), a lying decompressed-size entry ('mismatch' —
    the failure a seeking reader must catch or silently serve wrong
    bytes).

    Scale notes (100 TB): the format IS the scale story — O(frames)
    metadata buys one-frame random access into any shard."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _SK_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 17 == 2).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
        (F.col("doc_id") % 2).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_sk_batches", _sk_key, _sk_facts,
        "doc_id long, status string, n_frames long, has_checksum long, "
        "total_decompressed long, b_sum long, b_wsum long, probe_frame long, "
        "probe_byte long",
        value_errors=(("CHECKSUM", "crc_error"), ("DSIZE", "mismatch")),
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
