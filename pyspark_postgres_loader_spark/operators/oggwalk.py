"""Ogg page walk (RFC 3533) — the audio-transport container for
Opus/Vorbis corpora, completing the audio-transport trio next to the
MP3 frame walk and the AAC ADTS walk.

Ogg is a PAGE-framed transport: each page starts with the ``OggS``
capture pattern (a reader must be able to RESYNC by scanning for it —
streams are routinely joined mid-file), carries a 27-byte header with
a segment table of "lacing values" that frame variable-length packets
(255 = packet continues into the next lacing value, <255 terminates;
a packet running off the page end continues on the next page, which
MUST carry the continuation flag), and is integrity-protected by a
CRC-32 that is unlike every other checksum in this repo: the
NON-REFLECTED polynomial 0x04C11DB7 with init 0 and no final XOR,
computed over the whole page with the checksum field zeroed. The
table is pinned by the published CRC-32/MPEG-2 check vector (same
machine, init 0xFFFFFFFF): crc(b"123456789") = 0x0376E6E7.

This walker does all of it natively: capture-pattern resync over
leading junk, page-header parse (version / header-type flags /
granule / serial / sequence), our own CRC-32 verification, lacing
segmentation into packets across page boundaries, and
continuation/BOS/EOS flag consistency checks.

Determinism: page payloads form a closed-form byte lattice over the
concatenated payload stream, and the page/lacing layout per group is
a fixed function of ``g = doc_id % 10``, so the DuckDB oracle replays
page counts, completed-packet counts, payload totals, content sums, a
global-position-weighted sum (pins page ORDER and payload offsets),
the final granule position, and the number of junk bytes skipped by
the resync — without seeing an Ogg byte. Statuses: 'decoded';
'corrupt' (tail truncation inside the final page's payload —
lacing-sum vs available bytes, detectable at every group);
'crc_error' (a flipped stored-CRC bit on page 0); 'unsupported'
(stream-structure version != 0).

Scale notes (100 TB): Arrow-batched ``mapInPandas`` decode map; pages
chain sequentially WITHIN a stream (the format's own data
dependency), corpus parallelism is across documents; ~70 B of integer
facts per row re-enter the JVM.

Reference: no counterpart (SURVEY.md §2l multimodal/ingest extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_CAPTURE = b"OggS"
_F_CONT, _F_BOS, _F_EOS = 0x01, 0x02, 0x04

# CRC-32 table for the forward (non-reflected) polynomial 0x04C11DB7,
# MSB-first — the Ogg page checksum machine (init 0, no final XOR).
_CRC_TABLE = []
for _i in range(256):
    _r = _i << 24
    for _ in range(8):
        _r = (
            ((_r << 1) ^ 0x04C11DB7) if _r & 0x80000000 else (_r << 1)
        ) & 0xFFFFFFFF
    _CRC_TABLE.append(_r)
del _i, _r


def ogg_crc(data: bytes, crc: int = 0) -> int:
    """Ogg page CRC-32: poly 0x04C11DB7, MSB-first, init 0, no final
    XOR. With ``crc=0xFFFFFFFF`` this is exactly CRC-32/MPEG-2, whose
    published check vector pins the table (tests)."""
    for b in data:
        crc = ((crc << 8) & 0xFFFFFFFF) ^ _CRC_TABLE[((crc >> 24) & 0xFF) ^ b]
    return crc


def build_ogg_page(
    flags: int,
    granule: int,
    serial: int,
    seq: int,
    lacings: list[int],
    payload: bytes,
) -> bytes:
    """One RFC 3533 page with a correctly computed CRC."""
    if sum(lacings) != len(payload):
        raise ValueError("lacing sum != payload length")
    hdr = (
        _CAPTURE
        + struct.pack("<BBqIII", 0, flags, granule, serial, seq, 0)
        + bytes([len(lacings)])
        + bytes(lacings)
    )
    page = bytearray(hdr + payload)
    crc = ogg_crc(bytes(page))
    page[22:26] = struct.pack("<I", crc)
    return bytes(page)


def walk_ogg_pages(payload: bytes) -> dict:
    """Walk an Ogg physical stream → facts dict. Resyncs to the first
    capture pattern (leading junk is counted, not fatal), then parses
    pages back to back. Raises ``NotImplementedError`` for unknown
    stream-structure versions or multiplexed serials ('unsupported'),
    ``ValueError`` with 'CRC' for checksum mismatches ('crc_error'),
    and plain ``ValueError`` for structural damage ('corrupt')."""
    start = payload.find(_CAPTURE)
    if start < 0:
        raise ValueError("no Ogg capture pattern")
    pos = start
    n_pages = n_packets = 0
    content_sum = wsum = 0
    payload_bytes = 0
    last_granule = 0
    serial0: int | None = None
    expect_seq = 0
    open_packet = False
    saw_eos = False
    while pos < len(payload):
        if saw_eos:
            raise ValueError("data after EOS page")
        if payload[pos : pos + 4] != _CAPTURE:
            raise ValueError("lost capture pattern mid-stream")
        if pos + 27 > len(payload):
            raise ValueError("truncated page header")
        version, flags, granule, serial, seq, crc_stored = struct.unpack(
            "<BBqIII", payload[pos + 4 : pos + 26]
        )
        if version != 0:
            raise NotImplementedError(
                f"ogg stream-structure version {version}"
            )
        nseg = payload[pos + 26]
        seg_end = pos + 27 + nseg
        if seg_end > len(payload):
            raise ValueError("truncated segment table")
        lacings = list(payload[pos + 27 : seg_end])
        body_len = sum(lacings)
        page_end = seg_end + body_len
        if page_end > len(payload):
            raise ValueError("truncated page payload")
        page = bytearray(payload[pos:page_end])
        page[22:26] = b"\x00\x00\x00\x00"
        if ogg_crc(bytes(page)) != crc_stored:
            raise ValueError("ogg page CRC mismatch (CRC)")
        if serial0 is None:
            serial0 = serial
            if not flags & _F_BOS:
                raise ValueError("first page is not BOS")
        elif serial != serial0:
            raise NotImplementedError("multiplexed (grouped) ogg streams")
        elif flags & _F_BOS:
            raise ValueError("BOS flag on a non-first page")
        if seq != expect_seq:
            raise ValueError("page sequence discontinuity")
        if bool(flags & _F_CONT) != open_packet:
            raise ValueError("continuation flag inconsistent with lacing")
        for b in payload[seg_end:page_end]:
            payload_bytes += 1
            content_sum += b
            wsum += payload_bytes * b
        for lac in lacings:
            if lac == 255:
                open_packet = True
            else:
                n_packets += 1
                open_packet = False
        last_granule = granule
        saw_eos = bool(flags & _F_EOS)
        n_pages += 1
        expect_seq += 1
        pos = page_end
    if not saw_eos:
        raise ValueError("stream ends without EOS page")
    if open_packet:
        raise ValueError("packet left open at end of stream")
    return {
        "n_pages": n_pages,
        "n_packets": n_packets,
        "payload_bytes": payload_bytes,
        "content_sum": content_sum,
        "wsum": wsum,
        "last_granule": last_granule,
        "junk_skipped": start,
    }


# ------------------------------------------------- driver-oracled query

_OGG_GROUPS = 10
_OGG_SERIAL_BASE = 0x1234


def _ogg_layout(g: int) -> list[tuple[int, list[int]]]:
    """Closed-form page layout for group ``g``: 2 + g % 3 pages as
    (flags, lacings). Page 0 always ends with a 255 lacing, so page 1
    is a REQUIRED continuation page — the cross-page packet path is
    exercised in every group."""
    p = 2 + g % 3
    pages = [
        (_F_BOS, [120 + g, 255]),
        (_F_CONT, [130 + g, 90 + g]),
    ]
    if p >= 3:
        pages.append((0, [150 + g, 80 + g]))
    if p == 4:
        pages.append((0, [200 + g]))
    flags_last, lac_last = pages[-1]
    pages[-1] = (flags_last | _F_EOS, lac_last)
    return pages


def _ogg_payload(doc_id: int) -> bytes:
    g = doc_id % _OGG_GROUPS
    layout = _ogg_layout(g)
    stream = bytearray()
    j = 0
    for seq, (flags, lacings) in enumerate(layout):
        body = bytearray()
        for _ in range(sum(lacings)):
            body.append((3 * j + 17 * g) % 253)
            j += 1
        stream += build_ogg_page(
            flags, 1000 * (seq + 1) + g, _OGG_SERIAL_BASE + g, seq,
            lacings, bytes(body),
        )
    if doc_id % 2 == 1:
        # leading junk the resync must skip: a constant byte can never
        # spell the 4-distinct-letter capture pattern
        stream = bytearray([(5 * g + 1) % 251] * (7 + g)) + stream
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    junk = (7 + g) if doc_id % 2 == 1 else 0
    if crc_err:
        stream[junk + 22] ^= 0x01  # page 0 stored CRC
    if unsup:
        # version byte: recompute the CRC so only the version check
        # can fire (not the integrity check)
        page0_len = 27 + 2 + (120 + g) + 255
        page = bytearray(stream[junk : junk + page0_len])
        page[4] = 1
        page[22:26] = b"\x00\x00\x00\x00"
        page[22:26] = struct.pack("<I", ogg_crc(bytes(page)))
        stream[junk : junk + page0_len] = page
    if corrupt:
        # cut INSIDE the final page's payload (every last page carries
        # >= 200 payload bytes): lacing sum vs available bytes fails
        # structurally at every group (tail-drop, never halving)
        stream = stream[:-5]
    return bytes(stream)


def _ogg_key(doc_id: int) -> tuple:
    return (doc_id % _OGG_GROUPS, doc_id % 2, doc_id % 11 == 3,
            doc_id % 17 == 2, doc_id % 13 == 5)


def _ogg_facts(doc_id: int) -> tuple:
    f = walk_ogg_pages(_ogg_payload(doc_id))
    return (
        "decoded", f["n_pages"], f["n_packets"],
        f["payload_bytes"], f["content_sum"], f["wsum"],
        f["last_granule"], f["junk_skipped"],
    )


def _ogg_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    # closed-form payload length per group (page lacing sums):
    #   pages=2 (g%3=0): (375+g) + (220+2g)            = 595 + 3g
    #   pages=3 (g%3=1): ... + (230+2g)                = 825 + 5g
    #   pages=4 (g%3=2): ... + (200+g)                 = 1025 + 6g
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_OGG_GROUPS} AS g FROM documents
    ),
    sized AS (
      SELECT g,
             CASE g % 3 WHEN 0 THEN 595 + 3 * g
                        WHEN 1 THEN 825 + 5 * g
                        ELSE 1025 + 6 * g END AS plen,
             2 + g % 3 AS n_pages,
             CASE g % 3 WHEN 0 THEN 3 WHEN 1 THEN 5 ELSE 6 END
               AS n_packets
      FROM grp
    ),
    bytes AS (
      SELECT g, n_pages, n_packets, plen,
             unnest(range(0, plen)) AS j
      FROM sized
    ),
    sums AS (
      SELECT g,
             CAST(MAX(n_pages) AS INT) AS n_pages,
             CAST(MAX(n_packets) AS INT) AS n_packets,
             CAST(MAX(plen) AS BIGINT) AS payload_bytes,
             CAST(SUM((3 * j + 17 * g) % 253) AS BIGINT) AS content_sum,
             CAST(SUM((j + 1) * ((3 * j + 17 * g) % 253)) AS BIGINT)
               AS wsum,
             CAST(1000 * MAX(n_pages) + g AS BIGINT) AS last_granule
      FROM bytes GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_pages END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.n_packets END AS n_packets,
           CASE WHEN {bad} THEN 0 ELSE s.payload_bytes END
             AS payload_bytes,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum,
           CASE WHEN {bad} THEN 0 ELSE s.last_granule END AS last_granule,
           CASE WHEN {bad} OR d.doc_id % 2 = 0 THEN 0
                ELSE 7 + d.doc_id % {_OGG_GROUPS} END AS junk_skipped
    FROM documents d
    JOIN sums s ON d.doc_id % {_OGG_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("audio_ogg_page_walk", oracle=_ogg_oracle())
def audio_ogg_page_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ogg transport ingestion end to end: capture-pattern resync over
    leading junk, page-header parse, our own non-reflected CRC-32
    (0x04C11DB7, init 0 — pinned by the CRC-32/MPEG-2 check vector),
    lacing segmentation into packets ACROSS page boundaries, and
    continuation/BOS/EOS flag consistency. Every group carries a
    packet that spans a page boundary, so the continuation path is
    never vacuous. The oracled facts replay the closed-form payload
    stream — a global-position weighted sum pins page order and
    payload offsets, the completed-packet count pins the lacing state
    machine, and the junk_skipped column pins the resync. Typed
    verdicts: payload truncation ('corrupt'), a flipped stored-CRC bit
    ('crc_error'), an unknown stream-structure version with a VALID
    checksum ('unsupported' — proves the version gate, not the CRC,
    fires).

    Scale notes (100 TB): Arrow-batched mapInPandas decode map; only
    integer facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_ogg_batches", _ogg_key, _ogg_facts,
        "doc_id long, status string, n_pages int, n_packets int, "
        "payload_bytes long, content_sum long, wsum long, last_granule long, "
        "junk_skipped int",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
