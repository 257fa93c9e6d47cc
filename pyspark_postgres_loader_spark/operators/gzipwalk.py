"""gzip (RFC 1952) member walk + full inflate — the container training
corpora actually arrive in.

Web-scale text datasets (Common Crawl WET/WARC, log shipping, bgzip)
ship as CONCATENATED gzip members; a pipeline ingesting them must walk
member boundaries, parse the optional header fields (FEXTRA / FNAME /
FCOMMENT / FHCRC), inflate each member, and verify the per-member
CRC-32 + ISIZE trailer. This operator does all of it natively: manual
header parse (so reserved FLG bits and header CRCs are OUR typed
verdicts, not a library's), raw-DEFLATE inflate via the stdlib
entropy coder (the documented PNG-path policy — zlib ships with
CPython; the BYTES of the deflate stream never cross an engine
boundary, only the closed-form decompressed content does), and our own
CRC-32/ISIZE check against the stored trailer.

Determinism: member CONTENT is a closed-form byte lattice per
(group, member, offset), so the DuckDB oracle replays every
decompressed byte — member count, per-member lengths, content sums, a
global-position-weighted sum (pins member ORDER and concatenation
offsets), and header-name footprint — without ever seeing a deflate
bit. Statuses: 'decoded', 'corrupt' (tail truncation — dropped TAIL
bytes land inside the final member's 8-byte trailer, so the cut is
structurally undetectable-proof; the AAC halving lesson), 'crc_error'
(a flipped stored CRC bit on member 0), 'unsupported' (reserved FLG
bit set — RFC 1952 §2.3.1 reserves FLG bits 5-7).

Scale notes (100 TB): the standard Arrow-batched ``mapInPandas``
decode map; gzip members inflate sequentially WITHIN a payload (the
format's own data dependency), corpus parallelism is across documents;
~60 B of integer facts per row re-enter the JVM.

Reference: no counterpart (SURVEY.md §2l multimodal/ingest extension).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_FTEXT, _FHCRC, _FEXTRA, _FNAME, _FCOMMENT = 1, 2, 4, 8, 16
_FLG_RESERVED = 0xE0


def walk_gzip_members(payload: bytes) -> list[tuple[str, bytes]]:
    """Walk a concatenated-member gzip stream → [(fname, content)].
    Raises ``NotImplementedError`` for reserved FLG bits (typed
    'unsupported'), ``ValueError`` with 'CRC'/'ISIZE' in the message
    for trailer mismatches (classified 'crc_error'), and plain
    ``ValueError`` for structural damage ('corrupt')."""
    try:
        return _walk_gzip_members(payload)
    except (struct.error, zlib.error) as exc:
        # byte-corrupted input walking off a field or feeding the
        # inflater garbage: structural damage, typed like every other
        # truncation (fuzz-pinned in tests)
        raise ValueError(f"corrupt gzip structure ({exc})") from exc


def _walk_gzip_members(payload: bytes) -> list[tuple[str, bytes]]:
    members: list[tuple[str, bytes]] = []
    pos = 0
    if not payload:
        raise ValueError("empty gzip payload")
    while pos < len(payload):
        if pos + 10 > len(payload):
            raise ValueError("truncated gzip header")
        if payload[pos] != 0x1F or payload[pos + 1] != 0x8B:
            raise ValueError("bad gzip magic")
        if payload[pos + 2] != 8:
            raise NotImplementedError(
                f"gzip compression method {payload[pos + 2]} (only DEFLATE)"
            )
        flg = payload[pos + 3]
        if flg & _FLG_RESERVED:
            raise NotImplementedError(
                f"reserved gzip FLG bits 0x{flg & _FLG_RESERVED:02x}"
            )
        hdr_start = pos
        pos += 10  # MTIME/XFL/OS carry no structure we verify
        if flg & _FEXTRA:
            if pos + 2 > len(payload):
                raise ValueError("truncated FEXTRA length")
            xlen = struct.unpack("<H", payload[pos : pos + 2])[0]
            pos += 2 + xlen
            if pos > len(payload):
                raise ValueError("truncated FEXTRA body")
        name = ""
        if flg & _FNAME:
            end = payload.find(b"\x00", pos)
            if end < 0:
                raise ValueError("unterminated FNAME")
            name = payload[pos:end].decode("latin-1")
            pos = end + 1
        if flg & _FCOMMENT:
            end = payload.find(b"\x00", pos)
            if end < 0:
                raise ValueError("unterminated FCOMMENT")
            pos = end + 1
        if flg & _FHCRC:
            if pos + 2 > len(payload):
                raise ValueError("truncated FHCRC")
            stored = struct.unpack("<H", payload[pos : pos + 2])[0]
            calc = zlib.crc32(payload[hdr_start:pos]) & 0xFFFF
            if stored != calc:
                raise ValueError("gzip header CRC mismatch (CRC)")
            pos += 2
        d = zlib.decompressobj(-15)
        data = d.decompress(payload[pos:])
        if not d.eof:
            raise ValueError("truncated gzip deflate stream")
        pos = len(payload) - len(d.unused_data)
        if pos + 8 > len(payload):
            raise ValueError("truncated gzip trailer")
        crc_stored, isize = struct.unpack("<II", payload[pos : pos + 8])
        pos += 8
        if zlib.crc32(data) & 0xFFFFFFFF != crc_stored:
            raise ValueError("gzip member CRC32 mismatch (CRC)")
        if len(data) & 0xFFFFFFFF != isize:
            raise ValueError("gzip member ISIZE mismatch (CRC)")
        members.append((name, data))
    return members


def build_gzip_member(
    content: bytes, name: str | None = None, comment: str | None = None,
    hcrc: bool = False,
) -> bytes:
    """One RFC 1952 member with deterministic header (MTIME=0, XFL=0,
    OS=255) and optional FNAME/FCOMMENT/FHCRC fields."""
    flg = (
        (_FNAME if name else 0)
        | (_FCOMMENT if comment else 0)
        | (_FHCRC if hcrc else 0)
    )
    hdr = bytearray(b"\x1f\x8b\x08" + bytes([flg]) + b"\x00\x00\x00\x00\x00\xff")
    if name:
        hdr += name.encode("latin-1") + b"\x00"
    if comment:
        hdr += comment.encode("latin-1") + b"\x00"
    if hcrc:
        hdr += struct.pack("<H", zlib.crc32(bytes(hdr)) & 0xFFFF)
    co = zlib.compressobj(9, zlib.DEFLATED, -15)
    deflated = co.compress(content) + co.flush()
    trailer = struct.pack(
        "<II", zlib.crc32(content) & 0xFFFFFFFF, len(content) & 0xFFFFFFFF
    )
    return bytes(hdr) + deflated + trailer


# ------------------------------------------------- driver-oracled query

_GZ_GROUPS = 10


def _gz_members_of(g: int) -> list[tuple]:
    """Closed-form member set for group ``g`` as (name, content,
    comment, hcrc) tuples: 1 + g % 3 members; member m holds
    64 + 16m + g bytes of the lattice ``(7 i + 13 m + 17 g) % 251``;
    even members carry FNAME ``m<m>.txt`` (6 chars — m never exceeds
    one digit, which the oracle's names_len term relies on), members
    divisible by 3 a comment, member 1 a verified header CRC. The
    oracle replays the lattice — never the deflate bytes."""
    out = []
    for m in range(1 + g % 3):
        content = bytes(
            (7 * i + 13 * m + 17 * g) % 251 for i in range(64 + 16 * m + g)
        )
        out.append(
            (
                f"m{m}.txt" if m % 2 == 0 else None,
                content,
                "c" if m % 3 == 0 else None,
                m == 1,
            )
        )
    return out


def _gz_payload(doc_id: int) -> bytes:
    g = doc_id % _GZ_GROUPS
    payload = b"".join(
        build_gzip_member(content, name=name, comment=comment, hcrc=hc)
        for name, content, comment, hc in _gz_members_of(g)
    )
    if doc_id % 17 == 2 and doc_id % 11 != 3:
        # flip one bit of member 0's stored CRC32 (first trailer byte
        # after member 0's deflate data): locate via a clean re-walk
        first_len = len(
            build_gzip_member(
                _gz_members_of(g)[0][1],
                name=_gz_members_of(g)[0][0],
                comment=_gz_members_of(g)[0][2],
                hcrc=_gz_members_of(g)[0][3],
            )
        )
        i = first_len - 8
        payload = payload[:i] + bytes([payload[i] ^ 0x01]) + payload[i + 1 :]
    if doc_id % 13 == 5 and doc_id % 17 != 2 and doc_id % 11 != 3:
        payload = payload[:3] + bytes([payload[3] | 0x80]) + payload[4:]
    if doc_id % 11 == 3:
        payload = payload[:-5]  # cut INSIDE the final 8-byte trailer:
        # structurally detectable at every group (tail-drop, never
        # halving — the AAC boundary-landing lesson)
    return payload


def _gz_key(doc_id: int) -> tuple:
    return (doc_id % _GZ_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _gz_facts(doc_id: int) -> tuple:
    members = walk_gzip_members(_gz_payload(doc_id))
    total = sum(len(c) for _n, c in members)
    csum = wsum = 0
    off = 0
    for _name, c in members:
        for i, b in enumerate(c):
            csum += b
            wsum += (off + i + 1) * b
        off += len(c)
    names_len = sum(len(n) for n, _c in members)
    return (
        "decoded", len(members), total, csum, wsum, names_len,
    )


def _gz_oracle() -> str:
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_GZ_GROUPS} AS g FROM documents
    ),
    mem AS (
      SELECT g, unnest(range(0, 1 + g % 3)) AS m FROM grp
    ),
    sized AS (
      SELECT g, m, 64 + 16 * m + g AS len,
             SUM(64 + 16 * m + g) OVER (
               PARTITION BY g ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS off
      FROM mem
    ),
    bytes AS (
      SELECT g, m, COALESCE(off, 0) AS off, unnest(range(0, len)) AS i
      FROM sized
    ),
    vals AS (
      SELECT g, (7 * i + 13 * m + 17 * g) % 251 AS b, off + i + 1 AS gpos
      FROM bytes
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(*) FROM mem WHERE mem.g = v.g) AS INT)
               AS n_members,
             CAST(COUNT(*) AS BIGINT) AS total_bytes,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM(gpos * b) AS BIGINT) AS wsum,
             CAST((SELECT COALESCE(SUM(6), 0) FROM mem
                   WHERE mem.g = v.g AND mem.m % 2 = 0) AS INT) AS names_len
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_members END AS n_members,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.total_bytes END AS total_bytes,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.wsum END AS wsum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.names_len END AS names_len
    FROM documents d
    JOIN sums s ON d.doc_id % {_GZ_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_gzip_member_walk", oracle=_gz_oracle())
def ingest_gzip_member_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenated-gzip ingestion end to end: manual RFC 1952 member
    walk (magic/CM/FLG, FEXTRA/FNAME/FCOMMENT/FHCRC header fields with
    a verified header CRC-16), raw-DEFLATE inflate per member, and our
    own CRC-32 + ISIZE trailer verification. The oracled facts replay
    the closed-form decompressed content — including a global-position
    weighted sum that pins member ORDER and concatenation offsets, and
    the FNAME footprint that pins optional-field parsing. Typed
    verdicts: tail truncation ('corrupt'), a flipped stored-CRC bit
    ('crc_error' — proves the integrity check executes), reserved FLG
    bits ('unsupported').

    Scale notes (100 TB): Arrow-batched mapInPandas decode map; only
    integer facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_gz_batches", _gz_key, _gz_facts,
        "doc_id long, status string, n_members int, total_bytes long, "
        "content_sum long, wsum long, names_len int",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
