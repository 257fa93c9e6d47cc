"""Native DEFLATE decoder (RFC 1951) — removing the one delegation
left in the compressed-container family. The gzip/zip/PNG paths
documented a policy of inflating through the stdlib entropy coder;
with zstd's FSE/Huffman, LZ4 and snappy now decoded natively, this
module completes the set: stored, fixed-Huffman and dynamic-Huffman
blocks, the code-length meta-alphabet (16/17/18 repeat codes in the
permuted order), canonical Huffman decoding from an LSB-first
bitstream, the length/distance extra-bit tables, and overlapping
window copies.

Correctness evidence: zlib — the stdlib's INDEPENDENT implementation
— cross-validates in both directions in tests (we inflate what zlib
deflates across levels/strategies incl. fixed-only and stored-only
streams; zlib inflates nothing of ours because we only decode — the
asymmetry is the point: encoder and decoder can never share a bug).
The driver-oracled query walks gzip members whose DEFLATE streams
zlib produced from closed-form content and inflates them HERE; the
oracle replays the content lattice and never sees a compressed byte.

Reference: RFC 1951; no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

# length codes 257-285 → (base, extra bits)
_LEN_BASE = [
    3, 4, 5, 6, 7, 8, 9, 10, 11, 13, 15, 17, 19, 23, 27, 31, 35, 43,
    51, 59, 67, 83, 99, 115, 131, 163, 195, 227, 258,
]
_LEN_EXTRA = [
    0, 0, 0, 0, 0, 0, 0, 0, 1, 1, 1, 1, 2, 2, 2, 2, 3, 3, 3, 3, 4, 4,
    4, 4, 5, 5, 5, 5, 0,
]
# distance codes 0-29 → (base, extra bits)
_DIST_BASE = [
    1, 2, 3, 4, 5, 7, 9, 13, 17, 25, 33, 49, 65, 97, 129, 193, 257,
    385, 513, 769, 1025, 1537, 2049, 3073, 4097, 6145, 8193, 12289,
    16385, 24577,
]
_DIST_EXTRA = [
    0, 0, 0, 0, 1, 1, 2, 2, 3, 3, 4, 4, 5, 5, 6, 6, 7, 7, 8, 8, 9, 9,
    10, 10, 11, 11, 12, 12, 13, 13,
]
_CL_ORDER = (16, 17, 18, 0, 8, 7, 9, 6, 10, 5, 11, 4, 12, 3, 13, 2, 14, 1, 15)


class _Bits:
    """LSB-first forward bit reader over bytes."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        out = 0
        for k in range(n):
            byte = self.pos >> 3
            if byte >= len(self.data):
                raise ValueError("deflate bitstream exhausted")
            out |= ((self.data[byte] >> (self.pos & 7)) & 1) << k
            self.pos += 1
        return out

    def align(self) -> None:
        self.pos = (self.pos + 7) & ~7


class _Huff:
    """Canonical Huffman decoder (RFC 1951 §3.2.2): codes assigned by
    ascending (length, symbol); decode bit-by-bit LSB-first."""

    def __init__(self, lengths: list[int]):
        max_len = max(lengths) if lengths else 0
        if max_len == 0:
            raise ValueError("empty huffman alphabet")
        bl_count = [0] * (max_len + 1)
        for ln in lengths:
            if ln:
                bl_count[ln] += 1
        code = 0
        next_code = [0] * (max_len + 1)
        for ln in range(1, max_len + 1):
            code = (code + bl_count[ln - 1]) << 1
            next_code[ln] = code
        # over-subscription check: sum(2^-len) must not exceed 1
        total = sum(bl_count[ln] << (max_len - ln) for ln in range(1, max_len + 1))
        if total > (1 << max_len):
            raise ValueError("over-subscribed huffman code")
        self.table: dict[tuple[int, int], int] = {}
        for sym, ln in enumerate(lengths):
            if ln:
                self.table[(ln, next_code[ln])] = sym
                next_code[ln] += 1
        self.max_len = max_len

    def decode(self, bits: _Bits) -> int:
        code = 0
        for ln in range(1, self.max_len + 1):
            code = (code << 1) | bits.read(1)
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
        raise ValueError("invalid huffman code")


_FIXED_LIT = _Huff([8] * 144 + [9] * 112 + [7] * 24 + [8] * 8)
_FIXED_DIST = _Huff([5] * 30)


def inflate_raw(
    data: bytes, stats: dict | None = None
) -> tuple[bytes, int]:
    """Inflate a raw DEFLATE stream → (content, bytes consumed)."""
    bits = _Bits(data)
    out = bytearray()
    while True:
        bfinal = bits.read(1)
        btype = bits.read(2)
        if stats is not None:
            stats.setdefault("block_types", set()).add(btype)
        if btype == 0:  # stored
            bits.align()
            byte = bits.pos >> 3
            if byte + 4 > len(data):
                raise ValueError("truncated stored-block header")
            ln, nln = struct.unpack_from("<HH", data, byte)
            if ln != (~nln & 0xFFFF):
                raise ValueError("stored-block LEN/NLEN mismatch")
            byte += 4
            if byte + ln > len(data):
                raise ValueError("truncated stored block")
            out += data[byte : byte + ln]
            bits.pos = (byte + ln) << 3
        elif btype in (1, 2):
            if btype == 1:
                lit, dist = _FIXED_LIT, _FIXED_DIST
            else:
                hlit = bits.read(5) + 257
                hdist = bits.read(5) + 1
                hclen = bits.read(4) + 4
                cl_lens = [0] * 19
                for i in range(hclen):
                    cl_lens[_CL_ORDER[i]] = bits.read(3)
                cl = _Huff(cl_lens)
                lens: list[int] = []
                while len(lens) < hlit + hdist:
                    sym = cl.decode(bits)
                    if sym < 16:
                        lens.append(sym)
                    elif sym == 16:
                        if not lens:
                            raise ValueError("repeat with no prior length")
                        lens.extend([lens[-1]] * (3 + bits.read(2)))
                    elif sym == 17:
                        lens.extend([0] * (3 + bits.read(3)))
                    else:
                        lens.extend([0] * (11 + bits.read(7)))
                if len(lens) != hlit + hdist:
                    raise ValueError("code-length run overflows alphabets")
                lit = _Huff(lens[:hlit])
                dist = _Huff(lens[hlit:])
            while True:
                sym = lit.decode(bits)
                if sym < 256:
                    out.append(sym)
                elif sym == 256:
                    break
                elif sym <= 285:
                    li = sym - 257
                    length = _LEN_BASE[li] + bits.read(_LEN_EXTRA[li])
                    dsym = dist.decode(bits)
                    if dsym > 29:
                        raise ValueError("invalid distance code")
                    offset = _DIST_BASE[dsym] + bits.read(_DIST_EXTRA[dsym])
                    if offset > len(out):
                        raise ValueError("distance beyond output start")
                    for _ in range(length):
                        out.append(out[-offset])
                else:
                    raise ValueError(f"invalid literal/length code {sym}")
        else:
            raise ValueError("reserved deflate block type")
        if bfinal:
            break
    return bytes(out), (bits.pos + 7) >> 3


# ------------------------------------------------- driver-oracled query

_NI_GROUPS = 10


def _ni_members_of(g: int) -> list[bytes]:
    """Member m of group g (1 + g % 3 members): 2400 + 160·m + g
    bytes on a 24-symbol alphabet — measured to make zlib -9 choose
    DYNAMIC-Huffman blocks in every group (shorter members fell back
    to fixed codes; the fixed + stored paths are covered by the zlib
    battery in tests). Replayed byte-exactly by the oracle."""
    out = []
    for m in range(1 + g % 3):
        body = bytearray()
        for j in range(2400 + 160 * m + g):
            w = ((j // 16) * ((j // 16) + 1) // 2 + m) % 8
            v = (23 * w + 9 * (j % 16) + 13 * g + 5 * m) % 251
            body.append(v % 24 + 48)
        out.append(bytes(body))
    return out


def _ni_payload(doc_id: int) -> bytes:
    from .gzipwalk import build_gzip_member

    g = doc_id % _NI_GROUPS
    payload = bytearray(
        b"".join(
            build_gzip_member(c, name=f"n{m}.txt")
            for m, c in enumerate(_ni_members_of(g))
        )
    )
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    if crc_err:
        payload[-8] ^= 0x01  # final member's stored CRC32 low byte
    if unsup:
        payload[3] |= 0x80  # reserved FLG bit on member 0
    if corrupt:
        del payload[-5:]  # cut inside the final 8-byte trailer
    return bytes(payload)


def walk_gzip_native(payload: bytes) -> dict:
    """Concatenated-gzip walk where the DEFLATE stream inflates
    through inflate_raw (the native decoder above) instead of zlib;
    header parse mirrors gzipwalk's typed rules, CRC-32/ISIZE trailer
    verified per member."""
    pos = 0
    n_members = 0
    content_len = content_sum = wsum = 0
    gpos = 0
    if not payload:
        raise ValueError("empty gzip payload")
    while pos < len(payload):
        if pos + 10 > len(payload):
            raise ValueError("truncated gzip header")
        if payload[pos] != 0x1F or payload[pos + 1] != 0x8B:
            raise ValueError("bad gzip magic")
        if payload[pos + 2] != 8:
            raise NotImplementedError("non-DEFLATE gzip method")
        flg = payload[pos + 3]
        if flg & 0xE0:
            raise NotImplementedError("reserved gzip FLG bits")
        pos += 10
        if flg & 4:  # FEXTRA
            if pos + 2 > len(payload):
                raise ValueError("corrupt gzip structure (truncated FEXTRA)")
            xlen = struct.unpack_from("<H", payload, pos)[0]
            pos += 2 + xlen
        if flg & 8:  # FNAME
            end = payload.find(b"\x00", pos)
            if end < 0:
                raise ValueError("unterminated FNAME")
            pos = end + 1
        if flg & 16:  # FCOMMENT
            end = payload.find(b"\x00", pos)
            if end < 0:
                raise ValueError("unterminated FCOMMENT")
            pos = end + 1
        if flg & 2:  # FHCRC
            pos += 2
        data, used = inflate_raw(payload[pos:])
        pos += used
        if pos + 8 > len(payload):
            raise ValueError("truncated gzip trailer")
        crc_stored, isize = struct.unpack_from("<II", payload, pos)
        pos += 8
        if zlib.crc32(data) & 0xFFFFFFFF != crc_stored:
            raise ValueError("gzip member CRC32 mismatch (CRC)")
        if len(data) & 0xFFFFFFFF != isize:
            raise ValueError("gzip member ISIZE mismatch (CRC)")
        n_members += 1
        for b in data:
            gpos += 1
            content_len += 1
            content_sum += b
            wsum += gpos * b
    return {
        "n_members": n_members,
        "content_len": content_len,
        "content_sum": content_sum,
        "wsum": wsum,
    }


def _ni_key(doc_id: int) -> tuple:
    return (doc_id % _NI_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _ni_facts(doc_id: int) -> tuple:
    f = walk_gzip_native(_ni_payload(doc_id))
    return (
        "decoded", f["n_members"], f["content_len"],
        f["content_sum"], f["wsum"],
    )


def _ni_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_NI_GROUPS} AS g FROM documents
    ),
    mem AS (
      SELECT g, unnest(range(0, 1 + g % 3)) AS m FROM grp
    ),
    sized AS (
      SELECT g, m, 2400 + 160 * m + g AS len,
             SUM(2400 + 160 * m + g) OVER (
               PARTITION BY g ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS off
      FROM mem
    ),
    bytes AS (
      SELECT g, m, COALESCE(off, 0) AS off, unnest(range(0, len)) AS j
      FROM sized
    ),
    vals AS (
      SELECT g,
             ((23 * (((j // 16) * ((j // 16) + 1) // 2 + m) % 8)
               + 9 * (j % 16) + 13 * g + 5 * m) % 251) % 24 + 48 AS b,
             off + j + 1 AS gpos
      FROM bytes
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(*) FROM mem WHERE mem.g = v.g) AS INT)
               AS n_members,
             CAST(COUNT(*) AS BIGINT) AS content_len,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM(gpos * b) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_members END AS n_members,
           CASE WHEN {bad} THEN 0 ELSE s.content_len END AS content_len,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_NI_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_gzip_native_inflate", oracle=_ni_oracle())
def ingest_gzip_native_inflate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concatenated-gzip ingestion where the DEFLATE stage inflates
    through OUR RFC 1951 decoder (dynamic + fixed + stored blocks,
    code-length meta-alphabet, canonical Huffman from an LSB-first
    stream) instead of zlib — the encode side stays zlib, so encoder
    and decoder are independent implementations and the CRC-32/ISIZE
    trailer check closes the loop on every member. Typed verdicts
    mirror the gzip walk: trailer truncation ('corrupt'), a flipped
    stored CRC ('crc_error'), reserved FLG bits ('unsupported').

    Scale notes (100 TB): Arrow-batched mapInPandas decode map;
    members inflate sequentially WITHIN a payload, corpus parallelism
    is across documents; only integer facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_ni_batches", _ni_key, _ni_facts,
        "doc_id long, status string, n_members int, content_len long, "
        "content_sum long, wsum long",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
