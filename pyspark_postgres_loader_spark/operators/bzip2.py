"""Native bzip2 decoder — the codec Wikipedia dumps and many classic
LLM corpora actually ship in (enwiki-*.xml.bz2, PG, old CC crawls).
bzip2 is unlike every other codec in this repo: a pure MSB-first
BITSTREAM (blocks are not byte-aligned) stacking RLE1 → BWT →
move-to-front → zero-run-length (RUNA/RUNB bijective base 2) →
grouped Huffman with 50-symbol selector switching.

All stages implemented natively:

- MSB-first bit reader over the whole stream;
- the CRC-32/BZIP2 checksum (same forward 0x04C11DB7 machine as the
  Ogg page CRC — operators/oggwalk.py's table is reused with init
  0xFFFFFFFF and final inversion; check vector pinned in tests), per
  block over the DECODED bytes plus the combined stream CRC;
- symbol-map decoding (16+16x16 bitmap), selector MTF-unary decoding,
  delta-coded Huffman length tables per group, canonical Huffman
  decode, RUNA/RUNB zero-run expansion, inverse move-to-front,
  inverse Burrows-Wheeler transform (counting-sort T-vector walk from
  origPtr), and RLE1 (4-byte run + count) expansion.

Correctness evidence: the stdlib ``bz2`` module — an INDEPENDENT
implementation — is the encoder everywhere: the test battery decodes
its output across levels and data shapes, and the driver-oracled
fixture compresses CLOSED-FORM content at runtime with stdlib bz2 and
inflates it HERE; the DuckDB oracle replays the content lattice and
never sees a compressed byte, so encoder, decoder and oracle are
pairwise independent.

Reference: the bzip2 format as publicly documented; no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .oggwalk import ogg_crc
from .walkbatch import decode_walk

_BLOCK_MAGIC = 0x314159265359
_FOOTER_MAGIC = 0x177245385090


def bz2_crc(data: bytes) -> int:
    """CRC-32/BZIP2: the forward 0x04C11DB7 machine with init
    0xFFFFFFFF and final inversion (check vector pinned in tests)."""
    return ogg_crc(data, 0xFFFFFFFF) ^ 0xFFFFFFFF


class _MsbBits:
    """MSB-first bit reader over the whole stream (bzip2 blocks are
    not byte-aligned)."""

    def __init__(self, data: bytes):
        self.v = int.from_bytes(data, "big")
        self.total = 8 * len(data)
        self.pos = 0

    def read(self, n: int) -> int:
        if self.pos + n > self.total:
            raise ValueError("bzip2 bitstream exhausted")
        out = (self.v >> (self.total - self.pos - n)) & ((1 << n) - 1)
        self.pos += n
        return out


class _Huff:
    """Canonical Huffman (codes ascend with length, symbol order
    within a length), MSB-first decode."""

    def __init__(self, lengths: list[int]):
        max_len = max(lengths)
        min_len = min(lengths)
        self.table: dict[tuple[int, int], int] = {}
        code = 0
        for ln in range(min_len, max_len + 1):
            for sym, l2 in enumerate(lengths):
                if l2 == ln:
                    self.table[(ln, code)] = sym
                    code += 1
            code <<= 1
        self.min_len = min_len
        self.max_len = max_len

    def decode(self, bits: _MsbBits) -> int:
        code = bits.read(self.min_len)
        ln = self.min_len
        while True:
            sym = self.table.get((ln, code))
            if sym is not None:
                return sym
            if ln >= self.max_len:
                raise ValueError("invalid bzip2 huffman code")
            code = (code << 1) | bits.read(1)
            ln += 1


def _decode_block(bits: _MsbBits, block_size: int) -> bytes:
    """One block after its magic: CRC + randomized + origPtr + symbol
    map + selectors + tables + data → decoded bytes (CRC verified)."""
    crc_stored = bits.read(32)
    if bits.read(1):
        raise NotImplementedError("bzip2 randomized blocks (deprecated)")
    orig_ptr = bits.read(24)
    # symbol map
    used_ranges = bits.read(16)
    used: list[int] = []
    for i in range(16):
        if (used_ranges >> (15 - i)) & 1:
            m = bits.read(16)
            for j in range(16):
                if (m >> (15 - j)) & 1:
                    used.append(16 * i + j)
    if not used:
        raise ValueError("empty bzip2 symbol map")
    alpha = len(used) + 2
    n_groups = bits.read(3)
    if not 2 <= n_groups <= 6:
        raise ValueError(f"invalid bzip2 group count {n_groups}")
    n_sel = bits.read(15)
    if n_sel == 0:
        raise ValueError("zero bzip2 selectors")
    # selectors: MTF-unary over group ids
    order = list(range(n_groups))
    selectors: list[int] = []
    for _ in range(n_sel):
        j = 0
        while bits.read(1):
            j += 1
            if j >= n_groups:
                raise ValueError("bzip2 selector out of range")
        g = order.pop(j)
        order.insert(0, g)
        selectors.append(g)
    # delta-coded length tables
    tables: list[_Huff] = []
    for _ in range(n_groups):
        c = bits.read(5)
        lens: list[int] = []
        for _ in range(alpha):
            while bits.read(1):
                c += 1 if bits.read(1) == 0 else -1
            if not 1 <= c <= 20:
                raise ValueError("bzip2 code length out of range")
            lens.append(c)
        tables.append(_Huff(lens))
    # data: grouped huffman → RUNA/RUNB zero runs + MTF indices
    eob = alpha - 1
    mtf = used.copy()
    bwt = bytearray()
    run = 0
    run_k = 0
    sym_count = 0
    sel_idx = 0
    huff = None
    while True:
        if sym_count % 50 == 0:
            if sel_idx >= len(selectors):
                raise ValueError("bzip2 selectors exhausted")
            huff = tables[selectors[sel_idx]]
            sel_idx += 1
        sym = huff.decode(bits)
        sym_count += 1
        if sym <= 1:  # RUNA / RUNB
            run += (sym + 1) << run_k
            run_k += 1
            if len(bwt) + run > block_size:
                raise ValueError("bzip2 block overflows its declared size")
            continue
        if run:
            bwt.extend(bytes([mtf[0]]) * run)
            run = 0
            run_k = 0
        if sym == eob:
            break
        b = mtf.pop(sym - 1)
        mtf.insert(0, b)
        bwt.append(b)
        if len(bwt) > block_size:
            raise ValueError("bzip2 block overflows its declared size")
    if len(bwt) > block_size:
        raise ValueError("bzip2 block overflows its declared size")
    if orig_ptr >= len(bwt):
        raise ValueError("bzip2 origPtr beyond block")
    # inverse BWT: counting-sort T-vector walk
    n = len(bwt)
    counts = [0] * 256
    for b in bwt:
        counts[b] += 1
    starts = [0] * 256
    s = 0
    for b in range(256):
        starts[b] = s
        s += counts[b]
    nxt = [0] * n
    cc = starts
    for i, b in enumerate(bwt):
        nxt[cc[b]] = i
        cc[b] += 1
    pre = bytearray()
    i = nxt[orig_ptr]
    for _ in range(n):
        pre.append(bwt[i])
        i = nxt[i]
    # RLE1: 4 equal bytes are followed by an extra-count byte
    out = bytearray()
    i = 0
    while i < n:
        b = pre[i]
        run_len = 1
        while i + run_len < n and run_len < 4 and pre[i + run_len] == b:
            run_len += 1
        out.extend(bytes([b]) * run_len)
        i += run_len
        if run_len == 4:
            if i >= n:
                raise ValueError("bzip2 RLE1 run missing its count byte")
            out.extend(bytes([b]) * pre[i])
            i += 1
    if bz2_crc(bytes(out)) != crc_stored:
        raise ValueError("bzip2 block CRC mismatch (CRC)")
    return bytes(out)


def decompress_bz2(payload: bytes) -> tuple[bytes, dict]:
    """Decode a bzip2 payload of one or more CONCATENATED streams —
    the enwiki 'multistream' layout, where each article span is its
    own stream so readers can seek; streams are byte-aligned even
    though blocks inside one are not. Raises NotImplementedError for
    randomized blocks ('unsupported'), ValueError with 'CRC' for
    block/stream checksum mismatches, plain ValueError for structural
    damage (including trailing garbage after the final stream)."""
    out = bytearray()
    n_blocks = n_streams = 0
    level0 = None
    byte_pos = 0
    while byte_pos < len(payload):
        rest = payload[byte_pos:]
        if len(rest) < 10 or rest[:3] != b"BZh":
            raise ValueError("bad bzip2 stream header")
        level = rest[3] - 0x30
        if not 1 <= level <= 9:
            raise ValueError(f"invalid bzip2 level byte {rest[3]!r}")
        if level0 is None:
            level0 = level
        block_size = level * 100_000
        bits = _MsbBits(rest)
        bits.read(32)  # header
        stream_crc = 0
        while True:
            magic = bits.read(48)
            if magic == _BLOCK_MAGIC:
                block = _decode_block(bits, block_size)
                out += block
                bc = bz2_crc(block)
                stream_crc = (
                    ((stream_crc << 1) | (stream_crc >> 31)) & 0xFFFFFFFF
                ) ^ bc
                n_blocks += 1
            elif magic == _FOOTER_MAGIC:
                stored = bits.read(32)
                if stored != stream_crc:
                    raise ValueError("bzip2 stream CRC mismatch (CRC)")
                break
            else:
                raise ValueError("bad bzip2 block magic")
        n_streams += 1
        byte_pos += (bits.pos + 7) >> 3  # next stream is byte-aligned
    return bytes(out), {
        "n_blocks": n_blocks, "n_streams": n_streams, "level": level0,
    }


# ------------------------------------------------- driver-oracled query

_BZ_GROUPS = 10


def _bz_content(g: int) -> bytes:
    """Closed-form lattice: 6000 + 256·g bytes on a 24-symbol
    alphabet with an every-97th perturbation AND embedded 4+ byte
    runs every 61 positions (so the RLE1 stage is live), replayed
    byte-exactly by the oracle."""
    out = bytearray()
    for j in range(6000 + 256 * g):
        if (j // 7) % 61 == 0:
            out.append(65 + g % 20)  # long runs of one letter
            continue
        w = ((j // 16) * ((j // 16) + 1) // 2 + g) % 8
        v = (29 * w + 11 * (j % 16) + 3 * g
             + (1 if j % 97 == 0 else 0)) % 251
        out.append(v % 24 + 97)
    return bytes(out)


def _bz_payload(doc_id: int) -> bytes:
    import bz2 as _bz2

    g = doc_id % _BZ_GROUPS
    blob = bytearray(_bz2.compress(_bz_content(g), 1))
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    if crc_err:
        # stored block CRC occupies bits 80..111 (header 32 + block
        # magic 48): flip a bit inside byte 10
        blob[10] ^= 0x10
    if unsup:
        # set the deprecated 'randomized' bit (bit 112 = byte 14, MSB)
        blob[14] |= 0x80
    if corrupt:
        del blob[-5:]  # cut inside the footer (48-bit magic + CRC)
    return bytes(blob)


def _bz_key(doc_id: int) -> tuple:
    return (doc_id % _BZ_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _bz_facts(doc_id: int) -> tuple:
    data, st = decompress_bz2(_bz_payload(doc_id))
    csum = wsum = 0
    for i, b in enumerate(data):
        csum += b
        wsum += (i + 1) * b
    return (
        "decoded", st["n_blocks"], len(data), csum, wsum,
    )


def _bz_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_BZ_GROUPS} AS g FROM documents
    ),
    bytes AS (
      SELECT g, unnest(range(0, 6000 + 256 * g)) AS j FROM grp
    ),
    vals AS (
      SELECT g,
             CASE WHEN ((j // 7) % 61) = 0 THEN 65 + g % 20
                  ELSE ((29 * (((j // 16) * ((j // 16) + 1) // 2 + g) % 8)
                         + 11 * (j % 16) + 3 * g
                         + CASE WHEN j % 97 = 0 THEN 1 ELSE 0 END) % 251)
                       % 24 + 97 END AS b,
             j + 1 AS gpos
      FROM bytes
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS content_len,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM(gpos * b) AS BIGINT) AS wsum
      FROM vals GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE 1 END AS n_blocks,
           CASE WHEN {bad} THEN 0 ELSE s.content_len END AS content_len,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_BZ_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_bzip2_decode", oracle=_bz_oracle())
def ingest_bzip2_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bzip2 ingestion end to end — the Wikipedia-dump codec decoded
    natively: MSB-first unaligned bitstream, symbol-map and selector
    decoding, delta-coded grouped Huffman tables with 50-symbol
    switching, RUNA/RUNB zero-run expansion, inverse move-to-front,
    inverse BWT from origPtr, RLE1 expansion, and CRC-32/BZIP2
    verification per block plus the combined stream CRC. The stdlib
    bz2 module is the independent runtime ENCODER of the closed-form
    fixture content (single 100k block by design — the n_blocks
    fact), so encoder, decoder and the content-replaying oracle are
    pairwise independent. Typed verdicts: a cut inside the footer
    ('corrupt'), a flipped stored block-CRC bit ('crc_error'), the
    deprecated randomized-block flag ('unsupported').

    Scale notes (100 TB): Arrow-batched mapInPandas decode map;
    blocks chain sequentially WITHIN a stream, corpus parallelism is
    across documents; only integer facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_bz_batches", _bz_key, _bz_facts,
        "doc_id long, status string, n_blocks int, content_len long, "
        "content_sum long, wsum long",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
