"""LZ4 frame decoder (lz4.org frame format v1 + block format) — the
cache/IPC codec of the ML data stack (Arrow IPC buffers, feature
caches, Kafka payloads, parquet LZ4_RAW pages all carry LZ4 blocks).

Implemented natively, nothing delegated:

- XXH32 from the published xxHash spec (the frame's header checksum
  byte AND the optional content/block checksums are all XXH32 —
  distinct from the XXH64 the zstd path uses), pinned against the
  published check vectors in tests;
- the frame walk: magic, FLG/BD descriptor (version, block
  independence, block/content-checksum flags, content-size,
  dictionary-ID), the header-checksum byte ((XXH32(descriptor) >> 8)
  & 0xFF), the block loop with the uncompressed-bit size words, the
  0x00000000 end mark, and the content checksum;
- the block decode: token nibbles, 255-extension literal/match
  lengths, 2-byte little-endian offsets, the +4 minmatch rule, and
  overlapping match copies.

Correctness evidence: the reference ``lz4`` CLI produced both the
test battery's frames (our decoder must reproduce its round-trip
across levels and data shapes — an independent implementation on the
encode side) and the driver-oracled fixture frames embedded below,
generated at BUILD time from CLOSED-FORM content the DuckDB oracle
replays byte by byte. A wrong XXH32 cannot hide: every CLI frame
carries a content checksum our walk verifies.

Reference: lz4 frame/block format specifications (public);
no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct

_P1 = 0x9E3779B1
_P2 = 0x85EBCA77
_P3 = 0xC2B2AE3D
_P4 = 0x27D4EB2F
_P5 = 0x165667B1
_M32 = 0xFFFFFFFF


def _rotl32(x: int, r: int) -> int:
    return ((x << r) | (x >> (32 - r))) & _M32


def xxh32(data: bytes, seed: int = 0) -> int:
    """XXH32 from the published spec; check vectors pinned in
    tests/test_lz4_frame.py."""
    n = len(data)
    i = 0
    if n >= 16:
        v1 = (seed + _P1 + _P2) & _M32
        v2 = (seed + _P2) & _M32
        v3 = seed
        v4 = (seed - _P1) & _M32
        while i + 16 <= n:
            lanes = struct.unpack_from("<IIII", data, i)
            v1 = (_rotl32((v1 + lanes[0] * _P2) & _M32, 13) * _P1) & _M32
            v2 = (_rotl32((v2 + lanes[1] * _P2) & _M32, 13) * _P1) & _M32
            v3 = (_rotl32((v3 + lanes[2] * _P2) & _M32, 13) * _P1) & _M32
            v4 = (_rotl32((v4 + lanes[3] * _P2) & _M32, 13) * _P1) & _M32
            i += 16
        acc = (
            _rotl32(v1, 1) + _rotl32(v2, 7) + _rotl32(v3, 12)
            + _rotl32(v4, 18)
        ) & _M32
    else:
        acc = (seed + _P5) & _M32
    acc = (acc + n) & _M32
    while i + 4 <= n:
        (lane,) = struct.unpack_from("<I", data, i)
        acc = (_rotl32((acc + lane * _P3) & _M32, 17) * _P4) & _M32
        i += 4
    while i < n:
        acc = (_rotl32((acc + data[i] * _P5) & _M32, 11) * _P1) & _M32
        i += 1
    acc ^= acc >> 15
    acc = (acc * _P2) & _M32
    acc ^= acc >> 13
    acc = (acc * _P3) & _M32
    acc ^= acc >> 16
    return acc


def lz4_decompress_block(
    data: bytes, max_out: int | None = None, prefix: bytes = b""
) -> bytes:
    """One LZ4 block: token nibbles, 255-extensions, 2-byte offsets,
    minmatch 4, overlapping copies; the final sequence is
    literals-only. ``prefix`` is the linked-block window: in a frame
    without the block-independence flag, matches may reach up to
    64 KiB into PRIOR frame output (the spec's inter-block
    dictionary) — pass the previous blocks' tail there."""
    out = bytearray()
    plen = len(prefix)
    pos = 0
    n = len(data)
    while pos < n:
        token = data[pos]
        pos += 1
        lit = token >> 4
        if lit == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated literal-length extension")
                b = data[pos]
                pos += 1
                lit += b
                if b != 255:
                    break
        if pos + lit > n:
            raise ValueError("truncated literals")
        out += data[pos : pos + lit]
        pos += lit
        if pos == n:
            break  # final sequence carries no match
        if pos + 2 > n:
            raise ValueError("truncated match offset")
        offset = data[pos] | (data[pos + 1] << 8)
        pos += 2
        if offset == 0:
            raise ValueError("zero match offset")
        if offset > len(out) + plen:
            raise ValueError("match offset beyond output start")
        ml = (token & 0xF) + 4
        if (token & 0xF) == 15:
            while True:
                if pos >= n:
                    raise ValueError("truncated match-length extension")
                b = data[pos]
                pos += 1
                ml += b
                if b != 255:
                    break
        if offset <= len(out):
            for _ in range(ml):
                out.append(out[-offset])
        else:
            # match starts inside the linked-block window and may
            # cross into this block's own output
            for _ in range(ml):
                idx = len(out) - offset
                out.append(prefix[plen + idx] if idx < 0 else out[idx])
        if max_out is not None and len(out) > max_out:
            raise ValueError("block exceeds declared maximum")
    return bytes(out)


_LZ4_MAGIC = 0x184D2204
_SKIP_MAGIC_BASE = 0x184D2A50
_BD_SIZES = {4: 1 << 16, 5: 1 << 18, 6: 1 << 20, 7: 1 << 22}


def decompress_lz4_frame(payload: bytes) -> tuple[bytes, int]:
    """Decode one LZ4 frame (leading skippable frames are walked
    over) → (content, bytes consumed). Raises NotImplementedError for
    dictionary frames ('unsupported'), ValueError with 'CRC' for any
    checksum mismatch, plain ValueError for structural damage."""
    pos = 0
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated lz4 magic")
        magic = struct.unpack_from("<I", payload, pos)[0]
        if (magic & 0xFFFFFFF0) == _SKIP_MAGIC_BASE:
            if pos + 8 > len(payload):
                raise ValueError("truncated skippable frame header")
            size = struct.unpack_from("<I", payload, pos + 4)[0]
            pos += 8 + size
            if pos > len(payload):
                raise ValueError("truncated skippable frame body")
            continue
        break
    if magic != _LZ4_MAGIC:
        raise ValueError("bad lz4 frame magic")
    if pos + 7 > len(payload):
        raise ValueError("truncated lz4 frame descriptor")
    flg = payload[pos + 4]
    bd = payload[pos + 5]
    version = flg >> 6
    if version != 1:
        raise NotImplementedError(f"lz4 frame version {version}")
    if flg & 0x02:
        raise ValueError("reserved FLG bit set")
    block_indep = bool(flg & 0x20)
    block_checksum = bool(flg & 0x10)
    content_size_flag = bool(flg & 0x08)
    content_checksum = bool(flg & 0x04)
    dict_id = bool(flg & 0x01)
    bmax_code = (bd >> 4) & 7
    if bd & 0x8F:
        raise ValueError("reserved BD bits set")
    if bmax_code not in _BD_SIZES:
        raise ValueError(f"invalid block max-size code {bmax_code}")
    bmax = _BD_SIZES[bmax_code]
    desc_end = pos + 6
    content_size = None
    if content_size_flag:
        if desc_end + 8 > len(payload):
            raise ValueError("truncated content size")
        content_size = struct.unpack_from("<Q", payload, desc_end)[0]
        desc_end += 8
    if dict_id:
        if desc_end + 4 > len(payload):
            raise ValueError("truncated dictionary id")
        desc_end += 4
    if desc_end + 1 > len(payload):
        raise ValueError("truncated header checksum")
    hc = payload[desc_end]
    calc_hc = (xxh32(payload[pos + 4 : desc_end]) >> 8) & 0xFF
    if hc != calc_hc:
        raise ValueError("lz4 header checksum mismatch (CRC)")
    if dict_id:
        # structurally valid, checksum-verified — and honestly out of
        # scope (the Ogg valid-CRC-before-the-typed-gate lesson)
        raise NotImplementedError("lz4 dictionary frames")
    pos = desc_end + 1
    out = bytearray()
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated block size word")
        word = struct.unpack_from("<I", payload, pos)[0]
        pos += 4
        if word == 0:
            break  # EndMark
        uncompressed = bool(word & 0x80000000)
        bsize = word & 0x7FFFFFFF
        if bsize > bmax:
            raise ValueError("block larger than declared maximum")
        blk = payload[pos : pos + bsize]
        if len(blk) != bsize:
            raise ValueError("truncated block data")
        pos += bsize
        if block_checksum:
            if pos + 4 > len(payload):
                raise ValueError("truncated block checksum")
            stored = struct.unpack_from("<I", payload, pos)[0]
            pos += 4
            if xxh32(blk) != stored:
                raise ValueError("lz4 block checksum mismatch (CRC)")
        if uncompressed:
            out += blk
        else:
            # linked blocks (FLG bit 5 clear — what lz4/pyarrow write
            # by default) may match into the prior 64 KiB of frame
            # output; independent blocks get an empty window
            window = b"" if block_indep else bytes(out[-65536:])
            out += lz4_decompress_block(blk, bmax, prefix=window)
    if content_size is not None and len(out) != content_size:
        raise ValueError("content size mismatch")
    if content_checksum:
        if pos + 4 > len(payload):
            raise ValueError("truncated content checksum")
        stored = struct.unpack_from("<I", payload, pos)[0]
        pos += 4
        if xxh32(bytes(out)) != stored:
            raise ValueError("lz4 content checksum mismatch (CRC)")
    return bytes(out), pos


# ------------------------------------------------- driver-oracled query
#
# Fixture frames: the reference ``lz4`` CLI (level 9, block checksums
# forced with -BX, content checksum on by default) compressed the
# closed-form lattice below at BUILD time; embedded as constants and
# decoded at runtime by OUR decoder — the oracle replays the lattice
# and never sees an LZ4 byte. Odd doc_ids prepend a SKIPPABLE frame
# the walk must step over (oracled as prefix_len).

_LZ_GOLDEN_B64 = {
    0: "BCJNGHRAvd0AAAD8cQEHDhUcIyoxOD9GTVRbYmkNFBsiKTA3PkVMU1phaG92Jy41"
    "PENKUVhfZm10e4KJkE5VXGNqcXh/ho2Um6KpsLcaISgvNj1ES1JZYGdudXyDW2Jp"
    "cHd+hYyTm6Gor7a9xEFIT1ZdZGtyeYCHjpWco6o0O0JJUFdeZWxzeoGIj5adEAAM"
    "MAAFUAASmlAAORohKXAADJAADLAADNAAGwDwAAcQAB9OAAE6FpoAAR9eAAE6B3AA"
    "H3YAAToHAAIfOAABOgfQAB+rAAE6BwACH4cAATqgNz5FTFNaYWhvdpcMRNQAAAAA"
    "ArttPA==",
    1: "BCJNGHRAveAAAAD8cRMZICcuNTxDSlFYX2ZtdHsfJi00O0JJUFdeZWxzeoGIOUBH"
    "TlVcY2pxeH+GjZSbomBnbnV8g4qRmJ+mrbS7wsksMzpBSE9WXWRrcnmAh46VBQwT"
    "GiEoLzY9RUtSWWBnblNaYWhvdn2Ei5KZoKeutbxGTVRbYmlwd36FjJOaoaivEAAM"
    "MAAFUAASRFAAOSwzO3AADJAADLAADNAAGxLwAAcQAB9gAAE6FkQAAR9wAAE6B3AA"
    "H4gAAToHAAIfSgABOgfQAB+9AAE6BwACH5kAAToHAAIfQQABFlB5gIeOlfO4+VkA"
    "AAAA5o4lqQ==",
    2: "BCJNGHRAveQAAAD8cSUrMjlAR05VXGNqcXh/ho0xOD9GTVRbYmlwd36FjJOaS1JZ"
    "YGdudXyDipGYn6attAoRGB8mLTQ7QklQV15lbHM+RUxTWmFob3Z9hIuSmaCnFx4l"
    "LDM6QUhPV11ka3J5gGVsc3qBiI+WnaSrsrnAx85YX2ZtdHuCiZCXnqWss7rBEAAM"
    "MAAFUAASVlAAOT5FTXAADJAADLAADNAAGyTwAAcQAB9yAAE6FlYAAR+CAAE6B3AA"
    "H5oAAToHAAIfXAABOgfQAB/PAAE6BwACH0MAAToHAAIfUwABOgcAAmCfpayzusGV"
    "mMaCAAAAAP3WUes=",
    3: "BCJNGHRAvegAAAD8cTc9REtSWWBnbnV8g4qRmJ9DSlFYX2ZtdHuCiZCXnqWsXWRr"
    "cnmAh46VnKOqsbi/xhwjKjE4P0ZNVFtiaXB3foVQV15lbHN6gYiPlp2kq7K5KTA3"
    "PkVMU1phaW92fYSLkg8WHSQrMjlAR05VXGNqcXhqcXh/ho2Um6KpsLe+xczTEAAM"
    "MAAFUAASaFAAOVBXX3AADJAADLAADNAAGzbwAAcQAB+EAAE6FmgAAR8sAAE6B3AA"
    "H6wAAToHAAIfbgABOgfQAB95AAE6BwACH1UAAToHAAIfZQABOgcAAh+xAAEdUHZ9"
    "hIuSqpgpgQAAAADT2b0j",
    4: "BCJNGHRAve8AAAD8cUlPVl1ka3J5gIeOlZyjqrFVXGNqcXh/ho2Um6KpsLe+b3Z9"
    "hIuSmaCnrrW8w8rR2C41PENKUVhfZm10e4KJkJdiaXB3foWMk5qhqK+2vcTLO0JJ"
    "UFdeZWxze4GIj5adpCEoLzY9REtSWWBnbnV8g4oUGyIpMDc+RUxTWmFob3Z9EAAM"
    "MAAFUAASelAAOWJpcXAADJAADLAADNAAG0jwAAcQAB+WAAE6FnoAAR8+AAE6B3AA"
    "H74AAToHAAIfgAABOgfQAB+LAAE6BwACH2cAAToHAAIfdwABOgcAAh9bAAE6BwAC"
    "E4WwAFC8w8rR2IzoGDIAAAAARCDNrg==",
    5: "BCJNGHRAvfAAAAD8cVthaG92fYSLkpmgp661vMNnbnV8g4qRmJ+mrbS7wsnQGSAn"
    "LjU8Q0pRWF9mbXR7gkBHTlVcY2pxeH+GjZSboql0e4KJkJeepayzusHIz9bdTVRb"
    "Ymlwd36FjZOaoaivtjM6QUhPVl1ka3J5gIeOlZwmLTQ7QklQV15lbHN6gYiPEAAM"
    "MAAFUAASjFAAOXR7g3AADJAADLAADNAAG1rwAAcQAB+oAAE6FowAAR9QAAE6B3AA"
    "H9AAAToHAAIfkgABOgfQAB+dAAE6BwACH3kAAToHAAIfIQABOgcAAh9tAAE6BwAC"
    "Hy8AASRQp661vMMYZkVFAAAAAJEKqRQ=",
    6: "BCJNGHRAvfcAAAD8cW1zeoGIj5adpKuyucDHztV5gIeOlZyjqrG4v8bN1NviKzI5"
    "QEdOVVxjanF4f4aNlFJZYGdudXyDipGYn6attLseJSwzOkFIT1ZdZGtyeYCHX2Zt"
    "dHuCiZCXn6Wss7rByEVMU1phaG92fYSLkpmgp644P0ZNVFtiaXB3foWMk5qhEAAM"
    "MAAFUAASnlAAOR4lLXAADJAADLAADNAAG2zwAAcQAB+6AAE6Fp4AAR9iAAE6B3AA"
    "H3oAAToHAAIfpAABOgfQAB+vAAE6BwACH4sAAToHAAIfMwABOgcAAh9/AAE6BwAC"
    "H0EAAToHUAEagAABUJ+mrbS7OqaUKAAAAACwjrNo",
    7: "BCJNGHRAvfgAAAD8cX+FjJOaoaivtr3Ey9LZ4OcjKjE4P0ZNVFtiaXB3foWMPURL"
    "UllgZ251fIOKkZifpmRrcnmAh46VnKOqsbi/xs0wNz5FTFNaYWhvdn2Ei5KZcXh/"
    "ho2Um6Kpsbe+xczT2ldeZWxzeoGIj5adpKuyucBKUVhfZm10e4KJkJeepayzEAAM"
    "MAAFUAASsFAAOTA3P3AADJAADLAADNAAG37wAAcQAB/MAAE6FrAAAR90AAE6B3AA"
    "H4wAAToHAAIfTgABOgfQAB/BAAE6BwACH50AAToHAAIfRQABOgcAAh+RAAE6BwAC"
    "H1MAAToHUAEfkgABK1Ckq7K5wI9YT5gAAAAAUOaryw==",
    8: "BCJNGHRAvQABAAD8cSkvNj1ES1JZYGdudXyDipE1PENKUVhfZm10e4KJkJeeT1Zd"
    "ZGtyeYCHjpWco6qxuHZ9hIuSmaCnrrW8w8rR2N9CSVBXXmVsc3qBiI+WnaSrg4qR"
    "mJ+mrbS7w8nQ197l7Glwd36FjJOaoaivtr3Ey9JcY2pxeH+GjZSboqmwt77FEAAM"
    "MAAFUAASwlAAOUJJUXAADJAADLAADNAAGyjwAAcQAB92AAE6FsIAAR+GAAE6B3AA"
    "H54AAToHAAIfYAABOgfQAB/TAAE6BwACH68AAToHAAIfVwABOgcAAh+jAAE6BwAC"
    "H2UAAToHUAEfpAABOgcAAh+AAAECULa9xMvSriu3CgAAAADOvwej",
    9: "BCJNGHRAvQABAAD8cTtBSE9WXWRrcnmAh46VnKNHTlVcY2pxeH+GjZSboqmwYWhv"
    "dn2Ei5KZoKeutbzDyoiPlp2kq7K5wMfO1dzj6vFUW2JpcHd+hYyTmqGor7a9LTQ7"
    "QklQV15lbXN6gYiPlnuCiZCXnqWss7rByM/W3eRudXyDipGYn6attLvCydDXEAAM"
    "MAAFUAASbFAAOVRbY3AADJAADLAADNAAGzrwAAcQAB+IAAE6FmwAAR+YAAE6B3AA"
    "H7AAAToHAAIfcgABOgfQAB/lAAE6BwACH8EAAToHAAIfaQABOgcAAh+1AAE6BwAC"
    "H3cAAToHUAEftgABOgcAAh+SAAEyUNXc4+rxdZl65QAAAABYIxMt",
}

_LZ_GROUPS = 10


def _lz_content(g: int) -> bytes:
    """Closed-form lattice (triangular word shuffle + a +1
    perturbation every 89 bytes): repetitive enough for real LZ4
    match sequences, replayed byte-exactly by the oracle."""
    out = bytearray()
    for j in range(800 + 48 * g):
        w = ((j // 16) * ((j // 16) + 1) // 2 + g) % 8
        out.append(
            (13 * w + 7 * (j % 16) + 5 * g
             + (1 if j % 89 == 0 else 0)) % 251
        )
    return bytes(out)


def _lz_payload(doc_id: int) -> bytes:
    import base64 as _b64

    g = doc_id % _LZ_GROUPS
    blob = bytearray(_b64.b64decode(_LZ_GOLDEN_B64[g]))
    if doc_id % 2 == 1:
        # leading skippable frame (magic 0x184D2A5g-style nibble, then
        # 4 + g payload bytes): the resync surface
        skip = struct.pack("<II", _SKIP_MAGIC_BASE + (g % 16), 4 + g)
        blob = bytearray(skip + b"\xaa" * (4 + g)) + blob
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    if crc_err:
        blob[-1] ^= 0x01  # stored content-checksum byte
    if unsup:
        # declare a dictionary: set the FLG DictID bit, insert a
        # 4-byte id, and RE-SEAL the header checksum so the typed
        # gate, not the CRC, provably fires (the Ogg lesson)
        start = (8 + 4 + g) if doc_id % 2 == 1 else 0
        flg = blob[start + 4]
        blob[start + 4] = flg | 0x01
        desc_end = start + 6
        blob[desc_end:desc_end] = struct.pack("<I", 42)
        hc = (xxh32(bytes(blob[start + 4 : desc_end + 4])) >> 8) & 0xFF
        blob[desc_end + 4] = hc
    if corrupt:
        del blob[-2:]  # cut INSIDE the 4-byte content checksum
    return bytes(blob)


def _lz_key(doc_id: int) -> tuple:
    return (doc_id % _LZ_GROUPS, doc_id % 2, doc_id % 11 == 3,
            doc_id % 17 == 2, doc_id % 13 == 5)


def _lz_facts(doc_id: int) -> tuple:
    g = doc_id % _LZ_GROUPS
    prefix = (8 + 4 + g) if doc_id % 2 == 1 else 0
    data, used = decompress_lz4_frame(_lz_payload(doc_id))
    csum = wsum = 0
    for i, b in enumerate(data):
        csum += b
        wsum += (i + 1) * b
    return ("decoded", len(data), csum, wsum, prefix)


def _lz_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_LZ_GROUPS} AS g FROM documents
    ),
    bytes AS (
      SELECT g, unnest(range(0, 800 + 48 * g)) AS j FROM grp
    ),
    vals AS (
      SELECT g,
             (13 * (((j // 16) * ((j // 16) + 1) // 2 + g) % 8)
              + 7 * (j % 16) + 5 * g
              + CASE WHEN j % 89 = 0 THEN 1 ELSE 0 END) % 251 AS b,
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
           CASE WHEN {bad} THEN 0 ELSE s.content_len END AS content_len,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum,
           CASE WHEN {bad} OR d.doc_id % 2 = 0 THEN 0
                ELSE 12 + d.doc_id % {_LZ_GROUPS} END AS prefix_len
    FROM documents d
    JOIN sums s ON d.doc_id % {_LZ_GROUPS} = s.g
    ORDER BY d.doc_id
    """


def _register_query() -> None:
    from ..registry import register
    from .walkbatch import decode_walk
    from ..tables import load_table
    from ..functions.planctl import presentation_sort as _presentation_sort

    @register("ingest_lz4_frame_decode", oracle=_lz_oracle())
    def ingest_lz4_frame_decode(spark, sf_dir):
        """LZ4 frame ingestion end to end over CLI-produced frames:
        skippable-frame walk (oracled prefix_len), FLG/BD descriptor
        validation, XXH32 header-checksum byte, per-block XXH32
        verification (-BX frames), native token/extension/offset
        block decode with overlapping matches, EndMark, and the XXH32
        content checksum. Typed verdicts: a cut inside the content
        checksum ('corrupt'), a flipped stored-checksum bit
        ('crc_error'), a dictionary declaration with a RE-SEALED
        header checksum ('unsupported' — the typed gate, not the CRC,
        fires).

        Scale notes (100 TB): Arrow-batched mapInPandas decode map;
        blocks chain sequentially WITHIN a frame, corpus parallelism
        is across documents; only integer facts re-enter the JVM."""
        d = load_table(spark, sf_dir, "documents").select("doc_id")
        return decode_walk(
            d, "_lz_batches", _lz_key, _lz_facts,
            "doc_id long, status string, content_len long, content_sum long, "
            "wsum long, prefix_len int",
            value_errors=(("CRC", "crc_error"),),
        ).transform(_presentation_sort, "doc_id")


_register_query()
