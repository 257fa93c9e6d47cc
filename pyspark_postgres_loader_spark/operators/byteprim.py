"""Byte primitives shared by the decode walks: the LEB128 varint reader
(Avro longs, the ORC protobuf tail, Parquet DELTA encodings), the
CRC-16 over polynomial 0x8005 (FLAC frames, MP3 and AAC protection) and
XXH64 (zstd content checksums, Parquet bloom-filter hashing).

A varint error is a plain ``ValueError`` that names no verdict token, so
every walk classifies it as ``corrupt``.
"""

from __future__ import annotations

import struct


def uleb128(data: bytes, pos: int) -> tuple[int, int]:
    """Read one unsigned LEB128 varint → (value, new position). A run
    past 10 bytes (more than a 64-bit value) is rejected."""
    out = 0
    shift = 0
    while True:
        if pos >= len(data):
            raise ValueError("varint truncated")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            return out, pos
        if shift > 70:
            raise ValueError("varint too long")


def unzigzag(u: int) -> int:
    """Zigzag-decoded signed value of ``u`` (0, 1, 2, 3 → 0, -1, 1, -2)."""
    return (u >> 1) ^ -(u & 1)


def zigzag_long(data: bytes, pos: int) -> tuple[int, int]:
    """Read one zigzag varint (an Avro long) → (value, new position)."""
    v, pos = uleb128(data, pos)
    return unzigzag(v), pos


def crc16_8005(data: bytes, init: int) -> int:
    """CRC-16, polynomial x^16 + x^15 + x^2 + 1 (0x8005), MSB-first, no
    reflection, no final xor. FLAC frames use init 0, MP3/AAC 0xFFFF."""
    crc = init
    for byte in data:
        crc ^= byte << 8
        for _ in range(8):
            crc = ((crc << 1) ^ 0x8005 if crc & 0x8000 else crc << 1) & 0xFFFF
    return crc


_MASK64 = (1 << 64) - 1
_P1 = 0x9E3779B185EBCA87
_P2 = 0xC2B2AE3D27D4EB4F
_P3 = 0x165667B19E3779F9
_P4 = 0x85EBCA77C2B2AE63
_P5 = 0x27D4EB2F165667C5


def _rotl(x: int, r: int) -> int:
    return ((x << r) | (x >> (64 - r))) & _MASK64


def _round(acc: int, inp: int) -> int:
    acc = (acc + inp * _P2) & _MASK64
    return (_rotl(acc, 31) * _P1) & _MASK64


def _merge(h: int, v: int) -> int:
    h ^= _round(0, v)
    return (h * _P1 + _P4) & _MASK64


def xxh64(data: bytes, seed: int = 0) -> int:
    """Pure-Python XXH64 (public xxHash spec). zstd's content checksum is
    its low 32 bits with seed 0; Parquet bloom filters hash with seed 0.
    Pinned against the spec's published vectors and Spark's JVM
    ``xxhash64`` in tests/test_zstd_walk.py and tests/test_bloom_filter.py."""
    n = len(data)
    i = 0
    if n >= 32:
        v1 = (seed + _P1 + _P2) & _MASK64
        v2 = (seed + _P2) & _MASK64
        v3 = seed & _MASK64
        v4 = (seed - _P1) & _MASK64
        while i <= n - 32:
            v1 = _round(v1, struct.unpack_from("<Q", data, i)[0])
            v2 = _round(v2, struct.unpack_from("<Q", data, i + 8)[0])
            v3 = _round(v3, struct.unpack_from("<Q", data, i + 16)[0])
            v4 = _round(v4, struct.unpack_from("<Q", data, i + 24)[0])
            i += 32
        h = (_rotl(v1, 1) + _rotl(v2, 7) + _rotl(v3, 12)
             + _rotl(v4, 18)) & _MASK64
        h = _merge(h, v1)
        h = _merge(h, v2)
        h = _merge(h, v3)
        h = _merge(h, v4)
    else:
        h = (seed + _P5) & _MASK64
    h = (h + n) & _MASK64
    while i + 8 <= n:
        h ^= _round(0, struct.unpack_from("<Q", data, i)[0])
        h = (_rotl(h, 27) * _P1 + _P4) & _MASK64
        i += 8
    if i + 4 <= n:
        h ^= (struct.unpack_from("<I", data, i)[0] * _P1) & _MASK64
        h = (_rotl(h, 23) * _P2 + _P3) & _MASK64
        i += 4
    while i < n:
        h ^= (data[i] * _P5) & _MASK64
        h = (_rotl(h, 11) * _P1) & _MASK64
        i += 1
    h ^= h >> 33
    h = (h * _P2) & _MASK64
    h ^= h >> 29
    h = (h * _P3) & _MASK64
    h ^= h >> 32
    return h
