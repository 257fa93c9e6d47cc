"""Byte primitives shared by the decode walks: the LEB128 varint reader
(Avro longs, the ORC protobuf tail, Parquet DELTA encodings) and the
CRC-16 over polynomial 0x8005 (FLAC frames, MP3 and AAC protection).

A varint error is a plain ``ValueError`` that names no verdict token, so
every walk classifies it as ``corrupt``.
"""

from __future__ import annotations


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
