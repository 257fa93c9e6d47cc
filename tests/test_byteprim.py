"""Shared byte primitives: the LEB128/zigzag varint reader and the
CRC-16/0x8005 used by the FLAC, MP3 and AAC walks."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest

from pyspark_postgres_loader_spark.operators.byteprim import (
    crc16_8005,
    uleb128,
    unzigzag,
    zigzag_long,
)
from pyspark_postgres_loader_spark.operators.walkbatch import _verdict

OPERATORS = Path(__file__).resolve().parents[1] / "pyspark_postgres_loader_spark" / "operators"


def test_uleb128_vectors():
    assert uleb128(b"\x00", 0) == (0, 1)
    assert uleb128(b"\x7f", 0) == (127, 1)
    assert uleb128(b"\x80\x01", 0) == (128, 2)
    assert uleb128(b"\xaa\xe5\x8e\x26\xbb", 1) == (624485, 4)
    assert uleb128(b"\xff" * 9 + b"\x01", 0) == ((1 << 64) - 1, 10)


def test_zigzag_vectors():
    assert [unzigzag(u) for u in range(5)] == [0, -1, 1, -2, 2]
    assert zigzag_long(b"\x03\x04", 0) == (-2, 1)
    assert zigzag_long(b"\xfe\xff\xff\xff\x0f", 0) == (2**31 - 1, 5)


@pytest.mark.parametrize("raw", [b"", b"\x80", b"\xff\xff"])
def test_truncated_varint_raises(raw):
    with pytest.raises(ValueError, match="varint truncated"):
        uleb128(raw, 0)


def test_overlong_varint_raises():
    with pytest.raises(ValueError, match="varint too long"):
        uleb128(b"\x80" * 11 + b"\x01", 0)


def test_crc16_check_values():
    # catalogued check values over "123456789" for poly 0x8005 MSB-first
    assert crc16_8005(b"123456789", 0) == 0xFEE8  # CRC-16/UMTS (FLAC)
    assert crc16_8005(b"123456789", 0xFFFF) == 0xAEE7  # CRC-16/CMS (MP3)
    assert crc16_8005(b"", 0x1234) == 0x1234


def _value_error_tokens() -> set[str]:
    tokens = set()
    for path in OPERATORS.glob("*.py"):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.keyword) and node.arg == "value_errors":
                tokens |= {tok for tok, _ in ast.literal_eval(node.value)}
    return tokens


def test_varint_errors_classify_as_corrupt_in_every_walk():
    tokens = _value_error_tokens()
    assert "CRC" in tokens  # the scan found the walks' tables
    for raw in (b"\x80", b"\x80" * 12):
        with pytest.raises(ValueError) as info:
            uleb128(raw, 0)
        assert _verdict(info.value, tuple((t, "x") for t in tokens)) == "corrupt"
