"""zstd frame walk (RFC 8878): XXH64 spec vectors, frame/block layout,
skippable frames, typed quarantine, and the oracle compare."""

from __future__ import annotations

import struct

import pytest

from pyspark_postgres_loader_spark.operators.zstdwalk import (
    _ZS_GROUPS,
    _zs_payload,
    build_skippable_frame,
    build_zstd_frame,
    walk_zstd_frames,
)
from pyspark_postgres_loader_spark.operators.byteprim import xxh64


def test_xxh64_published_vectors():
    """The xxHash spec's published test vectors (seed 0) — the
    checksum implementation is independent of the framing code, so a
    symmetric encoder/decoder bug cannot hide here."""
    assert xxh64(b"") == 0xEF46DB3751D8E999
    assert xxh64(b"abc") == 0x44BC2CF5AD770999
    # >32-byte input exercises the 4-lane stripe loop + merge rounds
    long = bytes(range(64))
    assert xxh64(long) != xxh64(long[:-1])
    assert xxh64(b"abc", seed=1) != xxh64(b"abc")


def test_frame_roundtrip_raw_rle_multiframe_skippable():
    f1 = build_zstd_frame([("raw", b"hello"), ("rle", 65, 7)])
    n, s, blocks = walk_zstd_frames(f1)
    assert (n, s) == (1, 0)
    assert blocks == [b"hello", b"A" * 7]
    multi = (
        build_skippable_frame(b"metadata", nibble=3)
        + f1
        + build_zstd_frame([("raw", b"x")], checksum=False)
    )
    n, s, blocks = walk_zstd_frames(multi)
    assert (n, s) == (2, 1)
    assert blocks == [b"hello", b"A" * 7, b"x"]


def test_frame_content_size_is_validated():
    f = build_zstd_frame([("raw", b"abcd")])
    # FCS byte sits at offset 5 in the single-segment layout
    with pytest.raises(ValueError, match="content size"):
        walk_zstd_frames(f[:5] + bytes([9]) + f[6:])


def test_typed_quarantine():
    f = build_zstd_frame([("raw", b"abcd")])
    # compressed-type block: set bit 2 of the first block-header byte
    with pytest.raises(NotImplementedError, match="FSE"):
        walk_zstd_frames(f[:6] + bytes([f[6] | 0x04]) + f[7:])
    # reserved block type (3)
    with pytest.raises(ValueError, match="reserved zstd block"):
        walk_zstd_frames(f[:6] + bytes([f[6] | 0x06]) + f[7:])
    # reserved descriptor bit
    with pytest.raises(ValueError, match="descriptor"):
        walk_zstd_frames(f[:4] + bytes([f[4] | 0x08]) + f[5:])
    # flipped checksum byte
    with pytest.raises(ValueError, match="CHECKSUM"):
        walk_zstd_frames(f[:-4] + bytes([f[-4] ^ 1]) + f[-3:])
    # truncations at several depths
    for cut in (2, 5, 7, len(f) - 3):
        with pytest.raises(ValueError):
            walk_zstd_frames(f[:cut])
    # nonzero dictionary id
    did = struct.pack("<I", 0xFD2FB528) + bytes([0x21, 7, 0]) + b""
    with pytest.raises(NotImplementedError, match="dictionary"):
        walk_zstd_frames(did + bytes(8))


def test_fixture_truncation_always_fails_every_group():
    for g in range(_ZS_GROUPS):
        doc_id = g
        while doc_id % 11 != 3:
            doc_id += _ZS_GROUPS
        with pytest.raises(ValueError):
            walk_zstd_frames(_zs_payload(doc_id))


def test_query_matches_oracle(spark):
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import compare_query

    compare_query(spark, "/root/testdata/sf0.001", "ingest_zstd_frame_walk")
