"""zstd dictionary frames: native dict-file parse, CLI-trained golden
decode through the dictionary (repeat-mode tables + window matches),
a hand-assembled treeless-literal frame consuming the DICT's Huffman
table, rep-offset seeding, typed quarantine, and the oracle compare."""

from __future__ import annotations

import base64
import struct

import pytest

from pyspark_postgres_loader_spark.operators.zstddict import (
    _ZD_DICT_B64,
    _ZD_GROUPS,
    _zd_content,
    _zd_dict,
    _zd_payload,
    parse_zstd_dictionary,
)
from pyspark_postgres_loader_spark.operators.zstdfse import decompress_frame


def _dict_blob() -> bytes:
    return base64.b64decode("".join(_ZD_DICT_B64))


def test_dictionary_parses():
    zd = _zd_dict()
    assert zd.dict_id != 0
    assert len(zd.content) > 0
    assert all(r > 0 for r in zd.rep)
    assert zd.huf.max_bits > 0
    assert zd.ll is not None and zd.of is not None and zd.ml is not None


def test_golden_frames_decode_through_dictionary():
    """CLI -19 -D frames are ~34 bytes for 600+-byte content: nearly
    everything is dictionary references, and the single compressed
    block's sequence tables arrive in Repeat_Mode — only the dict
    makes that legal, so its tables are provably consumed."""
    zd = _zd_dict()
    for g in range(_ZD_GROUPS):
        doc = g
        while doc % 11 == 3 or doc % 17 == 2 or doc % 13 == 5:
            doc += _ZD_GROUPS
        blob = _zd_payload(doc)
        stats: dict = {}
        out, used = decompress_frame(blob, stats, zd)
        assert out == _zd_content(g) and used == len(blob), g
        assert len(blob) < len(out) // 4, "frame barely references dict"
        assert 3 in stats.get("seq_modes", set()), "Repeat_Mode absent"


def test_frames_unsupported_without_dictionary():
    for g in range(3):
        with pytest.raises(NotImplementedError, match="dictionary"):
            decompress_frame(_zd_payload(g + _ZD_GROUPS * 3))
    # and with the WRONG dictionary id
    zd = _zd_dict()
    zd.dict_id ^= 1
    with pytest.raises(NotImplementedError, match="dictionary"):
        decompress_frame(_zd_payload(0), None, zd)


def _encode_huf_stream(data: bytes, table) -> bytes:
    """Test-local Huffman encoder for the decoder's BackBits layout:
    codes appended top-down ((v << len) | code), sentinel bit on top,
    little-endian bytes."""
    codes = {}
    idx = 0
    while idx < (1 << table.max_bits):
        sym = table.sym[idx]
        ln = table.len[idx]
        codes.setdefault(sym, (idx >> (table.max_bits - ln), ln))
        idx += 1 << (table.max_bits - ln)
    v = 0
    bits = 0
    for b in data:
        if b not in codes:
            raise AssertionError(f"symbol {b} not in dict table")
        code, ln = codes[b]
        v = (v << ln) | code
        bits += ln
    v |= 1 << bits
    return v.to_bytes((bits + 8) // 8, "little")


def test_treeless_literals_use_dict_huffman_table():
    """Hand-assemble a dictionary frame whose single block carries
    TREELESS literals (type 3) — no in-frame tree, so the literals
    can only decode through the DICTIONARY's Huffman table (the CLI
    emits raw literals at these sizes, so this path needs the
    hand-built frame)."""
    zd = _zd_dict()
    payload = bytes(_zd_content(0)[:40])  # dict-alphabet symbols
    stream = _encode_huf_stream(payload, zd.huf)
    rsize, csize = len(payload), len(stream)
    assert rsize < 1024 and csize < 1024
    # literals header: type=3 (treeless), size_fmt=0 (1 stream),
    # 10-bit sizes packed after the 4 header bits
    both = (csize << 10) | rsize
    lit_hdr = bytes([3 | 0 | ((both & 0xF) << 4),
                     (both >> 4) & 0xFF, (both >> 12) & 0xFF])
    block = lit_hdr + stream + b"\x00"  # nseq = 0
    # frame: magic | fhd(single-segment, 4-byte did, 1-byte fcs) |
    # did | fcs | block header (last, compressed)
    fhd = (0 << 6) | (1 << 5) | (0 << 2) | 3
    bh = (len(block) << 3) | (2 << 1) | 1
    frame = (
        struct.pack("<I", 0xFD2FB528)
        + bytes([fhd])
        + struct.pack("<I", zd.dict_id)
        + bytes([rsize])
        + bh.to_bytes(3, "little")
        + block
    )
    stats: dict = {}
    out, used = decompress_frame(frame, stats, zd)
    assert out == payload and used == len(frame)
    assert 3 in stats.get("lit_types", set())
    # the same frame WITHOUT the dict is typed unsupported
    with pytest.raises(NotImplementedError, match="dictionary"):
        decompress_frame(frame)


def test_dict_rep_offsets_seed_the_history():
    """Patch the parsed dict's rep history and decode a hand-built
    frame whose single sequence fires a repeat-offset code: the match
    must copy from the PATCHED distance into the DICT WINDOW — both
    seedings (rep history and window content) are load-bearing."""
    zd = _zd_dict()
    zd.rep = [1, 7, 8]  # rep2 patched: ll=0 + offset_value=1 → rep[1]
    n = len(zd.content)
    # block: empty RAW literals, then ONE sequence via RLE-mode
    # tables (zero-bit states, hand-encodable): ll_code=0 (ll=0),
    # of_code=0 (offset_value=1 → repeat branch), ml_code=0 (ml=3)
    block = (
        b"\x00"                # literals: type raw, size 0
        + b"\x01"              # nseq = 1
        + bytes([(1 << 6) | (1 << 4) | (1 << 2)])  # all RLE mode
        + b"\x00\x00\x00"      # RLE symbols: ll, of, ml
        + b"\x01"              # backward bitstream: sentinel only
    )
    fhd = (0 << 6) | (1 << 5) | (0 << 2) | 3
    bh = (len(block) << 3) | (2 << 1) | 1
    frame = (
        struct.pack("<I", 0xFD2FB528)
        + bytes([fhd])
        + struct.pack("<I", zd.dict_id)
        + bytes([3])            # fcs: 3 produced bytes
        + bh.to_bytes(3, "little")
        + block
    )
    out, used = decompress_frame(frame, None, zd)
    assert used == len(frame)
    assert out == zd.content[n - 7 : n - 4], (
        "match did not copy from the patched rep distance in the "
        "dictionary window"
    )


def test_typed_quarantine_and_dict_parse_errors():
    blob = _dict_blob()
    with pytest.raises(ValueError, match="magic"):
        parse_zstd_dictionary(b"XXXX" + blob[4:])
    with pytest.raises(ValueError):
        parse_zstd_dictionary(blob[:6])
    zero_id = bytearray(blob)
    zero_id[4:8] = b"\x00\x00\x00\x00"
    with pytest.raises(ValueError, match="nonzero"):
        parse_zstd_dictionary(bytes(zero_id))
    zd = _zd_dict()
    # fixture classes
    with pytest.raises(ValueError, match="CRC"):
        decompress_frame(_zd_payload(2), None, zd)  # 2 % 17 == 2
    with pytest.raises(ValueError):
        decompress_frame(_zd_payload(3), None, zd)  # 3 % 11 == 3
    with pytest.raises(NotImplementedError):
        decompress_frame(_zd_payload(5), None, zd)  # 5 % 13 == 5


def test_fixture_truncation_always_fails_every_group():
    zd = _zd_dict()
    for g in range(_ZD_GROUPS):
        doc_id = g
        while doc_id % 11 != 3:
            doc_id += _ZD_GROUPS
        with pytest.raises(ValueError):
            decompress_frame(_zd_payload(doc_id), None, zd)


def test_query_matches_oracle(spark):
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import compare_query

    compare_query(
        spark, "/root/testdata/sf0.001", "ingest_zstd_dict_decode"
    )
