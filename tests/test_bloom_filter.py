"""Split-block bloom filter: xxHash64 vectors + JVM differential,
the no-false-negative guarantee, filter geometry, false-positive
envelope, header verdicts, and the oracle compare."""

from __future__ import annotations

import struct

import pytest

from pyspark_postgres_loader_spark.operators.bloomfilter import (
    _BLOOM_VARIANTS,
    _bloom_blob,
    SplitBlockBloom,
    sbbf_deserialize,
    sbbf_num_blocks,
    sbbf_serialize,
)
from pyspark_postgres_loader_spark.operators.byteprim import xxh64 as xxhash64
from pyspark_postgres_loader_spark.operators.parquetwalk import _pq_values


def test_xxhash64_published_vectors():
    """The xxHash repo's canonical values (seed 0)."""
    assert xxhash64(b"", 0) == 0xEF46DB3751D8E999
    assert (xxhash64(b"The quick brown fox jumps over the lazy dog", 0)
            == 0x0B242D361FDA71BC)


def test_xxhash64_matches_spark_jvm(spark):
    """Differential: Spark's JVM XxHash64 hashes a BIGINT as its
    8-byte little-endian encoding with seed 42 — three independent
    implementations (ours, the JVM's, the published spec) agree."""
    from pyspark.sql import functions as F

    rows = (spark.range(-300, 300)
            .select("id", F.xxhash64("id").alias("h")).collect())
    for r in rows:
        mine = xxhash64(struct.pack("<q", r["id"]), seed=42)
        assert mine == r["h"] & ((1 << 64) - 1), r["id"]


def test_every_length_class_hashes_consistently():
    """Stripes (>=32), 8-byte tail, 4-byte tail, byte tail — pin a
    round-trip property: equal inputs agree, all prefixes differ."""
    data = bytes(range(97))
    seen = {xxhash64(data[:n], 7) for n in range(97)}
    assert len(seen) == 97                      # no prefix collision
    assert xxhash64(data, 7) == xxhash64(bytes(data), 7)


def test_no_false_negatives_and_geometry():
    for g in (0, 5, 9):
        vals = sorted(set(_pq_values(g)))
        filt = sbbf_deserialize(_bloom_blob(g, "ok"))
        assert filt.z == sbbf_num_blocks(len(vals))
        assert filt.z & (filt.z - 1) == 0       # power of two
        assert 256 * filt.z >= 10 * len(vals)   # >= 10 bits/value
        assert all(filt.contains(v) for v in vals)


def test_false_positive_envelope():
    """Deterministic but not SQL-expressible: absent probes must stay
    under 3 % at ~10 bits/value (theory: ~1 %)."""
    for g in (0, 7):
        filt = sbbf_deserialize(_bloom_blob(g, "ok"))
        fp = sum(1 for i in range(2000) if filt.contains(100000 + i))
        assert fp / 2000 < 0.03


def test_serialization_round_trip():
    f = SplitBlockBloom(4)
    for v in (0, -1, 1 << 62, -(1 << 62), 12345):
        f.insert(v)
    g = sbbf_deserialize(sbbf_serialize(f))
    assert g.words == f.words
    assert all(g.contains(v) for v in (0, -1, 1 << 62, -(1 << 62), 12345))


def test_header_verdicts():
    with pytest.raises(ValueError, match="truncated"):
        sbbf_deserialize(_bloom_blob(0, "trunc"))
    with pytest.raises(NotImplementedError, match="xxhash"):
        sbbf_deserialize(_bloom_blob(0, "badhash"))
    f = SplitBlockBloom(2)
    blob = sbbf_serialize(f)
    # numBytes not a multiple of 32 words is implausible
    import struct as _s

    bad = bytearray(blob)
    bad[1] = 0x03  # zigzag varint for numBytes -> tiny odd value
    with pytest.raises(ValueError):
        sbbf_deserialize(bytes(bad))


def test_fixture_variants_cover_all_statuses():
    assert _BLOOM_VARIANTS == ("ok", "trunc", "badhash")


def test_query_matches_oracle(spark):
    import sys

    sys.path.insert(0, "tests")
    from oracle_harness import compare_query

    compare_query(spark, "/root/testdata/sf0.001",
                  "ingest_parquet_bloom_probe")
