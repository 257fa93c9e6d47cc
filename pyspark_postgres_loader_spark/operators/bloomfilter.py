"""Parquet split-block bloom filters (SBBF) — the point-lookup
skipping structure parquetindex.py's ColumnIndex/OffsetIndex audit
left out (VERDICT r12 task 6). pyarrow 16 cannot WRITE bloom pages,
so both sides are ours, pairwise independent:

- a WRITER builds the spec's exact on-disk artifact: thrift-compact
  ``BloomFilterHeader`` (numBytes + the BLOCK / XXHASH / UNCOMPRESSED
  union selections) followed by the bitset — z 256-bit blocks of
  eight little-endian 32-bit words, sized to ~10 bits/value
  (num_blocks = next power of two with 256·blocks >= 10·ndv);
- a READER decodes the header with parquetwalk's thrift reader,
  checks numBytes against the actual bitset, rejects non-XXHASH
  hashes, and runs membership probes;
- hashing is the spec's xxHash64(seed=0) over the PLAIN-encoded
  value (8-byte little-endian for INT64), the pure-Python
  ``byteprim.xxh64``, DIFFERENTIALLY VALIDATED against Spark's JVM
  ``F.xxhash64`` (same algorithm, seed 42) plus the published
  empty-input vector 0xEF46DB3751D8E999 — writer, reader, and the
  JVM hash are three independent implementations;
- block math per the spec: block = ((h >> 32) · z) >> 32, and the
  eight probe bits come from the odd SALT constants
  (bit_i = (h_lo · SALT[i]) >> 27 within word i).

THE ORACLED PROPERTY is the bloom guarantee itself: probing every
inserted value must hit — n_present_hits == ndv, no false negatives,
with ndv and the filter geometry replayed closed-form by DuckDB.
False-POSITIVE rate on absent probes is deterministic but not
SQL-expressible (it requires the hash), so it is pinned by pytest
under a 3 % envelope instead — the same split the HLL sketch audit
uses.

Scale notes (100 TB): bloom probes are why point lookups skip row
groups without reading them — a reader tests the filter (KB) instead
of scanning the chunk (MB-GB). Probing here is map-side and
memoized per group; ~40 B of facts per row return to the JVM.

Reference: the public parquet-format BloomFilter.md (split-block
algorithm, salt constants, xxHash64) and the xxHash spec; no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..functions.planctl import presentation_sort as _presentation_sort
from .byteprim import xxh64
from .parquetwalk import _TReader, _pq_values

# spec salt constants — one odd 32-bit multiplier per block word
_SALT = (0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
         0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31)


def _hash_int64(v: int) -> int:
    """Spec: hash the column's PLAIN encoding — 8-byte LE for INT64."""
    return xxh64(struct.pack("<q", v), seed=0)


def _block_mask(h_lo: int) -> list[int]:
    """Eight (word, bit) positions for the low 32 hash bits."""
    return [((h_lo * s) & 0xFFFFFFFF) >> 27 for s in _SALT]


def sbbf_num_blocks(ndv: int) -> int:
    """Smallest power-of-two block count giving >= 10 bits/value."""
    z = 1
    while z * 256 < ndv * 10:
        z *= 2
    return z


class SplitBlockBloom:
    def __init__(self, num_blocks: int):
        self.z = num_blocks
        self.words = [0] * (8 * num_blocks)

    def _locate(self, v: int) -> tuple[int, list[int]]:
        h = _hash_int64(v)
        blk = ((h >> 32) * self.z) >> 32
        return blk, _block_mask(h & 0xFFFFFFFF)

    def insert(self, v: int) -> None:
        blk, bits = self._locate(v)
        for w, b in enumerate(bits):
            self.words[8 * blk + w] |= 1 << b

    def contains(self, v: int) -> bool:
        blk, bits = self._locate(v)
        return all(self.words[8 * blk + w] >> b & 1
                   for w, b in enumerate(bits))

    def bitset(self) -> bytes:
        return struct.pack(f"<{len(self.words)}I", *self.words)


# --------------------------------------- thrift header write + read

def _cv_i32(fid_delta: int, v: int) -> bytes:
    out = [bytes([(fid_delta << 4) | 5])]
    z = v << 1 if v >= 0 else ((-v) << 1) - 1
    while True:
        b = z & 0x7F
        z >>= 7
        out.append(bytes([b | 0x80]) if z else bytes([b]))
        if not z:
            return b"".join(out)


def _union_one(fid_delta: int, branch: int) -> bytes:
    """A thrift union with empty-struct branch ``branch`` selected,
    as field ``fid_delta`` of the enclosing struct."""
    return (bytes([(fid_delta << 4) | 12])      # field: struct
            + bytes([(branch << 4) | 12])       # union branch struct
            + b"\x00"                           # empty branch struct
            + b"\x00")                          # union end


def sbbf_serialize(filt: SplitBlockBloom, *, hash_branch: int = 1) -> bytes:
    """BloomFilterHeader{1: numBytes, 2: algorithm=BLOCK,
    3: hash (branch 1 = XXHASH), 4: compression=UNCOMPRESSED} +
    bitset. ``hash_branch`` != 1 forges an unknown hash union."""
    bits = filt.bitset()
    return (_cv_i32(1, len(bits))
            + _union_one(1, 1)                  # algorithm: BLOCK
            + _union_one(1, hash_branch)        # hash: XXHASH
            + _union_one(1, 1)                  # compression: UNCOMP
            + b"\x00"
            + bits)


def sbbf_deserialize(blob: bytes) -> SplitBlockBloom:
    rd = _TReader(blob, 0)
    hdr = rd.read_struct()
    nbytes = hdr.get(1)
    if nbytes is None or nbytes < 32 or nbytes % 32:
        raise ValueError("implausible bloom bitset size")
    alg = hdr.get(2)
    if alg is None or alg.get(1) is None:
        raise NotImplementedError("non-split-block bloom algorithm")
    hsh = hdr.get(3)
    if hsh is None or hsh.get(1) is None:
        raise NotImplementedError("non-xxhash bloom hash")
    comp = hdr.get(4)
    if comp is None or comp.get(1) is None:
        raise NotImplementedError("compressed bloom bitset")
    bits = blob[rd.pos : rd.pos + nbytes]
    if len(bits) != nbytes:
        raise ValueError("truncated bloom bitset")
    f = SplitBlockBloom(nbytes // 32)
    f.words = list(struct.unpack(f"<{nbytes // 4}I", bits))
    return f


# ------------------------------------------------ spark + oracle

_BLOOM_VARIANTS = ("ok", "trunc", "badhash")

_BL_FACT_MEMO: dict[tuple, tuple] = {}


def _bloom_blob(g: int, variant: str) -> bytes:
    vals = sorted(set(_pq_values(g)))
    f = SplitBlockBloom(sbbf_num_blocks(len(vals)))
    for v in vals:
        f.insert(v)
    blob = sbbf_serialize(f, hash_branch=2 if variant == "badhash" else 1)
    if variant == "trunc":
        blob = blob[:-7]
    return blob


def _bloom_facts(g: int, variant: str) -> tuple:
    key = (g, variant)
    if key not in _BL_FACT_MEMO:
        try:
            filt = sbbf_deserialize(_bloom_blob(g, variant))
            vals = sorted(set(_pq_values(g)))
            hits = sum(1 for v in vals if filt.contains(v))
            _BL_FACT_MEMO[key] = (
                "decoded", filt.z, 32 * filt.z, len(vals), hits,
            )
        except NotImplementedError:
            _BL_FACT_MEMO[key] = ("unsupported", 0, 0, 0, 0)
        except ValueError:
            _BL_FACT_MEMO[key] = ("corrupt", 0, 0, 0, 0)
        except Exception:  # noqa: BLE001 — malformed bytes quarantine
            _BL_FACT_MEMO[key] = ("corrupt", 0, 0, 0, 0)
    return _BL_FACT_MEMO[key]


def _bl_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in it:
        if pdf.empty:
            continue
        out = []
        for rid in pdf["id"]:
            g, vi = divmod(int(rid), len(_BLOOM_VARIANTS))
            out.append((int(rid), g, _BLOOM_VARIANTS[vi])
                       + _bloom_facts(g, _BLOOM_VARIANTS[vi]))
        yield pd.DataFrame(
            out,
            columns=["id", "g", "variant", "status", "n_blocks",
                     "nbytes", "ndv", "n_present_hits"],
        ).astype(
            {"id": "int64", "g": "int32", "n_blocks": "int64",
             "nbytes": "int64", "ndv": "int64",
             "n_present_hits": "int64"}
        )


def _bl_oracle() -> str:
    return """
    WITH grp AS (
      SELECT unnest(range(0, 10)) AS g
    ),
    vals AS (
      SELECT r.g,
             COUNT(DISTINCT (i * i * 7 + i * 13 + 997 * r.g) % 100000)
               AS ndv
      FROM (SELECT g, 2500 + 128 * g AS n FROM grp) r,
           LATERAL (SELECT unnest(range(0, r.n)) AS i)
      GROUP BY r.g
    ),
    geom AS (
      SELECT g, ndv,
             CAST(POWER(2, GREATEST(0, CEIL(LOG2(
               CEIL(ndv * 10.0 / 256.0))))) AS BIGINT) AS n_blocks
      FROM vals
    ),
    rows_ AS (
      SELECT geom.g * 3 + v.vi AS id, geom.g, v.variant,
             geom.ndv, geom.n_blocks
      FROM geom, LATERAL (
        SELECT * FROM (VALUES (0, 'ok'), (1, 'trunc'), (2, 'badhash'))
          AS t(vi, variant)
      ) v
    )
    SELECT CAST(id AS BIGINT) AS id,
           CAST(g AS INT) AS g,
           variant,
           CASE variant WHEN 'ok' THEN 'decoded'
                        WHEN 'trunc' THEN 'corrupt'
                        ELSE 'unsupported' END AS status,
           CASE WHEN variant = 'ok' THEN n_blocks ELSE 0 END
             AS n_blocks,
           CASE WHEN variant = 'ok' THEN 32 * n_blocks ELSE 0 END
             AS nbytes,
           CASE WHEN variant = 'ok' THEN ndv ELSE 0 END AS ndv,
           CASE WHEN variant = 'ok' THEN ndv ELSE 0 END
             AS n_present_hits
    FROM rows_
    ORDER BY id
    """


@register("ingest_parquet_bloom_probe", oracle=_bl_oracle())
def ingest_parquet_bloom_probe(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split-block bloom filters for the 10 closed-form parquet
    columns: our writer builds the spec's header + bitset artifact,
    our reader decodes it and probes EVERY inserted value — the green
    row is the no-false-negative guarantee (n_present_hits == ndv)
    plus the exact filter geometry (power-of-two blocks at >= 10
    bits/value), all replayed closed-form by DuckDB. Typed verdicts:
    a truncated bitset ('corrupt'), an unknown hash union branch
    ('unsupported'). False-positive rate is pinned < 3 % by pytest
    (not SQL-expressible — it requires the hash).

    Scale notes (100 TB): this is the structure that lets a point
    lookup skip a row group by reading KB instead of GB; probes are
    map-side, memoized per (group, variant)."""
    rows = spark.range(10 * len(_BLOOM_VARIANTS))
    return rows.mapInPandas(
        _bl_batches,
        schema=(
            "id long, g int, variant string, status string, "
            "n_blocks long, nbytes long, ndv long, n_present_hits long"
        ),
    ).transform(_presentation_sort, "id")
