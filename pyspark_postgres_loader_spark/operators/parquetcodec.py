"""Parquet pages under the MODERN codecs — ZSTD and LZ4_RAW —
decoded natively end-to-end: the Thrift footer/page walk of
operators/parquetwalk.py with page decompression through this
repo's OWN RFC 8878 zstd decoder (operators/zstdfse.py) and raw
LZ4 block decoder (operators/lz4frame.py). No parquet, zstd or lz4
library in the loop.

Why this matters at 100 TB: zstd is the default codec of most
modern parquet writers (Spark, pyarrow, DuckDB all ship it) and
LZ4_RAW is the common speed-first alternative — a real ingest hits
these FIRST, before the legacy snappy/gzip profile the original
walk covered. Wiring them through the same `_decompress` switch
means every parquet walk in the repo (flat, nested/Dremel, v2,
page-index, dictionary) inherits both codecs at once.

Correctness evidence: pyarrow — an independent implementation — is
the runtime WRITER (dictionary off, v1 data pages, zstd levels
rotated per group so fast-mode AND high-compression sequence/FSE
shapes are both exercised); the walk re-derives the closed-form
INT64 values and the DuckDB oracle replays the value lattice
without ever seeing a parquet byte. Typed verdicts, each
non-vacuous: a footer cut ('corrupt'), a flipped page-body byte
under an intact stored CRC ('crc_error' — parquet's page checksum
is the catch), and for zstd a reserved-frame-header-bit flip with
page checksums OFF ('corrupt' — proving the zstd decoder's own
structural typing is the backstop when parquet CRC is absent); for
LZ4_RAW a brotli-coded group ('unsupported' — the codec-dispatch
boundary).

Reference: parquet-format compression codecs (public spec: ZSTD=6
stores one zstd frame per page, LZ4_RAW=7 one raw LZ4 block); no
repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from .parquetwalk import first_page_body_span, walk_parquet
from .walkbatch import decode_walk

# ------------------------------------------------------------ zstd

_PZ_GROUPS = 8
_PZ_ROWGROUP = 4096
_PZ_MOD = 1 << 44  # keeps every sum/weighted-sum inside int64


def _pz_n(g: int) -> int:
    return 9000 + 640 * g


def _pz_values(g: int) -> list[int]:
    """Closed-form INT64 column for group ``g``; the four shapes
    force distinct zstd block anatomies: long byte runs (match/RLE
    sequences), a tiny alphabet (Huffman-heavy literals), wide
    pseudo-random 44-bit values (literal-heavy, near-incompressible
    blocks), and a linear ramp (short-offset matches)."""
    n = _pz_n(g)
    shape = g % 4
    if shape == 0:
        return [(i // 61) * 9 + g for i in range(n)]
    if shape == 1:
        return [(i * i) % 17 + 40 * g for i in range(n)]
    if shape == 2:
        return [
            (i * i * 1315423911 + i * 2654435761 + 997 * g) % _PZ_MOD
            for i in range(n)
        ]
    return [i * 97 + g for i in range(n)]


def _pz_bytes(g: int, checksum: bool = True) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"v": pa.array(_pz_values(g), type=pa.int64())})
    buf = pa.BufferOutputStream()
    pq.write_table(
        t, buf,
        use_dictionary=False,
        compression="zstd",
        # two levels per shape across the 8 groups: fast modes and
        # high-compression modes emit different sequence/FSE tables
        compression_level=(1, 3, 12, 19)[(g + g // 4) % 4],
        data_page_version="1.0",
        write_statistics=False,
        write_page_checksum=checksum,
        row_group_size=_PZ_ROWGROUP,
    )
    return buf.getvalue().to_pybytes()


def _pz_payload(doc_id: int) -> bytes:
    g = doc_id % _PZ_GROUPS
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    zdamage = doc_id % 13 == 5 and not (corrupt or crc_err)
    blob = bytearray(_pz_bytes(g, checksum=not zdamage))
    if crc_err:
        # flip a byte mid-body of the first page, located by the same
        # thrift walk the reader performs — the stored page CRC must
        # catch it whatever layout pyarrow emits
        s, e = first_page_body_span(bytes(blob))
        blob[s + (e - s) // 2] ^= 0x01
    if zdamage:
        # page checksums OFF; set the reserved bit in the zstd frame
        # header descriptor (body byte 4, after the 4-byte magic) —
        # deterministically a ValueError from the zstd decoder itself,
        # never a silent wrong decode
        s, _ = first_page_body_span(bytes(blob))
        blob[s + 4] |= 0x08
    if corrupt:
        del blob[-6:]  # cut inside footer length + magic
    return bytes(blob)


def _pz_key(doc_id: int) -> tuple:
    return (doc_id % _PZ_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _pz_facts(doc_id: int) -> tuple:
    f = walk_parquet(_pz_payload(doc_id))
    vals = f["values"]
    vsum = sum(vals)
    wsum = sum(((i + 1) * v) % _PZ_MOD
               for i, v in enumerate(vals))
    return (
        "decoded", f["n_row_groups"], f["n_pages"],
        len(vals), vsum, wsum,
    )


def _pz_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_PZ_GROUPS} AS g FROM documents
    ),
    rows_ AS (
      SELECT g, 9000 + 640 * g AS n FROM grp
    ),
    vals AS (
      SELECT r.g, i,
             CASE r.g % 4
               WHEN 0 THEN (i // 61) * 9 + r.g
               WHEN 1 THEN (i * i) % 17 + 40 * r.g
               WHEN 2 THEN (i * i * 1315423911 + i * 2654435761
                            + 997 * r.g) % {_PZ_MOD}
               ELSE i * 97 + r.g
             END AS v
      FROM rows_ r, LATERAL (
        SELECT unnest(range(0, r.n)) AS i
      )
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT CAST(ceil(CAST(n AS DOUBLE) / {_PZ_ROWGROUP})
                   AS INT) FROM rows_ WHERE rows_.g = v.g)
               AS INT) AS n_row_groups,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(v) AS BIGINT) AS value_sum,
             CAST(SUM(((i + 1) * v) % {_PZ_MOD}) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'corrupt'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_row_groups END AS n_row_groups,
           CASE WHEN {bad} THEN 0 ELSE s.n_row_groups END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.n_values END AS n_values,
           CASE WHEN {bad} THEN 0 ELSE s.value_sum END AS value_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_PZ_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_zstd_pages", oracle=_pz_oracle())
def ingest_parquet_zstd_pages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """ZSTD-coded parquet (codec 6 — the modern writer default)
    walked natively: Thrift footer/page-header decode, page CRC-32
    verification, then one full zstd frame per page through OUR
    RFC 8878 decoder — FSE sequence tables, Huffman literals, repeat
    modes, all of it — at four rotated compression levels over four
    value shapes (run-heavy, tiny-alphabet, near-incompressible,
    ramp) so fast and high-compression frame anatomies are both
    exercised. Typed verdicts: a footer cut ('corrupt'), a page-body
    flip under an intact stored CRC ('crc_error'), and a reserved
    zstd frame-header bit with page checksums OFF ('corrupt' — the
    zstd decoder's own structural typing backstops integrity when
    parquet CRC is absent).

    Scale notes (100 TB): Arrow-batched mapInPandas over the doc-id
    stream, per-worker fact memo (8 groups × 4 classes decode once
    per executor, not once per row); only integer facts re-enter the
    JVM. The codec branch lands in the SHARED `_decompress`, so the
    nested/v2/page-index/dictionary walks inherit zstd for free."""
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id").repartition(32, "doc_id"))
    out = decode_walk(
        d, "_pz_batches", _pz_key, _pz_facts,
        "doc_id long, status string, n_row_groups int, n_pages int, "
        "n_values long, value_sum long, wsum long",
        value_errors=(("CRC", "crc_error"),),
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")


# -------------------------------------------------------- lz4_raw

_PL_GROUPS = 8
_PL_ROWGROUP = 8192
_PL_MOD = 1 << 44


def _pl_n(g: int) -> int:
    return 20000 + 1500 * g


def _pl_values(g: int) -> list[int]:
    n = _pl_n(g)
    shape = g % 4
    if shape == 0:
        return [(i // 53) * 13 + 2 * g for i in range(n)]
    if shape == 1:
        return [(i * 31) % 23 + 50 * g for i in range(n)]
    if shape == 2:
        return [
            (i * i * 2718281829 + i * 1315423911 + 131 * g) % _PL_MOD
            for i in range(n)
        ]
    return [i * 89 + g for i in range(n)]


def _pl_bytes(g: int, codec: str = "lz4") -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"v": pa.array(_pl_values(g), type=pa.int64())})
    buf = pa.BufferOutputStream()
    pq.write_table(
        t, buf,
        use_dictionary=False,
        compression=codec,  # pyarrow 'lz4' = parquet LZ4_RAW (7)
        data_page_version="1.0",
        write_statistics=False,
        write_page_checksum=True,
        row_group_size=_PL_ROWGROUP,
    )
    return buf.getvalue().to_pybytes()


def _pl_payload(doc_id: int) -> bytes:
    g = doc_id % _PL_GROUPS
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    blob = bytearray(_pl_bytes(g, codec="brotli" if unsup else "lz4"))
    if crc_err:
        s, e = first_page_body_span(bytes(blob))
        blob[s + (e - s) // 2] ^= 0x01
    if corrupt:
        del blob[-6:]
    return bytes(blob)


def _pl_key(doc_id: int) -> tuple:
    return (doc_id % _PL_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _pl_facts(doc_id: int) -> tuple:
    f = walk_parquet(_pl_payload(doc_id))
    vals = f["values"]
    vsum = sum(vals)
    wsum = sum(((i + 1) * v) % _PL_MOD
               for i, v in enumerate(vals))
    return (
        "decoded", f["n_row_groups"], f["n_pages"],
        len(vals), vsum, wsum,
    )


def _pl_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_PL_GROUPS} AS g FROM documents
    ),
    rows_ AS (
      SELECT g, 20000 + 1500 * g AS n FROM grp
    ),
    vals AS (
      SELECT r.g, i,
             CASE r.g % 4
               WHEN 0 THEN (i // 53) * 13 + 2 * r.g
               WHEN 1 THEN (i * 31) % 23 + 50 * r.g
               WHEN 2 THEN (i * i * 2718281829 + i * 1315423911
                            + 131 * r.g) % {_PL_MOD}
               ELSE i * 89 + r.g
             END AS v
      FROM rows_ r, LATERAL (
        SELECT unnest(range(0, r.n)) AS i
      )
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT CAST(ceil(CAST(n AS DOUBLE) / {_PL_ROWGROUP})
                   AS INT) FROM rows_ WHERE rows_.g = v.g)
               AS INT) AS n_row_groups,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(v) AS BIGINT) AS value_sum,
             CAST(SUM(((i + 1) * v) % {_PL_MOD}) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_row_groups END AS n_row_groups,
           CASE WHEN {bad} THEN 0 ELSE s.n_row_groups END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.n_values END AS n_values,
           CASE WHEN {bad} THEN 0 ELSE s.value_sum END AS value_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_PL_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_lz4_pages", oracle=_pl_oracle())
def ingest_parquet_lz4_pages(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """LZ4_RAW-coded parquet (codec 7 — one raw LZ4 block per page,
    no frame header; distinct from the deprecated Hadoop-framed LZ4
    codec 5, which stays an honest NotImplementedError) walked
    natively through OUR LZ4 block decoder — token/varint literal
    runs, overlapping match copies, the declared-maximum output
    bound. Typed verdicts: a footer cut ('corrupt'), a page-body
    flip under an intact stored CRC ('crc_error'), a brotli-coded
    group ('unsupported' — the codec-dispatch boundary).

    Scale notes (100 TB): identical plan shape to the zstd walk —
    Arrow-batched mapInPandas, per-worker fact memo, integer facts
    only; LZ4's decode speed makes it the speed-first codec a 100 TB
    ingest actually tunes toward."""
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id").repartition(32, "doc_id"))
    out = decode_walk(
        d, "_pl_batches", _pl_key, _pl_facts,
        "doc_id long, status string, n_row_groups int, n_pages int, "
        "n_values long, value_sum long, wsum long",
        value_errors=(("CRC", "crc_error"),),
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
