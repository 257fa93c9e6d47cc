"""Parquet BYTE_STREAM_SPLIT decode — the float-embedding encoding.

BYTE_STREAM_SPLIT (parquet encoding 9) shuffles the K values of a
page into ``width`` byte streams (all first bytes, then all second
bytes, ...) so that a general-purpose codec sees the slowly-varying
exponent/high-mantissa bytes contiguously — the encoding parquet
added specifically because IEEE floats (embedding vectors!) compress
poorly as interleaved bytes. Decoding is the inverse gather, done
here as one numpy transpose per page.

Correctness evidence: pyarrow writes the fixture (v2 data pages,
BSS on a REQUIRED float32 column, an OPTIONAL float64 column and a
FLBA(2) float16 column — the half-precision layout embedding stores
actually ship — page checksums on, all five codecs by group,
zstd/lz4 through this repo's own decoders); values are closed-form
power-of-two rationals (exact in every float width) so the DuckDB
oracle replays scaled-integer sums bit-exactly. Typed verdicts:
footer cut ('corrupt'), page-body flip under an intact stored CRC
('crc_error'), BSS on an INT64 column ('unsupported' — the spec's
integer extension this walk honestly does not implement).

Why this matters at 100 TB: embedding tables are float columns at
corpus scale; BSS+zstd is the layout a storage-efficient embedding
store actually writes.

Reference: parquet-format Encodings.md, BYTE_STREAM_SPLIT (public);
no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .parquetwalk import (
    _decompress,
    _parse_level_runs,
    _TReader,
    first_page_body_span,
)
from .walkbatch import decode_walk

_PAGE_DATA_V2 = 3
_ENC_BSS = 9
_PT_FLOAT = 4
_PT_DOUBLE = 5
_PT_FLBA = 7  # fixed_len_byte_array — float16 embeddings live here


def byte_stream_split_decode(raw: bytes, k: int, width: int) -> bytes:
    """Inverse of the byte-stream shuffle: ``raw`` holds ``width``
    streams of ``k`` bytes; returns the K interleaved values'
    bytes."""
    import numpy as np

    if len(raw) != k * width:
        raise ValueError("BSS page size disagrees with value count")
    if k == 0:
        return b""
    return (
        np.frombuffer(raw, dtype=np.uint8)
        .reshape(width, k).T.copy().tobytes()
    )


def walk_parquet_bss(data: bytes) -> dict:
    """Walk a parquet file whose columns are BYTE_STREAM_SPLIT-coded
    FLOAT/DOUBLE (v2 data pages; OPTIONAL columns weave nulls from
    the uncompressed def-level prefix). Raises NotImplementedError
    for BSS on other physical types ('unsupported'), ValueError with
    'CRC' for page-checksum mismatches, plain ValueError for
    structural damage."""
    try:
        return _walk_bss(data)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        raise ValueError(f"malformed parquet structure ({exc})") from exc


def _walk_bss(data: bytes) -> dict:
    if len(data) < 12 or data[:4] != b"PAR1":
        raise ValueError("missing parquet header magic")
    if data[-4:] != b"PAR1":
        raise ValueError("missing parquet footer magic")
    flen = struct.unpack_from("<I", data, len(data) - 8)[0]
    fstart = len(data) - 8 - flen
    if fstart < 4:
        raise ValueError("parquet footer length out of range")
    meta = _TReader(data, fstart).read_struct()
    schema = meta.get(2) or []
    num_rows = meta.get(3)
    row_groups = meta.get(4) or []
    if len(schema) < 2 or (schema[0].get(5) or 0) != len(schema) - 1:
        raise NotImplementedError("nested parquet schema in BSS walk")
    names = [s.get(4).decode() for s in schema[1:]]
    type_lens = [s.get(2) for s in schema[1:]]  # FLBA widths
    cols: dict[str, list] = {n: [] for n in names}
    n_pages = 0
    for rg in row_groups:
        chunks = rg.get(1) or []
        if len(chunks) != len(names):
            raise ValueError("row group chunk count disagrees with schema")
        for ci, chunk in enumerate(chunks):
            cmeta = chunk.get(3)
            if cmeta is None:
                raise ValueError("column chunk without metadata")
            ptype = cmeta.get(1)
            codec = cmeta.get(4)
            num_values = cmeta.get(5)
            pos = cmeta.get(9)
            if cmeta.get(11) is not None:
                raise NotImplementedError("dictionary page in BSS walk")
            out = cols[names[ci]]
            seen = 0
            while seen < num_values:
                rd = _TReader(data, pos)
                ph = rd.read_struct()
                pos = rd.pos
                usize, csize, crc = ph.get(2), ph.get(3), ph.get(4)
                body = data[pos : pos + csize]
                if len(body) != csize:
                    raise ValueError("truncated page body")
                pos += csize
                if crc is not None:
                    if zlib.crc32(body) & 0xFFFFFFFF != crc & 0xFFFFFFFF:
                        raise ValueError(
                            "parquet page CRC mismatch (CRC)")
                if ph.get(1) != _PAGE_DATA_V2:
                    raise NotImplementedError(
                        f"parquet page type {ph.get(1)} in BSS walk")
                dph = ph.get(8)
                if dph is None:
                    raise ValueError("v2 data page without its header")
                pvals = dph.get(1)
                if pvals is None or pvals < 0 or pvals > 1 << 24:
                    raise ValueError("implausible v2 page value count")
                num_nulls = dph.get(2) or 0
                enc = dph.get(4)
                dl_len = dph.get(5) or 0
                rl_len = dph.get(6) or 0
                if rl_len:
                    raise NotImplementedError(
                        "repeated column in BSS walk")
                if enc != _ENC_BSS:
                    raise NotImplementedError(
                        f"BSS walk: encoding {enc}")
                if ptype == _PT_FLOAT:
                    width, fmt = 4, "f"
                elif ptype == _PT_DOUBLE:
                    width, fmt = 8, "d"
                elif ptype == _PT_FLBA and type_lens[ci] == 2:
                    # FLBA(2) = float16, the half-precision embedding
                    # layout (parquet FLOAT16 logical type)
                    width, fmt = 2, "e"
                else:
                    # the spec's INT32/INT64/other-FLBA extension —
                    # honest
                    raise NotImplementedError(
                        f"BSS on physical type {ptype}")
                if rl_len + dl_len > len(body):
                    raise ValueError("v2 level lengths exceed page body")
                levels = None
                if dl_len:
                    levels = _parse_level_runs(
                        body[rl_len : rl_len + dl_len], pvals, 1)
                    if pvals - sum(levels) != num_nulls:
                        raise ValueError(
                            "def levels disagree with num_nulls")
                elif num_nulls:
                    raise ValueError("num_nulls without def levels")
                k = pvals - num_nulls
                raw = _decompress(
                    codec, body[rl_len + dl_len :],
                    usize - rl_len - dl_len)
                vals = struct.unpack(
                    f"<{k}{fmt}", byte_stream_split_decode(raw, k, width))
                if levels is None:
                    out.extend(vals)
                else:
                    it = iter(vals)
                    out.extend(next(it) if lv else None for lv in levels)
                seen += pvals
                n_pages += 1
    for n in names:
        if num_rows is not None and len(cols[n]) != num_rows:
            raise ValueError("decoded values disagree with num_rows")
    return {
        "num_rows": num_rows,
        "n_row_groups": len(row_groups),
        "n_pages": n_pages,
        "columns": cols,
    }


# ------------------------------------------------- driver-oracled query

_BS_GROUPS = 10
_BS_ROWGROUP = 512


def _bs_rows(g: int) -> int:
    return 1100 + 90 * g


def _bs_f(g: int) -> list[float]:
    # s/64 with |s| < 2^12: exact in float32
    return [((((23 * i + 7 * g) % 8192) - 4096) / 64.0)
            for i in range(_bs_rows(g))]


def _bs_d(g: int) -> list[float | None]:
    return [None if (i + g) % 7 == 3
            else ((((31 * i + 11 * g) % 100000) - 50000) / 64.0)
            for i in range(_bs_rows(g))]


def _bs_h(g: int) -> list[float]:
    # s/256 with |s| <= 2000: exact in float16
    return [((((13 * i + 5 * g) % 4000) - 2000) / 256.0)
            for i in range(_bs_rows(g))]


def _bs_bytes(g: int, unsupported: bool = False) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    codec = ("none", "snappy", "gzip", "zstd", "lz4")[g % 5]
    if unsupported:
        # the spec's integer BSS extension — pyarrow writes it, this
        # walk honestly does not decode it
        t = pa.table({"v": pa.array(range(512), pa.int64())})
        pq.write_table(
            t, buf, use_dictionary=False, compression=codec,
            data_page_version="2.0", write_statistics=False,
            write_page_checksum=True,
            column_encoding={"v": "BYTE_STREAM_SPLIT"},
        )
    else:
        import numpy as np

        t = pa.table({
            "f": pa.array(_bs_f(g), pa.float32()),
            "d": pa.array(_bs_d(g), pa.float64()),
            "h": pa.array(np.asarray(_bs_h(g), dtype=np.float16)),
        })
        pq.write_table(
            t, buf, use_dictionary=False, compression=codec,
            data_page_version="2.0", write_statistics=False,
            write_page_checksum=True, row_group_size=_BS_ROWGROUP,
            column_encoding={"f": "BYTE_STREAM_SPLIT",
                             "d": "BYTE_STREAM_SPLIT",
                             "h": "BYTE_STREAM_SPLIT"},
        )
    return buf.getvalue().to_pybytes()


def _bs_payload(doc_id: int) -> bytes:
    g = doc_id % _BS_GROUPS
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    blob = bytearray(_bs_bytes(g, unsupported=unsup))
    if crc_err:
        s, e = first_page_body_span(bytes(blob))
        blob[s + (e - s) // 2] ^= 0x01
    if corrupt:
        del blob[-6:]
    return bytes(blob)


def _bs_key(doc_id: int) -> tuple:
    return (doc_id % _BS_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _bs_facts(doc_id: int) -> tuple:
    f = walk_parquet_bss(_bs_payload(doc_id))
    fs = f["columns"]["f"]
    ds = f["columns"]["d"]
    hs = f["columns"]["h"]
    f_sum = f_wsum = d_sum = d_wsum = 0
    h_sum = h_wsum = 0
    n_null_d = 0
    for i, v in enumerate(fs):
        s = int(round(v * 64))
        f_sum += s
        f_wsum += (i + 1) * s
    for i, v in enumerate(ds):
        if v is None:
            n_null_d += 1
            continue
        s = int(round(v * 64))
        d_sum += s
        d_wsum += (i + 1) * s
    for i, v in enumerate(hs):
        s = int(round(v * 256))
        h_sum += s
        h_wsum += (i + 1) * s
    return (
        "decoded", f["num_rows"], f["n_pages"], f_sum,
        f_wsum, n_null_d, d_sum, d_wsum, h_sum, h_wsum,
    )


def _bs_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_BS_GROUPS} AS g FROM documents
    ),
    rr AS (
      SELECT g, i,
             (((23 * i + 7 * g) % 8192) - 4096) AS fs,
             ((i + g) % 7 = 3) AS d_null,
             (((31 * i + 11 * g) % 100000) - 50000) AS ds,
             (((13 * i + 5 * g) % 4000) - 2000) AS hs
      FROM (SELECT g, unnest(range(0, 1100 + 90 * g)) AS i FROM grp)
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(3 * CAST(ceil(CAST(COUNT(*) AS DOUBLE)
                  / {_BS_ROWGROUP}) AS INT) AS BIGINT) AS n_pages,
             CAST(SUM(fs) AS BIGINT) AS f_sum,
             CAST(SUM((i + 1) * fs) AS BIGINT) AS f_wsum,
             CAST(SUM(CASE WHEN d_null THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_d,
             CAST(SUM(CASE WHEN d_null THEN 0 ELSE ds END) AS BIGINT)
               AS d_sum,
             CAST(SUM(CASE WHEN d_null THEN 0
                      ELSE (i + 1) * ds END) AS BIGINT) AS d_wsum,
             CAST(SUM(hs) AS BIGINT) AS h_sum,
             CAST(SUM((i + 1) * hs) AS BIGINT) AS h_wsum
      FROM rr GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_rows END AS n_rows,
           CASE WHEN {bad} THEN 0 ELSE s.n_pages END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.f_sum END AS f_sum,
           CASE WHEN {bad} THEN 0 ELSE s.f_wsum END AS f_wsum,
           CASE WHEN {bad} THEN 0 ELSE s.n_null_d END AS n_null_d,
           CASE WHEN {bad} THEN 0 ELSE s.d_sum END AS d_sum,
           CASE WHEN {bad} THEN 0 ELSE s.d_wsum END AS d_wsum,
           CASE WHEN {bad} THEN 0 ELSE s.h_sum END AS h_sum,
           CASE WHEN {bad} THEN 0 ELSE s.h_wsum END AS h_wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_BS_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_bss_walk", oracle=_bs_oracle())
def ingest_parquet_bss_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """BYTE_STREAM_SPLIT-coded parquet floats decoded natively — the
    encoding parquet added for exactly the embedding-table case (IEEE
    floats compress poorly interleaved; splitting byte streams lets
    zstd see the exponent bytes contiguously). v2 data pages, a
    REQUIRED float32 column, an OPTIONAL float64 column with the
    uncompressed def-level weave, AND an FLBA(2) float16 column (the
    half-precision embedding layout), page CRC verification, all
    five codecs rotated (zstd/lz4 through this repo's own decoders),
    one numpy transpose per page for the inverse gather.
    Power-of-two-scaled values make every fact integer-exact for the
    DuckDB oracle. Typed verdicts:
    footer cut ('corrupt'), page-body flip under an intact stored CRC
    ('crc_error'), the spec's INT64 BSS extension ('unsupported').

    Scale notes (100 TB): same Arrow-batched mapInPandas + per-worker
    memo shape as the sibling walks; the decode itself is one
    reshape/transpose — vectorized, not per-value Python."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _BS_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 17 == 2).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_bs_batches", _bs_key, _bs_facts,
        "doc_id long, status string, n_rows long, n_pages long, f_sum long, "
        "f_wsum long, n_null_d long, d_sum long, d_wsum long, h_sum long, "
        "h_wsum long",
        value_errors=(("CRC", "crc_error"),),
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
