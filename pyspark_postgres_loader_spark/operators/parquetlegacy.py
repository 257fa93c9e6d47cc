"""Parquet legacy physical layouts — INT96 timestamps, FLBA
decimals, BOOLEAN pages.

A decade of Hive/Impala/Spark writers (spark.sql.parquet
.writeLegacyFormat, use_deprecated_int96_timestamps) filled data
lakes with three layouts the modern walks here did not yet decode:

- **INT96 timestamps**: 12-byte records — int64 little-endian
  nanoseconds-of-day followed by int32 little-endian Julian day
  number (epoch day 1970-01-01 = JDN 2440588). Deprecated since
  parquet-format 2.6 yet still the on-disk truth of most pre-2020
  Spark lakes.
- **FIXED_LEN_BYTE_ARRAY decimals**: big-endian two's-complement
  unscaled integers of the schema's type_length (4 bytes for
  precision ≤ 9, 8 for ≤ 18), scale/precision carried in the
  schema element (fields 7/8, converted_type DECIMAL = 5).
- **BOOLEAN PLAIN**: bit-packed LSB-first, one bit per non-null
  value, byte-aligned per page.

All three ride ordinary v1 data pages: RLE/bit-packed definition
levels behind a 4-byte length prefix, page CRC in the header, any
of the five codecs (zstd/lz4 through this repo's own native
decoders via the shared ``parquetwalk._decompress`` switch).

Correctness evidence: pyarrow writes the fixture
(use_deprecated_int96_timestamps=True, decimal128(9,2) +
decimal128(18,6), a boolean column, OPTIONAL columns with a null
weave on the decimal, page checksums on, codecs rotated by group);
every fact is integer math on unscaled decimals / microsecond
offsets, so the DuckDB oracle replays it bit-exactly from the
generating formulas. Typed verdicts: footer cut ('corrupt'),
page-body flip under an intact stored CRC ('crc_error'),
dictionary-encoded chunks ('unsupported' — the legacy walk decodes
PLAIN pages; the dictionary path lives in parquetdict.py).

Why this matters at 100 TB: a backfill over an old lake hits INT96
and FLBA decimals before it hits anything modern; a walk that can
only read 2.6-era files quarantines the majority of real bytes.

Reference: parquet-format Encodings.md + LogicalTypes.md (public);
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
    _read_rle_levels,
    _TReader,
    first_page_body_span,
)
from .walkbatch import decode_walk

_PAGE_DATA_V1 = 0
_ENC_PLAIN = 0
_PT_BOOLEAN = 0
_PT_INT96 = 3
_PT_FLBA = 7
_CONV_DECIMAL = 5
_EPOCH_JDN = 2440588
_US_PER_DAY = 86_400_000_000


def _int96_epoch_us(raw: bytes, k: int) -> list[int]:
    """PLAIN INT96 page values → epoch microseconds. One structured
    numpy view over the 12-byte records, then exact int math (the
    ns→µs division is floor on non-negative nanoseconds-of-day)."""
    import numpy as np

    if len(raw) != 12 * k:
        raise ValueError("INT96 page size disagrees with value count")
    rec = np.frombuffer(raw, dtype=np.dtype([("ns", "<u8"), ("jd", "<u4")]))
    return [
        (int(jd) - _EPOCH_JDN) * _US_PER_DAY + int(ns) // 1000
        for ns, jd in zip(rec["ns"].tolist(), rec["jd"].tolist())
    ]


def _flba_unscaled(raw: bytes, k: int, width: int) -> list[int]:
    """FLBA decimal page values → unscaled two's-complement ints
    (big-endian, schema type_length bytes each)."""
    if len(raw) != width * k:
        raise ValueError("FLBA page size disagrees with value count")
    return [
        int.from_bytes(raw[o : o + width], "big", signed=True)
        for o in range(0, len(raw), width)
    ]


def _plain_bools(raw: bytes, k: int) -> list[int]:
    """PLAIN BOOLEAN page values — bit-packed LSB-first."""
    if len(raw) != (k + 7) // 8:
        raise ValueError("boolean page size disagrees with value count")
    return [(raw[j >> 3] >> (j & 7)) & 1 for j in range(k)]


def walk_parquet_legacy(data: bytes) -> dict:
    """Walk a flat parquet file of INT96 / FLBA-decimal / BOOLEAN
    columns (v1 data pages, PLAIN values, RLE def levels, page CRC
    verified, all five codecs). Raises NotImplementedError for
    dictionary-encoded chunks and non-PLAIN encodings
    ('unsupported'), ValueError with 'CRC' for page-checksum
    mismatches, plain ValueError for structural damage."""
    try:
        return _walk_legacy(data)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        raise ValueError(f"malformed parquet structure ({exc})") from exc


def _walk_legacy(data: bytes) -> dict:
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
        raise NotImplementedError("nested parquet schema in legacy walk")
    names = [s.get(4).decode() for s in schema[1:]]
    ptypes = [s.get(1) for s in schema[1:]]
    type_lens = [s.get(2) for s in schema[1:]]
    scales = [
        (s.get(7) if s.get(6) == _CONV_DECIMAL else None)
        for s in schema[1:]
    ]
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
            if ptype != ptypes[ci]:
                raise ValueError("chunk type disagrees with schema")
            if cmeta.get(11) is not None:
                raise NotImplementedError(
                    "dictionary-encoded chunk in legacy walk")
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
                        raise ValueError("parquet page CRC mismatch (CRC)")
                if ph.get(1) != _PAGE_DATA_V1:
                    raise NotImplementedError(
                        f"parquet page type {ph.get(1)} in legacy walk")
                dph = ph.get(5)
                if dph is None:
                    raise ValueError("data page without its header")
                pvals = dph.get(1)
                if pvals is None or pvals < 0 or pvals > 1 << 24:
                    raise ValueError("implausible page value count")
                if dph.get(2) != _ENC_PLAIN:
                    raise NotImplementedError(
                        f"legacy walk: encoding {dph.get(2)}")
                raw = _decompress(codec, body, usize)
                levels, off = _read_rle_levels(raw, pvals, 1)
                k = sum(levels)
                vraw = raw[off:]
                if ptype == _PT_INT96:
                    vals = _int96_epoch_us(vraw, k)
                elif ptype == _PT_FLBA:
                    if scales[ci] is None:
                        raise NotImplementedError(
                            "FLBA without DECIMAL annotation in legacy walk")
                    vals = _flba_unscaled(vraw, k, type_lens[ci])
                elif ptype == _PT_BOOLEAN:
                    vals = _plain_bools(vraw, k)
                else:
                    raise NotImplementedError(
                        f"legacy walk: physical type {ptype}")
                it = iter(vals)
                out.extend(next(it) if lv else None for lv in levels)
                seen += pvals
                n_pages += 1
    for n in names:
        if num_rows is not None and len(cols[n]) != num_rows:
            raise ValueError(
                f"column {n} decoded {len(cols[n])} values, "
                f"footer says {num_rows}")
    return {
        "num_rows": num_rows,
        "n_row_groups": len(row_groups),
        "n_pages": n_pages,
        "columns": cols,
        "scales": dict(zip(names, scales)),
    }


# ------------------------------------------------- driver-oracled query

_LG_GROUPS = 10
_LG_ROWGROUP = 384
_LG_BASE_US = 1_078_099_200_000_000  # 2004-03-01T00:00:00Z, midnight


def _lg_rows(g: int) -> int:
    return 900 + 70 * g


def _lg_kus(i: int, g: int) -> int:
    # wraps a 40-day window ~16× so the Julian-day field genuinely
    # varies (and day boundaries are crossed mid-sequence)
    return ((37_123 * i + 13 * g) % 3_456_000) * 1_000_000 \
        + ((17 * i + g) % 1_000_000)


def _lg_dec(i: int, g: int) -> int | None:
    return None if (i + g) % 9 == 4 \
        else ((29 * i + 7 * g) % 2_000_000) - 1_000_000


def _lg_d18(i: int, g: int) -> int:
    return ((1_000_003 * i + 999_983 * g) % (2 * 10 ** 12)) - 10 ** 12


def _lg_bool(i: int, g: int) -> bool:
    return ((i * i + g) % 5) < 2


def _lg_bytes(g: int, unsupported: bool = False) -> bytes:
    import datetime
    import decimal

    import pyarrow as pa
    import pyarrow.parquet as pq

    base = datetime.datetime(2004, 3, 1)
    n = _lg_rows(g)
    codec = ("none", "snappy", "gzip", "zstd", "lz4")[g % 5]
    t = pa.table({
        "ts": pa.array(
            [base + datetime.timedelta(microseconds=_lg_kus(i, g))
             for i in range(n)], pa.timestamp("us")),
        "dec": pa.array(
            [None if (v := _lg_dec(i, g)) is None
             else decimal.Decimal(v).scaleb(-2)
             for i in range(n)], pa.decimal128(9, 2)),
        "d18": pa.array(
            [decimal.Decimal(_lg_d18(i, g)).scaleb(-6)
             for i in range(n)], pa.decimal128(18, 6)),
        "b": pa.array([_lg_bool(i, g) for i in range(n)]),
    })
    buf = pa.BufferOutputStream()
    pq.write_table(
        t, buf, use_dictionary=bool(unsupported), compression=codec,
        use_deprecated_int96_timestamps=True, write_statistics=False,
        write_page_checksum=True, row_group_size=_LG_ROWGROUP,
    )
    return buf.getvalue().to_pybytes()


def _lg_payload(doc_id: int) -> bytes:
    g = doc_id % _LG_GROUPS
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    blob = bytearray(_lg_bytes(g, unsupported=unsup))
    if crc_err:
        s, e = first_page_body_span(bytes(blob))
        blob[s + (e - s) // 2] ^= 0x01
    if corrupt:
        del blob[-6:]
    return bytes(blob)


def _lg_key(doc_id: int) -> tuple:
    return (doc_id % _LG_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _lg_facts(doc_id: int) -> tuple:
    f = walk_parquet_legacy(_lg_payload(doc_id))
    ts = f["columns"]["ts"]
    dec = f["columns"]["dec"]
    d18 = f["columns"]["d18"]
    bs = f["columns"]["b"]
    ts_dsum = ts_wsum = 0
    days = set()
    for i, us in enumerate(ts):
        d = us - _LG_BASE_US
        ts_dsum += d
        ts_wsum += (i + 1) * d
        days.add(us // _US_PER_DAY)
    dec_sum = dec_wsum = n_null_dec = 0
    for i, u in enumerate(dec):
        if u is None:
            n_null_dec += 1
            continue
        dec_sum += u
        dec_wsum += (i + 1) * u
    d18_wsum = sum((i + 1) * u for i, u in enumerate(d18))
    n_true = sum(bs)
    b_wsum = sum((i + 1) * v for i, v in enumerate(bs))
    return (
        "decoded", f["num_rows"], f["n_pages"], len(days),
        ts_dsum, ts_wsum, dec_sum, dec_wsum, n_null_dec,
        d18_wsum, n_true, b_wsum,
    )


def _lg_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_LG_GROUPS} AS g FROM documents
    ),
    rr AS (
      SELECT g, i,
             ((37123 * i + 13 * g) % 3456000) * 1000000
               + ((17 * i + g) % 1000000) AS kus,
             ((i + g) % 9 = 4) AS dec_null,
             (((29 * i + 7 * g) % 2000000) - 1000000) AS u,
             (((1000003 * i + 999983 * g) % 2000000000000)
               - 1000000000000) AS u18,
             (((i * i + g) % 5) < 2) AS bt
      FROM (SELECT g, unnest(range(0, 900 + 70 * g)) AS i FROM grp)
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(4 * CAST(ceil(CAST(COUNT(*) AS DOUBLE)
                  / {_LG_ROWGROUP}) AS INT) AS BIGINT) AS n_pages,
             CAST(COUNT(DISTINCT kus // 86400000000) AS BIGINT)
               AS n_days,
             CAST(SUM(kus) AS BIGINT) AS ts_dsum,
             CAST(SUM((i + 1) * kus) AS BIGINT) AS ts_wsum,
             CAST(SUM(CASE WHEN dec_null THEN 0 ELSE u END) AS BIGINT)
               AS dec_sum,
             CAST(SUM(CASE WHEN dec_null THEN 0
                      ELSE (i + 1) * u END) AS BIGINT) AS dec_wsum,
             CAST(SUM(CASE WHEN dec_null THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_dec,
             CAST(SUM((i + 1) * u18) AS BIGINT) AS d18_wsum,
             CAST(SUM(CASE WHEN bt THEN 1 ELSE 0 END) AS BIGINT)
               AS n_true,
             CAST(SUM(CASE WHEN bt THEN i + 1 ELSE 0 END) AS BIGINT)
               AS b_wsum
      FROM rr GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_rows END AS n_rows,
           CASE WHEN {bad} THEN 0 ELSE s.n_pages END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.n_days END AS n_days,
           CASE WHEN {bad} THEN 0 ELSE s.ts_dsum END AS ts_dsum,
           CASE WHEN {bad} THEN 0 ELSE s.ts_wsum END AS ts_wsum,
           CASE WHEN {bad} THEN 0 ELSE s.dec_sum END AS dec_sum,
           CASE WHEN {bad} THEN 0 ELSE s.dec_wsum END AS dec_wsum,
           CASE WHEN {bad} THEN 0 ELSE s.n_null_dec END AS n_null_dec,
           CASE WHEN {bad} THEN 0 ELSE s.d18_wsum END AS d18_wsum,
           CASE WHEN {bad} THEN 0 ELSE s.n_true END AS n_true,
           CASE WHEN {bad} THEN 0 ELSE s.b_wsum END AS b_wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_LG_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_legacy_walk", oracle=_lg_oracle())
def ingest_parquet_legacy_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The pre-2.6 parquet layouts a decade of Hive/Spark lakes
    actually contain, decoded natively: INT96 timestamps (Julian
    day + nanos-of-day → epoch µs, the day split proven by a
    distinct-day fact over a 40-day span), FIXED_LEN_BYTE_ARRAY
    decimals (big-endian two's complement at widths 4 and 8, facts
    on the exact unscaled integers), and PLAIN BOOLEAN bit-packed
    pages — v1 data pages with RLE def-levels (null weave on the
    decimal column), page CRC verification, all five codecs rotated
    (zstd/lz4 through this repo's own decoders). Typed verdicts:
    footer cut ('corrupt'), page-body flip under an intact stored
    CRC ('crc_error'), dictionary-encoded chunks ('unsupported').

    Scale notes (100 TB): same Arrow-batched mapInPandas +
    per-worker memo shape as the sibling walks; INT96 records are
    one structured-numpy view per page, decimals/bools are
    bounded-size page loops. A backfill over an old lake hits these
    layouts before anything modern — quarantining them is not an
    option at fleet scale."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _LG_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 17 == 2).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_lg_batches", _lg_key, _lg_facts,
        "doc_id long, status string, n_rows long, n_pages long, n_days long, "
        "ts_dsum long, ts_wsum long, dec_sum long, dec_wsum long, "
        "n_null_dec long, d18_wsum long, n_true long, b_wsum long",
        value_errors=(("CRC", "crc_error"),),
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
