"""Parquet DICTIONARY encoding — the format's DEFAULT write path and
the one honest `NotImplementedError` boundary the v1/v2/table walks
still carried ("dictionary-encoded chunk"). Every production parquet
file pyarrow/Spark writes uses it unless told otherwise, so a native
reader without it cannot read real tables.

Implemented against the public spec, for BOTH physical types the
fixture carries (INT64 + BYTE_ARRAY):

- the chunk's DICTIONARY PAGE (page type 2, dictionary_page_offset =
  ColumnMetaData field 11): PLAIN-encoded values, page-CRC verified
  like every data page;
- RLE_DICTIONARY data pages (encoding 8): v1 length-prefixed RLE
  definition levels, then ONE bit-width byte and an unframed
  RLE/bit-packed hybrid run of dictionary INDICES to page end
  (`_parse_level_runs` shared with the level decoder — the spec uses
  the same hybrid for both), every index bounds-checked against the
  dictionary;
- DICTIONARY FALLBACK: when the accumulating dictionary crosses the
  writer's size limit the REMAINING pages of the chunk are PLAIN —
  the fixture's fallback group forces it (tiny dictionary_pagesize
  _limit + write_batch_size=256), so a chunk carries dict + RLE page
  + PLAIN pages and the walk must switch decoders mid-chunk. The
  partial dictionary then holds exactly the distinct values of each
  row group's FIRST 256 rows — closed-form, so the oracle replays
  the fallback dictionary content too.

Facts oracled closed-form per doc: row count, both value sums, the
SUM OF DICTIONARY ENTRIES for both columns (= sum of distinct values
per row-group window — decoding the dictionary page for real is the
only way to produce it), page counts by kind (1 dict + 1 RLE [+ 1
PLAIN under fallback] per row group per column), and the fallback
flag as observed by the walk. Typed verdicts: truncation
('corrupt'), a flipped dictionary-page body byte under an intact
stored CRC ('crc_error' — the dict page checksum is provably
verified), a brotli-coded file ('unsupported').

Scale notes (100 TB): dictionary encoding is why categorical columns
at crawl scale cost ~log2(ndv) bits/value instead of 8 bytes; the
walk is Arrow-batched mapInPandas with a worker-lifetime fact memo,
per-file parallel, facts-only return.

Reference: parquet-format Encodings.md (PLAIN dictionary page,
RLE_DICTIONARY, the fallback rule); fixture written by pyarrow at
runtime (writer and walker independent); no repo counterpart
(SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .parquetwalk import (
    _decompress,
    _PAGE_DATA,
    _PAGE_DICT,
    _parse_level_runs,
    _read_rle_levels,
    _TReader,
    first_page_body_span,
)
from .walkbatch import decode_walk

_PD_GROUPS = 10
_PD_ROWGROUP = 512
_PD_BATCH = 256
_ENC_PLAIN = 0
_ENC_RLE_DICT = 8
_ENC_PLAIN_DICT = 2  # legacy alias some writers emit


def _pd_n(g: int) -> int:
    return 2048 + _PD_ROWGROUP * (g % 3)  # 4-6 full row groups


def _pd_k(g: int) -> int:
    return 50 + 7 * g


def _pd_m(g: int) -> int:
    return 40 + 5 * g


def _pd_int(g: int, i: int) -> int:
    return ((3 * i * i + 5 * i + g) % _pd_k(g)) * 7 + g


def _pd_str_int(g: int, i: int) -> int:
    return (7 * i + 3 * g) % _pd_m(g)


def _pd_bytes(g: int, fallback: bool, codec: str | None = None) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = _pd_n(g)
    t = pa.table({
        "v": pa.array([_pd_int(g, i) for i in range(n)], type=pa.int64()),
        "s": pa.array([f"w{_pd_str_int(g, i)}" for i in range(n)]),
    })
    buf = pa.BufferOutputStream()
    kw = dict(
        use_dictionary=True,
        compression=codec or ("snappy", "none", "gzip")[g % 3],
        data_page_version="1.0",
        write_statistics=False,
        write_page_checksum=True,
        row_group_size=_PD_ROWGROUP,
        write_batch_size=_PD_BATCH,
    )
    if fallback:
        kw["dictionary_pagesize_limit"] = 64
    pq.write_table(t, buf, **kw)
    return buf.getvalue().to_pybytes()


def _plain_values(raw: bytes, off: int, count: int, ptype: int) -> tuple[list, int]:
    """PLAIN decode ``count`` values of physical type INT64 (2) or
    BYTE_ARRAY (6) from ``raw`` at ``off``."""
    out: list = []
    if ptype == 2:
        if len(raw) - off < 8 * count:
            raise ValueError("truncated PLAIN int64 values")
        out = list(struct.unpack_from(f"<{count}q", raw, off))
        off += 8 * count
    elif ptype == 6:
        for _ in range(count):
            if len(raw) - off < 4:
                raise ValueError("truncated byte-array length")
            ln = struct.unpack_from("<I", raw, off)[0]
            off += 4
            if ln > len(raw) - off:
                raise ValueError("truncated byte-array value")
            out.append(raw[off : off + ln])
            off += ln
    else:
        raise NotImplementedError(f"physical type {ptype} in dict walk")
    return out, off


def walk_parquet_dictionary(data: bytes) -> dict:
    """Walk a dictionary-encoded parquet file (flat INT64 +
    BYTE_ARRAY columns) → per-column values, dictionary-entry sums,
    page-kind counts, and the observed fallback flag."""
    try:
        return _walk_pd(data)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        raise ValueError(f"malformed parquet structure ({exc})") from exc


def _walk_pd(data: bytes) -> dict:
    if len(data) < 12 or data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise ValueError("missing parquet magic")
    flen = struct.unpack_from("<I", data, len(data) - 8)[0]
    fstart = len(data) - 8 - flen
    if fstart < 4:
        raise ValueError("parquet footer length out of range")
    meta = _TReader(data, fstart).read_struct()
    num_rows = meta.get(3)
    schema = meta.get(2) or []
    if len(schema) < 2:
        raise ValueError("no columns in schema")
    names = [s.get(4).decode() for s in schema[1:]]
    ptypes = [s.get(1) for s in schema[1:]]
    max_defs = [1 if s.get(3) == 1 else 0 for s in schema[1:]]
    cols: dict[str, list] = {n: [] for n in names}
    dict_entries: dict[str, list] = {n: [] for n in names}
    n_dict_pages = n_rle_pages = n_plain_pages = 0
    for rg in meta.get(4) or []:
        for ci, chunk in enumerate(rg.get(1) or []):
            cmeta = chunk.get(3)
            if cmeta is None:
                raise ValueError("column chunk without metadata")
            codec = cmeta.get(4)
            num_values = cmeta.get(5)
            dict_off = cmeta.get(11)
            pos = dict_off if dict_off is not None else cmeta.get(9)
            dictionary: list | None = None
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
                ptype_page = ph.get(1)
                raw = _decompress(codec, body, usize)
                if ptype_page == _PAGE_DICT:
                    dh = ph.get(7)
                    if dh is None:
                        raise ValueError("dictionary page without header")
                    dvals = dh.get(1)
                    if dvals is None or dvals < 0 or dvals > 1 << 24:
                        raise ValueError("implausible dictionary size")
                    if dh.get(2) not in (_ENC_PLAIN, _ENC_PLAIN_DICT):
                        raise NotImplementedError(
                            f"dictionary page encoding {dh.get(2)}")
                    dictionary, off = _plain_values(
                        raw, 0, dvals, ptypes[ci])
                    if off != len(raw):
                        raise ValueError("trailing bytes in dict page")
                    dict_entries[names[ci]].extend(dictionary)
                    n_dict_pages += 1
                    continue
                if ptype_page != _PAGE_DATA:
                    raise NotImplementedError(
                        f"parquet page type {ptype_page}")
                dph = ph.get(5)
                if dph is None:
                    raise ValueError("data page without its header")
                pvals = dph.get(1)
                if pvals is None or pvals < 0 or pvals > 1 << 24:
                    raise ValueError("implausible page value count")
                enc = dph.get(2)
                off = 0
                levels = [1] * pvals
                if max_defs[ci]:
                    levels, off = _read_rle_levels(raw, pvals, 1)
                present = sum(levels)
                if any(lv == 0 for lv in levels):
                    raise NotImplementedError("nulls in dict-walk fixture")
                if enc in (_ENC_RLE_DICT, _ENC_PLAIN_DICT):
                    if dictionary is None:
                        raise ValueError(
                            "dictionary-encoded page before dictionary")
                    if len(raw) - off < 1:
                        raise ValueError("missing index bit width")
                    bw = raw[off]
                    off += 1
                    if bw > 32:
                        raise ValueError("implausible index bit width")
                    idx = _parse_level_runs(raw[off:], present, bw)
                    vals = []
                    for k in idx:
                        if k >= len(dictionary):
                            raise ValueError(
                                "dictionary index out of range")
                        vals.append(dictionary[k])
                    n_rle_pages += 1
                elif enc == _ENC_PLAIN:
                    vals, endoff = _plain_values(
                        raw, off, present, ptypes[ci])
                    if endoff != len(raw):
                        raise ValueError("trailing bytes in PLAIN page")
                    n_plain_pages += 1
                else:
                    raise NotImplementedError(f"parquet encoding {enc}")
                cols[names[ci]].extend(vals)
                seen += pvals
    for n in names:
        if num_rows is not None and len(cols[n]) != num_rows:
            raise ValueError("decoded values disagree with num_rows")
    return {
        "num_rows": num_rows,
        "columns": cols,
        "dict_entries": dict_entries,
        "n_dict_pages": n_dict_pages,
        "n_rle_pages": n_rle_pages,
        "n_plain_pages": n_plain_pages,
        "used_fallback": 1 if n_plain_pages else 0,
    }


# ------------------------------------------------ spark + oracle

def _pdq_payload(doc_id: int) -> bytes:
    g = doc_id % _PD_GROUPS
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    fallback = doc_id % 19 == 7 and not (corrupt or crc_err or unsup)
    blob = bytearray(_pd_bytes(
        g, fallback,
        codec="brotli" if unsup else ("none" if crc_err else None),
    ))
    if corrupt:
        del blob[-6:]
    elif crc_err:
        # flip mid-body of the FIRST page (the dictionary page —
        # lowest chunk offset), located by the same thrift walk the
        # reader performs, so the byte is inside the PLAIN dictionary
        # values under the intact stored CRC whatever layout pyarrow
        # emits
        s, e = first_page_body_span(bytes(blob))
        blob[s + (e - s) // 2] ^= 0x01
    return bytes(blob)


def _pdq_key(doc_id: int) -> tuple:
    return (doc_id % _PD_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5, doc_id % 19 == 7)


def _pdq_facts(doc_id: int) -> tuple:
    f = walk_parquet_dictionary(_pdq_payload(doc_id))
    return (
        "decoded", f["num_rows"],
        sum(f["columns"]["v"]),
        sum(int(s[1:]) for s in (b.decode() for b in f["columns"]["s"])),
        sum(f["dict_entries"]["v"]),
        sum(int(b.decode()[1:]) for b in f["dict_entries"]["s"]),
        f["n_dict_pages"], f["n_rle_pages"],
        f["n_plain_pages"], f["used_fallback"],
    )


def _pdq_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5")
    fb = ("d.doc_id % 19 = 7 AND NOT (d.doc_id % 11 = 3 "
          "OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5)")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_PD_GROUPS} AS g FROM documents
    ),
    vals AS (
      SELECT r.g, i,
             i // {_PD_ROWGROUP} AS rg,
             (i % {_PD_ROWGROUP}) < {_PD_BATCH} AS first_batch,
             ((3*i*i + 5*i + r.g) % (50 + 7*r.g)) * 7 + r.g AS v,
             (7*i + 3*r.g) % (40 + 5*r.g) AS w
      FROM (SELECT g, 2048 + {_PD_ROWGROUP} * (g % 3) AS n FROM grp) r,
           LATERAL (SELECT unnest(range(0, r.n)) AS i)
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(COUNT(*) / {_PD_ROWGROUP} AS INT) AS n_rgs,
             CAST(SUM(v) AS BIGINT) AS value_sum,
             CAST(SUM(w) AS BIGINT) AS str_int_sum
      FROM vals GROUP BY g
    ),
    -- full-chunk dictionaries: distinct per row group, per column
    dict_full2 AS (
      SELECT a.g, a.dv, b.dw FROM
        (SELECT g, CAST(SUM(v) AS BIGINT) AS dv
         FROM (SELECT DISTINCT g, rg, v FROM vals) GROUP BY g) a
        JOIN
        (SELECT g, CAST(SUM(w) AS BIGINT) AS dw
         FROM (SELECT DISTINCT g, rg, w FROM vals) GROUP BY g) b
        ON a.g = b.g
    ),
    -- fallback dictionaries: distinct over each row group's FIRST
    -- write batch only (the partial dictionary at the size cutoff)
    dict_fb AS (
      SELECT a.g, a.dv, b.dw FROM
        (SELECT g, CAST(SUM(v) AS BIGINT) AS dv
         FROM (SELECT DISTINCT g, rg, v FROM vals WHERE first_batch)
         GROUP BY g) a
        JOIN
        (SELECT g, CAST(SUM(w) AS BIGINT) AS dw
         FROM (SELECT DISTINCT g, rg, w FROM vals WHERE first_batch)
         GROUP BY g) b
        ON a.g = b.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_values END AS n_values,
           CASE WHEN {bad} THEN 0 ELSE s.value_sum END AS value_sum,
           CASE WHEN {bad} THEN 0 ELSE s.str_int_sum END AS str_int_sum,
           CASE WHEN {bad} THEN 0
                WHEN {fb} THEN fb.dv ELSE df.dv END AS dict_int_sum,
           CASE WHEN {bad} THEN 0
                WHEN {fb} THEN fb.dw ELSE df.dw END AS dict_str_sum,
           CASE WHEN {bad} THEN 0 ELSE 2 * s.n_rgs END AS n_dict_pages,
           CASE WHEN {bad} THEN 0 ELSE 2 * s.n_rgs END AS n_rle_pages,
           CASE WHEN {bad} THEN 0
                WHEN {fb} THEN 2 * s.n_rgs ELSE 0 END AS n_plain_pages,
           CASE WHEN {bad} THEN 0
                WHEN {fb} THEN 1 ELSE 0 END AS used_fallback
    FROM documents d
    JOIN sums s ON d.doc_id % {_PD_GROUPS} = s.g
    JOIN dict_full2 df ON df.g = s.g
    JOIN dict_fb fb ON fb.g = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_dictionary_walk", oracle=_pdq_oracle())
def ingest_parquet_dictionary_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Parquet's DEFAULT write path read natively: PLAIN dictionary
    pages (CRC-verified), RLE_DICTIONARY index pages (bit-width byte
    + the spec's unframed RLE/bit-packed hybrid, indices
    bounds-checked), and the DICTIONARY FALLBACK mid-chunk switch to
    PLAIN pages when the writer's size limit trips — for INT64 and
    BYTE_ARRAY columns across snappy/none/gzip through our own
    decompressors. The oracle replays value sums, BOTH columns'
    dictionary-entry sums (full-chunk and the fallback group's
    partial first-batch dictionaries), page-kind counts and the
    fallback flag, all closed-form. Typed verdicts: truncation,
    a flipped dict-page byte under an intact stored CRC, brotli.

    Scale notes (100 TB): see module docstring — this is the encoding
    every real table uses; per-file map-side decode, memoized."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_pdq_batches", _pdq_key, _pdq_facts,
        "doc_id long, status string, n_values long, value_sum long, "
        "str_int_sum long, dict_int_sum long, dict_str_sum long, "
        "n_dict_pages int, n_rle_pages int, n_plain_pages int, "
        "used_fallback int",
        value_errors=(("CRC", "crc_error"),),
        worker_memo=True,
    ).transform(_presentation_sort, "doc_id")
