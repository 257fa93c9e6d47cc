"""Native parquet Page Index walk — the ColumnIndex / OffsetIndex
structures (parquet.thrift, written after the last row group and
addressed from each ColumnChunk) decoded with no parquet library and
CROSS-VALIDATED against the page data they describe: every
OffsetIndex PageLocation (offset / compressed_page_size /
first_row_index) is checked against the actual walked page-header
positions, and every ColumnIndex min/max (PLAIN little-endian INT64
statistics bytes) is checked against the true min/max of the decoded
page values — the carried-twice discipline: the same fact stored two
ways must agree, and a file where they disagree is a typed verdict
('mismatch'), not a crash or a silent trust of either copy.

Why this matters at 100 TB: the page index IS how a modern reader
skips pages without touching them (predicate pushdown below the row
group); a scan layer that cannot read — and audit — ColumnIndex
min/max bytes cannot explain why a pruned query read what it read.
The walk also covers the thrift-compact BOOL-IN-LIST element
encoding (null_pages) that plain FileMetaData never exercises.

Correctness evidence: pyarrow (independent implementation) is the
runtime writer with write_page_index=True and forced 256-row pages;
the DuckDB oracle replays page-grain min/max sums from the
closed-form column. Typed verdicts: missing index structures on an
otherwise healthy file ('no_index' — what most pre-2.5 archives
really contain), a value byte flipped UNDER a stale index
('mismatch' — the index says one thing, the data another), footer
truncation ('corrupt').

Reference: parquet-format PageIndex.md + parquet.thrift (public); no
repo counterpart (SURVEY.md §2l).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .parquetwalk import _decompress, _read_rle_levels, _TReader
from .walkbatch import decode_walk

_PAGE_DATA = 0
_ENC_PLAIN = 0


def walk_parquet_page_index(data: bytes) -> dict:
    """Walk footer → page index → pages, cross-validating both index
    structures against the walked pages. Returns facts + agreement
    counters; 'found_index' False when the chunks carry no index
    offsets. ValueError for structural damage."""
    try:
        return _walk_index(data)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        raise ValueError(f"malformed parquet structure ({exc})") from exc


def _walk_index(data: bytes) -> dict:
    if len(data) < 12 or data[:4] != b"PAR1" or data[-4:] != b"PAR1":
        raise ValueError("missing parquet magic")
    flen = struct.unpack_from("<I", data, len(data) - 8)[0]
    fstart = len(data) - 8 - flen
    if fstart < 4:
        raise ValueError("parquet footer length out of range")
    meta = _TReader(data, fstart).read_struct()  # FileMetaData
    schema = meta.get(2) or []
    row_groups = meta.get(4) or []
    if len(schema) != 2:
        raise ValueError("page-index walk expects one column")
    max_def = 1 if schema[1].get(3) == 1 else 0
    n_chunks = 0
    n_pages = 0
    first_row_sum = 0
    sum_page_min = 0
    sum_page_max = 0
    value_sum = 0
    offsets_agree = 0
    minmax_agree = 0
    found_index = True
    for rg in row_groups:
        for chunk in rg.get(1) or []:
            cmeta = chunk.get(3)
            if cmeta is None:
                raise ValueError("column chunk without metadata")
            if chunk.get(4) is None or chunk.get(6) is None:
                found_index = False
                continue
            n_chunks += 1
            oi = _TReader(data, chunk[4]).read_struct()  # OffsetIndex
            ci = _TReader(data, chunk[6]).read_struct()  # ColumnIndex
            locs = oi.get(1) or []
            null_pages = ci.get(1) or []
            mins = ci.get(2) or []
            maxs = ci.get(3) or []
            null_counts = ci.get(5) or []
            if not (len(locs) == len(null_pages) == len(mins) == len(maxs)):
                raise ValueError("page index lists disagree in length")
            codec = cmeta.get(4)
            num_values = cmeta.get(5)
            pos = cmeta.get(9)
            seen = 0
            page_no = 0
            while seen < num_values:
                if page_no >= len(locs):
                    raise ValueError("more pages than index entries")
                page_start = pos
                rd = _TReader(data, pos)
                ph = rd.read_struct()  # PageHeader
                pos = rd.pos
                if ph.get(1) != _PAGE_DATA:
                    raise ValueError("unexpected page type under index")
                usize = ph.get(2)
                csize = ph.get(3)
                body = data[pos : pos + csize]
                if len(body) != csize:
                    raise ValueError("truncated page body")
                pos += csize
                dph = ph.get(5)
                if dph is None or dph.get(2) != _ENC_PLAIN:
                    raise ValueError("page-index walk expects PLAIN pages")
                pvals = dph.get(1)
                if pvals is None or pvals < 0 or pvals > 1 << 24:
                    # raw varint; a crafted count would size the RLE
                    # level decode below unbounded — cap it before it
                    # drives any allocation (same bound as parquetv2)
                    raise ValueError("implausible page value count")
                raw = _decompress(codec, body, usize)
                off = 0
                if max_def:
                    levels, off = _read_rle_levels(raw, pvals, 1)
                    if any(lv == 0 for lv in levels):
                        raise ValueError("unexpected null under index")
                if len(raw) - off != 8 * pvals:
                    raise ValueError("page body size disagrees with count")
                vals = struct.unpack_from(f"<{pvals}q", raw, off)
                value_sum += sum(vals)
                # --- cross-check 1: OffsetIndex vs walked geometry
                loc = locs[page_no]
                if (loc.get(1) == page_start
                        and loc.get(2) == pos - page_start
                        and loc.get(3) == seen):
                    offsets_agree += 1
                first_row_sum += loc.get(3, 0)
                # --- cross-check 2: ColumnIndex min/max vs decoded data
                if (not null_pages[page_no]
                        and len(mins[page_no]) == 8
                        and len(maxs[page_no]) == 8):
                    imin = struct.unpack("<q", mins[page_no])[0]
                    imax = struct.unpack("<q", maxs[page_no])[0]
                    nulls_ok = (not null_counts
                                or null_counts[page_no] == 0)
                    if imin == min(vals) and imax == max(vals) and nulls_ok:
                        minmax_agree += 1
                    sum_page_min += imin
                    sum_page_max += imax
                seen += pvals
                page_no += 1
                n_pages += 1
            if page_no != len(locs):
                raise ValueError("index entries disagree with page count")
    return {
        "found_index": found_index,
        "n_chunks": n_chunks,
        "n_pages": n_pages,
        "first_row_sum": first_row_sum,
        "sum_page_min": sum_page_min,
        "sum_page_max": sum_page_max,
        "value_sum": value_sum,
        "offsets_agree": offsets_agree,
        "minmax_agree": minmax_agree,
    }


# ------------------------------------------------- driver-oracled query

_PI_GROUPS = 8
_PI_ROWGROUP = 512
_PI_PAGE = 256


def _pi_rows(g: int) -> int:
    return 1500 + 113 * g


def _pi_values(g: int) -> list[int]:
    n = _pi_rows(g)
    return [(i * i * 53 + i * 19 + 761 * g) % 1_000_000 for i in range(n)]


def _pi_bytes(g: int, codec: str | None = None,
              with_index: bool = True) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    t = pa.table({"v": pa.array(_pi_values(g), type=pa.int64())})
    buf = pa.BufferOutputStream()
    pq.write_table(
        t, buf, use_dictionary=False,
        compression=codec or ("none", "snappy", "gzip")[g % 3],
        data_page_version="1.0", write_statistics=True,
        write_page_checksum=False, row_group_size=_PI_ROWGROUP,
        write_page_index=with_index,
        data_page_size=1, write_batch_size=_PI_PAGE,
    )
    return buf.getvalue().to_pybytes()


def _pi_payload(doc_id: int) -> bytes:
    g = doc_id % _PI_GROUPS
    if doc_id % 11 == 6:
        blob = _pi_bytes(g)
        return blob[: len(blob) - 6]  # footer cut → corrupt
    if doc_id % 17 == 3:
        return _pi_bytes(g, with_index=False)  # healthy but unindexed
    if doc_id % 13 == 9:
        # stale index: flip bit 48 of the LAST value of the FIRST page
        # (uncompressed fixture so the flip lands in that value and
        # nowhere else); the index still carries the old max
        blob = bytearray(_pi_bytes(g, codec="none"))
        import io

        import pyarrow.parquet as pq

        cc = pq.ParquetFile(io.BytesIO(bytes(blob))).metadata \
            .row_group(0).column(0)
        first_page_end = None
        # first page ends where the second begins: walk one header
        rd = _TReader(bytes(blob), cc.data_page_offset)
        ph = rd.read_struct()
        first_page_end = rd.pos + ph[3]
        blob[first_page_end - 2] ^= 0x01  # byte 6 of the last int64
        return bytes(blob)
    return _pi_bytes(g)


def _pi_key(doc_id: int) -> tuple:
    return (doc_id % _PI_GROUPS, doc_id % 11 == 6, doc_id % 17 == 3,
            doc_id % 13 == 9)


def _pi_facts(doc_id: int) -> tuple:
    f = walk_parquet_page_index(_pi_payload(doc_id))
    if not f["found_index"]:
        return ("no_index", 0, 0, 0, 0, 0, 0)
    elif (f["offsets_agree"] != f["n_pages"]
          or f["minmax_agree"] != f["n_pages"]):
        return ("mismatch", 0, 0, 0, 0, 0, 0)
    else:
        return (
            "indexed", f["n_chunks"], f["n_pages"],
            f["first_row_sum"], f["sum_page_min"],
            f["sum_page_max"], f["value_sum"],
        )


def _pi_oracle() -> str:
    bad = "d.doc_id % 11 = 6 OR d.doc_id % 17 = 3 OR d.doc_id % 13 = 9"
    # pages are exactly 256 rows (global row i → page i//256 because
    # the 512-row groups align); first_row_index restarts per row
    # group, so each chunk contributes 0 + 256
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_PI_GROUPS} AS g FROM documents
    ),
    rows_ AS (
      SELECT g, 1500 + 113 * g AS n FROM grp
    ),
    vals AS (
      SELECT r.g, i, i // {_PI_PAGE} AS pg,
             (i * i * 53 + i * 19 + 761 * r.g) % 1000000 AS v
      FROM rows_ r, LATERAL (SELECT unnest(range(0, r.n)) AS i)
    ),
    pages AS (
      SELECT g, pg, MIN(v) AS pmin, MAX(v) AS pmax,
             SUM(v) AS psum,
             CASE WHEN MIN(i) % {_PI_ROWGROUP} = 0 THEN 0
                  ELSE {_PI_PAGE} END AS frow
      FROM vals GROUP BY g, pg
    ),
    sums AS (
      SELECT p.g,
             CAST((SELECT CAST(ceil(CAST(n AS DOUBLE) / {_PI_ROWGROUP})
                   AS INT) FROM rows_ WHERE rows_.g = p.g) AS INT)
               AS n_chunks,
             CAST(COUNT(*) AS INT) AS n_pages,
             CAST(SUM(frow) AS BIGINT) AS first_row_sum,
             CAST(SUM(pmin) AS BIGINT) AS sum_page_min,
             CAST(SUM(pmax) AS BIGINT) AS sum_page_max,
             CAST(SUM(psum) AS BIGINT) AS value_sum
      FROM pages p GROUP BY p.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 6 THEN 'corrupt'
                WHEN d.doc_id % 17 = 3 THEN 'no_index'
                WHEN d.doc_id % 13 = 9 THEN 'mismatch'
                ELSE 'indexed' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_chunks END AS n_chunks,
           CASE WHEN {bad} THEN 0 ELSE s.n_pages END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.first_row_sum END AS first_row_sum,
           CASE WHEN {bad} THEN 0 ELSE s.sum_page_min END AS sum_page_min,
           CASE WHEN {bad} THEN 0 ELSE s.sum_page_max END AS sum_page_max,
           CASE WHEN {bad} THEN 0 ELSE s.value_sum END AS value_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_PI_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_page_index_walk", oracle=_pi_oracle())
def ingest_parquet_page_index_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet Page Index audit with no parquet library: OffsetIndex
    and ColumnIndex decoded from each ColumnChunk's index offsets
    (covering the thrift-compact bool-in-list element encoding that
    FileMetaData never exercises) and cross-validated BOTH ways
    against the pages they describe — PageLocation offset/size/
    first_row_index vs the walked page headers, ColumnIndex min/max
    statistics bytes vs the true min/max of the decoded PLAIN INT64
    page values. pyarrow is the independent runtime writer (256-row
    pages, page index on); the DuckDB oracle replays the page-grain
    min/max/sum lattice from the closed-form column. Typed verdicts:
    an unindexed healthy file ('no_index'), a value-byte flip under a
    stale index ('mismatch' — the carried-twice check firing), a
    footer cut ('corrupt').

    Scale notes (100 TB): the page index is the format's own
    sub-row-group pruning path — reading it costs KBs per chunk
    regardless of data volume; the audit is Arrow-batched
    mapInPandas, per-document CPU, integer facts only."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_pi_batches", _pi_key, _pi_facts,
        "doc_id long, status string, n_chunks int, n_pages int, "
        "first_row_sum long, sum_page_min long, sum_page_max long, "
        "value_sum long",
    ).transform(_presentation_sort, "doc_id")
