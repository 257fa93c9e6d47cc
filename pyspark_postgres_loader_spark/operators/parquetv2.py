"""Native parquet DataPageV2 + DELTA-encoding walk — the modern
parquet write path (format version 2.x) read with no parquet library:
DataPageHeaderV2 (Thrift field 8 of PageHeader), externally-framed
RLE definition levels (v2 drops the 4-byte length prefix and stores
levels UNCOMPRESSED ahead of the possibly-compressed values), and the
three delta encodings of the public parquet-format spec —
DELTA_BINARY_PACKED (encoding 5: ULEB128 block geometry, zigzag
first value, per-block zigzag min-delta + per-miniblock bit widths +
LSB-first bit-packed deltas, trailing-miniblock omission), and
DELTA_BYTE_ARRAY (encoding 7: prefix lengths + suffix lengths as
DELTA_BINARY_PACKED runs, then concatenated suffix bytes — the
incremental-encoding strings path).

Why this matters at 100 TB: v2 delta pages are what modern writers
(arrow, parquet-mr with v2 enabled, DuckDB) actually emit for sorted
keys and URL/doc-id strings; a reader that only speaks PLAIN v1
pages (operators/parquetwalk.py) cannot triage the archives a
crawl-scale warehouse really contains. The walk keeps parquet's own
pruning shape: footer first, then page-local decode, integer facts
only re-entering the JVM.

Correctness evidence: pyarrow — an independent implementation — is
the runtime WRITER (data_page_version='2.0', dictionary off, delta
column encodings, page checksums on, none/snappy/gzip/zstd/lz4 codecs by
group routed through the repo's OWN decompressors); the walk
re-derives both columns and the DuckDB oracle replays the value
lattice without seeing a parquet byte. Typed verdicts: footer cut
('corrupt'), a byte flipped inside the first page body under its
stored CRC ('crc_error'), a BYTE_STREAM_SPLIT double column
('unsupported' — the one v2 encoding we honestly do not implement).

Reference: parquet-format Encodings.md + parquet.thrift (public);
no repo counterpart (SURVEY.md §2l).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .byteprim import uleb128, zigzag_long
from .parquetwalk import _decompress, _parse_level_runs, _TReader
from .walkbatch import decode_walk

# parquet physical types / encodings (parquet.thrift, public)
_PT_INT64 = 2
_PT_BYTE_ARRAY = 6
_ENC_DELTA_BINARY_PACKED = 5
_ENC_DELTA_LENGTH_BYTE_ARRAY = 6
_ENC_DELTA_BYTE_ARRAY = 7
_PAGE_DATA_V2 = 3


def delta_binary_packed(
    raw: bytes, pos: int = 0, max_total: int | None = None
) -> tuple[list[int], int]:
    """DELTA_BINARY_PACKED run → (values, next position). Geometry:
    <block size> <miniblocks/block> <total count> <first value>; each
    block is <min delta> <bit-width byte per miniblock> <bit-packed
    deltas>. Miniblocks wholly past the total count are omitted by
    writers; padding inside a started miniblock is present and
    skipped. Bit packing is LSB-first little-endian (the same
    convention as the RLE-hybrid bit-packed runs).

    ``max_total`` bounds the declared value count BEFORE anything is
    materialized: width-0 miniblocks make values byte-free, so a
    crafted huge <total count> would otherwise be an unbounded
    allocation loop rather than a typed error (the bzip2 zero-run
    lesson). Callers always know the expected count — the page header
    or the outer byte-array run supplies it."""
    block, pos = uleb128(raw, pos)
    nmini, pos = uleb128(raw, pos)
    total, pos = uleb128(raw, pos)
    if nmini == 0 or block % nmini or (block // nmini) % 8:
        raise ValueError("bad delta-binary-packed geometry")
    if max_total is not None and total > max_total:
        raise ValueError("delta run declares more values than expected")
    vpm = block // nmini
    if total == 0:
        return [], pos
    first, pos = zigzag_long(raw, pos)
    out = [first]
    prev = first
    while len(out) < total:
        min_delta, pos = zigzag_long(raw, pos)
        widths = raw[pos : pos + nmini]
        if len(widths) != nmini:
            raise ValueError("truncated miniblock width bytes")
        pos += nmini
        for m in range(nmini):
            if len(out) >= total:
                break  # trailing miniblocks omitted per spec
            bw = widths[m]
            if bw > 64:
                raise ValueError("miniblock bit width over 64")
            nbytes = bw * vpm // 8
            chunk = raw[pos : pos + nbytes]
            if len(chunk) != nbytes:
                raise ValueError("truncated miniblock data")
            pos += nbytes
            bits = int.from_bytes(chunk, "little")
            mask = (1 << bw) - 1
            for k in range(vpm):
                if len(out) >= total:
                    break  # in-miniblock padding (bytes consumed above)
                d = (bits >> (k * bw)) & mask if bw else 0
                # deltas are computed in WRAPPING int64 arithmetic
                # (INT64_MIN → INT64_MAX encodes as delta −1 mod 2^64);
                # reconstruct modulo 2^64 and re-sign
                prev = (prev + min_delta + d + (1 << 63)) % (1 << 64) - (1 << 63)
                out.append(prev)
    return out, pos


def delta_byte_array(raw: bytes, pos: int, count: int) -> tuple[list[bytes], int]:
    """DELTA_BYTE_ARRAY run → (byte strings, next position): prefix
    lengths then suffix lengths (both DELTA_BINARY_PACKED), then the
    concatenated suffix bytes; value i = previous[:prefix_i] + suffix_i."""
    prefixes, pos = delta_binary_packed(raw, pos, max_total=count)
    suffix_lens, pos = delta_binary_packed(raw, pos, max_total=count)
    if len(prefixes) != count or len(suffix_lens) != count:
        raise ValueError("delta-byte-array length runs disagree with count")
    out: list[bytes] = []
    prev = b""
    for pl, sl in zip(prefixes, suffix_lens):
        if pl < 0 or sl < 0 or pl > len(prev):
            raise ValueError("delta-byte-array prefix out of range")
        suf = raw[pos : pos + sl]
        if len(suf) != sl:
            raise ValueError("truncated delta-byte-array suffix bytes")
        pos += sl
        prev = prev[:pl] + suf
        out.append(prev)
    return out, pos


def walk_parquet_v2(data: bytes) -> dict:
    """Walk one v2-page parquet file (columns dispatched by physical
    type + encoding) → facts + decoded columns. NotImplementedError
    for encodings/types outside the delta family ('unsupported'),
    ValueError carrying 'CRC' for page-checksum mismatches, plain
    ValueError for structural damage."""
    try:
        return _walk_v2(data)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        raise ValueError(f"malformed parquet structure ({exc})") from exc


def _walk_v2(data: bytes) -> dict:
    if len(data) < 12 or data[:4] != b"PAR1":
        raise ValueError("missing parquet header magic")
    if data[-4:] != b"PAR1":
        raise ValueError("missing parquet footer magic")
    flen = struct.unpack_from("<I", data, len(data) - 8)[0]
    fstart = len(data) - 8 - flen
    if fstart < 4:
        raise ValueError("parquet footer length out of range")
    meta = _TReader(data, fstart).read_struct()  # FileMetaData
    schema = meta.get(2) or []
    num_rows = meta.get(3)
    row_groups = meta.get(4) or []
    if len(schema) < 2:
        raise ValueError("parquet schema without columns")
    ints: list[int] = []
    strs: list[bytes] = []
    n_pages = 0
    for rg in row_groups:
        for chunk in rg.get(1) or []:  # ColumnChunk list
            cmeta = chunk.get(3)
            if cmeta is None:
                raise ValueError("column chunk without metadata")
            ptype = cmeta.get(1)
            codec = cmeta.get(4)
            num_values = cmeta.get(5)
            page_off = cmeta.get(9)
            if cmeta.get(11) is not None:
                raise NotImplementedError("dictionary-encoded v2 chunk")
            pos = page_off
            seen = 0
            while seen < num_values:
                rd = _TReader(data, pos)
                ph = rd.read_struct()  # PageHeader
                pos = rd.pos
                usize = ph.get(2)
                csize = ph.get(3)
                crc = ph.get(4)
                body = data[pos : pos + csize]
                if len(body) != csize:
                    raise ValueError("truncated page body")
                pos += csize
                if crc is not None:
                    if zlib.crc32(body) & 0xFFFFFFFF != crc & 0xFFFFFFFF:
                        raise ValueError("parquet page CRC mismatch (CRC)")
                if ph.get(1) != _PAGE_DATA_V2:
                    raise NotImplementedError(
                        f"parquet page type {ph.get(1)} in v2 walk"
                    )
                dph = ph.get(8)  # DataPageHeaderV2
                if dph is None:
                    raise ValueError("v2 data page without its header")
                pvals = dph.get(1)
                if pvals is None or pvals < 0 or pvals > 1 << 24:
                    # the count is a raw varint and delta encoding can
                    # legally pack values into fractions of a bit, so
                    # byte-based truncation checks cannot bound it —
                    # cap it before it sizes any allocation
                    raise ValueError("implausible v2 page value count")
                num_nulls = dph.get(2) or 0
                enc = dph.get(4)
                dl_len = dph.get(5) or 0
                rl_len = dph.get(6) or 0
                if num_nulls:
                    raise NotImplementedError("null values in delta page")
                if rl_len:
                    raise NotImplementedError("repeated column in v2 walk")
                if rl_len + dl_len > len(body):
                    raise ValueError("v2 level lengths exceed page body")
                if dl_len:
                    # v2 levels: uncompressed, externally framed
                    levels = _parse_level_runs(
                        body[rl_len : rl_len + dl_len], pvals, 1
                    )
                    if any(lv == 0 for lv in levels):
                        raise ValueError("num_nulls 0 but a level is 0")
                # is_compressed (field 7) defaults true; UNCOMPRESSED
                # codec makes the distinction moot for pyarrow output
                raw = _decompress(
                    codec, body[rl_len + dl_len :], usize - rl_len - dl_len
                )
                if ptype == _PT_INT64 and enc == _ENC_DELTA_BINARY_PACKED:
                    vals, _ = delta_binary_packed(raw, max_total=pvals)
                    if len(vals) != pvals:
                        raise ValueError("delta run disagrees with page count")
                    ints.extend(vals)
                elif ptype == _PT_BYTE_ARRAY and enc == _ENC_DELTA_BYTE_ARRAY:
                    svals, _ = delta_byte_array(raw, 0, pvals)
                    strs.extend(svals)
                elif (ptype == _PT_BYTE_ARRAY
                      and enc == _ENC_DELTA_LENGTH_BYTE_ARRAY):
                    # DELTA_LENGTH_BYTE_ARRAY (round 15): one DBP run
                    # of lengths, then the concatenated bytes — the
                    # no-prefix-sharing sibling of DELTA_BYTE_ARRAY
                    lens, p = delta_binary_packed(raw, max_total=pvals)
                    if len(lens) != pvals:
                        raise ValueError(
                            "DLBA length run disagrees with page count")
                    if any(ln < 0 for ln in lens) or \
                            p + sum(lens) != len(raw):
                        raise ValueError(
                            "DLBA lengths disagree with page bytes")
                    for ln in lens:
                        strs.append(raw[p : p + ln])
                        p += ln
                else:
                    raise NotImplementedError(
                        f"v2 walk: physical type {ptype} encoding {enc}"
                    )
                seen += pvals
                n_pages += 1
    if num_rows is not None and ints and len(ints) != num_rows:
        raise ValueError("decoded int column disagrees with num_rows")
    if num_rows is not None and strs and len(strs) != num_rows:
        raise ValueError("decoded string column disagrees with num_rows")
    return {
        "num_rows": num_rows,
        "n_row_groups": len(row_groups),
        "n_pages": n_pages,
        "ints": ints,
        "strs": strs,
    }


# ------------------------------------------------- driver-oracled query

_V2_GROUPS = 8
_V2_ROWGROUP = 512


def _v2_rows(g: int) -> int:
    return 1000 + 97 * g


def _v2_ints(g: int) -> list[int]:
    n = _v2_rows(g)
    return [(i * i * 31 + i * 7 + 1009 * g) % 1_000_000 for i in range(n)]


def _v2_words(g: int) -> list[int]:
    n = _v2_rows(g)
    return [(i * 13 + 5 * g) % 10_000 for i in range(n)]


def _v2_codec(g: int) -> str:
    # round 15: zstd + lz4 joined once their native decoders were
    # wired into the shared _decompress; v2's uncompressed-level
    # prefix handling is exercised under all five codecs
    return ("none", "snappy", "gzip", "zstd", "lz4")[g % 5]


def _v2_bytes(g: int, unsupported: bool = False) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    if unsupported:
        # BYTE_STREAM_SPLIT doubles: a real v2 encoding this walk
        # honestly does not implement
        t = pa.table({"f": pa.array([i / 7 for i in range(256)])})
        pq.write_table(
            t, buf, use_dictionary=False, compression="none",
            data_page_version="2.0", write_statistics=False,
            write_page_checksum=True,
            column_encoding={"f": "BYTE_STREAM_SPLIT"},
        )
    else:
        t = pa.table({
            "v": pa.array(_v2_ints(g), type=pa.int64()),
            "s": pa.array([f"doc{w:05d}" for w in _v2_words(g)]),
        })
        pq.write_table(
            t, buf, use_dictionary=False, compression=_v2_codec(g),
            data_page_version="2.0", write_statistics=False,
            write_page_checksum=True, row_group_size=_V2_ROWGROUP,
            column_encoding={"v": "DELTA_BINARY_PACKED",
                             "s": "DELTA_BYTE_ARRAY"},
        )
    return buf.getvalue().to_pybytes()


def _v2_flip_offset(blob: bytes) -> int:
    """Last-10 offset inside the FIRST page of the first column: the
    page spans [data_page_offset, +total_compressed_size) and is the
    row group's first chunk, so a near-end flip lands in the value
    bytes (after the Thrift header) for every group — the stored page
    CRC must catch it before any decode sees the byte."""
    import io

    import pyarrow.parquet as pq

    cc = pq.ParquetFile(io.BytesIO(blob)).metadata.row_group(0).column(0)
    return cc.data_page_offset + cc.total_compressed_size - 10


def _v2_payload(doc_id: int) -> bytes:
    g = doc_id % _V2_GROUPS
    corrupt = doc_id % 11 == 4
    crc_err = doc_id % 17 == 6 and not corrupt
    unsup = doc_id % 13 == 7 and not (corrupt or crc_err)
    blob = bytearray(_v2_bytes(g, unsupported=unsup))
    if crc_err:
        blob[_v2_flip_offset(bytes(blob))] ^= 0x01
    if corrupt:
        del blob[-6:]  # cut inside footer length + magic
    return bytes(blob)


def _v2_key(doc_id: int) -> tuple:
    return (doc_id % _V2_GROUPS, doc_id % 11 == 4, doc_id % 17 == 6,
            doc_id % 13 == 7)


def _v2_facts(doc_id: int) -> tuple:
    f = walk_parquet_v2(_v2_payload(doc_id))
    ints = f["ints"]
    # decoded strings carry their design word — parse it
    # back so the oracle checks CONTENT, not just counts
    str_sum = sum(int(s[3:]) for s in f["strs"])
    return (
        "decoded", f["n_row_groups"], f["n_pages"],
        len(ints), sum(ints),
        sum((i + 1) * v for i, v in enumerate(ints)),
        str_sum,
    )


def _v2_oracle() -> str:
    bad = "d.doc_id % 11 = 4 OR d.doc_id % 17 = 6 OR d.doc_id % 13 = 7"
    # one v2 data page per row group per column at these sizes, two
    # columns ⇒ n_pages = 2 · ceil(n / 512)
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_V2_GROUPS} AS g FROM documents
    ),
    rows_ AS (
      SELECT g, 1000 + 97 * g AS n FROM grp
    ),
    vals AS (
      SELECT r.g, i,
             (i * i * 31 + i * 7 + 1009 * r.g) % 1000000 AS v,
             (i * 13 + 5 * r.g) % 10000 AS w
      FROM rows_ r, LATERAL (
        SELECT unnest(range(0, r.n)) AS i
      )
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT CAST(ceil(CAST(n AS DOUBLE) / {_V2_ROWGROUP})
                   AS INT) FROM rows_ WHERE rows_.g = v.g)
               AS INT) AS n_row_groups,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(SUM(v) AS BIGINT) AS value_sum,
             CAST(SUM((i + 1) * v) AS BIGINT) AS wsum,
             CAST(SUM(w) AS BIGINT) AS str_sum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 4 THEN 'corrupt'
                WHEN d.doc_id % 17 = 6 THEN 'crc_error'
                WHEN d.doc_id % 13 = 7 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_row_groups END AS n_row_groups,
           CASE WHEN {bad} THEN 0 ELSE 2 * s.n_row_groups END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.n_values END AS n_values,
           CASE WHEN {bad} THEN 0 ELSE s.value_sum END AS value_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum,
           CASE WHEN {bad} THEN 0 ELSE s.str_sum END AS str_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_V2_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_v2_delta_walk", oracle=_v2_oracle())
def ingest_parquet_v2_delta_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modern-parquet read with no parquet library: DataPageHeaderV2
    pages, externally-framed uncompressed v2 definition levels,
    DELTA_BINARY_PACKED INT64 decode (miniblock bit-packed zigzag
    deltas incl. trailing-miniblock omission) and DELTA_BYTE_ARRAY
    string decode (prefix/suffix incremental encoding), page bodies
    decompressed through the repo's OWN snappy/gzip decoders with
    page-CRC verification over the stored bytes. pyarrow is the
    independent runtime writer; the DuckDB oracle replays both
    columns' value lattices (the string column is parsed BACK to its
    design integer, so content — not just shape — is compared). Typed
    verdicts: footer cut ('corrupt'), near-end page-body byte flip
    under an intact stored CRC ('crc_error'), BYTE_STREAM_SPLIT
    doubles ('unsupported').

    Scale notes (100 TB): Arrow-batched mapInPandas; footer-first
    page walk is the format's own pruning path; per-document CPU
    decode, ~60 B of integer facts per row re-enter the JVM; the only
    shuffle is the harness orderBy."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_v2_batches", _v2_key, _v2_facts,
        "doc_id long, status string, n_row_groups int, n_pages int, "
        "n_values long, value_sum long, wsum long, str_sum long",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")


# -------------------------- DELTA_LENGTH_BYTE_ARRAY (round 15)

_DL_GROUPS = 8
_DL_ROWGROUP = 512


def _dl_rows(g: int) -> int:
    return 1200 + 110 * g


def _dl_suffix(g: int, i: int) -> int:
    return (i * 37 + 11 * g) % 99991


def _dl_strings(g: int) -> list[str]:
    """Variable-length strings (1-6 'x' prefix + '_' + a 1..5-digit
    suffix) so the length run carries genuinely varying deltas."""
    return [
        "x" * (1 + (i + g) % 6) + "_" + str(_dl_suffix(g, i))
        for i in range(_dl_rows(g))
    ]


def _dl_bytes(g: int) -> bytes:
    import pyarrow as pa
    import pyarrow.parquet as pq

    buf = pa.BufferOutputStream()
    t = pa.table({"s": pa.array(_dl_strings(g))})
    pq.write_table(
        t, buf, use_dictionary=False,
        compression=("none", "snappy", "gzip", "zstd", "lz4")[g % 5],
        data_page_version="2.0", write_statistics=False,
        write_page_checksum=True, row_group_size=_DL_ROWGROUP,
        column_encoding={"s": "DELTA_LENGTH_BYTE_ARRAY"},
    )
    return buf.getvalue().to_pybytes()


def _dl_payload(doc_id: int) -> bytes:
    g = doc_id % _DL_GROUPS
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    if unsup:
        # BYTE_STREAM_SPLIT doubles — v2 walk's honest boundary
        return _v2_bytes(g, unsupported=True)
    blob = bytearray(_dl_bytes(g))
    if crc_err:
        from .parquetwalk import first_page_body_span

        s, e = first_page_body_span(bytes(blob))
        blob[e - 3] ^= 0x01
    if corrupt:
        del blob[-6:]
    return bytes(blob)


def _dl_key(doc_id: int) -> tuple:
    return (doc_id % _DL_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _dl_facts(doc_id: int) -> tuple:
    f = walk_parquet_v2(_dl_payload(doc_id))
    ss = [s.decode() for s in f["strs"]]
    n = len(ss)
    suf_sum = suf_wsum = blen_sum = 0
    for i, s in enumerate(ss):
        sx = int(s.split("_", 1)[1])
        suf_sum += sx
        suf_wsum += (i + 1) * sx
        blen_sum += len(s)
    return (
        "decoded", n, f["n_pages"], suf_sum, suf_wsum,
        blen_sum,
    )


def _dl_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_DL_GROUPS} AS g FROM documents
    ),
    rr AS (
      SELECT g, i,
             (i * 37 + 11 * g) % 99991 AS sx,
             1 + (i + g) % 6 AS npref
      FROM (SELECT g, unnest(range(0, 1200 + 110 * g)) AS i FROM grp)
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_values,
             CAST(CAST(ceil(CAST(COUNT(*) AS DOUBLE)
                  / {_DL_ROWGROUP}) AS INT) AS BIGINT) AS n_pages,
             CAST(SUM(sx) AS BIGINT) AS suf_sum,
             CAST(SUM((i + 1) * sx) AS BIGINT) AS suf_wsum,
             CAST(SUM(npref + 1 + length(CAST(sx AS VARCHAR)))
               AS BIGINT) AS blen_sum
      FROM rr GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_values END AS n_values,
           CASE WHEN {bad} THEN 0 ELSE s.n_pages END AS n_pages,
           CASE WHEN {bad} THEN 0 ELSE s.suf_sum END AS suf_sum,
           CASE WHEN {bad} THEN 0 ELSE s.suf_wsum END AS suf_wsum,
           CASE WHEN {bad} THEN 0 ELSE s.blen_sum END AS blen_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_DL_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_parquet_dlba_walk", oracle=_dl_oracle())
def ingest_parquet_dlba_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """DELTA_LENGTH_BYTE_ARRAY strings decoded natively — the
    no-prefix-sharing sibling of DELTA_BYTE_ARRAY (one
    DELTA_BINARY_PACKED run of lengths, then the concatenated UTF-8
    bytes; arrow's writer picks it for binary columns where prefix
    sharing doesn't pay). Variable-length fixture strings force
    genuinely varying length deltas; the decoded strings are parsed
    BACK to their design integers so content, order and byte lengths
    are all value-compared by the DuckDB oracle; all five codecs
    rotate. Typed verdicts: footer cut ('corrupt'), a page-body flip
    under an intact stored CRC ('crc_error'), BYTE_STREAM_SPLIT
    doubles ('unsupported').

    Scale notes (100 TB): same Arrow-batched mapInPandas + per-worker
    memo shape as the sibling walks."""
    d = (load_table(spark, sf_dir, "documents")
         .select("doc_id").repartition(32, "doc_id"))
    out = decode_walk(
        d, "_dl_batches", _dl_key, _dl_facts,
        "doc_id long, status string, n_values long, n_pages long, "
        "suf_sum long, suf_wsum long, blen_sum long",
        value_errors=(("CRC", "crc_error"),),
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
