"""Snappy decoder — raw block format + the snappy FRAMING format
(.sz). Snappy is the default page codec of the parquet/ORC world:
virtually every parquet training shard on disk inflates through it,
so a data engine that walks containers natively should read it too.

Two layers, both native:

- the RAW block format: varint uncompressed-length preamble, then
  tag-dispatched elements — 2-bit type, literals (with 1-4 extra
  length bytes for long runs), and copies with 1/2/4-byte offsets
  (the 1-byte form packs 3 offset bits into the tag), overlapping
  copies allowed;
- the FRAMING format: stream-identifier chunk ("sNaPpY"), compressed
  and uncompressed data chunks carrying a MASKED CRC-32C of the
  UNCOMPRESSED payload (the same rotr15+0xa282ead8 masking TFRecord
  uses — operators/tfrecord.py's pinned implementation is reused),
  skippable padding/reserved chunks, and unskippable reserved chunks
  as the typed 'unsupported' boundary.

Correctness evidence: pyarrow's bundled snappy codec — an independent
implementation — cross-validates the RAW layer in both directions in
tests (we decode its output across data shapes; it decodes the
fixture blocks we embed). The framing layer is assembled by
build_snappy_frame below per the public spec, with the CRC pinned by
TFRecord's published check vector; a flipped PAYLOAD byte with the
stored CRC intact is caught (test-pinned), so verification is real.

Reference: google/snappy format descriptions (public); no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct

from .tfrecord import masked_crc32c

_STREAM_ID = b"\xff\x06\x00\x00sNaPpY"


def snappy_decompress_block(data: bytes) -> bytes:
    """Raw snappy block: varint length preamble + tag elements."""
    # varint preamble
    expected = 0
    shift = 0
    pos = 0
    while True:
        if pos >= len(data):
            raise ValueError("truncated snappy length varint")
        b = data[pos]
        pos += 1
        expected |= (b & 0x7F) << shift
        shift += 7
        if not b & 0x80:
            break
        if shift > 35:
            raise ValueError("snappy length varint too long")
    out = bytearray()
    n = len(data)
    while pos < n:
        tag = data[pos]
        pos += 1
        kind = tag & 3
        if kind == 0:  # literal
            ln = tag >> 2
            if ln >= 60:
                extra = ln - 59
                if pos + extra > n:
                    raise ValueError("truncated literal length")
                ln = int.from_bytes(data[pos : pos + extra], "little")
                pos += extra
            ln += 1
            if pos + ln > n:
                raise ValueError("truncated literal body")
            out += data[pos : pos + ln]
            pos += ln
            continue
        if kind == 1:  # copy, 1-byte offset
            ln = ((tag >> 2) & 7) + 4
            if pos >= n:
                raise ValueError("truncated 1-byte-offset copy")
            offset = ((tag >> 5) << 8) | data[pos]
            pos += 1
        elif kind == 2:  # copy, 2-byte offset
            ln = (tag >> 2) + 1
            if pos + 2 > n:
                raise ValueError("truncated 2-byte-offset copy")
            offset = data[pos] | (data[pos + 1] << 8)
            pos += 2
        else:  # copy, 4-byte offset
            ln = (tag >> 2) + 1
            if pos + 4 > n:
                raise ValueError("truncated 4-byte-offset copy")
            offset = struct.unpack_from("<I", data, pos)[0]
            pos += 4
        if offset == 0:
            raise ValueError("zero copy offset")
        if offset > len(out):
            raise ValueError("copy offset beyond output start")
        for _ in range(ln):
            out.append(out[-offset])
    if len(out) != expected:
        raise ValueError("snappy output length mismatch")
    return bytes(out)


def build_snappy_frame(
    chunks: list[tuple[bool, bytes]], corrupt_crc_at: int | None = None
) -> bytes:
    """Assemble a framing-format stream from (compressed?, content)
    chunks; compression uses pyarrow's INDEPENDENT encoder (import
    deferred — fixture builders embed the result, tests exercise this
    path). ``corrupt_crc_at`` flips one bit of that chunk's stored
    CRC."""
    out = bytearray(_STREAM_ID)
    for i, (compressed, content) in enumerate(chunks):
        crc = masked_crc32c(content)
        if i == corrupt_crc_at:
            crc ^= 0x01
        if compressed:
            import pyarrow as pa

            body = pa.compress(content, codec="snappy", asbytes=True)
            ctype = 0x00
        else:
            body = content
            ctype = 0x01
        out += bytes([ctype]) + struct.pack("<I", 4 + len(body))[:3]
        out += struct.pack("<I", crc) + body
    return bytes(out)


def walk_snappy_frame(payload: bytes) -> dict:
    """Walk a framing-format stream → facts. Raises
    NotImplementedError for unskippable reserved chunks
    ('unsupported'), ValueError with 'CRC' for checksum mismatches,
    plain ValueError for structural damage."""
    if not payload.startswith(_STREAM_ID):
        raise ValueError("missing snappy stream identifier")
    pos = len(_STREAM_ID)
    n_chunks = n_compressed = 0
    content_len = content_sum = wsum = 0
    gpos = 0
    while pos < len(payload):
        if pos + 4 > len(payload):
            raise ValueError("truncated chunk header")
        ctype = payload[pos]
        clen = int.from_bytes(payload[pos + 1 : pos + 4], "little")
        pos += 4
        if pos + clen > len(payload):
            raise ValueError("truncated chunk body")
        body = payload[pos : pos + clen]
        pos += clen
        if ctype in (0x00, 0x01):
            if clen < 4:
                raise ValueError("data chunk shorter than its CRC")
            stored = struct.unpack("<I", body[:4])[0]
            data = body[4:]
            if ctype == 0x00:
                data = snappy_decompress_block(data)
                n_compressed += 1
            if masked_crc32c(data) != stored:
                raise ValueError("snappy chunk CRC mismatch (CRC)")
            n_chunks += 1
            for b in data:
                gpos += 1
                content_len += 1
                content_sum += b
                wsum += gpos * b
        elif ctype == 0xFF:
            if body != b"sNaPpY":
                raise ValueError("bad stream identifier payload")
        elif ctype == 0xFE or 0x80 <= ctype <= 0xFD:
            continue  # padding / skippable reserved
        else:
            raise NotImplementedError(
                f"unskippable reserved snappy chunk 0x{ctype:02x}"
            )
    return {
        "n_chunks": n_chunks,
        "n_compressed": n_compressed,
        "content_len": content_len,
        "content_sum": content_sum,
        "wsum": wsum,
    }


# ------------------------------------------------- driver-oracled query

_SN_GROUPS = 10


def _sn_chunk_content(g: int, m: int) -> bytes:
    """Chunk m of group g: 200 + 32·m + g bytes of a repetitive
    lattice (16-byte words, word index advancing triangularly) the
    oracle replays byte-exactly."""
    out = bytearray()
    for j in range(200 + 32 * m + g):
        w = ((j // 16) * ((j // 16) + 1) // 2 + m) % 8
        out.append((19 * w + 3 * (j % 16) + 7 * g + 11 * m) % 251)
    return bytes(out)


def _sn_payload(doc_id: int) -> bytes:
    g = doc_id % _SN_GROUPS
    n_chunks = 2 + g % 3
    # even chunks compressed, odd chunks stored — both data paths live
    chunks = [
        (m % 2 == 0, _sn_chunk_content(g, m)) for m in range(n_chunks)
    ]
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    blob = bytearray(
        build_snappy_frame(chunks, corrupt_crc_at=0 if crc_err else None)
    )
    if doc_id % 2 == 1:
        # padding chunk mid-stream: the skip path, present in half the
        # corpus
        pad = bytes([0xFE]) + (3 + g).to_bytes(3, "little") + b"\x00" * (3 + g)
        blob[len(_STREAM_ID) : len(_STREAM_ID)] = pad
    if unsup:
        # unskippable reserved chunk type right after the identifier
        bad = bytes([0x42]) + (1).to_bytes(3, "little") + b"\x00"
        blob[len(_STREAM_ID) : len(_STREAM_ID)] = bad
    if corrupt:
        del blob[-3:]  # cut inside the final chunk body
    return bytes(blob)


def _sn_key(doc_id: int) -> tuple:
    return (doc_id % _SN_GROUPS, doc_id % 2, doc_id % 11 == 3,
            doc_id % 17 == 2, doc_id % 13 == 5)


def _sn_facts(doc_id: int) -> tuple:
    f = walk_snappy_frame(_sn_payload(doc_id))
    return (
        "decoded", f["n_chunks"], f["n_compressed"],
        f["content_len"], f["content_sum"], f["wsum"],
    )


def _sn_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_SN_GROUPS} AS g FROM documents
    ),
    mem AS (
      SELECT g, unnest(range(0, 2 + g % 3)) AS m FROM grp
    ),
    sized AS (
      SELECT g, m, 200 + 32 * m + g AS len,
             SUM(200 + 32 * m + g) OVER (
               PARTITION BY g ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS off
      FROM mem
    ),
    bytes AS (
      SELECT g, m, COALESCE(off, 0) AS off, unnest(range(0, len)) AS j
      FROM sized
    ),
    vals AS (
      SELECT g,
             (19 * (((j // 16) * ((j // 16) + 1) // 2 + m) % 8)
              + 3 * (j % 16) + 7 * g + 11 * m) % 251 AS b,
             off + j + 1 AS gpos
      FROM bytes
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(*) FROM mem WHERE mem.g = v.g) AS INT)
               AS n_chunks,
             CAST((SELECT COUNT(*) FROM mem
                   WHERE mem.g = v.g AND mem.m % 2 = 0) AS INT)
               AS n_compressed,
             CAST(COUNT(*) AS BIGINT) AS content_len,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM(gpos * b) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_chunks END AS n_chunks,
           CASE WHEN {bad} THEN 0 ELSE s.n_compressed END AS n_compressed,
           CASE WHEN {bad} THEN 0 ELSE s.content_len END AS content_len,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_SN_GROUPS} = s.g
    ORDER BY d.doc_id
    """


def _register_query() -> None:
    from ..registry import register
    from .walkbatch import decode_walk
    from ..tables import load_table
    from ..functions.planctl import presentation_sort as _presentation_sort

    @register("ingest_snappy_framed_decode", oracle=_sn_oracle())
    def ingest_snappy_framed_decode(spark, sf_dir):
        """Snappy framing-format ingestion end to end: stream
        identifier, compressed AND uncompressed data chunks (the
        fixture alternates, pinned by the n_compressed fact), native
        raw-block decode (varint preamble, literal runs, 1/2/4-byte-
        offset copies with overlap), masked CRC-32C verification per
        chunk (TFRecord's pinned implementation), padding-chunk skip
        in half the corpus, and the unskippable-reserved-chunk typed
        boundary. pyarrow's independent snappy codec cross-validates
        the raw layer in both directions in tests. Typed verdicts: a
        cut inside the final chunk ('corrupt'), a flipped stored CRC
        on chunk 0 ('crc_error'), a reserved unskippable chunk
        ('unsupported').

        Scale notes (100 TB): Arrow-batched mapInPandas decode map;
        chunks chain sequentially WITHIN a stream, corpus parallelism
        is across documents; only integer facts re-enter the JVM."""
        d = load_table(spark, sf_dir, "documents").select("doc_id")
        return decode_walk(
            d, "_sn_batches", _sn_key, _sn_facts,
            "doc_id long, status string, n_chunks int, n_compressed int, "
            "content_len long, content_sum long, wsum long",
            value_errors=(("CRC", "crc_error"),),
        ).transform(_presentation_sort, "doc_id")


_register_query()
