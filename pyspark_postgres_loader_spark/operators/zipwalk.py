"""ZIP (PKWARE APPNOTE) member walk — the last mainstream dataset
container after tar/gzip/zstd/TFRecord/WARC: image corpora (ImageNet
shards, LAION subsets) and many HF datasets ship as plain .zip.

Unlike the streams walked so far, ZIP is read BACK TO FRONT: the
End-Of-Central-Directory record at the tail locates the central
directory, which locates each local file header. A correct reader
must therefore (a) scan backwards for the EOCD signature (a comment
may follow it), (b) parse the central directory, and (c)
cross-validate every central entry against its local header — the two
copies of (name, method, CRC, sizes) are REQUIRED to agree, and
real-world corruption/zip-bomb tricks live exactly in that
disagreement. This walker does all three natively, inflates each
member (stored + raw-DEFLATE via the stdlib entropy coder — the
documented gzip/PNG-path policy: the compressed BYTES never cross an
engine boundary, only closed-form content facts do), and verifies our
own CRC-32 per member against the stored value.

Determinism: member CONTENT is a closed-form byte lattice per
(group, member, offset), so the DuckDB oracle replays every inflated
byte — entry count, uncompressed totals, content sums, a
global-position-weighted sum (pins central-directory ORDER), the name
footprint, and the per-method split — without seeing a ZIP byte.
Statuses: 'decoded'; 'corrupt' (tail truncation inside the 22-byte
EOCD — structurally detectable at every group: tail-drop, never
halving); 'crc_error' (stored CRC bit flipped consistently in BOTH
the local header and the central entry, so it is provably the
integrity check firing, not the cross-validation); 'unsupported'
(compression method 12/bzip2 declared in both copies); 'mismatch'
(central directory and local header disagree on uncompressed size —
the CD/LH cross-check firing).

Scale notes (100 TB): the standard Arrow-batched ``mapInPandas``
decode map; the EOCD/CD walk is sequential WITHIN an archive (the
format's own back-to-front data dependency), corpus parallelism is
across documents; ~60 B of integer facts per row re-enter the JVM.

Reference: no counterpart (SURVEY.md §2l multimodal/ingest extension).
"""

from __future__ import annotations

import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_LFH_SIG = b"PK\x03\x04"
_CDE_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"
_METHOD_STORED = 0
_METHOD_DEFLATE = 8


def build_zip(
    members: list[tuple[str, bytes, int]], comment: bytes = b""
) -> bytes:
    """Assemble a deterministic ZIP from (name, content, method)
    triples (method 0=stored, 8=deflate; DOS time/date zeroed)."""
    locals_blob = bytearray()
    centrals = bytearray()
    offsets = []
    for name, content, method in members:
        if method == _METHOD_DEFLATE:
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            data = co.compress(content) + co.flush()
        else:
            data = content
        crc = zlib.crc32(content) & 0xFFFFFFFF
        nb = name.encode("ascii")
        offsets.append(len(locals_blob))
        locals_blob += _LFH_SIG + struct.pack(
            "<HHHHHIIIHH", 20, 0, method, 0, 0, crc, len(data),
            len(content), len(nb), 0,
        ) + nb + data
    for (name, content, method), off in zip(members, offsets):
        nb = name.encode("ascii")
        if method == _METHOD_DEFLATE:
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            data_len = len(co.compress(content) + co.flush())
        else:
            data_len = len(content)
        centrals += _CDE_SIG + struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, 0, method, 0, 0,
            zlib.crc32(content) & 0xFFFFFFFF, data_len, len(content),
            len(nb), 0, 0, 0, 0, 0, off,
        ) + nb
    eocd = _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, len(members), len(members), len(centrals),
        len(locals_blob), len(comment),
    ) + comment
    return bytes(locals_blob) + bytes(centrals) + eocd


def walk_zip_members(payload: bytes) -> list[tuple[str, bytes, int]]:
    """Walk a ZIP archive back to front → [(name, content, method)]
    in central-directory order. Raises ``NotImplementedError`` for
    compression methods other than stored/deflate ('unsupported'),
    ``ValueError`` with 'CRC' in the message for CRC-32 mismatches
    ('crc_error'), ``ValueError`` with 'MISMATCH' for central/local
    disagreements ('mismatch'), and plain ``ValueError`` for
    structural damage ('corrupt')."""
    try:
        return _walk_zip_members(payload)
    except (struct.error, zlib.error) as exc:
        # byte-corrupted input walking off a field or feeding the
        # inflater garbage: structural damage, typed like every other
        # truncation (fuzz-pinned in tests)
        raise ValueError(f"corrupt zip structure ({exc})") from exc


def _walk_zip_members(payload: bytes) -> list[tuple[str, bytes, int]]:
    if len(payload) < 22:
        raise ValueError("payload shorter than an EOCD record")
    # EOCD scan: the record is 22 bytes + an up-to-64KiB comment, so
    # search the LAST occurrence of the signature in the tail window.
    window_start = max(0, len(payload) - (22 + 0xFFFF))
    sig_at = payload.rfind(_EOCD_SIG, window_start)
    if sig_at < 0:
        raise ValueError("no end-of-central-directory signature")
    if sig_at + 22 > len(payload):
        raise ValueError("truncated end-of-central-directory record")
    (
        disk_no, cd_disk, n_disk, n_total, cd_size, cd_off, comment_len,
    ) = struct.unpack("<HHHHIIH", payload[sig_at + 4 : sig_at + 22])
    if sig_at + 22 + comment_len != len(payload):
        raise ValueError("EOCD comment length inconsistent")
    if n_total == 0xFFFF or cd_size == 0xFFFFFFFF or cd_off == 0xFFFFFFFF:
        raise NotImplementedError("zip64 archive (EOCD64 locator needed)")
    if disk_no != 0 or cd_disk != 0 or n_disk != n_total:
        raise NotImplementedError("multi-disk (spanned) ZIP archive")
    if cd_off + cd_size != sig_at:
        raise ValueError("central directory extent does not abut EOCD")

    members: list[tuple[str, bytes, int]] = []
    pos = cd_off
    for _ in range(n_total):
        if payload[pos : pos + 4] != _CDE_SIG:
            raise ValueError("bad central-directory entry signature")
        (
            _ver_made, _ver_need, flags, method, _t, _d, crc, csize,
            usize, nlen, xlen, clen, _dno, _iattr, _eattr, lfh_off,
        ) = struct.unpack("<HHHHHHIIIHHHHHII", payload[pos + 4 : pos + 46])
        name = payload[pos + 46 : pos + 46 + nlen].decode("ascii")
        pos += 46 + nlen + xlen + clen
        if pos > sig_at:
            raise ValueError("central directory overruns EOCD")
        if flags & 0x0008:
            raise NotImplementedError("data-descriptor (streamed) entry")
        # local header cross-validation
        if payload[lfh_off : lfh_off + 4] != _LFH_SIG:
            raise ValueError("bad local-file-header signature")
        (
            _lver, lflags, lmethod, _lt, _ld, lcrc, lcsize, lusize,
            lnlen, lxlen,
        ) = struct.unpack("<HHHHHIIIHH", payload[lfh_off + 4 : lfh_off + 30])
        lname = payload[lfh_off + 30 : lfh_off + 30 + lnlen].decode("ascii")
        if (
            lname != name or lmethod != method or lcrc != crc
            or lcsize != csize or lusize != usize or lflags != flags
        ):
            raise ValueError(
                f"central/local header MISMATCH for {name!r}"
            )
        data_at = lfh_off + 30 + lnlen + lxlen
        data = payload[data_at : data_at + csize]
        if len(data) != csize:
            raise ValueError("member data truncated")
        if method == _METHOD_STORED:
            content = data
            if usize != csize:
                raise ValueError(f"stored-size MISMATCH for {name!r}")
        elif method == _METHOD_DEFLATE:
            d = zlib.decompressobj(-15)
            content = d.decompress(data)
            content += d.flush()
        else:
            raise NotImplementedError(f"zip compression method {method}")
        if len(content) != usize:
            raise ValueError(f"inflated-size MISMATCH for {name!r}")
        if zlib.crc32(content) & 0xFFFFFFFF != crc:
            raise ValueError(f"zip member CRC32 mismatch (CRC) for {name!r}")
        members.append((name, content, method))
    if pos != sig_at:
        raise ValueError("central directory size inconsistent")
    return members


# ------------------------------------------------- driver-oracled query

_ZIP_GROUPS = 10


def _zip_members_of(g: int) -> list[tuple[str, bytes, int]]:
    """Closed-form member set for group ``g``: 1 + g % 3 members;
    member m holds 64 + 16m + g bytes of the lattice
    ``(5 i + 11 m + 19 g) % 249``; even members deflate, odd members
    are stored; every member is named ``e<m>.dat`` (6 chars — m is a
    single digit, which the oracle's names_len term relies on)."""
    out = []
    for m in range(1 + g % 3):
        content = bytes(
            (5 * i + 11 * m + 19 * g) % 249 for i in range(64 + 16 * m + g)
        )
        method = _METHOD_DEFLATE if m % 2 == 0 else _METHOD_STORED
        out.append((f"e{m}.dat", content, method))
    return out


def _zip_payload(doc_id: int) -> bytes:
    g = doc_id % _ZIP_GROUPS
    payload = bytearray(build_zip(_zip_members_of(g)))
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    mism = doc_id % 19 == 7 and not (corrupt or crc_err or unsup)
    if crc_err or unsup or mism:
        # locate member 0's central entry: the CD starts right after
        # the locals blob; EOCD's cd_offset field points at it.
        cd_off = struct.unpack("<I", payload[-6:-2])[0]
        if crc_err:
            # flip the same stored-CRC bit in BOTH copies so the
            # cross-validation still passes and only the integrity
            # check can fire (LH crc at +14, CD crc at +16).
            payload[14] ^= 0x01
            payload[cd_off + 16] ^= 0x01
        elif unsup:
            # declare bzip2 (method 12) in both copies (LH method at
            # +8, CD method at +10).
            payload[8] = 12
            payload[cd_off + 10] = 12
        else:
            # central copy alone claims one more uncompressed byte
            # (CD usize at +24) — the CD/LH cross-check must fire.
            payload[cd_off + 24] ^= 0x01
    if corrupt:
        # cut INSIDE the 22-byte EOCD record: the signature stays
        # findable but the record is short — structurally detectable
        # at every group (tail-drop, never halving).
        payload = payload[:-5]
    return bytes(payload)


def _zip_key(doc_id: int) -> tuple:
    return (doc_id % _ZIP_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5, doc_id % 19 == 7)


def _zip_facts(doc_id: int) -> tuple:
    members = walk_zip_members(_zip_payload(doc_id))
    total = sum(len(c) for _n, c, _m in members)
    csum = wsum = 0
    off = 0
    for _name, c, _method in members:
        for i, b in enumerate(c):
            csum += b
            wsum += (off + i + 1) * b
        off += len(c)
    names_len = sum(len(n) for n, _c, _m in members)
    n_deflate = sum(
        1 for _n, _c, m in members if m == _METHOD_DEFLATE
    )
    return (
        "decoded", len(members), total, csum, wsum,
        names_len, n_deflate,
    )


def _zip_oracle() -> str:
    bad = (
        "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5 "
        "OR d.doc_id % 19 = 7"
    )
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_ZIP_GROUPS} AS g FROM documents
    ),
    mem AS (
      SELECT g, unnest(range(0, 1 + g % 3)) AS m FROM grp
    ),
    sized AS (
      SELECT g, m, 64 + 16 * m + g AS len,
             SUM(64 + 16 * m + g) OVER (
               PARTITION BY g ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS off
      FROM mem
    ),
    bytes AS (
      SELECT g, m, COALESCE(off, 0) AS off, unnest(range(0, len)) AS i
      FROM sized
    ),
    vals AS (
      SELECT g, (5 * i + 11 * m + 19 * g) % 249 AS b, off + i + 1 AS gpos
      FROM bytes
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(*) FROM mem WHERE mem.g = v.g) AS INT)
               AS n_entries,
             CAST(COUNT(*) AS BIGINT) AS total_bytes,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM(gpos * b) AS BIGINT) AS wsum,
             CAST((SELECT 6 * COUNT(*) FROM mem
                   WHERE mem.g = v.g) AS INT) AS names_len,
             CAST((SELECT COUNT(*) FROM mem
                   WHERE mem.g = v.g AND mem.m % 2 = 0) AS INT)
               AS n_deflate
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                WHEN d.doc_id % 19 = 7 THEN 'mismatch'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_entries END AS n_entries,
           CASE WHEN {bad} THEN 0 ELSE s.total_bytes END AS total_bytes,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum,
           CASE WHEN {bad} THEN 0 ELSE s.names_len END AS names_len,
           CASE WHEN {bad} THEN 0 ELSE s.n_deflate END AS n_deflate
    FROM documents d
    JOIN sums s ON d.doc_id % {_ZIP_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_zip_member_walk", oracle=_zip_oracle())
def ingest_zip_member_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZIP ingestion end to end: backwards EOCD scan, central-directory
    parse, per-entry local-header cross-validation (name/method/CRC/
    sizes — the two copies MUST agree), stored + raw-DEFLATE member
    extraction, and our own CRC-32 verification against the stored
    value. The oracled facts replay the closed-form inflated content —
    including a global-position weighted sum that pins central-
    directory ORDER, the name footprint, and the per-method split that
    pins method parsing. Typed verdicts: EOCD tail truncation
    ('corrupt'), a stored-CRC bit flipped in both header copies
    ('crc_error' — proves the integrity check executes, not the
    cross-check), a bzip2 method declaration ('unsupported'), and a
    central-vs-local size disagreement ('mismatch' — proves the
    cross-check executes).

    Scale notes (100 TB): Arrow-batched mapInPandas decode map; only
    integer facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_zip_batches", _zip_key, _zip_facts,
        "doc_id long, status string, n_entries int, total_bytes long, "
        "content_sum long, wsum long, names_len int, n_deflate int",
        value_errors=(("CRC", "crc_error"), ("MISMATCH", "mismatch")),
    ).transform(_presentation_sort, "doc_id")
