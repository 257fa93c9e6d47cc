"""POSIX ustar archive walk — the WebDataset container.

Large multimodal training corpora ship as tar archives of sample
files (the WebDataset convention: shard-NNNN.tar holding
``<key>.jpg`` / ``<key>.txt`` / ``<key>.json`` triples), read
sequentially for throughput. This operator walks the format natively:
512-byte block framing, the ustar header layout (name, octal size,
typeflag, magic/version), END-OF-ARCHIVE detection (two zero blocks),
member padding arithmetic, and the HEADER CHECKSUM (sum of header
bytes with the chksum field read as spaces — the one integrity check
the format has). WebDataset-style sample grouping (members sharing a
basename before the first dot) is computed as an output fact.

Scope, typed verdicts: regular files ('0'/NUL) and directories ('5')
decode; POSIX pax extended headers ('x' per-file, 'g' global — path
and size overrides applied, incl. the header-size-0 >8 GiB layout)
and GNU long-name/long-link headers ('L'/'K') are DECODED (r12;
stdlib tarfile cross-validates our pax archives); genuinely
unsupported typeflags (GNU sparse 'S' et al.) raise the typed
``NotImplementedError`` ('unsupported'); a corrupted header checksum
is the 'crc_error' class; truncation, non-octal size fields and
malformed pax records are 'corrupt'.

Determinism: member names, sizes and contents are closed-form per
(group, member), so the DuckDB oracle replays every content byte —
member/sample counts, total sizes, a global-position-weighted content
sum (pins member order AND the 512-block padding arithmetic, because
position is measured in CONTENT space which only lines up if every
header/padding boundary was walked correctly).

Scale notes (100 TB): Arrow-batched ``mapInPandas`` decode map; a tar
is sequential by design (that is why WebDataset uses it), corpus
parallelism is across shards/documents; integer facts only re-enter
the JVM.

Reference: no counterpart (SURVEY.md §2l multimodal/ingest extension).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_BLK = 512


def _octal(field: bytes) -> int:
    s = field.split(b"\x00", 1)[0].strip()
    if not s:
        return 0
    try:
        return int(s, 8)
    except ValueError as exc:
        raise ValueError(f"bad octal field {field!r}") from exc


def build_tar_member(name: str, content: bytes, typeflag: bytes = b"0") -> bytes:
    """One ustar member: 512-byte header (name, mode 0644, uid/gid 0,
    size, mtime 0, ustar magic, checksum) + content padded to blocks."""
    if len(name.encode()) > 100:
        raise ValueError("fixture names stay in the 100-byte name field")
    hdr = bytearray(_BLK)
    hdr[0 : len(name.encode())] = name.encode()
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"
    hdr[116:124] = b"0000000\x00"
    hdr[124:136] = ("%011o" % len(content)).encode() + b"\x00"
    hdr[136:148] = b"00000000000\x00"
    hdr[148:156] = b" " * 8  # chksum computed over spaces
    hdr[156:157] = typeflag
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chk = sum(hdr)
    hdr[148:156] = ("%06o" % chk).encode() + b"\x00 "
    pad = (-len(content)) % _BLK
    return bytes(hdr) + content + b"\x00" * pad


def parse_pax_records(content: bytes) -> dict[str, str]:
    """POSIX pax extended-header records: '<len> <key>=<value>\\n'
    with <len> the DECIMAL length of the whole record including
    itself; malformed records are typed structural damage."""
    recs: dict[str, str] = {}
    pos = 0
    while pos < len(content):
        sp = content.find(b" ", pos)
        if sp < 0:
            raise ValueError("malformed pax record (no length delimiter)")
        try:
            ln = int(content[pos:sp])
        except ValueError as exc:
            raise ValueError("malformed pax record length") from exc
        if ln <= sp - pos + 1 or pos + ln > len(content):
            raise ValueError("pax record length out of range")
        rec = content[sp + 1 : pos + ln]
        if not rec.endswith(b"\n"):
            raise ValueError("pax record missing trailing newline")
        key, eq, val = rec[:-1].partition(b"=")
        if not eq:
            raise ValueError("pax record missing '='")
        try:
            recs[key.decode("utf-8")] = val.decode("utf-8")
        except UnicodeDecodeError as exc:
            raise ValueError("pax record is not UTF-8") from exc
        pos += ln
    return recs


def walk_tar_members(payload: bytes) -> list[tuple[str, bytes, str]]:
    """Walk a ustar/pax stream → [(name, content, typeflag)]. pax
    extended headers ('x' per-file, 'g' global) and GNU long-name/
    long-link headers ('L'/'K') are DECODED: 'path' and 'size'
    overrides apply to the following member (size BEFORE the content
    read — the >8 GiB mechanism), global records persist as defaults.
    Typed verdicts: ``NotImplementedError`` for genuinely-unsupported
    typeflags (GNU sparse et al.) ('unsupported'), ``ValueError``
    with 'CHECKSUM' for a header checksum mismatch ('crc_error'),
    plain ``ValueError`` for structural damage — including malformed
    pax records ('corrupt'). The end-of-archive marker (two zero
    blocks) is REQUIRED — a stream that just stops mid-archive is
    corrupt, which is what makes truncation detectable."""
    members: list[tuple[str, bytes, str]] = []
    pos = 0
    pax_global: dict[str, str] = {}
    pax_next: dict[str, str] = {}
    gnu_name: str | None = None
    while True:
        if pos + _BLK > len(payload):
            raise ValueError("truncated tar header block")
        hdr = payload[pos : pos + _BLK]
        if hdr == b"\x00" * _BLK:
            if pos + 2 * _BLK > len(payload):
                raise ValueError("truncated end-of-archive marker")
            if payload[pos + _BLK : pos + 2 * _BLK] != b"\x00" * _BLK:
                raise ValueError("lone zero block inside archive")
            return members
        stored = _octal(hdr[148:156])
        calc = sum(hdr[:148]) + 8 * 0x20 + sum(hdr[156:])
        if stored != calc:
            raise ValueError(
                f"tar header CHECKSUM mismatch ({stored} != {calc})"
            )
        if hdr[257:262] != b"ustar":
            raise ValueError("missing ustar magic")
        typeflag = hdr[156:157]
        name = hdr[0:100].split(b"\x00", 1)[0].decode("latin-1")
        size = _octal(hdr[124:136])
        pos += _BLK
        if typeflag in (b"x", b"g", b"L", b"K"):
            if pos + size > len(payload):
                raise ValueError("truncated tar extension content")
            ext = payload[pos : pos + size]
            pos += size + ((-size) % _BLK)
            if typeflag == b"x":
                pax_next.update(parse_pax_records(ext))
            elif typeflag == b"g":
                pax_global.update(parse_pax_records(ext))
            elif typeflag == b"L":
                gnu_name = ext.rstrip(b"\x00").decode("utf-8")
            # 'K' (long linkname): parsed and consumed; regular-file
            # walks carry no linkname fact
            continue
        if typeflag not in (b"0", b"\x00", b"5"):
            raise NotImplementedError(
                f"tar typeflag {typeflag!r}"
            )
        eff = {**pax_global, **pax_next}
        pax_next = {}
        if gnu_name is not None:
            name = gnu_name
            gnu_name = None
        if "path" in eff:
            name = eff["path"]
        if "size" in eff:
            try:
                size = int(eff["size"])
            except ValueError as exc:
                raise ValueError("pax size record not an integer") from exc
            if size < 0:
                raise ValueError("pax size record negative")
        if pos + size > len(payload):
            raise ValueError("truncated tar member content")
        content = payload[pos : pos + size]
        pos += size + ((-size) % _BLK)
        members.append((name, content, typeflag.decode("latin-1") or "0"))


# ------------------------------------------------- driver-oracled query

_TAR_GROUPS = 10  # coprime with the 11/17/13 status classes —
                  # every group exercises every verdict


def _tar_members_of(g: int) -> list[tuple[str, bytes]]:
    """WebDataset-style closed-form shard for group ``g``: 1 + g % 3
    samples, each contributing a ``.txt`` member (40 + 8*s + g bytes of
    the lattice ``(13 i + 19 s + 23 g) % 251``) and, for even s, a
    ``.bin`` sibling (24 + 4*s bytes of ``(17 i + 7 s + 29 g) % 251``)
    under the same sample key ``sample<g>_<s>``."""
    out = []
    for s in range(1 + g % 3):
        key = f"sample{g}_{s}"
        out.append(
            (
                f"{key}.txt",
                bytes((13 * i + 19 * s + 23 * g) % 251
                      for i in range(40 + 8 * s + g)),
            )
        )
        if s % 2 == 0:
            out.append(
                (
                    f"{key}.bin",
                    bytes((17 * i + 7 * s + 29 * g) % 251
                          for i in range(24 + 4 * s)),
                )
            )
    return out


def _tar_payload(doc_id: int) -> bytes:
    g = doc_id % _TAR_GROUPS
    body = b"".join(
        build_tar_member(name, content) for name, content in _tar_members_of(g)
    )
    payload = body + b"\x00" * (2 * _BLK)
    if doc_id % 17 == 2 and doc_id % 11 == 3:
        pass  # exclusive classes; combinations fall through to corrupt
    if doc_id % 17 == 2 and doc_id % 11 != 3:
        # corrupt the FIRST header's checksum field (one octal digit)
        payload = payload[:148] + b"7" + payload[149:]
    if doc_id % 13 == 5 and doc_id % 17 != 2 and doc_id % 11 != 3:
        # patch the first member's typeflag to GNU sparse — still
        # honestly unsupported (pax/'L' graduated to decoded in the
        # ingest_tar_pax_walk sibling, so the marker moved)
        payload = payload[:156] + b"S" + payload[157:]
        # keep the header checksum VALID so the typed routing is what
        # fires, not the integrity check: recompute it
        hdr = bytearray(payload[:_BLK])
        hdr[148:156] = b" " * 8
        chk = sum(hdr)
        hdr[148:156] = ("%06o" % chk).encode() + b"\x00 "
        payload = bytes(hdr) + payload[_BLK:]
    if doc_id % 11 == 3:
        payload = payload[: len(payload) - _BLK - 7]
        # drops the final zero block AND cuts into the first one: the
        # end-of-archive marker can never re-align (tail-drop rule)
    return payload


def _tar_key(doc_id: int) -> tuple:
    return (doc_id % _TAR_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _tar_facts(doc_id: int) -> tuple:
    members = walk_tar_members(_tar_payload(doc_id))
    samples = {n.rsplit(".", 1)[0] for n, _c, _t in members}
    csum = wsum = off = 0
    for _n, c, _t in members:
        for i, b in enumerate(c):
            csum += b
            wsum += (off + i + 1) * b
        off += len(c)
    names_len = sum(len(n) for n, _c, _t in members)
    return (
        "decoded", len(members), len(samples), off, csum, wsum,
        names_len,
    )


def _tar_oracle() -> str:
    # member layout per (g, s): a .txt always, a .bin when s % 2 = 0;
    # name 'sample<g>_<s>.<ext>' is 13 chars with single-digit g (< 10)
    # and s (< 3), .txt and .bin alike
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_TAR_GROUPS} AS g FROM documents
    ),
    sm AS (
      SELECT g, unnest(range(0, 1 + g % 3)) AS s FROM grp
    ),
    mem AS (
      SELECT g, s, 0 AS kind, 40 + 8 * s + g AS len FROM sm
      UNION ALL
      SELECT g, s, 1 AS kind, 24 + 4 * s AS len FROM sm WHERE s % 2 = 0
    ),
    offs AS (
      SELECT *, COALESCE(SUM(len) OVER (
               PARTITION BY g ORDER BY s, kind
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS off
      FROM mem
    ),
    vals AS (
      SELECT g, off + i + 1 AS gpos,
             CASE WHEN kind = 0 THEN (13 * i + 19 * s + 23 * g) % 251
                  ELSE (17 * i + 7 * s + 29 * g) % 251 END AS v
      FROM (SELECT *, unnest(range(0, len)) AS i FROM offs)
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(*) FROM mem WHERE mem.g = v.g) AS INT)
               AS n_members,
             CAST((SELECT COUNT(*) FROM sm WHERE sm.g = v.g) AS INT)
               AS n_samples,
             CAST(COUNT(*) AS BIGINT) AS total_bytes,
             CAST(SUM(v.v) AS BIGINT) AS content_sum,
             CAST(SUM(v.gpos * v.v) AS BIGINT) AS wsum,
             CAST((SELECT 13 * COUNT(*)
                   FROM mem WHERE mem.g = v.g) AS INT) AS names_len
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_members END AS n_members,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_samples END AS n_samples,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.total_bytes END AS total_bytes,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.wsum END AS wsum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.names_len END AS names_len
    FROM documents d
    JOIN sums s ON d.doc_id % {_TAR_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_tar_member_walk", oracle=_tar_oracle())
def ingest_tar_member_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-shard ingestion: native POSIX ustar walk — 512-byte
    block framing, octal header fields, the header CHECKSUM verified
    per member, end-of-archive marker required (a stream that just
    stops is 'corrupt' — that is what makes truncation detectable) —
    plus the WebDataset sample grouping (members sharing a basename)
    as an oracled fact. The position-weighted content sum is measured
    in CONTENT space, so it only matches if every header/padding
    block boundary was walked correctly. Typed verdicts: truncation
    ('corrupt'), a corrupted checksum digit ('crc_error'), a PAX
    extended header with a VALID checksum ('unsupported' — proving the
    typed routing fires, not the integrity check).

    Scale notes (100 TB): Arrow-batched mapInPandas decode map; only
    integer facts re-enter the JVM; shard-level parallelism is the
    WebDataset design this walk serves."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_tar_batches", _tar_key, _tar_facts,
        "doc_id long, status string, n_members int, n_samples int, "
        "total_bytes long, content_sum long, wsum long, names_len int",
        value_errors=(("CHECKSUM", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")


# --------------------------------------- pax / long-name oracled query

_TP_GROUPS = 10


def encode_pax_records(recs: dict[str, str]) -> bytes:
    """'<len> <key>=<value>\\n' with the self-including decimal length
    (the length of the length field changes the length — the classic
    pax fixed point, solved by trying widths)."""
    out = bytearray()
    for k, v in recs.items():
        body = f" {k}={v}\n".encode("utf-8")
        ln = len(body) + 1
        while len(str(ln)) + len(body) != ln:
            ln = len(str(ln)) + len(body)
        out += str(ln).encode() + body
    return bytes(out)


def _build_member_raw(
    name100: str, content: bytes, typeflag: bytes,
    header_size: int | None = None,
) -> bytes:
    """build_tar_member with a declarable header size field (pax size
    overrides write the REAL size in the extended header and 0 here —
    the >8 GiB layout); block padding always follows the REAL
    content."""
    hdr = bytearray(_BLK)
    nb = name100.encode()
    if len(nb) > 100:
        raise ValueError("header name field is 100 bytes")
    hdr[0 : len(nb)] = nb
    hdr[100:108] = b"0000644\x00"
    hdr[108:116] = b"0000000\x00"
    hdr[116:124] = b"0000000\x00"
    hsize = len(content) if header_size is None else header_size
    hdr[124:136] = ("%011o" % hsize).encode() + b"\x00"
    hdr[136:148] = b"00000000000\x00"
    hdr[148:156] = b" " * 8
    hdr[156:157] = typeflag
    hdr[257:263] = b"ustar\x00"
    hdr[263:265] = b"00"
    chk = sum(hdr)
    hdr[148:156] = ("%06o" % chk).encode() + b"\x00 "
    pad = (-len(content)) % _BLK
    return bytes(hdr) + content + b"\x00" * pad


def _tp_members(g: int) -> list[tuple[str, bytes]]:
    """(effective name, content) per member of group ``g`` — the
    closed forms the oracle replays."""
    return [
        ("p" * (101 + g) + "_0.txt",
         bytes((7 * i + 11 * g) % 251 for i in range(40 + g))),
        ("l" * (110 + g) + "_1.bin",
         bytes((5 * i + 13 * g) % 251 for i in range(30 + g))),
        (f"s{g}_2.txt",
         bytes((3 * i + 17 * g) % 251 for i in range(50 + g))),
        (f"n{g}_3.txt",
         bytes((11 * i + 19 * g) % 251 for i in range(20 + g))),
    ]


def _tp_payload(doc_id: int) -> bytes:
    g = doc_id % _TP_GROUPS
    m = _tp_members(g)
    body = bytearray()
    # a global header with a harmless default attribute (the 'g'
    # parse path; the attribute is not one the walk applies)
    body += _build_member_raw(
        "./GlobalHead", encode_pax_records({"comment": "fixture"}), b"g"
    )
    # member 0: pax 'x' long path (name field holds the truncation)
    pax0 = encode_pax_records({"path": m[0][0]})
    body += _build_member_raw("./PaxHeaders/0", pax0, b"x")
    body += _build_member_raw(m[0][0][:100], m[0][1], b"0")
    # member 1: GNU 'L' long name (NUL-terminated per GNU tar)
    body += _build_member_raw(
        "././@LongLink", m[1][0].encode() + b"\x00", b"L"
    )
    body += _build_member_raw(m[1][0][:100], m[1][1], b"0")
    # member 2: pax SIZE override — header size 0, real size in pax
    # (the walk misaligns unless the override is applied)
    pax2 = encode_pax_records({"size": str(len(m[2][1]))})
    body += _build_member_raw("./PaxHeaders/2", pax2, b"x")
    body += _build_member_raw(m[2][0], m[2][1], b"0", header_size=0)
    # member 3: plain
    body += _build_member_raw(m[3][0], m[3][1], b"0")
    payload = bytes(body) + b"\x00" * (2 * _BLK)
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    pax_bad = doc_id % 19 == 7 and not (corrupt or crc_err or unsup)
    if crc_err:
        payload = payload[:148] + b"7" + payload[149:]
    elif unsup:
        # GNU sparse typeflag with a RE-SEALED checksum on the first
        # header so the typed routing, not the integrity check, fires
        hdr = bytearray(payload[:_BLK])
        hdr[156:157] = b"S"
        hdr[148:156] = b" " * 8
        chk = sum(hdr)
        hdr[148:156] = ("%06o" % chk).encode() + b"\x00 "
        payload = bytes(hdr) + payload[_BLK:]
    elif pax_bad:
        # overwrite the first pax record's length with an
        # out-of-range decimal (checksum of the MEMBER header is
        # untouched; the record parser is what must fire)
        start = _BLK  # global header content block
        payload = payload[:start] + b"999" + payload[start + 3 :]
    elif corrupt:
        payload = payload[: len(payload) - _BLK - 7]
    return payload


def _tp_key(doc_id: int) -> tuple:
    return (doc_id % _TP_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5, doc_id % 19 == 7)


def _tp_facts(doc_id: int) -> tuple:
    members = walk_tar_members(_tp_payload(doc_id))
    csum = wsum = off = 0
    for _n, c, _t in members:
        for i, b in enumerate(c):
            csum += b
            wsum += (off + i + 1) * b
        off += len(c)
    return (
        "decoded", len(members),
        sum(1 for n, _c, _t in members if len(n) > 100),
        sum(len(n) for n, _c, _t in members),
        off, csum, wsum,
    )


def _tp_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5 OR d.doc_id % 19 = 7")
    # per-member closed forms; single-digit g keeps short names at 8
    # chars; long names are (101+g)+6 and (110+g)+6 chars
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_TP_GROUPS} AS g FROM documents
    ),
    mem AS (
      SELECT g, m,
             CASE m WHEN 0 THEN 107 + g WHEN 1 THEN 116 + g
                    ELSE 8 END AS name_len,
             CASE m WHEN 0 THEN 40 + g WHEN 1 THEN 30 + g
                    WHEN 2 THEN 50 + g ELSE 20 + g END AS clen
      FROM grp, LATERAL (SELECT unnest(range(0, 4)) AS m)
    ),
    offs AS (
      SELECT g, m, name_len, clen,
             COALESCE(SUM(clen) OVER (PARTITION BY g ORDER BY m
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS off
      FROM mem
    ),
    bytes_ AS (
      SELECT g, m, off, i,
             CASE m
               WHEN 0 THEN (7 * i + 11 * g) % 251
               WHEN 1 THEN (5 * i + 13 * g) % 251
               WHEN 2 THEN (3 * i + 17 * g) % 251
               ELSE (11 * i + 19 * g) % 251 END AS b
      FROM offs, LATERAL (SELECT unnest(range(0, clen)) AS i)
    ),
    sums AS (
      SELECT g,
             CAST(4 AS INT) AS n_members,
             CAST(2 AS INT) AS n_long_names,
             (SELECT CAST(SUM(name_len) AS BIGINT) FROM mem
              WHERE mem.g = b.g) AS names_len,
             CAST(COUNT(*) AS BIGINT) AS total_bytes,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM((off + i + 1) * b) AS BIGINT) AS wsum
      FROM bytes_ b GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                WHEN d.doc_id % 19 = 7 THEN 'corrupt'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_members END AS n_members,
           CASE WHEN {bad} THEN 0 ELSE s.n_long_names END
             AS n_long_names,
           CASE WHEN {bad} THEN 0 ELSE s.names_len END AS names_len,
           CASE WHEN {bad} THEN 0 ELSE s.total_bytes END AS total_bytes,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_TP_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_tar_pax_walk", oracle=_tp_oracle())
def ingest_tar_pax_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tar extensions real archives carry, decoded end to end:
    POSIX pax per-file headers ('x') overriding 100-byte-field-busting
    paths, the pax SIZE override written as header-size-0 + extended
    record (the >8 GiB layout — the walk provably applies it or every
    subsequent boundary misaligns), a global header ('g') with a
    default attribute, and GNU long-name ('L') members, all under the
    format's header checksums. Effective names/sizes are closed-form,
    so the oracle replays name lengths, content bytes and the
    position-weighted sum that pins every padding boundary. Typed
    verdicts: truncation and a malformed pax record length
    ('corrupt'), a checksum digit ('crc_error'), GNU sparse under a
    re-sealed checksum ('unsupported').

    Scale notes (100 TB): same Arrow-batched per-shard decode map as
    ingest_tar_member_walk; sequential within a shard by design
    (WebDataset), parallel across shards."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_tp_batches", _tp_key, _tp_facts,
        "doc_id long, status string, n_members int, n_long_names int, "
        "names_len long, total_bytes long, content_sum long, wsum long",
        value_errors=(("CHECKSUM", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
