"""WARC record walk (ISO 28500) — the Common Crawl container.

Web-scale text pipelines start from WARC: CRLF-framed records with a
``WARC/1.x`` version line, named header fields, a Content-Length-sized
block, and a two-CRLF trailer. Real crawl WARCs carry a
``WARC-Block-Digest: sha1:<base32>`` per record; this walk verifies it
(stdlib ``hashlib`` SHA-1 + base32 — both ship with CPython), making
record-level integrity a first-class typed verdict exactly like the
CRC classes in the sibling walks.

Honest scope: the RECORD layer is complete — version-line dispatch
(1.0/1.1 decode; anything else is the typed 'unsupported' boundary),
case-insensitive header-field parse, mandatory-field presence
(WARC-Type, WARC-Record-ID, WARC-Date, Content-Length), block framing
with the exact two-CRLF trailer, digest verification, and per-type
record accounting. HTTP parsing INSIDE response blocks is a payload
concern (the text operators' job once extracted) and stays out of
scope on purpose.

Determinism: block bytes are a closed-form lattice per (group,
record), header values are fixed literals — the oracle replays every
block byte plus the per-type counts. Statuses: 'decoded', 'corrupt'
(tail truncation), 'crc_error' (a corrupted stored digest character —
proves SHA-1 verification executes), 'unsupported' (a WARC/0.18
version line, the pre-standard format).

Scale notes (100 TB): Arrow-batched ``mapInPandas`` decode map; WARC
files are sequential by design, corpus parallelism is across the
crawl's thousands of WARC files — the Common Crawl layout itself.

Reference: no counterpart (SURVEY.md §2l multimodal/ingest extension).
"""

from __future__ import annotations

import base64
import hashlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_CRLF = b"\r\n"


def _sha1_b32(block: bytes) -> str:
    return base64.b32encode(hashlib.sha1(block).digest()).decode()


def build_warc_record(
    rtype: str,
    record_id: str,
    block: bytes,
    date: str = "2024-01-01T00:00:00Z",
    digest: bool = True,
    version: str = "1.0",
) -> bytes:
    hdr = [f"WARC/{version}"]
    hdr.append(f"WARC-Type: {rtype}")
    hdr.append(f"WARC-Record-ID: <urn:uuid:{record_id}>")
    hdr.append(f"WARC-Date: {date}")
    if digest:
        hdr.append(f"WARC-Block-Digest: sha1:{_sha1_b32(block)}")
    hdr.append(f"Content-Length: {len(block)}")
    head = _CRLF.join(line.encode() for line in hdr) + _CRLF + _CRLF
    return head + block + _CRLF + _CRLF


def walk_warc_records(payload: bytes) -> list[tuple[str, bytes]]:
    """Walk concatenated WARC records → [(warc_type, block)]. Typed
    verdicts: ``NotImplementedError`` for non-1.x versions
    ('unsupported'), ``ValueError`` with 'DIGEST' for a failed
    WARC-Block-Digest ('crc_error'), plain ``ValueError`` for
    structural damage ('corrupt')."""
    records: list[tuple[str, bytes]] = []
    pos = 0
    if not payload:
        raise ValueError("empty WARC payload")
    while pos < len(payload):
        end = payload.find(_CRLF, pos)
        if end < 0:
            raise ValueError("truncated WARC version line")
        version = payload[pos:end]
        if not version.startswith(b"WARC/"):
            raise ValueError(f"bad WARC version line {version!r}")
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise NotImplementedError(
                f"WARC version {version[5:].decode('latin-1')}"
            )
        pos = end + 2
        fields: dict[str, str] = {}
        while True:
            end = payload.find(_CRLF, pos)
            if end < 0:
                raise ValueError("truncated WARC header block")
            line = payload[pos:end]
            pos = end + 2
            if not line:
                break
            name, sep, value = line.partition(b":")
            if not sep:
                raise ValueError(f"malformed WARC header line {line!r}")
            fields[name.strip().lower().decode("latin-1")] = (
                value.strip().decode("latin-1")
            )
        for required in ("warc-type", "warc-record-id", "warc-date",
                         "content-length"):
            if required not in fields:
                raise ValueError(f"missing mandatory WARC field {required}")
        try:
            length = int(fields["content-length"])
        except ValueError as exc:
            raise ValueError("non-numeric Content-Length") from exc
        if pos + length + 4 > len(payload):
            raise ValueError("truncated WARC block")
        block = payload[pos : pos + length]
        pos += length
        if payload[pos : pos + 4] != _CRLF + _CRLF:
            raise ValueError("missing WARC record trailer")
        pos += 4
        digest = fields.get("warc-block-digest")
        if digest is not None:
            if not digest.startswith("sha1:"):
                raise NotImplementedError(
                    f"WARC digest algorithm {digest.split(':', 1)[0]}"
                )
            if digest[5:] != _sha1_b32(block):
                raise ValueError("WARC block DIGEST mismatch")
        records.append((fields["warc-type"], block))
    return records


# ------------------------------------------------- driver-oracled query

_WARC_GROUPS = 8


def _warc_blocks_of(g: int) -> list[tuple[str, bytes]]:
    """Closed-form crawl slice for group ``g``: one warcinfo record
    (16 + g fixed bytes) then 1 + g % 3 response records; response r
    holds 48 + 16*r + g bytes of ``(21 i + 17 r + 37 g) % 251``."""
    out = [("warcinfo", bytes((5 * i + g) % 251 for i in range(16 + g)))]
    for r in range(1 + g % 3):
        out.append(
            (
                "response",
                bytes((21 * i + 17 * r + 37 * g) % 251
                      for i in range(48 + 16 * r + g)),
            )
        )
    return out


def _warc_payload(doc_id: int) -> bytes:
    g = doc_id % _WARC_GROUPS
    payload = b"".join(
        build_warc_record(rtype, f"{g}-{k}", block)
        for k, (rtype, block) in enumerate(_warc_blocks_of(g))
    )
    if doc_id % 17 == 2 and doc_id % 11 != 3:
        # corrupt the FIRST record's stored digest (base32 is A-Z2-7,
        # so swapping A<->B always changes the value)
        i = payload.index(b"sha1:") + 5
        repl = b"B" if payload[i : i + 1] == b"A" else b"A"
        payload = payload[:i] + repl + payload[i + 1 :]
    if doc_id % 13 == 5 and doc_id % 17 != 2 and doc_id % 11 != 3:
        payload = payload.replace(b"WARC/1.0", b"WARC/0.18", 1)
    if doc_id % 11 == 3:
        payload = payload[:-3]  # cut inside the final record trailer
    return payload


def _warc_key(doc_id: int) -> tuple:
    return (doc_id % _WARC_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _warc_facts(doc_id: int) -> tuple:
    records = walk_warc_records(_warc_payload(doc_id))
    csum = wsum = off = 0
    for _t, block in records:
        for i, b in enumerate(block):
            csum += b
            wsum += (off + i + 1) * b
        off += len(block)
    n_resp = sum(1 for t, _b in records if t == "response")
    return (
        "decoded", len(records), n_resp, off, csum, wsum,
    )


def _warc_oracle() -> str:
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_WARC_GROUPS} AS g FROM documents
    ),
    rec AS (
      SELECT g, 0 AS r, 0 AS is_resp, 16 + g AS len FROM grp
      UNION ALL
      SELECT g, 1 + r AS r, 1 AS is_resp, 48 + 16 * r + g AS len
      FROM (SELECT g, unnest(range(0, 1 + g % 3)) AS r FROM grp)
    ),
    offs AS (
      SELECT *, COALESCE(SUM(len) OVER (
               PARTITION BY g ORDER BY r
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ), 0) AS off
      FROM rec
    ),
    vals AS (
      SELECT g, off + i + 1 AS gpos,
             CASE WHEN is_resp = 0 THEN (5 * i + g) % 251
                  ELSE (21 * i + 17 * (r - 1) + 37 * g) % 251 END AS v
      FROM (SELECT *, unnest(range(0, len)) AS i FROM offs)
    ),
    sums AS (
      SELECT v.g,
             CAST((SELECT COUNT(*) FROM rec WHERE rec.g = v.g) AS INT)
               AS n_records,
             CAST((SELECT COALESCE(SUM(is_resp), 0) FROM rec
                   WHERE rec.g = v.g) AS INT) AS n_responses,
             CAST(COUNT(*) AS BIGINT) AS total_bytes,
             CAST(SUM(v.v) AS BIGINT) AS content_sum,
             CAST(SUM(v.gpos * v.v) AS BIGINT) AS wsum
      FROM vals v GROUP BY v.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_records END AS n_records,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_responses END AS n_responses,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.total_bytes END AS total_bytes,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2
                     OR d.doc_id % 13 = 5
                THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_WARC_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_warc_record_walk", oracle=_warc_oracle())
def ingest_warc_record_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Common Crawl WARC ingestion: the complete record layer —
    version-line dispatch, case-insensitive header parse with
    mandatory-field checks, Content-Length block framing with the
    exact two-CRLF trailer, per-record SHA-1 block-digest verification
    (real crawl WARCs carry these), per-type accounting (warcinfo vs
    response). Oracle replays every block byte in closed form plus the
    type counts. Typed verdicts: truncation ('corrupt'), a corrupted
    stored digest ('crc_error' — proves SHA-1 verification executes),
    the pre-standard WARC/0.18 version ('unsupported').

    Scale notes (100 TB): Arrow-batched mapInPandas decode map;
    sequential within a WARC file by design, parallel across the
    crawl's file set — the Common Crawl layout itself."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_warc_batches", _warc_key, _warc_facts,
        "doc_id long, status string, n_records int, n_responses int, "
        "total_bytes long, content_sum long, wsum long",
        value_errors=(("DIGEST", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
