"""Native CBOR walk (RFC 8949) — the IoT / COSE / WebAuthn wire
format decoded from the spec with no cbor library: all five integer
widths (immediate, 1/2/4/8-byte), negative-integer offset encoding,
byte and text strings (definite and indefinite chunked), arrays and
maps (definite and indefinite with the 0xFF break), tags, simple
values, and all three float widths including the half-precision
(binary16) decode written out by hand.

The walk enforces the spec's two distinct failure layers and types
them separately: WELL-FORMEDNESS (reserved additional-info values
28-30, a break outside an indefinite container, truncation, an
8-byte length that overruns the payload) raises ValueError →
'corrupt'; VALIDITY (RFC 8949 §5.3: duplicate map keys; §3.1: text
strings must be valid UTF-8) is a well-formed document that a
generic decoder must still reject → 'invalid'. Conflating the two is
the classic CBOR implementation bug.

Correctness evidence: the RFC 8949 Appendix A published test vectors
are pinned in tests/test_cbor_walk.py (hex → expected value, across
every major type, width, float form and indefinite form), so the
decoder is checked against the SPEC's own bytes, not this repo's
encoder; the runtime fixture is then built by a separate minimal
encoder and the DuckDB oracle replays the fact lattice (item
counts by major type, integer sum, text/byte-string byte totals,
nesting depth, milli-quantized float sum) without seeing a CBOR
byte.

Reference: RFC 8949 (public); no repo counterpart (SURVEY.md §2l).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_BREAK = object()


def _half_to_float(h: int) -> float:
    """binary16 → float, decoded per IEEE 754 by hand (RFC 8949
    Appendix D shows the same construction)."""
    sign = -1.0 if h & 0x8000 else 1.0
    exp = (h >> 10) & 0x1F
    frac = h & 0x3FF
    if exp == 0:
        return sign * frac * 2.0 ** -24
    if exp == 31:
        return sign * (float("nan") if frac else float("inf"))
    return sign * (1 + frac / 1024.0) * 2.0 ** (exp - 15)


class _Cbor:
    """One-pass decoder accumulating the fact lattice."""

    def __init__(self, data: bytes):
        self.d = data
        self.pos = 0
        self.counts = [0] * 8  # items per major type
        self.int_sum = 0
        self.text_bytes = 0
        self.bstr_bytes = 0
        self.float_milli = 0
        self.max_depth = 0
        self.invalid: str | None = None  # validity (not well-formedness)

    def _take(self, n: int) -> bytes:
        out = self.d[self.pos : self.pos + n]
        if len(out) != n:
            raise ValueError("cbor payload truncated")
        self.pos += n
        return out

    def _head(self) -> tuple[int, int | None, int]:
        """(major type, argument, additional info) — argument None
        means indefinite; mt 7 needs the raw additional info to tell
        float widths from simple values."""
        b = self._take(1)[0]
        mt, ai = b >> 5, b & 0x1F
        if ai < 24:
            return mt, ai, ai
        if ai == 24:
            return mt, self._take(1)[0], ai
        if ai == 25:
            return mt, struct.unpack(">H", self._take(2))[0], ai
        if ai == 26:
            return mt, struct.unpack(">I", self._take(4))[0], ai
        if ai == 27:
            return mt, struct.unpack(">Q", self._take(8))[0], ai
        if ai == 31:
            if mt in (0, 1, 6):
                raise ValueError("indefinite length on an integer/tag")
            return mt, None, ai
        raise ValueError(f"reserved additional info {ai}")

    def _string_body(self, mt: int, arg: int | None) -> bytes:
        if arg is not None:
            return self._take(arg)
        # indefinite string: definite-length chunks of the SAME major
        # type until break (RFC 8949 §3.2.3)
        out = bytearray()
        while True:
            if self.pos >= len(self.d):
                raise ValueError("unterminated indefinite string")
            if self.d[self.pos] == 0xFF:
                self.pos += 1
                return bytes(out)
            cmt, carg, _ = self._head()
            if cmt != mt or carg is None:
                raise ValueError("bad chunk inside indefinite string")
            out += self._take(carg)

    def item(self, depth: int = 0):
        """Decode one data item; returns the value (strings as bytes,
        containers as tuples) so map keys can be compared for the
        duplicate-key validity check."""
        if depth > 200:
            raise ValueError("cbor nesting too deep")
        self.max_depth = max(self.max_depth, depth)
        mt, arg, ai = self._head()
        if mt == 0:
            self.counts[0] += 1
            self.int_sum += arg
            return arg
        if mt == 1:
            self.counts[1] += 1
            v = -1 - arg
            self.int_sum += v
            return v
        if mt == 2:
            body = self._string_body(2, arg)
            self.counts[2] += 1
            self.bstr_bytes += len(body)
            return body
        if mt == 3:
            body = self._string_body(3, arg)
            self.counts[3] += 1
            self.text_bytes += len(body)
            try:
                body.decode("utf-8")
            except UnicodeDecodeError:
                self.invalid = "text string is not UTF-8"
            return ("tstr", body)
        if mt == 4:
            self.counts[4] += 1
            out = []
            if arg is None:
                while True:
                    if self.pos >= len(self.d):
                        raise ValueError("unterminated indefinite array")
                    if self.d[self.pos] == 0xFF:
                        self.pos += 1
                        break
                    out.append(self.item(depth + 1))
            else:
                for _ in range(arg):
                    out.append(self.item(depth + 1))
            return tuple(out)
        if mt == 5:
            self.counts[5] += 1
            keys = []
            vals = []
            if arg is None:
                while True:
                    if self.pos >= len(self.d):
                        raise ValueError("unterminated indefinite map")
                    if self.d[self.pos] == 0xFF:
                        self.pos += 1
                        break
                    keys.append(self.item(depth + 1))
                    vals.append(self.item(depth + 1))
            else:
                for _ in range(arg):
                    keys.append(self.item(depth + 1))
                    vals.append(self.item(depth + 1))
            seen = set()
            for k in keys:
                if k in seen:
                    self.invalid = "duplicate map key"
                seen.add(k)
            return tuple(zip(keys, vals))
        if mt == 6:
            self.counts[6] += 1
            return ("tag", arg, self.item(depth + 1))
        # mt == 7: floats, simple values, break
        if arg is None:
            raise ValueError("break outside an indefinite container")
        self.counts[7] += 1
        if ai == 25:
            f = _half_to_float(arg)
        elif ai == 26:
            f = struct.unpack(">f", struct.pack(">I", arg))[0]
        elif ai == 27:
            f = struct.unpack(">d", struct.pack(">Q", arg))[0]
        else:
            # simple value (false/true/null/undefined or numbered)
            return ("simple", arg)
        if f == f and f not in (float("inf"), float("-inf")):
            self.float_milli += round(f * 1000)
        return ("float", f)


def walk_cbor(data: bytes) -> dict:
    """Decode ONE top-level CBOR data item → fact lattice. ValueError
    for not-well-formed bytes ('corrupt'); a well-formed but INVALID
    document (duplicate map key, non-UTF-8 text) returns
    status='invalid' with the offending rule."""
    dec = _Cbor(data)
    try:
        dec.item()
    except (IndexError, struct.error, OverflowError, RecursionError) as exc:
        raise ValueError(f"malformed cbor ({exc})") from exc
    if dec.pos != len(data):
        raise ValueError("trailing bytes after the cbor item")
    return {
        "status": "invalid" if dec.invalid else "decoded",
        "why_invalid": dec.invalid,
        "counts": dec.counts,
        "n_items": sum(dec.counts),
        "int_sum": dec.int_sum,
        "text_bytes": dec.text_bytes,
        "bstr_bytes": dec.bstr_bytes,
        "float_milli": dec.float_milli,
        "max_depth": dec.max_depth,
    }


# ----------------------------------------------------- fixture encoder

def _enc_head(mt: int, n: int) -> bytes:
    if n < 24:
        return bytes([(mt << 5) | n])
    if n < 256:
        return bytes([(mt << 5) | 24, n])
    if n < 65536:
        return bytes([(mt << 5) | 25]) + struct.pack(">H", n)
    if n < 2**32:
        return bytes([(mt << 5) | 26]) + struct.pack(">I", n)
    return bytes([(mt << 5) | 27]) + struct.pack(">Q", n)


def _enc_int(v: int) -> bytes:
    return _enc_head(0, v) if v >= 0 else _enc_head(1, -1 - v)


_CB_GROUPS = 6


def _cb_payload(doc_id: int) -> bytes:
    """Deterministic nested document for doc_id's group, then fault
    injection: truncation / reserved head ('corrupt'), duplicate map
    key / broken UTF-8 ('invalid')."""
    g = doc_id % _CB_GROUPS
    n = 40 + 25 * g
    parts = [
        # integer lattice crossing every width class
        *[_enc_int((i * i * 11 + i + 37 * g) % 70000 - 5000) for i in range(n)],
        # text strings of designed lengths (ASCII 'a'…)
        *[_enc_head(3, (i * 3 + g) % 17 + 1) + b"a" * ((i * 3 + g) % 17 + 1)
          for i in range(20)],
        # byte strings
        *[_enc_head(2, (i * 5 + g) % 13 + 2) + b"\x42" * ((i * 5 + g) % 13 + 2)
          for i in range(10)],
        # nested map {0: {1: [g, g+1]}, 1: tag(2, g)}
        _enc_head(5, 2)
        + _enc_int(0) + _enc_head(5, 1) + _enc_int(1)
        + _enc_head(4, 2) + _enc_int(g) + _enc_int(g + 1)
        + _enc_int(1) + _enc_head(6, 2) + _enc_int(g),
        # indefinite array of 3 ints, indefinite text of 2 chunks
        b"\x9f" + _enc_int(7) + _enc_int(8) + _enc_int(9 + g) + b"\xff",
        b"\x7f" + _enc_head(3, 3) + b"abc" + _enc_head(3, 2) + b"de" + b"\xff",
        # floats: half 1.5, single g/4, double g/8 (all exact)
        b"\xf9\x3e\x00",
        b"\xfa" + struct.pack(">f", g / 4),
        b"\xfb" + struct.pack(">d", g / 8),
        # simple values true/false/null
        b"\xf5", b"\xf4", b"\xf6",
    ]
    body = b"".join(parts)
    blob = _enc_head(4, n + 20 + 10 + 1 + 2 + 3 + 3) + body
    if doc_id % 11 == 5:
        return blob[: len(blob) - 7]  # truncation → corrupt
    if doc_id % 17 == 9:
        # reserved additional info 28 spliced over the FIRST ELEMENT
        # head — i.e. after the FULL (2-byte, count≥79) array head —
        # so the decoder's reserved-ai branch fires mid-item, not the
        # trailing-bytes check
        head_len = len(_enc_head(4, n + 20 + 10 + 1 + 2 + 3 + 3))
        return blob[:head_len] + b"\x1c" + blob[head_len + 1 :]
    if doc_id % 13 == 8:
        # duplicate key in the nested map: rewrite key 1 → key 0
        # (the second top-level map key head is _enc_int(1) right
        # after the inner array) — build it directly instead
        dup = (
            _enc_head(4, 1)
            + _enc_head(5, 2)
            + _enc_int(0) + _enc_int(10)
            + _enc_int(0) + _enc_int(11)
        )
        return dup
    if doc_id % 19 == 4:
        # well-formed text string carrying a lone continuation byte
        return _enc_head(4, 1) + _enc_head(3, 2) + b"\x80\x80"
    return blob


def _cb_key(doc_id: int) -> tuple:
    return (doc_id % _CB_GROUPS, doc_id % 11 == 5, doc_id % 17 == 9,
            doc_id % 13 == 8, doc_id % 19 == 4)


def _cb_facts(doc_id: int) -> tuple:
    f = walk_cbor(_cb_payload(doc_id))
    return (
        f["status"], f["n_items"], f["int_sum"],
        f["text_bytes"], f["bstr_bytes"],
        f["float_milli"], f["max_depth"],
    )


def _cb_oracle() -> str:
    # fault precedence mirrors _cb_payload's if-chain
    corrupt = "(d.doc_id % 11 = 5 OR (d.doc_id % 11 <> 5 AND d.doc_id % 17 = 9))"
    dup = ("(d.doc_id % 11 <> 5 AND d.doc_id % 17 <> 9 "
           "AND d.doc_id % 13 = 8)")
    utf8 = ("(d.doc_id % 11 <> 5 AND d.doc_id % 17 <> 9 "
            "AND d.doc_id % 13 <> 8 AND d.doc_id % 19 = 4)")
    # clean-document lattice per group g:
    #   n = 40 + 25g ints, 20 tstr, 10 bstr,
    #   map(2 keys: inner map(1)->array(2 ints), tag->int) = items:
    #     outer map 1 + key0 1 + inner map 1 + key1(inner) 1 + array 1
    #     + 2 ints + key1 1 + tag 1 + tagged int 1  = ints: keys 0,1,
    #     inner key 1, array g,g+1, tagged g → 6 ints, 3 containers+tag
    #   indefinite array 1 + 3 ints; indefinite tstr 1 (5 text bytes)
    #   3 floats + 3 simples (mt7 → 6 items)
    #   top-level array wrapper 1
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_CB_GROUPS} AS g FROM documents
    ),
    ints AS (
      SELECT r.g,
             CAST(SUM((i * i * 11 + i + 37 * r.g) % 70000 - 5000) AS BIGINT)
               AS lattice_sum,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM (SELECT g, 40 + 25 * g AS n FROM grp) r,
           LATERAL (SELECT unnest(range(0, r.n)) AS i)
      GROUP BY r.g
    ),
    texts AS (
      SELECT g.g,
             CAST(SUM((i * 3 + g.g) % 17 + 1) AS BIGINT) AS tbytes
      FROM grp g, LATERAL (SELECT unnest(range(0, 20)) AS i)
      GROUP BY g.g
    ),
    bstrs AS (
      SELECT g.g,
             CAST(SUM((i * 5 + g.g) % 13 + 2) AS BIGINT) AS bbytes
      FROM grp g, LATERAL (SELECT unnest(range(0, 10)) AS i)
      GROUP BY g.g
    ),
    clean AS (
      SELECT i.g,
             -- wrapper + ints + 20 tstr + 10 bstr + map block(10)
             -- + indef array(4) + indef tstr(1) + mt7(6)
             CAST(1 + i.n + 20 + 10 + 10 + 4 + 1 + 6 AS BIGINT) AS n_items,
             CAST(i.lattice_sum
                  + 0 + 1 + 1 + i.g + (i.g + 1) + i.g   -- map-block ints
                  + 7 + 8 + (9 + i.g)                   -- indefinite array
               AS BIGINT) AS int_sum,
             CAST(t.tbytes + 5 AS BIGINT) AS text_bytes,
             b.bbytes AS bstr_bytes,
             -- 1.5 + g/4 + g/8 in millis
             CAST(1500 + 250 * i.g + 125 * i.g AS BIGINT) AS float_milli,
             -- wrapper 0 → map 1 → inner map kv 2 → array 3 → ints 4
             4 AS max_depth
      FROM ints i JOIN texts t ON i.g = t.g JOIN bstrs b ON i.g = b.g
    )
    SELECT d.doc_id,
           CASE WHEN {corrupt} THEN 'corrupt'
                WHEN {dup} THEN 'invalid'
                WHEN {utf8} THEN 'invalid'
                ELSE 'decoded' END AS status,
           CASE WHEN {corrupt} THEN 0
                WHEN {dup} THEN 6 WHEN {utf8} THEN 2
                ELSE c.n_items END AS n_items,
           CASE WHEN {corrupt} THEN 0
                WHEN {dup} THEN 21 WHEN {utf8} THEN 0
                ELSE c.int_sum END AS int_sum,
           CASE WHEN {corrupt} OR {dup} THEN 0
                WHEN {utf8} THEN 2
                ELSE c.text_bytes END AS text_bytes,
           CASE WHEN {corrupt} OR {dup} OR {utf8} THEN 0
                ELSE c.bstr_bytes END AS bstr_bytes,
           CASE WHEN {corrupt} OR {dup} OR {utf8} THEN 0
                ELSE c.float_milli END AS float_milli,
           CASE WHEN {corrupt} THEN 0 WHEN {dup} THEN 2
                WHEN {utf8} THEN 1
                ELSE c.max_depth END AS max_depth
    FROM documents d
    JOIN clean c ON d.doc_id % {_CB_GROUPS} = c.g
    ORDER BY d.doc_id
    """


@register("ingest_cbor_walk", oracle=_cb_oracle())
def ingest_cbor_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 8949 CBOR decode with no cbor library: every head width,
    negative-integer offsets, definite + indefinite strings/arrays/
    maps with break handling, tags, simple values, and all three
    float widths including a hand-written binary16 decode — with the
    spec's well-formedness layer (reserved additional info,
    truncation, stray break → 'corrupt') typed SEPARATELY from its
    validity layer (duplicate map keys, non-UTF-8 text → 'invalid'),
    which is the distinction RFC 8949 §5 makes and careless decoders
    drop. The decoder is pinned to the RFC's own Appendix A vectors
    in tests; the runtime fixture's fact lattice (item counts,
    integer sum, string byte totals, milli-exact float sum, nesting
    depth) is replayed by the DuckDB oracle.

    Scale notes (100 TB): Arrow-batched mapInPandas, per-document CPU
    decode, integer facts only; the only shuffle is the harness
    orderBy."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_cb_batches", _cb_key, _cb_facts,
        "doc_id long, status string, n_items long, int_sum long, "
        "text_bytes long, bstr_bytes long, float_milli long, max_depth int",
    ).transform(_presentation_sort, "doc_id")
