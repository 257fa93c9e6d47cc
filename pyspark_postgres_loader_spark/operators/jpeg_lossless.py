"""Lossless JPEG (SOF3) — ITU-T T.81 Annex H, the predictive mode that
DNG, DICOM and other raw/medical containers actually use.

No DCT, no quantization, no 8x8 blocks: each sample is Huffman-coded as
the DC-style (category, magnitude-bits) pair of its PREDICTION
difference, computed modulo 2^16 (H.1.2.3). The seven predictors
(H.1.2.1, selected by the scan header's Ss field):

    1: Ra        2: Rb        3: Rc        4: Ra + Rb - Rc
    5: Ra + ((Rb - Rc) >> 1)  6: Rb + ((Ra - Rc) >> 1)  7: (Ra + Rb) >> 1

with Ra = left, Rb = above, Rc = above-left neighbour. Boundary rules
(H.1.2.2): the very first sample predicts from 2^(P - Pt - 1); the rest
of the first line predicts from Ra; the first sample of every later
line predicts from Rb. The point transform Pt (SOS Al field) codes
``sample >> Pt`` and reconstructs ``Rx << Pt``.

LOSSLESS means the oracle needs no fixed-point kernel argument at all
(the FLAC precedent): whatever deterministic sample pattern the fixture
builds, the decoder must return bit-exactly, so the DuckDB oracle
simply replays the closed-form samples.

Honest scope, typed quarantine: hierarchical/differential lossless
(SOF7) and arithmetic-coded lossless (SOF11) raise
``NotImplementedError`` — same discipline as the progressive module's
unsupported modes (jpeg_progressive.py). Multi-component interleaving
and restart intervals in lossless scans are likewise quarantined, not
faked.

Scale notes (100 TB): identical Arrow-batched ``mapInPandas`` decode
map as every codec query — predictive decode is sequential WITHIN one
payload (a data dependency, like FLAC's LPC), and the corpus
parallelism is across documents, which is the axis that scales.

Reference: no counterpart (SURVEY.md §2l multimodal extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .multimodal import (
    _BitReader,
    _BitWriter,
    _canonical_codes,
    _extend,
    _huff_decode,
)
from .walkbatch import decode_walk


def _jls_huffman_spec():
    """Lossless DC-difference alphabet: categories 0..16 (H.2 — SSSS 16
    codes a difference of exactly +32768 with NO appended bits, the one
    category the DCT modes never use). 17 canonical codes at length 5;
    the all-ones code stays unused as the spec requires."""
    bits = [0] * 16
    bits[4] = 17  # seventeen 5-bit codes
    vals = list(range(17))
    return bits, vals


def _predict(a: int, b: int, c: int, sel: int) -> int:
    """Annex H.1.2.1 predictor ``sel`` over the reconstructed
    neighbours. All operands are non-negative (< 2^16), so Python's
    arithmetic shift matches the spec's integer divide by 2 for
    predictors 5-7; predictor 5/6 difference terms can be negative —
    the spec's ``>> 1`` is an arithmetic shift there, which Python's
    ``>>`` also is."""
    if sel == 1:
        return a
    if sel == 2:
        return b
    if sel == 3:
        return c
    if sel == 4:
        return a + b - c
    if sel == 5:
        return a + ((b - c) >> 1)
    if sel == 6:
        return b + ((a - c) >> 1)
    return (a + b) >> 1  # sel == 7


def build_jpeg_lossless_grey(
    pixels, predictor: int = 1, precision: int = 12, pt: int = 0
) -> bytes:
    """Encode an ``(h, w)`` array of 0..2^precision-1 samples as a
    single-component lossless JPEG: SOF3, one DC-difference Huffman
    table, scan header Ss = ``predictor`` (1..7), Al = ``pt``. Samples
    are coded as ``sample >> pt`` per the point transform, so callers
    wanting an exact round trip feed samples divisible by ``2^pt``."""
    if not 1 <= predictor <= 7:
        raise ValueError(f"lossless predictor must be 1..7, got {predictor}")
    if not 2 <= precision <= 16:
        raise ValueError(f"lossless precision must be 2..16, got {precision}")
    h, w = pixels.shape
    bits, vals = _jls_huffman_spec()
    codes = _canonical_codes(bits, vals)

    wtr = _BitWriter()
    prev_row: list[int] = []
    for y in range(h):
        row: list[int] = []
        for x in range(w):
            sample = int(pixels[y][x]) >> pt
            if y == 0 and x == 0:
                pred = 1 << (precision - pt - 1)
            elif y == 0:
                pred = row[x - 1]
            elif x == 0:
                pred = prev_row[0]
            else:
                pred = _predict(
                    row[x - 1], prev_row[x], prev_row[x - 1], predictor
                )
            diff = (sample - pred) & 0xFFFF
            if diff >= 0x8000:
                diff -= 0x10000
            if diff == -0x8000:  # ≡ +32768 (mod 2^16): SSSS 16, no bits
                s = 16
            else:
                s = int(diff).bit_length() if diff > 0 else int(-diff).bit_length()
            code, length = codes[s]
            wtr.write(code, length)
            if 0 < s < 16:
                mag = diff if diff >= 0 else diff + (1 << s) - 1
                wtr.write(mag, s)
            row.append(sample)
        prev_row = row
    wtr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # SOF3: lossless sequential, Huffman
    out += seg(0xC3, struct.pack(">BHHB", precision, h, w, 1) + bytes((1, 0x11, 0)))
    out += seg(0xC4, bytes([0x00]) + bytes(bits) + bytes(vals))
    # SOS: Ss = predictor selection, Se = 0, Ah = 0, Al = point transform
    out += seg(0xDA, bytes((1, 1, 0x00, predictor, 0, pt & 0x0F)))
    out += bytes(wtr.out)
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg_lossless(payload: bytes):
    """Decode a single-component lossless (SOF3) JPEG →
    ``(w, h, predictor, plane)`` with ``plane`` an (h, w) int32 array of
    reconstructed samples (``Rx << Pt``). Non-lossless SOFs raise
    ``ValueError`` (they belong to the other decoders); the lossless
    modes this engine honestly does not ship — hierarchical/differential
    (SOF5-7, 13-15) and arithmetic-coded (SOF11) — plus multi-component
    scans and restart intervals raise the typed ``NotImplementedError``
    quarantine."""
    import numpy as np

    pos = 2
    htables: dict[tuple[int, int], dict] = {}
    w = h = 0
    precision = None
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker in (0x01,) or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        seg_len = struct.unpack(">H", payload[pos : pos + 2])[0]
        seg = payload[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xC4:
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                nbits = list(seg[off + 1 : off + 17])
                nvals = sum(nbits)
                vals = list(seg[off + 17 : off + 17 + nvals])
                table: dict[tuple[int, int], int] = {}
                code, vi = 0, 0
                for length in range(1, 17):
                    for _ in range(nbits[length - 1]):
                        table[(length, code)] = vals[vi]
                        code += 1
                        vi += 1
                    code <<= 1
                htables[(tc, th)] = table
                off += 17 + nvals
        elif marker == 0xC3:
            precision, h, w, ncomp = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if not 2 <= precision <= 16:
                raise ValueError(f"invalid lossless precision {precision}")
            if ncomp != 1:
                raise NotImplementedError(
                    "multi-component lossless JPEG (interleaved MCU scan)"
                )
        elif marker in (0xC0, 0xC1, 0xC2):
            raise ValueError("DCT-mode JPEG: use the baseline/progressive decoders")
        elif marker in (0xC5, 0xC6, 0xC7, 0xCD, 0xCE, 0xCF):
            raise NotImplementedError(
                "hierarchical/differential JPEG (SOF%d)" % (marker - 0xC0)
            )
        elif marker in (0xC9, 0xCA, 0xCB):
            raise NotImplementedError(
                "arithmetic-coded JPEG (SOF%d)" % (marker - 0xC0)
            )
        elif marker == 0xDD:
            raise NotImplementedError("lossless JPEG with restart intervals")
        elif marker == 0xDA:
            if precision is None:
                raise ValueError("JPEG scan before SOF3")
            td = seg[2] >> 4
            sel = seg[3]  # Ss = predictor selection
            pt = seg[5] & 0x0F  # Al = point transform
            if not 1 <= sel <= 7:
                raise ValueError(f"invalid lossless predictor {sel}")
            dc_table = htables[(0, td)]
            pos += seg_len
            reader = _BitReader(payload, pos)
            plane = np.empty((h, w), dtype=np.int32)
            default = 1 << (precision - pt - 1)
            for y in range(h):
                for x in range(w):
                    s = _huff_decode(reader, dc_table)
                    diff = 32768 if s == 16 else _extend(reader.bits(s), s)
                    if y == 0 and x == 0:
                        pred = default
                    elif y == 0:
                        pred = int(plane[0, x - 1])
                    elif x == 0:
                        pred = int(plane[y - 1, 0])
                    else:
                        pred = _predict(
                            int(plane[y, x - 1]),
                            int(plane[y - 1, x]),
                            int(plane[y - 1, x - 1]),
                            sel,
                        )
                    plane[y, x] = (pred + diff) & 0xFFFF
            return w, h, sel, (plane.astype(np.int64) << pt).astype(np.int32)
        pos += seg_len
    raise ValueError("JPEG has no scan data")


# ------------------------------------------------- driver-oracled query

_JLS_GROUPS = 14  # g and g+7 share a predictor with opposite point
                  # transforms: all 7 predictors x both Pt in {0,1}


def _jls_payload(doc_id: int) -> bytes:
    """Deterministic lossless fixture: 12-bit samples in a closed-form
    lattice ``((311x + 173y + 97g) % (4096 >> pt)) << pt`` (divisible by
    2^pt, so the point transform round-trips exactly), NON-8-aligned
    dims (no block padding exists in this mode — wrong-block decoders
    fail loudly), predictor cycling 1..7 across groups.
    ``doc_id % 17 == 2`` patches SOF3 → SOF7 (hierarchical: typed
    'unsupported'); ``doc_id % 11 == 3`` truncates ('corrupt')."""
    import numpy as np

    g = doc_id % _JLS_GROUPS
    predictor, pt = 1 + g % 7, g % 2
    w, h = 13 + g, 7 + g % 5
    x = np.arange(w, dtype=np.int64)[None, :]
    y = np.arange(h, dtype=np.int64)[:, None]
    img = ((311 * x + 173 * y + 97 * g) % (4096 >> pt)) << pt
    payload = build_jpeg_lossless_grey(img, predictor=predictor, pt=pt)
    if doc_id % 17 == 2 and doc_id % 11 != 3:
        i = payload.index(b"\xff\xc3")
        payload = payload[: i + 1] + b"\xc7" + payload[i + 2 :]
    if doc_id % 11 == 3:
        payload = payload[: len(payload) // 2]
    return payload


def _jls_key(doc_id: int) -> tuple:
    return (doc_id % _JLS_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2)


def _jls_facts(doc_id: int) -> tuple:
    import numpy as np

    w, h, sel, plane = decode_jpeg_lossless(_jls_payload(doc_id))
    s = plane.astype(np.int64).reshape(-1)
    weights = np.arange(1, s.size + 1, dtype=np.int64)
    return (
        "decoded", w, h, sel, int(s.max()), int(s.sum()),
        int((s * weights).sum()),
    )


def _jls_oracle() -> str:
    # lossless ⇒ the oracle IS the sample lattice, no codec arithmetic.
    # pt ∈ {0,1}, so 2^pt == 1 + pt and 4096 >> pt == 4096 // (1 + pt):
    # spelled without bit ops for ANSI.
    v = ("(((311 * (i % w) + 173 * (i // w) + 97 * g)"
         " % (4096 // (1 + g % 2))) * (1 + g % 2))")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_JLS_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g, 13 + g AS w, 7 + g % 5 AS h, 1 + g % 7 AS sel FROM grp
    ),
    px AS (
      SELECT g, w, h, sel, unnest(range(0, w * h)) AS i FROM dims
    ),
    vals AS (
      SELECT g, w, h, sel, i, {v} AS s FROM px
    ),
    sums AS (
      SELECT g, w, h, sel,
             CAST(MAX(s) AS INT) AS max_sample,
             CAST(SUM(s) AS BIGINT) AS px_sum,
             CAST(SUM((i + 1) * s) AS BIGINT) AS wpx_sum
      FROM vals GROUP BY g, w, h, sel
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.w END AS width,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.h END AS height,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.sel END AS predictor,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.max_sample END AS max_sample,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.px_sum END AS px_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.wpx_sum END AS wpx_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_JLS_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_jpeg_lossless_decode", oracle=_jls_oracle())
def multimodal_jpeg_lossless_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LOSSLESS JPEG (SOF3) decode end to end — predictive Huffman
    difference coding, all 7 Annex H predictors (cycled across fixture
    groups, pinned by the ``predictor`` output column), both point
    transforms Pt in {0, 1}, 12-bit samples, non-8-aligned dims (the
    mode has no blocks). Because the mode is lossless the oracle
    replays the exact closed-form sample lattice — no fixed-point
    kernel argument needed, the FLAC precedent. Typed quarantine rows:
    truncation ('corrupt') and SOF3 patched to SOF7 hierarchical
    ('unsupported' — honestly unimplemented, as are arithmetic-coded
    and multi-component lossless).

    Scale notes (100 TB): same Arrow-batched mapInPandas decode map as
    every codec query; ~60 B of integer facts per row re-enter the JVM.
    """
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_jls_batches", _jls_key, _jls_facts,
        "doc_id long, status string, width int, height int, predictor int, "
        "max_sample int, px_sum long, wpx_sum long",
    ).transform(_presentation_sort, "doc_id")
