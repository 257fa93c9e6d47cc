"""12-bit baseline JPEG (greyscale) — ITU-T T.81's extended-precision
sequential mode, the shape medical/scientific imagery ships in.

What 12-bit changes vs the 8-bit baseline decoder
(``multimodal._decode_jpeg``), all from the public spec:

- SOF0 sample precision byte = 12; level shift is 2048 (2^(P-1),
  F.1.1.3) and samples clamp to 0..4095;
- DQT tables may be 16-BIT (Pq = 1, two bytes per entry, B.2.4.1) —
  8-bit quantizers can't hold the larger quantization products;
- Huffman DC categories extend to 15 and AC sizes to 14 (F.1.2) —
  both already handled generically here because tables are read from
  the file's DHT and ``_extend`` is width-agnostic.

The general ``real_decode_image`` contract returns uint8 RGB, which
CANNOT represent 12-bit samples — so the generic path keeps its typed
``NotImplementedError`` quarantine for precision != 8 (correct, not a
gap), and this module is the dedicated entry point returning the true
12-bit plane. Greyscale only: 12-bit color would additionally need a
12-bit JFIF YCbCr variant, which real 12-bit corpora (DICOM exports)
don't use — single-component is the honest scope.

Scale notes (100 TB): identical Arrow-batched ``mapInPandas`` decode
map as every codec query; 12-bit facts are still ~50 B/row integers.

Reference: no counterpart (SURVEY.md §2l multimodal extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .multimodal import (
    _ZIGZAG,
    _BitReader,
    _BitWriter,
    _canonical_codes,
    _dct_matrix,
    _extend,
    _huff_decode,
    _JPEG_QTABLE,
)
from .walkbatch import decode_walk

_LEVEL = 2048  # 2^(12-1) level shift
_MAXVAL = 4095


def _jpeg12_huffman_spec():
    """EXTENDED-precision Huffman alphabets (T.81 F.1.2 for 12-bit
    data): DC difference categories run 0..15 (diffs to ±32767) and AC
    sizes 1..14 (coefficients to ±16383) — the 8-bit Annex K tables
    stop at 11/10 and CANNOT code 12-bit content, which is exactly why
    the mode needs its own DHT. Canonical flat layouts: 16 DC symbols
    at length 5, 226 AC symbols (EOB + ZRL + 16 runs x 14 sizes) at
    length 8; the all-ones code stays unused in both."""
    dc_bits = [0] * 16
    dc_bits[4] = 16  # sixteen 5-bit codes
    dc_vals = list(range(16))
    ac_bits = [0] * 16
    ac_bits[7] = 226  # 8-bit codes: 0..225, all-ones (255) unused
    ac_vals = [0x00, 0xF0] + [
        (run << 4) | size for run in range(16) for size in range(1, 15)
    ]
    return (dc_bits, dc_vals), (ac_bits, ac_vals)


def build_jpeg12_grey(pixels, qtable: list[int] | None = None) -> bytes:
    """Encode an ``(h, w)`` array of 0..4095 samples as a 12-bit
    baseline JPEG: SOF0 precision 12, a 16-BIT DQT (Pq=1), level shift
    2048. Uses the Annex K luminance quantizers by default (their
    entries fit 8 bits, but they are STORED 16-bit — the container
    feature under test) with the EXTENDED Huffman alphabets 12-bit
    data needs (DC categories to 15, AC sizes to 14 — see
    :func:`_jpeg12_huffman_spec`)."""
    import numpy as np

    q_rowmajor = list(qtable) if qtable is not None else list(_JPEG_QTABLE)
    q_zz = [q_rowmajor[_ZIGZAG[k]] for k in range(64)]
    h, w = pixels.shape
    bw, bh = -(-w // 8), -(-h // 8)
    t = _dct_matrix()
    qarr = np.asarray(q_zz, dtype=np.float64)
    pad = np.empty((bh * 8, bw * 8), dtype=np.float64)
    pad[:h, :w] = pixels
    pad[h:, :w] = pixels[-1:, :]
    pad[:, w:] = pad[:, w - 1 : w]

    (dc_bits, dc_vals), (ac_bits, ac_vals) = _jpeg12_huffman_spec()
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    def category(v: int) -> int:
        return int(v).bit_length() if v > 0 else int(-v).bit_length()

    def magnitude_bits(v: int, s: int) -> int:
        return v if v >= 0 else v + (1 << s) - 1

    wtr = _BitWriter()
    pred = 0
    for b in range(bw * bh):
        by, bx = divmod(b, bw)
        block = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - float(_LEVEL)
        zz = np.round((t @ block @ t.T).reshape(64)[_ZIGZAG] / qarr).astype(
            np.int64
        )
        diff = int(zz[0]) - pred
        pred = int(zz[0])
        s = category(diff)
        if s not in dc_codes:  # diff beyond ±32767: not valid 12-bit
            raise ValueError(f"DC category {s} exceeds the 12-bit range")
        code, length = dc_codes[s]
        wtr.write(code, length)
        if s:
            wtr.write(magnitude_bits(diff, s), s)
        run = 0
        for k in range(1, 64):
            v = int(zz[k])
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]
                wtr.write(code, length)
                run -= 16
            s = category(v)
            if (run << 4) | s not in ac_codes:  # |AC| > 16383
                raise ValueError(f"AC size {s} exceeds the 12-bit range")
            code, length = ac_codes[(run << 4) | s]
            wtr.write(code, length)
            wtr.write(magnitude_bits(v, s), s)
            run = 0
        if run:
            code, length = ac_codes[0x00]
            wtr.write(code, length)
    wtr.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    # Pq=1: 16-bit entries, big-endian (B.2.4.1)
    out += seg(0xDB, bytes([0x10]) + b"".join(struct.pack(">H", q) for q in q_zz))
    out += seg(0xC0, struct.pack(">BHHB", 12, h, w, 1) + bytes((1, 0x11, 0)))
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals),
    )
    out += seg(0xDA, bytes((1, 1, 0x00, 0, 63, 0)))
    out += bytes(wtr.out)
    out += b"\xff\xd9"
    return bytes(out)


def decode_jpeg12(payload: bytes):
    """Decode a 12-bit baseline greyscale JPEG → ``(w, h, plane)`` with
    ``plane`` an (h, w) int32 array of 0..4095 samples. 8-bit payloads
    belong to the general decoder (``ValueError`` routes them there);
    other precisions, multi-component 12-bit and non-baseline SOFs
    raise the typed ``NotImplementedError`` quarantine."""
    import numpy as np

    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
    w = h = 0
    tq_sel = None
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
        if marker == 0xDB:
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq == 0:
                    qtables[tq] = list(seg[off + 1 : off + 65])
                    off += 65
                elif pq == 1:  # 16-bit entries (the 12-bit staple)
                    raw = seg[off + 1 : off + 129]
                    qtables[tq] = [
                        struct.unpack(">H", raw[2 * k : 2 * k + 2])[0]
                        for k in range(64)
                    ]
                    off += 129
                else:
                    raise ValueError(f"invalid DQT precision {pq}")
        elif marker == 0xC4:
            off = 0
            while off < len(seg):
                tc, th = seg[off] >> 4, seg[off] & 0x0F
                bits = list(seg[off + 1 : off + 17])
                nvals = sum(bits)
                vals = list(seg[off + 17 : off + 17 + nvals])
                table: dict[tuple[int, int], int] = {}
                code, vi = 0, 0
                for length in range(1, 17):
                    for _ in range(bits[length - 1]):
                        table[(length, code)] = vals[vi]
                        code += 1
                        vi += 1
                    code <<= 1
                htables[(tc, th)] = table
                off += 17 + nvals
        elif marker == 0xC0:
            precision, h, w, ncomp = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if precision == 8:
                raise ValueError("8-bit JPEG: use the general decoder")
            if precision != 12:
                raise NotImplementedError(f"JPEG precision {precision}")
            if ncomp != 1:
                raise NotImplementedError("12-bit JPEG with color components")
            tq_sel = seg[8]
        elif marker == 0xC2:
            raise NotImplementedError("12-bit progressive JPEG")
        elif marker in (0xC1, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            raise NotImplementedError("non-baseline JPEG (SOF%d)" % (marker - 0xC0))
        elif marker == 0xDA:
            if tq_sel is None:
                raise ValueError("JPEG scan before SOF0")
            tables = seg[2]
            dc_table = htables[(0, tables >> 4)]
            ac_table = htables[(1, tables & 0x0F)]
            q = np.asarray(qtables[tq_sel], dtype=np.float64)
            pos += seg_len
            return _scan12(payload, pos, w, h, q, dc_table, ac_table)
        pos += seg_len
    raise ValueError("JPEG has no scan data")


def _scan12(payload, pos, w, h, q, dc_table, ac_table):
    import numpy as np

    t = _dct_matrix()
    reader = _BitReader(payload, pos)
    bw, bh = -(-w // 8), -(-h // 8)
    plane = np.empty((bh * 8, bw * 8), dtype=np.int32)
    pred = 0
    for b in range(bw * bh):
        zz = np.zeros(64, dtype=np.float64)
        s = _huff_decode(reader, dc_table)
        pred += _extend(reader.bits(s), s)
        zz[0] = pred
        k = 1
        while k < 64:
            sym = _huff_decode(reader, ac_table)
            if sym == 0x00:
                break
            if sym == 0xF0:
                k += 16
                continue
            run, size = sym >> 4, sym & 0x0F
            k += run
            if k > 63:
                raise ValueError("JPEG AC run past block end")
            zz[k] = _extend(reader.bits(size), size)
            k += 1
        block = np.zeros(64, dtype=np.float64)
        block[_ZIGZAG] = zz * q
        spatial = t.T @ block.reshape(8, 8) @ t
        by, bx = divmod(b, bw)
        plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
            np.round(spatial + float(_LEVEL)), 0, _MAXVAL
        ).astype(np.int32)
    return w, h, plane[:h, :w].copy()


# ------------------------------------------------- driver-oracled query

_J12_GROUPS = 12


def _j12_payload(doc_id: int) -> bytes:
    """Deterministic 12-bit fixture: block-constant samples at even
    offsets from 2048 spanning ±992 — far beyond 8-bit range, so a
    decoder that truncated to 8 bits or shifted by 128 fails the hash;
    q00 = 16 divides the DC (8·Δ), making the round trip EXACT.
    ``doc_id % 17 == 2`` patches the SOF precision byte to 10 (typed
    'unsupported'); ``doc_id % 11 == 3`` truncates ('corrupt')."""
    import numpy as np

    g = doc_id % _J12_GROUPS
    bw, bh = 2 + g % 3, 1 + g % 2
    vals = np.empty((bh, bw), np.int32)
    for by in range(bh):
        for bx in range(bw):
            vals[by, bx] = 2048 + 2 * (((5 * bx + 3 * by + 7 * g) % 993) - 496)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    payload = build_jpeg12_grey(img)
    if doc_id % 17 == 2 and doc_id % 11 != 3:
        i = payload.index(b"\xff\xc0")
        payload = payload[: i + 4] + bytes([10]) + payload[i + 5 :]
    if doc_id % 11 == 3:
        payload = payload[: len(payload) // 2]
    return payload


def _j12_key(doc_id: int) -> tuple:
    return (doc_id % _J12_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2)


def _j12_facts(doc_id: int) -> tuple:
    import numpy as np

    w, h, plane = decode_jpeg12(_j12_payload(doc_id))
    s = plane.astype(np.int64).reshape(-1)
    weights = np.arange(1, s.size + 1, dtype=np.int64)
    return (
        "decoded", w, h, int(s.max()), int(s.sum()),
        int((s * weights).sum()),
    )


def _j12_oracle() -> str:
    v = "(2048 + 2 * (((5 * bx + 3 * by + 7 * g) % 993) - 496))"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_J12_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g, 8 * (2 + g % 3) AS w, 8 * (1 + g % 2) AS h FROM grp
    ),
    px AS (
      SELECT g, w, h, i, (i % w) // 8 AS bx, (i // w) // 8 AS by
      FROM (SELECT g, w, h, unnest(range(0, w * h)) AS i FROM dims)
    ),
    vals AS (
      SELECT g, w, h, i, {v} AS s FROM px
    ),
    sums AS (
      SELECT g, w, h,
             CAST(MAX(s) AS INT) AS max_sample,
             CAST(SUM(s) AS BIGINT) AS px_sum,
             CAST(SUM((i + 1) * s) AS BIGINT) AS wpx_sum
      FROM vals GROUP BY g, w, h
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
                ELSE s.max_sample END AS max_sample,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.px_sum END AS px_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 THEN 0
                ELSE s.wpx_sum END AS wpx_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_J12_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_jpeg12_decode", oracle=_j12_oracle())
def multimodal_jpeg12_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-BIT baseline JPEG decode (greyscale — the medical/scientific
    shape), end to end: the encoder emits real extended-precision
    streams (SOF0 precision 12, 16-bit Pq=1 quantization tables, 2048
    level shift) and the dedicated decoder returns true 12-bit samples.
    Fixtures span ±992 around 2048 — far outside 8-bit range — so the
    ``max_sample`` column (> 255 on every decoded group) proves the
    pipeline carries real 12-bit data, and the exact block-constant
    construction lets the oracle replay every sample. Typed
    quarantine: truncation ('corrupt') and a patched precision-10 SOF
    ('unsupported'). The GENERIC ``real_decode_image`` path keeps its
    typed quarantine for precision != 8 on purpose: its uint8-RGB
    contract cannot represent these samples.

    Scale notes (100 TB): same Arrow-batched mapInPandas decode map as
    every codec query; integer facts only re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_j12_batches", _j12_key, _j12_facts,
        "doc_id long, status string, width int, height int, max_sample int, "
        "px_sum long, wpx_sum long",
    ).transform(_presentation_sort, "doc_id")
