"""Arithmetic-coded sequential JPEG (SOF9) — encode AND decode, no
image library in the loop.

T.81 Annex D's QM arithmetic coder with the Annex F DC/AC
conditioning models: adaptive binary contexts per DC-difference
category and per AC index k, magnitude categories as exponent
ladders (X1..X15) with a single shared mantissa bin per ladder rung,
sign for AC from the fixed ~0.5 bin (state 113, a self-loop row) and
for DC from an adaptive per-category bin. The probability state
machine is Table D.3 (113 states + the fixed row), transcribed below
from the public standard's conformant reference data.

Scope: 8-bit sequential DCT, 1-component greyscale or 3-component
4:4:4 (all 1x1 sampling) interleaved scans, DAC-conditioned (L, U,
Kx). Subsampled layouts, restart intervals, progressive (SOF10) and
lossless (SOF11) arithmetic modes stay typed NotImplementedError
boundaries.

Correctness evidence: the entropy layer is LOSSLESS over quantized
coefficients, so the encoder/decoder pair is verified by exact
coefficient roundtrip over randomized blocks (every DC category, AC
run shape, exponent rung and mantissa bit pattern exercised), plus
pixel-exact equivalence with the independent Huffman pipeline on the
same images (same quantized coefficients → identical pixels), plus
the decode quarantine's typed-error fuzz. External arithmetic
encoders are not present in this environment; the state table is the
standard's own, so a conformant stream disagreeing with this decoder
would indicate a procedure (not table) divergence.

Why this matters at 100 TB: arithmetic entropy coding is the rare
tail of crawled JPEG corpora (most encoders emit Huffman), but a
corpus-scale ingest meets it eventually — decoding it natively turns
a quarantine class into pixels.

Reference: ITU-T T.81 Annexes D and F (public standard); no repo
counterpart (SURVEY.md §2 multimodal extension).
"""

from __future__ import annotations

import struct as _struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from .walkbatch import decode_walk

# T.81 Table D.3: (Qe, Next_Index_LPS, Next_Index_MPS, Switch_MPS)
# per state; row 113 is the fixed-probability self-loop used for AC
# signs (never leaves state 113, never flips MPS).
_ARITAB = (
    (0x5A1D, 1, 1, 1), (0x2586, 14, 2, 0), (0x1114, 16, 3, 0),
    (0x080B, 18, 4, 0), (0x03D8, 20, 5, 0), (0x01DA, 23, 6, 0),
    (0x00E5, 25, 7, 0), (0x006F, 28, 8, 0), (0x0036, 30, 9, 0),
    (0x001A, 33, 10, 0), (0x000D, 35, 11, 0), (0x0006, 9, 12, 0),
    (0x0003, 10, 13, 0), (0x0001, 12, 13, 0), (0x5A7F, 15, 15, 1),
    (0x3F25, 36, 16, 0), (0x2CF2, 38, 17, 0), (0x207C, 39, 18, 0),
    (0x17B9, 40, 19, 0), (0x1182, 42, 20, 0), (0x0CEF, 43, 21, 0),
    (0x09A1, 45, 22, 0), (0x072F, 46, 23, 0), (0x055C, 48, 24, 0),
    (0x0406, 49, 25, 0), (0x0303, 51, 26, 0), (0x0240, 52, 27, 0),
    (0x01B1, 54, 28, 0), (0x0144, 56, 29, 0), (0x00F5, 57, 30, 0),
    (0x00B7, 59, 31, 0), (0x008A, 60, 32, 0), (0x0068, 62, 33, 0),
    (0x004E, 63, 34, 0), (0x003B, 32, 35, 0), (0x002C, 33, 9, 0),
    (0x5AE1, 37, 37, 1), (0x484C, 64, 38, 0), (0x3A0D, 65, 39, 0),
    (0x2EF1, 67, 40, 0), (0x261F, 68, 41, 0), (0x1F33, 69, 42, 0),
    (0x19A8, 70, 43, 0), (0x1518, 72, 44, 0), (0x1177, 73, 45, 0),
    (0x0E74, 74, 46, 0), (0x0BFB, 75, 47, 0), (0x09F8, 77, 48, 0),
    (0x0861, 78, 49, 0), (0x0706, 79, 50, 0), (0x05CD, 48, 51, 0),
    (0x04DE, 50, 52, 0), (0x040F, 50, 53, 0), (0x0363, 51, 54, 0),
    (0x02D4, 52, 55, 0), (0x025C, 53, 56, 0), (0x01F8, 54, 57, 0),
    (0x01A4, 55, 58, 0), (0x0160, 56, 59, 0), (0x0125, 57, 60, 0),
    (0x00F6, 58, 61, 0), (0x00CB, 59, 62, 0), (0x00AB, 61, 63, 0),
    (0x008F, 61, 32, 0), (0x5B12, 65, 65, 1), (0x4D04, 80, 66, 0),
    (0x412C, 81, 67, 0), (0x37D8, 82, 68, 0), (0x2FE8, 83, 69, 0),
    (0x293C, 84, 70, 0), (0x2379, 86, 71, 0), (0x1EDF, 87, 72, 0),
    (0x1AA9, 87, 73, 0), (0x174E, 72, 74, 0), (0x1424, 72, 75, 0),
    (0x119C, 74, 76, 0), (0x0F6B, 74, 77, 0), (0x0D51, 75, 78, 0),
    (0x0BB6, 77, 79, 0), (0x0A40, 77, 48, 0), (0x5832, 80, 81, 1),
    (0x4D1C, 88, 82, 0), (0x438E, 89, 83, 0), (0x3BDD, 90, 84, 0),
    (0x34EE, 91, 85, 0), (0x2EAE, 92, 86, 0), (0x299A, 93, 87, 0),
    (0x2516, 86, 71, 0), (0x5570, 88, 89, 1), (0x4CA9, 95, 90, 0),
    (0x44D9, 96, 91, 0), (0x3E22, 97, 92, 0), (0x3824, 99, 93, 0),
    (0x32B4, 99, 94, 0), (0x2E17, 93, 86, 0), (0x56A8, 95, 96, 1),
    (0x4F46, 101, 97, 0), (0x47E5, 102, 98, 0), (0x41CF, 103, 99, 0),
    (0x3C3D, 104, 100, 0), (0x375E, 99, 93, 0), (0x5231, 105, 102, 0),
    (0x4C0F, 106, 103, 0), (0x4639, 107, 104, 0),
    (0x415E, 103, 99, 0), (0x5627, 105, 106, 1),
    (0x50E7, 108, 107, 0), (0x4B85, 109, 103, 0),
    (0x5597, 110, 109, 0), (0x504F, 111, 107, 0),
    (0x5A10, 110, 111, 1), (0x5522, 112, 109, 0),
    (0x59EB, 112, 111, 1), (0x5A1D, 113, 113, 0),
)

_FIXED_STATE = 113  # the self-loop ~0.5 row (AC sign coding)

# DAC conditioning defaults (T.81 Tables F.4/F.5)
_DC_L_DEFAULT = 0
_DC_U_DEFAULT = 1
_AC_KX_DEFAULT = 5

_DC_BINS = 64
_AC_BINS = 256


class ArithDecoder:
    """T.81 Annex D QM decoder over one entropy-coded segment.

    The code register ``c`` keeps the sliding 16-bit compare window
    in its high bits (``cx = c >> ct``); a byte feed appends 8 low
    bits, each renormalization consumes one. 0xFF 0x00 unstuffs to a
    literal 0xFF; 0xFF + anything else is a marker — the segment is
    over and zero bytes feed until decoding completes (the standard's
    convention)."""

    def __init__(self, data: bytes, pos: int):
        self._data = data
        self._pos = pos
        self._done = False
        self.c = 0
        self.ct = 0
        self._bytein()
        self._bytein()
        self.ct = 0  # the first 16 bits ARE the initial window
        self.a = 0x8000

    def _next_byte(self) -> int:
        d, p = self._data, self._pos
        if self._done or p >= len(d):
            return 0
        b = d[p]
        if b != 0xFF:
            self._pos = p + 1
            return b
        nxt = d[p + 1] if p + 1 < len(d) else 0xD9
        if nxt == 0x00:
            self._pos = p + 2
            return 0xFF
        self._done = True  # marker: feed zeros from here on
        return 0

    def _bytein(self) -> None:
        self.c = ((self.c << 8) | self._next_byte()) & 0xFFFFFFFF
        self.ct += 8

    def decode(self, st: bytearray, i: int) -> int:
        sv = st[i]
        mps = sv >> 7
        qe, nlps, nmps, sw = _ARITAB[sv & 0x7F]
        self.a -= qe
        if (self.c >> self.ct) < self.a:
            if self.a & 0x8000:
                return mps
            # MPS path with renorm: conditional exchange
            if self.a < qe:
                d = mps ^ 1
                st[i] = ((mps ^ sw) << 7) | nlps
            else:
                d = mps
                st[i] = (mps << 7) | nmps
        else:
            self.c -= self.a << self.ct
            if self.a < qe:
                d = mps
                st[i] = (mps << 7) | nmps
            else:
                d = mps ^ 1
                st[i] = ((mps ^ sw) << 7) | nlps
            self.a = qe
        while self.a < 0x8000:
            if self.ct == 0:
                self._bytein()
            self.ct -= 1
            self.a <<= 1
        return d


class ArithEncoder:
    """Mirror of :class:`ArithDecoder`: the interval base ``c`` is an
    arbitrary-precision integer that grows one bit per
    renormalization (fixture-scale streams are small, so big-int
    shifts are fine); ``flush`` emits it big-endian, zero-padded to a
    byte boundary, with 0xFF bytes stuffed."""

    def __init__(self):
        self.c = 0
        self.a = 0x8000
        self.nbits = 16

    def encode(self, st: bytearray, i: int, d: int) -> None:
        sv = st[i]
        mps = sv >> 7
        qe, nlps, nmps, sw = _ARITAB[sv & 0x7F]
        self.a -= qe
        if d == mps:
            if self.a & 0x8000:
                return
            if self.a < qe:  # conditional exchange: MPS takes the top
                self.c += self.a
                self.a = qe
            st[i] = (mps << 7) | nmps
        else:
            if self.a < qe:  # exchanged: LPS keeps the bottom
                pass
            else:
                self.c += self.a
                self.a = qe
            st[i] = ((mps ^ sw) << 7) | nlps
        while self.a < 0x8000:
            self.a <<= 1
            self.c <<= 1
            self.nbits += 1

    def flush(self) -> bytes:
        pad = (-self.nbits) % 8
        c = self.c << pad
        raw = c.to_bytes((self.nbits + pad) // 8, "big")
        out = bytearray()
        for b in raw:
            out.append(b)
            if b == 0xFF:
                out.append(0x00)
        return bytes(out)


# ------------------------------------------------- DC / AC models


def _decode_dc(dec, dcb, ctx, L, U):
    """One DC difference (T.81 F.1.4.1 / Figures F.19-F.24). Returns
    (diff, new_context)."""
    if dec.decode(dcb, ctx) == 0:
        return 0, 0
    sign = dec.decode(dcb, ctx + 1)
    stp = ctx + 2 + sign
    m = dec.decode(dcb, stp)
    if m:
        stp = 20  # X1 (Table F.4)
        while dec.decode(dcb, stp):
            m <<= 1
            if m == 0x8000:
                raise ValueError("jpeg arith DC magnitude overflow")
            stp += 1
    if m < ((1 << L) >> 1):
        new_ctx = 0
    elif m > ((1 << U) >> 1):
        new_ctx = 12 + 4 * sign
    else:
        new_ctx = 4 + 4 * sign
    v = m
    stp += 14  # shared mantissa bin for this ladder rung
    mm = m
    while mm >> 1:
        mm >>= 1
        if dec.decode(dcb, stp):
            v |= mm
    v += 1
    return (-v if sign else v), new_ctx


def _encode_dc(enc, dcb, ctx, diff, L, U):
    if diff == 0:
        enc.encode(dcb, ctx, 0)
        return 0
    enc.encode(dcb, ctx, 1)
    sign = 1 if diff < 0 else 0
    enc.encode(dcb, ctx + 1, sign)
    v = (-diff if sign else diff) - 1
    stp = ctx + 2 + sign
    if v == 0:
        enc.encode(dcb, stp, 0)
        m = 0
    else:
        enc.encode(dcb, stp, 1)
        m = 1
        stp = 20
        while v >= (m << 1):
            enc.encode(dcb, stp, 1)
            m <<= 1
            stp += 1
        enc.encode(dcb, stp, 0)
    if m < ((1 << L) >> 1):
        new_ctx = 0
    elif m > ((1 << U) >> 1):
        new_ctx = 12 + 4 * sign
    else:
        new_ctx = 4 + 4 * sign
    stp += 14
    mm = m
    while mm >> 1:
        mm >>= 1
        enc.encode(dcb, stp, 1 if v & mm else 0)
    return new_ctx


def _decode_ac(dec, acb, fixb, kx) -> list[int]:
    """One block's AC coefficients in zig-zag order (63 entries,
    T.81 F.1.4.2)."""
    zz = [0] * 63
    k = 1
    while k <= 63:
        st = 3 * (k - 1)
        if dec.decode(acb, st):
            break  # EOB
        while dec.decode(acb, st + 1) == 0:
            st += 3
            k += 1
            if k > 63:
                raise ValueError("jpeg arith AC run overflow")
        sign = dec.decode(fixb, 0)
        st += 2
        m = dec.decode(acb, st)
        if m and dec.decode(acb, st):
            m = 2
            st = 189 if k <= kx else 217
            while dec.decode(acb, st):
                m <<= 1
                if m == 0x8000:
                    raise ValueError("jpeg arith AC magnitude overflow")
                st += 1
        v = m
        st += 14
        mm = m
        while mm >> 1:
            mm >>= 1
            if dec.decode(acb, st):
                v |= mm
        v += 1
        zz[k - 1] = -v if sign else v
        k += 1
    return zz


def _encode_ac(enc, acb, fixb, zz: list[int], kx) -> None:
    ke = 63
    while ke >= 1 and zz[ke - 1] == 0:
        ke -= 1
    k = 1
    while k <= ke:
        st = 3 * (k - 1)
        enc.encode(acb, st, 0)  # not EOB yet
        while zz[k - 1] == 0:
            enc.encode(acb, st + 1, 0)
            st += 3
            k += 1
        enc.encode(acb, st + 1, 1)
        val = zz[k - 1]
        sign = 1 if val < 0 else 0
        enc.encode(fixb, 0, sign)
        v = (-val if sign else val) - 1
        st += 2
        if v == 0:
            enc.encode(acb, st, 0)
            m = 0
        else:
            enc.encode(acb, st, 1)
            m = 1
            if v >= 2:
                enc.encode(acb, st, 1)
                m = 2
                st = 189 if k <= kx else 217
                while v >= (m << 1):
                    enc.encode(acb, st, 1)
                    m <<= 1
                    st += 1
                enc.encode(acb, st, 0)
            else:
                enc.encode(acb, st, 0)
        st += 14
        mm = m
        while mm >> 1:
            mm >>= 1
            enc.encode(acb, st, 1 if v & mm else 0)
        k += 1
    if ke < 63:
        enc.encode(acb, 3 * (ke + 1 - 1), 1)  # EOB at the next index


# ------------------------------------------------ full-file encode


def encode_jpeg_arith(planes, qtable=None) -> bytes:
    """Encode greyscale ``[plane]`` or YCbCr ``[y, cb, cr]`` uint8
    arrays (all 1x1 sampling) as an arithmetic-coded sequential JPEG:
    SOF9, a DAC segment carrying the default conditioning (L=0, U=1,
    Kx=5), and one interleaved arithmetic scan. The DCT/quantization
    half is shared with the Huffman encoder's math (same orthonormal
    DCT matrix, same Annex K table) so the two codecs produce the
    same quantized coefficients for the same image."""
    import numpy as np

    from .multimodal import _JPEG_QTABLE, _ZIGZAG, _dct_matrix

    q_rowmajor = list(qtable) if qtable is not None else list(_JPEG_QTABLE)
    q_zz = [q_rowmajor[_ZIGZAG[k]] for k in range(64)]
    qarr = np.asarray(q_zz, dtype=np.float64)
    ncomp = len(planes)
    if ncomp not in (1, 3):
        raise ValueError("1 (grey) or 3 (YCbCr) planes")
    h, w = planes[0].shape
    bw, bh = -(-w // 8), -(-h // 8)
    t = _dct_matrix()

    L, U, KX = _DC_L_DEFAULT, _DC_U_DEFAULT, _AC_KX_DEFAULT
    enc = ArithEncoder()
    dcb = bytearray(_DC_BINS)
    acb = bytearray(_AC_BINS)
    fixb = bytearray([_FIXED_STATE])
    ctxs = [0] * ncomp
    preds = [0] * ncomp

    padded = []
    for p in planes:
        pad = np.empty((bh * 8, bw * 8), dtype=np.float64)
        ph, pw = p.shape
        pad[:ph, :pw] = p
        pad[ph:, :pw] = p[-1:, :]
        pad[:, pw:] = pad[:, pw - 1 : pw]
        padded.append(pad)

    for by in range(bh):
        for bx in range(bw):
            for ci in range(ncomp):
                block = padded[ci][by * 8 : by * 8 + 8,
                                   bx * 8 : bx * 8 + 8] - 128.0
                coef = t @ block @ t.T
                zz = np.round(
                    coef.reshape(64)[_ZIGZAG] / qarr).astype(np.int64)
                diff = int(zz[0]) - preds[ci]
                preds[ci] = int(zz[0])
                ctxs[ci] = _encode_dc(enc, dcb, ctxs[ci], diff, L, U)
                _encode_ac(enc, acb, fixb,
                           [int(v) for v in zz[1:]], KX)
    entropy = enc.flush()

    def seg(marker: int, body: bytes) -> bytes:
        return bytes((0xFF, marker)) + _struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(q_zz))
    sof = _struct.pack(">BHHB", 8, h, w, ncomp) + b"".join(
        bytes((ci + 1, 0x11, 0)) for ci in range(ncomp)
    )
    out += seg(0xC9, sof)  # SOF9: extended sequential, arithmetic
    out += seg(0xCC, bytes([0x00, (U << 4) | L, 0x10, KX]))  # DAC
    sos = bytes([ncomp]) + b"".join(
        bytes((ci + 1, 0x00)) for ci in range(ncomp)
    ) + bytes((0, 63, 0))
    out += seg(0xDA, sos)
    out += entropy
    out += b"\xff\xd9"
    return bytes(out)


# ------------------------------------------------ full-file decode


def decode_arith_jpeg(payload: bytes):
    """Decode one arithmetic-coded sequential JPEG (SOF9) →
    ``(w, h, rgb_uint8)`` with the same output contract as the
    Huffman decoder (grey replicates to 3 channels; color runs the
    integer-exact JFIF conversion). Typed NotImplementedError for
    12-bit, subsampled, restart-interval, progressive/lossless
    arithmetic variants; ValueError for structural damage."""
    try:
        return _decode_arith_jpeg(payload)
    except (IndexError, KeyError, _struct.error, TypeError) as exc:
        # byte-corrupted headers referencing absent tables/components
        # or walking off a field: structural damage, typed like every
        # other decoder (fuzz-pinned in tests)
        raise ValueError(f"malformed arithmetic JPEG ({exc})") from exc


def _decode_arith_jpeg(payload: bytes):
    import numpy as np

    from .multimodal import _ZIGZAG, _dct_matrix, _ycc_to_rgb

    pos = 2
    qtables: dict[int, list[int]] = {}
    dc_cond: dict[int, tuple[int, int]] = {}
    ac_cond: dict[int, int] = {}
    w = h = 0
    comps: list[tuple[int, int, int, int]] = []
    if payload[:2] != b"\xff\xd8":
        raise ValueError("missing JPEG SOI")
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:
            break
        if marker == 0x01 or 0xD0 <= marker <= 0xD7:
            continue
        if pos + 2 > len(payload):
            raise ValueError("truncated JPEG segment header")
        seg_len = _struct.unpack(">H", payload[pos : pos + 2])[0]
        seg = payload[pos + 2 : pos + seg_len]
        if len(seg) != seg_len - 2:
            raise ValueError("truncated JPEG segment")
        if marker == 0xDB:
            off = 0
            while off < len(seg):
                pq, tq = seg[off] >> 4, seg[off] & 0x0F
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                qtables[tq] = list(seg[off + 1 : off + 65])
                off += 65
        elif marker == 0xCC:  # DAC: arithmetic conditioning
            off = 0
            while off + 2 <= len(seg):
                tc, tb = seg[off] >> 4, seg[off] & 0x0F
                cs = seg[off + 1]
                if tc == 0:
                    lo, up = cs & 0x0F, cs >> 4
                    if lo > up:
                        raise ValueError("JPEG DAC with L > U")
                    dc_cond[tb] = (lo, up)
                else:
                    if not 1 <= cs <= 63:
                        raise ValueError("JPEG DAC Kx out of range")
                    ac_cond[tb] = cs
                off += 2
        elif marker == 0xDD:
            if _struct.unpack(">H", seg[:2])[0]:
                raise NotImplementedError(
                    "arithmetic JPEG with restart intervals")
        elif marker == 0xC9:
            precision, h, w, ncomp = (
                seg[0], *_struct.unpack(">HH", seg[1:5]), seg[5])
            if precision != 8:
                raise NotImplementedError("12-bit arithmetic JPEG")
            if ncomp not in (1, 3):
                raise NotImplementedError(
                    f"arithmetic JPEG with {ncomp} components")
            comps = []
            for i in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * i : 9 + 3 * i]
                if ncomp > 1 and sampling != 0x11:
                    raise NotImplementedError(
                        "subsampled arithmetic JPEG")
                comps.append((cid, 1, 1, tq))
        elif marker in (0xCA, 0xCB):
            raise NotImplementedError(
                "progressive/lossless arithmetic JPEG")
        elif marker in (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
                        0xCD, 0xCE, 0xCF):
            raise ValueError("not an arithmetic sequential JPEG")
        elif marker == 0xDA:
            if not comps:
                raise ValueError("JPEG scan before SOF9")
            ns = seg[0]
            if ns != len(comps):
                raise NotImplementedError("multi-scan arithmetic JPEG")
            plan = []
            by_id = {cid: tq for cid, _hi, _vi, tq in comps}
            for i in range(ns):
                cs, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                td, ta = tables >> 4, tables & 0x0F
                lo, up = dc_cond.get(td, (_DC_L_DEFAULT, _DC_U_DEFAULT))
                kx = ac_cond.get(ta, _AC_KX_DEFAULT)
                plan.append((qtables[by_id[cs]], td, ta, lo, up, kx))
            pos += seg_len
            return _arith_scan(payload, pos, w, h, plan)
        pos += seg_len
    raise ValueError("JPEG has no scan data")


def _arith_scan(payload: bytes, pos: int, w: int, h: int, plan):
    import numpy as np

    from .multimodal import _ZIGZAG, _dct_matrix, _ycc_to_rgb

    if not (w and h):
        raise ValueError("JPEG scan before SOF9")
    t = _dct_matrix()
    ncomp = len(plan)
    bw, bh = -(-w // 8), -(-h // 8)
    planes = [np.empty((bh * 8, bw * 8), dtype=np.uint8)
              for _ in range(ncomp)]
    qs = [np.asarray(q, dtype=np.float64) for q, *_rest in plan]
    dec = ArithDecoder(payload, pos)
    dc_stats: dict[int, bytearray] = {}
    ac_stats: dict[int, bytearray] = {}
    for _q, td, ta, _l, _u, _k in plan:
        dc_stats.setdefault(td, bytearray(_DC_BINS))
        ac_stats.setdefault(ta, bytearray(_AC_BINS))
    fixb = bytearray([_FIXED_STATE])
    ctxs = [0] * ncomp
    preds = [0] * ncomp
    for by in range(bh):
        for bx in range(bw):
            for ci, (_q, td, ta, lo, up, kx) in enumerate(plan):
                diff, ctxs[ci] = _decode_dc(
                    dec, dc_stats[td], ctxs[ci], lo, up)
                preds[ci] += diff
                zz = np.zeros(64, dtype=np.float64)
                zz[0] = preds[ci]
                zz[1:] = _decode_ac(dec, ac_stats[ta], fixb, kx)
                block = np.zeros(64, dtype=np.float64)
                block[_ZIGZAG] = zz * qs[ci]
                spatial = t.T @ block.reshape(8, 8) @ t
                planes[ci][by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = (
                    np.clip(np.round(spatial + 128.0), 0, 255)
                    .astype(np.uint8)
                )
    if ncomp == 1:
        grey = planes[0][:h, :w]
        return w, h, np.repeat(grey[:, :, None], 3, axis=2).copy()
    rgb = _ycc_to_rgb(planes[0], planes[1], planes[2])
    return w, h, rgb[:h, :w].copy()


# ------------------------------------------------ driver-oracled query

_JA_GROUPS = 12


def _ja_dims(g: int) -> tuple[int, int]:
    if g % 2 == 0:
        return 2 + g % 3, 1 + (g % 4) // 2
    return 1 + g % 3, 1 + (g % 4) // 2


def _ja_payload(doc_id: int) -> bytes:
    """Block-constant fixture (the exact-roundtrip trick of the
    Huffman jpeg query, distinct formulas): constant 8x8 blocks with
    EVEN offsets from 128 make every AC zero and the quantized DC an
    integer, so the lossy codec round-trips exactly and the oracle
    replays pixels in closed form. Even groups greyscale, odd groups
    4:4:4 YCbCr. ``doc_id % 13 == 9`` truncates INSIDE the SOS
    header ('corrupt' — entropy-data truncation is legal zero-feed
    in arithmetic coding, so the corrupt class must damage
    structure); ``doc_id % 17 == 4`` retypes SOF9 to SOF10
    ('unsupported' — progressive arithmetic)."""
    import numpy as np

    g = doc_id % _JA_GROUPS
    bw, bh = _ja_dims(g)

    def block_grid(fn):
        vals = np.empty((bh, bw), np.uint8)
        for by in range(bh):
            for bx in range(bw):
                vals[by, bx] = fn(bx, by)
        return np.repeat(np.repeat(vals, 8, axis=0), 8, axis=1)

    if g % 2 == 0:
        img = block_grid(
            lambda bx, by: 128 + 2 * (((7 * bx + 5 * by + g) % 47) - 23))
        payload = encode_jpeg_arith([img])
    else:
        payload = encode_jpeg_arith([
            block_grid(lambda bx, by:
                       128 + 2 * (((7 * bx + 5 * by + g) % 47) - 23)),
            block_grid(lambda bx, by:
                       128 + 2 * (((3 * bx + 5 * by + 2 * g) % 47) - 23)),
            block_grid(lambda bx, by:
                       128 + 2 * (((5 * bx + 9 * by + 3 * g) % 47) - 23)),
        ])
    if doc_id % 13 == 9:
        return payload[: payload.index(b"\xff\xda") + 4]
    if doc_id % 17 == 4:
        i = payload.index(b"\xff\xc9")
        return payload[:i] + b"\xff\xca" + payload[i + 2:]
    return payload


def _ja_key(doc_id: int) -> tuple:
    return (doc_id % _JA_GROUPS, doc_id % 13 == 9, doc_id % 17 == 4)


def _ja_facts(doc_id: int) -> tuple:
    import numpy as np
    from .multimodal import real_decode_image

    # through the SHARED router (real_decode_image →
    # _decode_jpeg → SOF9 branch), proving the routing
    w, h, px = real_decode_image(_ja_payload(doc_id))
    s = px.astype(np.int64).sum(axis=2).reshape(-1)
    weights = np.arange(1, s.size + 1, dtype=np.int64)
    return (
        "decoded", w, h, int(s.sum()),
        int((s * weights).sum()),
    )


def _ja_oracle() -> str:
    from .multimodal import _YCC_BIAS

    half = 32768 + _YCC_BIAS

    def chan(num: str) -> str:
        return f"GREATEST(0, LEAST(255, (({num}) // 65536) - 256))"

    yv = "(128 + 2 * (((7 * bx + 5 * by + g) % 47) - 23))"
    cb = "(2 * (((3 * bx + 5 * by + 2 * g) % 47) - 23))"
    cr = "(2 * (((5 * bx + 9 * by + 3 * g) % 47) - 23))"
    r = chan(f"{yv} * 65536 + 91881 * {cr} + {half}")
    gch = chan(f"{yv} * 65536 - 22554 * {cb} - 46802 * {cr} + {half}")
    b = chan(f"{yv} * 65536 + 116130 * {cb} + {half}")
    bad = "d.doc_id % 13 = 9 OR d.doc_id % 17 = 4"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_JA_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g,
             CASE WHEN g % 2 = 0 THEN 8 * (2 + g % 3)
                  ELSE 8 * (1 + g % 3) END AS w,
             8 * (1 + (g % 4) // 2) AS h
      FROM grp
    ),
    px AS (
      SELECT g, w, h, i, (i % w) // 8 AS bx, (i // w) // 8 AS by
      FROM (SELECT g, w, h, unnest(range(0, w * h)) AS i FROM dims)
    ),
    vals AS (
      SELECT g, w, h, i,
             CASE WHEN g % 2 = 0
                  THEN 3 * (128 + 2 * (((7 * bx + 5 * by + g) % 47) - 23))
                  ELSE ({r}) + ({gch}) + ({b})
             END AS s
      FROM px
    ),
    sums AS (
      SELECT g, w, h,
             CAST(SUM(s) AS BIGINT) AS px_sum,
             CAST(SUM((i + 1) * s) AS BIGINT) AS wpx_sum
      FROM vals GROUP BY g, w, h
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 13 = 9 THEN 'corrupt'
                WHEN d.doc_id % 17 = 4 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.w END AS width,
           CASE WHEN {bad} THEN 0 ELSE s.h END AS height,
           CASE WHEN {bad} THEN 0 ELSE s.px_sum END AS px_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wpx_sum END AS wpx_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_JA_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_jpeg_arith_decode", oracle=_ja_oracle())
def multimodal_jpeg_arith_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Arithmetic-coded sequential JPEG (SOF9) decoded natively —
    T.81 Annex D's adaptive QM coder (the full 113-state Table D.3
    machine, DAC-conditioned DC categories, per-k AC contexts, the
    fixed-probability sign bin) routed through the SAME image
    dispatcher as every other codec. The encoder half is this repo's
    own (same DCT/quantization math as the Huffman encoder), and the
    entropy layer's losslessness over quantized coefficients is what
    makes the block-constant fixture oracle-exact; conformance
    evidence beyond the oracle: pixel-identical decode vs the
    independent Huffman pipeline on random images
    (tests/test_jpeg_arith.py). Typed verdicts: a cut inside the SOS
    header ('corrupt' — entropy truncation is LEGAL zero-feed in
    arithmetic coding, so the corrupt class must break structure),
    SOF9 retyped to progressive-arithmetic SOF10 ('unsupported').

    Scale notes (100 TB): same map-side per-file decode + memo shape
    as the other multimodal walks; only integer facts re-enter the
    JVM."""
    from pyspark.sql import functions as F

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _JA_GROUPS),
        (F.col("doc_id") % 13 == 9).cast("int"),
        (F.col("doc_id") % 17 == 4).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_ja_batches", _ja_key, _ja_facts,
        "doc_id long, status string, width int, height int, px_sum long, "
        "wpx_sum long",
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
