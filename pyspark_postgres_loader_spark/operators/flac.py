"""Native FLAC (Free Lossless Audio Codec) decode — a REAL compressed
audio format decoded from the public spec (RFC 9639 / xiph.org), no
codec library: STREAMINFO metadata walk, frame-header parse with CRC-8,
subframe types CONSTANT / VERBATIM / FIXED (orders 0-4) / LPC (orders
1-32, quantized integer coefficients), partitioned Rice residuals
(4- and 5-bit parameters, escape-to-raw partitions), wasted-bits
shifts, stereo decorrelation (left/side, right/side, mid/side), frame
CRC-16 and whole-stream MD5 verification. The encoder runs the same
real forward path (fixed-predictor residuals, Rice parameter search,
decorrelation, both CRCs, MD5), so tests can't pass on a symmetric
stub: the decoder is additionally pinned by a hand-assembled
known-bytes stream (tests/test_flac.py) whose bits were written out
from the spec, not by the encoder.

Lossless means the oracle needs no codec model at all: fixtures are
closed-form integer waveforms (constant / linear / quadratic — exactly
the polynomials FLAC's fixed predictors whiten — plus a modular
"noise" ramp for VERBATIM), and decode must return them bit-exactly,
so DuckDB replays the waveform formula and the driver hashes full
sample sums.

Scale notes (100 TB): decode is an Arrow-batched ``mapInPandas`` map —
embarrassingly parallel like every codec query; a real corpus carries
per-document payload bytes through the same plumbing. Only ~50 bytes
of integer facts per row re-enter the JVM.

Reference: no counterpart — the reference's loader ingests audio as
opaque bytes (SURVEY.md §2l multimodal extension); this makes the
column decodable in-engine.
"""

from __future__ import annotations

import hashlib
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .byteprim import crc16_8005


class FlacCrcError(ValueError):
    """Frame CRC-8/CRC-16 or stream MD5 mismatch: the payload parses
    but fails an integrity check — routed to a DISTINCT quarantine
    status ('crc_error') so silent corruption is observable separately
    from structural damage."""


# ---------------------------------------------------------------- CRCs

def _crc8(data: bytes) -> int:
    """CRC-8, polynomial x^8 + x^2 + x + 1 (0x07), init 0 — the FLAC
    frame-header CRC."""
    crc = 0
    for b in data:
        crc ^= b
        for _ in range(8):
            crc = ((crc << 1) ^ 0x07) & 0xFF if crc & 0x80 else (crc << 1) & 0xFF
    return crc


# ---------------------------------------------------------- bit reader

class _Bits:
    """MSB-first bit reader (no byte unstuffing — FLAC frames are raw
    bits, unlike JPEG's entropy segment)."""

    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.bytepos = pos
        self._acc = 0
        self._n = 0

    def bits(self, k: int) -> int:
        while self._n < k:
            if self.bytepos >= len(self.buf):
                raise ValueError("truncated FLAC stream")
            self._acc = (self._acc << 8) | self.buf[self.bytepos]
            self.bytepos += 1
            self._n += 8
        out = (self._acc >> (self._n - k)) & ((1 << k) - 1)
        self._n -= k
        self._acc &= (1 << self._n) - 1
        return out

    def signed(self, k: int) -> int:
        v = self.bits(k)
        return v - (1 << k) if v >= (1 << (k - 1)) else v

    def unary(self) -> int:
        """Count 0-bits up to the terminating 1 (Rice quotient)."""
        q = 0
        while self.bits(1) == 0:
            q += 1
            if q > 1 << 20:
                raise ValueError("runaway FLAC unary code")
        return q

    def align(self) -> None:
        self._n = 0
        self._acc = 0

    def aligned_pos(self) -> int:
        assert self._n == 0
        return self.bytepos


class _BitW:
    """MSB-first bit writer (encode side)."""

    def __init__(self):
        self.out = bytearray()
        self._acc = 0
        self._n = 0

    def write(self, value: int, k: int) -> None:
        self._acc = (self._acc << k) | (value & ((1 << k) - 1))
        self._n += k
        while self._n >= 8:
            self.out.append((self._acc >> (self._n - 8)) & 0xFF)
            self._n -= 8
            self._acc &= (1 << self._n) - 1

    def unary(self, q: int) -> None:
        while q >= 32:
            self.write(0, 32)
            q -= 32
        self.write(1, q + 1)  # q zeros then the terminating 1

    def pad(self) -> None:
        if self._n:
            self.write(0, 8 - self._n)


# ------------------------------------------------------------- encoder

_FIXED_COEF = {  # residual r[i] = s[i] - sum(c_j * s[i-1-j]) per order
    0: [],
    1: [1],
    2: [2, -1],
    3: [3, -3, 1],
    4: [4, -6, 4, -1],
}


def _rice_cost(residual, k: int) -> int:
    total = 0
    for v in residual:
        u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
        total += (u >> k) + 1 + k
    return total


def _write_residual(w: _BitW, residual, order: int, n: int, po: int) -> None:
    """Partitioned Rice, method 0 (4-bit parameters): 2^po partitions,
    the first short by ``order`` warm-up samples; parameter 15 escapes
    a partition to raw fixed-width samples."""
    if n % (1 << po):
        raise ValueError("partition order must divide block size")
    w.write(0, 2)  # coding method 0
    w.write(po, 4)
    start = 0
    for p in range(1 << po):
        cnt = (n >> po) - (order if p == 0 else 0)
        part = residual[start : start + cnt]
        start += cnt
        best_k = min(range(15), key=lambda k: _rice_cost(part, k))
        maxabs = max((abs(v) for v in part), default=0)
        raw_bits = max(maxabs * 2, 1).bit_length() if maxabs else 0
        if raw_bits and 5 + raw_bits * cnt < _rice_cost(part, best_k):
            w.write(15, 4)  # escape
            w.write(raw_bits, 5)
            for v in part:
                w.write(v, raw_bits)
        else:
            w.write(best_k, 4)
            for v in part:
                u = (v << 1) ^ (v >> 63) if v < 0 else v << 1
                w.unary(u >> best_k)
                w.write(u, best_k)


def _write_subframe(
    w: _BitW, samples, bps: int, form: str, po: int = 0,
    lpc: tuple[list[int], int, int] | None = None, wasted: int = 0,
) -> None:
    n = len(samples)
    if wasted:
        if any(s % (1 << wasted) for s in samples):
            raise ValueError("wasted bits not common to all samples")
        samples = [s >> wasted for s in samples]
        bps -= wasted
    if form == "constant":
        if any(s != samples[0] for s in samples):
            raise ValueError("constant subframe over non-constant samples")
        w.write(0, 1)
        w.write(0b000000, 6)
    elif form == "verbatim":
        w.write(0, 1)
        w.write(0b000001, 6)
    elif form.startswith("fixed"):
        order = int(form[5:])
        w.write(0, 1)
        w.write(0b001000 | order, 6)
    elif form == "lpc":
        coefs, _shift, _prec = lpc
        w.write(0, 1)
        w.write(0b100000 | (len(coefs) - 1), 6)
    else:
        raise ValueError(f"unknown subframe form {form}")
    if wasted:
        w.write(1, 1)
        w.unary(wasted - 1)  # k stored as (k-1) zeros then a 1
    else:
        w.write(0, 1)
    if form == "constant":
        w.write(samples[0], bps)
    elif form == "verbatim":
        for s in samples:
            w.write(s, bps)
    elif form.startswith("fixed"):
        order = int(form[5:])
        for s in samples[:order]:
            w.write(s, bps)
        coef = _FIXED_COEF[order]
        residual = [
            samples[i] - sum(c * samples[i - 1 - j] for j, c in enumerate(coef))
            for i in range(order, n)
        ]
        _write_residual(w, residual, order, n, po)
    else:  # lpc
        coefs, shift, prec = lpc
        order = len(coefs)
        for s in samples[:order]:
            w.write(s, bps)
        w.write(prec - 1, 4)
        w.write(shift, 5)
        for c in coefs:
            w.write(c, prec)
        residual = [
            samples[i]
            - (sum(c * samples[i - 1 - j] for j, c in enumerate(coefs)) >> shift)
            for i in range(order, n)
        ]
        _write_residual(w, residual, order, n, po)


def build_flac(
    channels,
    rate: int = 8000,
    bps: int = 16,
    layout: str = "independent",
    forms=None,
    po: int = 0,
    lpc: tuple[list[int], int, int] | None = None,
    wasted: int = 0,
) -> bytes:
    """Encode 1 or 2 equal-length integer sample sequences as a real
    single-frame FLAC stream: STREAMINFO (with true MD5 of the decoded
    interleaved samples), one fixed-blocking frame (blocksize code
    0b0111 = explicit 16-bit), per-channel subframes, CRC-8 + CRC-16.
    ``layout``: 'independent', 'left_side', 'right_side', 'mid_side'
    (the decorrelated SIDE channel carries bps+1 as the spec requires).
    ``forms``: per stored channel, from {'constant','verbatim',
    'fixedN','lpc'} (default 'verbatim')."""
    import struct

    chans = [list(int(s) for s in c) for c in channels]
    n = len(chans[0])
    if any(len(c) != n for c in chans):
        raise ValueError("channels must be equal length")
    nch = len(chans)

    # MD5 is over the ORIGINAL interleaved little-endian samples
    md = hashlib.md5()
    for i in range(n):
        for c in chans:
            md.update(struct.pack("<h" if bps == 16 else "<i", c[i])[: bps // 8])
    md5 = md.digest()

    if layout != "independent" and nch == 2:
        left, right = chans
        side = [left[i] - right[i] for i in range(n)]
        if layout == "left_side":
            stored, assign, side_ch = [left, side], 8, 1
        elif layout == "right_side":
            stored, assign, side_ch = [side, right], 9, 0
        elif layout == "mid_side":
            mid = [(left[i] + right[i]) >> 1 for i in range(n)]
            stored, assign, side_ch = [mid, side], 10, 1
        else:
            raise ValueError(f"unknown layout {layout}")
    else:
        stored, assign, side_ch = chans, nch - 1, None

    # ---- frame
    header = bytearray(b"\xff\xf8")  # sync(14) + reserved(1) + fixed(1)
    header.append((0b0111 << 4) | 0b0000)  # blocksize=explicit16, rate=streaminfo
    bps_code = {8: 0b001, 12: 0b010, 16: 0b100, 20: 0b101, 24: 0b110}[bps]
    header.append((assign << 4) | (bps_code << 1))
    header.append(0x00)  # UTF-8 coded frame number 0
    header += struct.pack(">H", n - 1)
    header.append(_crc8(bytes(header)))

    w = _BitW()
    forms = list(forms) if forms is not None else ["verbatim"] * len(stored)
    for ci, samples in enumerate(stored):
        ch_bps = bps + (1 if ci == side_ch else 0)
        _write_subframe(w, samples, ch_bps, forms[ci], po=po, lpc=lpc,
                        wasted=wasted)
    w.pad()
    frame = bytes(header) + bytes(w.out)
    frame += struct.pack(">H", crc16_8005(frame, 0))

    # ---- stream header
    out = bytearray(b"fLaC")
    info = bytearray()
    info += struct.pack(">HH", n, n)  # min/max blocksize
    info += len(frame).to_bytes(3, "big") * 2  # min/max framesize
    packed = (rate << 44) | ((nch - 1) << 41) | ((bps - 1) << 36) | n
    info += packed.to_bytes(8, "big")
    info += md5
    out += bytes([0x80]) + len(info).to_bytes(3, "big") + info  # last block
    out += frame
    return bytes(out)


# ------------------------------------------------------------- decoder

def decode_flac(payload: bytes):
    """Decode a FLAC stream → ``(rate, bps, channels)`` where channels
    is a list of Python int lists (lossless: bit-exact original
    samples). Verifies the frame-header CRC-8, whole-frame CRC-16 and
    (when present) the STREAMINFO MD5 — raising :class:`FlacCrcError`
    on mismatch; structural damage raises ``ValueError`` and genuinely
    unsupported shapes raise ``NotImplementedError``."""
    import struct

    if payload[:4] != b"fLaC":
        raise ValueError("not a FLAC stream")
    pos = 4
    streaminfo = None
    while True:
        if pos + 4 > len(payload):
            raise ValueError("truncated FLAC metadata")
        head = payload[pos]
        last, btype = head & 0x80, head & 0x7F
        blen = int.from_bytes(payload[pos + 1 : pos + 4], "big")
        body = payload[pos + 4 : pos + 4 + blen]
        if len(body) != blen:
            raise ValueError("truncated FLAC metadata block")
        if btype == 0:
            streaminfo = body
        pos += 4 + blen
        if last:
            break
    if streaminfo is None or len(streaminfo) < 34:
        raise ValueError("missing FLAC STREAMINFO")
    packed = int.from_bytes(streaminfo[10:18], "big")
    rate = packed >> 44
    nch = ((packed >> 41) & 0x7) + 1
    bps = ((packed >> 36) & 0x1F) + 1
    total = packed & ((1 << 36) - 1)
    md5 = streaminfo[18:34]
    if bps not in (8, 12, 16, 20, 24):
        raise NotImplementedError(f"FLAC bits-per-sample {bps}")

    channels: list[list[int]] = [[] for _ in range(nch)]
    got = 0
    while pos < len(payload) and (total == 0 or got < total):
        pos, frame_chans = _decode_frame(payload, pos, nch, bps)
        for c in range(nch):
            channels[c].extend(frame_chans[c])
        got += len(frame_chans[0])
    if total and got != total:
        raise ValueError(f"FLAC stream ended early ({got}/{total} samples)")

    if any(md5):
        md = hashlib.md5()
        for i in range(got):
            for c in channels:
                v = c[i]
                md.update(struct.pack("<i", v)[: bps // 8])
        if md.digest() != md5:
            raise FlacCrcError("FLAC stream MD5 mismatch")
    return rate, bps, channels


_BLOCKSIZE_CODE = {1: 192, **{i: 576 << (i - 2) for i in range(2, 6)},
                   **{i: 256 << (i - 8) for i in range(8, 16)}}


def _decode_frame(payload: bytes, pos: int, nch: int, bps: int):
    start = pos
    if pos + 10 > len(payload):  # minimal header + CRCs can't fit
        raise ValueError("truncated FLAC frame")
    if payload[pos] != 0xFF or (payload[pos + 1] & 0xFC) != 0xF8:
        raise ValueError("bad FLAC frame sync")
    variable = payload[pos + 1] & 0x01
    bs_code = payload[pos + 2] >> 4
    sr_code = payload[pos + 2] & 0x0F
    assign = payload[pos + 3] >> 4
    ss_code = (payload[pos + 3] >> 1) & 0x07
    pos += 4
    # UTF-8 coded frame/sample number (we only need to skip it)
    first = payload[pos]
    extra = 0
    if first >= 0xC0:
        b = first
        while b & 0x40:
            extra += 1
            b <<= 1
    pos += 1 + extra
    if bs_code == 6:
        n = payload[pos] + 1
        pos += 1
    elif bs_code == 7:
        n = int.from_bytes(payload[pos : pos + 2], "big") + 1
        pos += 2
    elif bs_code in _BLOCKSIZE_CODE:
        n = _BLOCKSIZE_CODE[bs_code]
    else:
        raise ValueError(f"reserved FLAC blocksize code {bs_code}")
    if sr_code == 12:
        pos += 1
    elif sr_code in (13, 14):
        pos += 2
    if _crc8(payload[start:pos]) != payload[pos]:
        raise FlacCrcError("FLAC frame header CRC-8 mismatch")
    pos += 1
    ss_map = {0: bps, 1: 8, 2: 12, 4: 16, 5: 20, 6: 24}
    if ss_code not in ss_map:
        raise NotImplementedError(f"FLAC sample size code {ss_code}")
    fbps = ss_map[ss_code]

    if assign < 8:
        if assign + 1 != nch:
            raise ValueError("frame channel count disagrees with STREAMINFO")
        side_ch = None
    else:
        if nch != 2 or assign > 10:
            raise ValueError(f"bad FLAC channel assignment {assign}")
        side_ch = 0 if assign == 9 else 1

    r = _Bits(payload, pos)
    stored = []
    for ci in range(nch):
        ch_bps = fbps + (1 if ci == side_ch else 0)
        stored.append(_decode_subframe(r, n, ch_bps))
    r.align()
    end = r.aligned_pos()
    if end + 2 > len(payload):
        raise ValueError("truncated FLAC frame CRC")
    if crc16_8005(payload[start:end], 0) != int.from_bytes(payload[end : end + 2], "big"):
        raise FlacCrcError("FLAC frame CRC-16 mismatch")
    end += 2

    if assign < 8:
        chans = stored
    elif assign == 8:  # left/side
        left, side = stored
        chans = [left, [left[i] - side[i] for i in range(n)]]
    elif assign == 9:  # right/side
        side, right = stored
        chans = [[right[i] + side[i] for i in range(n)], right]
    else:  # mid/side
        mid, side = stored
        chans = [[], []]
        for i in range(n):
            m = (mid[i] << 1) | (side[i] & 1)
            chans[0].append((m + side[i]) >> 1)
            chans[1].append((m - side[i]) >> 1)
    _ = variable
    return end, chans


def _decode_subframe(r: _Bits, n: int, bps: int) -> list[int]:
    if r.bits(1):
        raise ValueError("FLAC subframe padding bit set")
    t = r.bits(6)
    wasted = 0
    if r.bits(1):
        wasted = r.unary() + 1
        bps -= wasted
    if t == 0b000000:
        out = [r.signed(bps)] * n
    elif t == 0b000001:
        out = [r.signed(bps) for _ in range(n)]
    elif 0b001000 <= t <= 0b001100:
        order = t & 0x07
        warm = [r.signed(bps) for _ in range(order)]
        residual = _read_residual(r, n, order)
        out = warm
        coef = _FIXED_COEF[order]
        for i in range(order, n):
            out.append(
                residual[i - order]
                + sum(c * out[i - 1 - j] for j, c in enumerate(coef))
            )
    elif t & 0b100000:
        order = (t & 0x1F) + 1
        warm = [r.signed(bps) for _ in range(order)]
        prec = r.bits(4) + 1
        if prec == 16:
            raise ValueError("invalid FLAC LPC precision code")
        shift = r.signed(5)
        if shift < 0:
            raise ValueError("negative FLAC LPC shift")
        coefs = [r.signed(prec) for _ in range(order)]
        residual = _read_residual(r, n, order)
        out = warm
        for i in range(order, n):
            pred = sum(c * out[i - 1 - j] for j, c in enumerate(coefs)) >> shift
            out.append(residual[i - order] + pred)
    else:
        raise ValueError(f"reserved FLAC subframe type {t:06b}")
    if wasted:
        out = [v << wasted for v in out]
    return out


def _read_residual(r: _Bits, n: int, order: int) -> list[int]:
    method = r.bits(2)
    if method > 1:
        raise ValueError("reserved FLAC residual coding method")
    pbits = 4 if method == 0 else 5
    escape = (1 << pbits) - 1
    po = r.bits(4)
    if n % (1 << po):
        raise ValueError("FLAC partition order does not divide blocksize")
    out: list[int] = []
    for p in range(1 << po):
        cnt = (n >> po) - (order if p == 0 else 0)
        if cnt < 0:
            raise ValueError("FLAC partition shorter than predictor order")
        param = r.bits(pbits)
        if param == escape:
            raw = r.bits(5)
            out.extend(r.signed(raw) if raw else 0 for _ in range(cnt))
        else:
            for _ in range(cnt):
                q = r.unary()
                u = (q << param) | r.bits(param)
                out.append((u >> 1) ^ -(u & 1))
    return out


# ------------------------------------------------- driver-oracled query

_FLAC_GROUPS = 12
_FORMS = ["constant", "fixed1", "fixed2", "verbatim"]
_LAYOUTS = ["mono", "independent", "decorrelated"]
# decorrelated groups (g % 3 == 2) sub-rotate the stereo mode so ALL
# THREE spec decorrelations run on the driver-checked path
_STEREO_MODES = ["left_side", "right_side", "mid_side"]


def _flac_wave(g: int, c: int, n: int) -> list[int]:
    """Closed-form fixture waveform, replayed verbatim by the oracle:
    constant / linear / quadratic per form (the polynomials the fixed
    predictors whiten to constant residual), or a modular ramp for
    VERBATIM (non-negative base so Python % and DuckDB % agree)."""
    a = 200 * (((7 * g + 3 * c) % 11) - 5)
    b = ((5 * g + 7 * c) % 21) - 10
    cc = ((g + c) % 3) - 1
    p = 200 * ((7 * g + 3 * c) % 11)
    form = _FORMS[g % 4]
    if form == "constant":
        return [a] * n
    if form == "fixed1":
        return [a + b * i for i in range(n)]
    if form == "fixed2":
        return [a + b * i + cc * i * i for i in range(n)]
    return [((p + 37 * i + 13 * i * i) % 4001) - 2000 for i in range(n)]


def _flac_layout(g: int) -> str:
    """Output-label layout for group g: mono / independent / one of
    the three stereo decorrelations (sub-rotated by g // 3 so
    left-side, right-side AND mid-side all appear)."""
    base = _LAYOUTS[g % 3]
    if base != "decorrelated":
        return base
    return _STEREO_MODES[(g // 3) % 3]


def _flac_payload(doc_id: int) -> bytes:
    """Deterministic FLAC fixture: waveform by group, layout rotation
    mono / independent-stereo / DECORRELATED stereo (the decorrelated
    groups sub-rotate left-side → right-side → mid-side so every spec
    stereo mode reconstructs on the driver-checked path — lossless, so
    the oracle's expected samples never change), partitioned Rice
    (order 2) for the upper half of groups. ``doc_id % 11 == 6``
    truncates ('corrupt'); ``doc_id % 17 == 5`` flips the frame
    CRC-16's low byte ('crc_error' — proves the integrity check
    actually runs)."""
    g = doc_id % _FLAC_GROUPS
    n = 64 + 16 * (g % 4)
    layout = _flac_layout(g)
    form = _FORMS[g % 4]
    sub = {"constant": "constant", "fixed1": "fixed1",
           "fixed2": "fixed2", "verbatim": "verbatim"}[form]
    if layout == "mono":
        chans = [_flac_wave(g, 0, n)]
    else:
        chans = [_flac_wave(g, 0, n), _flac_wave(g, 1, n)]
    payload = build_flac(
        chans,
        rate=8000 + 100 * g,
        layout="independent" if layout == "independent" else layout,
        forms=[sub] * len(chans),
        po=2 if g >= 6 else 0,
    )
    if doc_id % 11 == 6:
        return payload[: len(payload) // 2]
    if doc_id % 17 == 5:
        return payload[:-1] + bytes([payload[-1] ^ 0x55])
    return payload


def _flac_decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: fabricate → REAL FLAC decode (Rice +
    predictors + decorrelation + CRC/MD5) → integer facts. Typed
    routing: FlacCrcError → 'crc_error', other failures → 'corrupt'.
    Group-deterministic payloads are memoized per partition (same
    rationale as the JPEG worker: a real corpus pays per-document)."""
    cache: dict[tuple[int, bool, bool], tuple] = {}

    def facts(doc_id: int) -> tuple:
        g = doc_id % _FLAC_GROUPS
        key = (g, doc_id % 11 == 6, doc_id % 17 == 5)
        if key not in cache:
            form, layout = _FORMS[g % 4], _flac_layout(g)
            try:
                _rate, _bps, chans = decode_flac(_flac_payload(doc_id))
                ssum = sum(sum(c) for c in chans)
                wsum = sum(
                    (i + 1) * v for c in chans for i, v in enumerate(c)
                )
                cache[key] = (
                    form, layout, "decoded", len(chans[0]), len(chans),
                    ssum, wsum,
                )
            except FlacCrcError:
                cache[key] = (form, layout, "crc_error", 0, 0, 0, 0)
            except Exception:  # noqa: BLE001 — malformed bytes quarantine
                cache[key] = (form, layout, "corrupt", 0, 0, 0, 0)
        return cache[key]

    for pdf in it:
        if pdf.empty:
            continue
        out = [(int(d),) + facts(int(d)) for d in pdf["doc_id"]]
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "form", "layout", "status", "n_samples",
                "n_channels", "sample_sum", "wsample_sum",
            ],
        ).astype(
            {
                "doc_id": "int64", "n_samples": "int32", "n_channels": "int32",
                "sample_sum": "int64", "wsample_sum": "int64",
            }
        )


def _flac_oracle() -> str:
    """Symbolic replay: FLAC is lossless, so the oracle is just the
    waveform formula summed per (group, channel) — no codec model."""
    wave = (
        "CASE g % 4"
        " WHEN 0 THEN a"
        " WHEN 1 THEN a + b * i"
        " WHEN 2 THEN a + b * i + cc * i * i"
        " ELSE ((p + 37 * i + 13 * i * i) % 4001) - 2000 END"
    )
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_FLAC_GROUPS} AS g FROM documents
    ),
    chan AS (
      SELECT g, unnest(CASE WHEN g % 3 = 0 THEN [0] ELSE [0, 1] END) AS c
      FROM grp
    ),
    params AS (
      SELECT g, c, 64 + 16 * (g % 4) AS n,
             200 * (((7 * g + 3 * c) % 11) - 5) AS a,
             ((5 * g + 7 * c) % 21) - 10 AS b,
             ((g + c) % 3) - 1 AS cc,
             200 * ((7 * g + 3 * c) % 11) AS p
      FROM chan
    ),
    sums AS (
      SELECT g,
             MAX(n) AS n_samples,
             CAST(COUNT(*) AS INT) AS n_channels,
             CAST(SUM(list_sum(list_transform(range(0, n),
                 i -> {wave}))) AS BIGINT) AS sample_sum,
             CAST(SUM(list_sum(list_transform(range(0, n),
                 i -> (i + 1) * ({wave})))) AS BIGINT) AS wsample_sum
      FROM params GROUP BY g
    )
    SELECT d.doc_id,
           CASE d.doc_id % 4 WHEN 0 THEN 'constant' WHEN 1 THEN 'fixed1'
                WHEN 2 THEN 'fixed2' ELSE 'verbatim' END AS form,
           CASE d.doc_id % 3 WHEN 0 THEN 'mono' WHEN 1 THEN 'independent'
                ELSE CASE ((d.doc_id % 12) // 3) % 3
                     WHEN 0 THEN 'left_side' WHEN 1 THEN 'right_side'
                     ELSE 'mid_side' END
           END AS layout,
           CASE WHEN d.doc_id % 11 = 6 THEN 'corrupt'
                WHEN d.doc_id % 17 = 5 THEN 'crc_error'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 6 OR d.doc_id % 17 = 5 THEN 0
                ELSE s.n_samples END AS n_samples,
           CASE WHEN d.doc_id % 11 = 6 OR d.doc_id % 17 = 5 THEN 0
                ELSE s.n_channels END AS n_channels,
           CASE WHEN d.doc_id % 11 = 6 OR d.doc_id % 17 = 5 THEN 0
                ELSE s.sample_sum END AS sample_sum,
           CASE WHEN d.doc_id % 11 = 6 OR d.doc_id % 17 = 5 THEN 0
                ELSE s.wsample_sum END AS wsample_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_FLAC_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_flac_decode", oracle=_flac_oracle())
def multimodal_flac_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native FLAC decode, end to end: fabricated real FLAC streams
    (fixed-predictor / constant / verbatim subframes, partitioned Rice
    residuals, left/side stereo decorrelation, CRC-8/16 + MD5) are
    decoded with the REAL decoder and reduced to integer facts. FLAC
    is LOSSLESS, so the DuckDB oracle replays only the closed-form
    waveform — any codec bug (Rice off-by-one, wrong predictor,
    swapped decorrelation) changes exact sample values and fails the
    hash. Three statuses are oracled: 'decoded', 'corrupt'
    (truncation) and 'crc_error' (flipped frame CRC — proves the
    integrity check runs rather than being dead code).

    Scale notes (100 TB): Arrow-batched ``mapInPandas`` map, no
    shuffle except the presentational final sort; ~50 bytes/row of
    facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _flac_decode_batches,
        schema=(
            "doc_id long, form string, layout string, status string, "
            "n_samples int, n_channels int, sample_sum long, wsample_sum long"
        ),
    ).transform(_presentation_sort, "doc_id")


# --------------------------------------- spectral features (oracled)

_SPEC_N = 128          # analysis frame length (samples)
_SPEC_BINS = (1, 2, 4, 8)
_SPEC_SCALE = 256      # fixed-point coefficient scale


def _spec_tables() -> dict[int, tuple[list[int], list[int]]]:
    """Fixed-point DFT twiddle tables: round(cos/sin(2π·k·n/N)·SCALE).
    Generated ONCE here and inlined as literals into BOTH the worker
    and the oracle SQL — the rounding never crosses an engine boundary,
    so the correlation sums are exact integers on both sides (the
    standard fixed-point DSP practice, e.g. CMSIS-DSP q15 tables)."""
    import math

    out = {}
    for k in _SPEC_BINS:
        ct = [round(math.cos(2 * math.pi * k * n / _SPEC_N) * _SPEC_SCALE)
              for n in range(_SPEC_N)]
        st = [round(math.sin(2 * math.pi * k * n / _SPEC_N) * _SPEC_SCALE)
              for n in range(_SPEC_N)]
        out[k] = (ct, st)
    return out


def _spec_payload(doc_id: int) -> bytes:
    """Mono FLAC fixture at a FIXED frame length (_SPEC_N samples),
    waveform/subframe-form rotation as :func:`_flac_payload`;
    ``doc_id % 11 == 9`` truncates ('corrupt')."""
    g = doc_id % _FLAC_GROUPS
    wave = _flac_wave(g, 0, _SPEC_N)
    form = _FORMS[g % 4]
    payload = build_flac([wave], rate=8000, forms=[form],
                         po=2 if g >= 6 else 0)
    if doc_id % 11 == 9:
        return payload[: len(payload) // 2]
    return payload


def _spec_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas worker: FLAC decode → fixed-point DFT correlations
    (int64 dot products against the shared twiddle tables) → one row
    per (doc, bin) with exact c/s sums and energy = c² + s²."""
    import numpy as np

    tables = {
        k: (np.array(ct, dtype=np.int64), np.array(st, dtype=np.int64))
        for k, (ct, st) in _spec_tables().items()
    }
    cache: dict[tuple[int, bool], list] = {}

    def rows(doc_id: int) -> list:
        key = (doc_id % _FLAC_GROUPS, doc_id % 11 == 9)
        if key not in cache:
            try:
                _r, _b, chans = decode_flac(_spec_payload(doc_id))
                x = np.array(chans[0], dtype=np.int64)
                out = []
                for k in _SPEC_BINS:
                    ct, st = tables[k]
                    c, s = int(x @ ct), int(x @ st)
                    out.append(("decoded", k, c, s, c * c + s * s))
                cache[key] = out
            except Exception:  # noqa: BLE001
                cache[key] = [("corrupt", k, 0, 0, 0) for k in _SPEC_BINS]
        return cache[key]

    for pdf in it:
        if pdf.empty:
            continue
        out = [
            (int(d), status, k, c, s, e)
            for d in pdf["doc_id"]
            for status, k, c, s, e in rows(int(d))
        ]
        yield pd.DataFrame(
            out,
            columns=["doc_id", "status", "bin", "c_sum", "s_sum", "energy"],
        ).astype(
            {
                "doc_id": "int64", "bin": "int32", "c_sum": "int64",
                "s_sum": "int64", "energy": "int64",
            }
        )


def _spec_oracle() -> str:
    """Symbolic replay: the SAME twiddle literals, the SAME closed-form
    waveform, exact integer dot products. FLAC's losslessness is what
    makes a spectral feature oracle even possible — a lossy codec
    would perturb x[n] and every correlation with it."""
    tables = _spec_tables()
    rows = ", ".join(
        f"({k}, {list(ct)}, {list(st)})" for k, (ct, st) in tables.items()
    )
    wave = (
        "CASE g % 4"
        " WHEN 0 THEN a"
        " WHEN 1 THEN a + b * n"
        " WHEN 2 THEN a + b * n + cc * n * n"
        " ELSE ((p + 37 * n + 13 * n * n) % 4001) - 2000 END"
    )
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_FLAC_GROUPS} AS g FROM documents
    ),
    params AS (
      SELECT g,
             200 * (((7 * g) % 11) - 5) AS a,
             ((5 * g) % 21) - 10 AS b,
             (g % 3) - 1 AS cc,
             200 * ((7 * g) % 11) AS p
      FROM grp
    ),
    bins(bin, ct, st) AS (VALUES {rows}),
    corr AS (
      SELECT g, bin,
             CAST(list_sum(list_transform(range(0, {_SPEC_N}),
                 n -> ({wave}) * ct[n + 1])) AS BIGINT) AS c_sum,
             CAST(list_sum(list_transform(range(0, {_SPEC_N}),
                 n -> ({wave}) * st[n + 1])) AS BIGINT) AS s_sum
      FROM params CROSS JOIN bins
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 9 THEN 'corrupt' ELSE 'decoded' END
             AS status,
           c.bin,
           CASE WHEN d.doc_id % 11 = 9 THEN 0 ELSE c.c_sum END AS c_sum,
           CASE WHEN d.doc_id % 11 = 9 THEN 0 ELSE c.s_sum END AS s_sum,
           CASE WHEN d.doc_id % 11 = 9 THEN 0
                ELSE c.c_sum * c.c_sum + c.s_sum * c.s_sum END AS energy
    FROM documents d
    JOIN corr c ON d.doc_id % {_FLAC_GROUPS} = c.g
    ORDER BY d.doc_id, c.bin
    """


@register("audio_spectral_bins", oracle=_spec_oracle())
def audio_spectral_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio SPECTRAL feature extraction, end to end through the
    native FLAC decoder: per document, fixed-point DFT correlations at
    {bins} cycle bins over a {n}-sample frame — c/s sums are exact
    int64 dot products against shared twiddle literals, energy is
    c² + s². One row per (doc, bin); truncated payloads quarantine.

    Scale notes (100 TB): decode + 8 dot products per row inside one
    Arrow-batched ``mapInPandas`` — the spectral step adds O(N·|bins|)
    integer work per document and nothing to the shuffle (24 bytes of
    facts per output row). The fixed-point-table trick is what keeps a
    float FFT's nondeterminism out of the driver hash."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _spec_batches,
        schema=(
            "doc_id long, status string, bin int, c_sum long, "
            "s_sum long, energy long"
        ),
    ).transform(_presentation_sort, "doc_id", "bin")


audio_spectral_bins.__doc__ = audio_spectral_bins.__doc__.format(
    bins=list(_SPEC_BINS), n=_SPEC_N
)
