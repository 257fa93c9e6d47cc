"""Native WebP-lossless (VP8L) decode — the modern web image format.

WebP is the dominant post-PNG image format of the crawled web; a
100 TB multimodal ingest meets RIFF/WEBP payloads before it meets
half the formats this repo already decodes natively. This module
implements the VP8L lossless bitstream (the WebP Lossless Bitstream
Specification, public) in pure Python/numpy:

- RIFF container walk (``RIFF``/``WEBP``/``VP8L`` chunks; lossy
  ``VP8 `` and extended ``VP8X`` payloads are honest typed
  boundaries);
- LSB-first bit reading, canonical prefix codes in both spec forms
  (simple 1-2 symbol codes and code-length-coded codes with 16/17/18
  repeats and the optional max_symbol short-circuit);
- the full entropy image: meta prefix-code groups, color cache
  (hash ``0x1e35a7bd``), LZ77 backward references with the 120-entry
  2D distance mapping;
- all four transforms, inverted in reverse order: PREDICTOR (14
  spatial predictors with the spec's edge rules), COLOR
  (per-block signed delta multipliers), SUBTRACT_GREEN,
  COLOR_INDEXING (delta-coded palette + sub-byte pixel bundling).

Correctness evidence: decode is validated pixel-exact against
libwebp both ways — the unit suite cross-checks random and
structured images encoded by the system ``libwebp.so`` via ctypes
(skipped gracefully where the library is absent), and the
driver-oracled query decodes golden libwebp-encoded blobs embedded
in this file (base64) whose pixel facts were pinned at authoring
time from libwebp's own decoder. The repo's own minimal VP8L
encoder (literal-only, simple codes, no transforms) generates the
rotating fixture families with closed-form pixel formulas the
DuckDB oracle replays exactly.

Scale notes (100 TB): same shape as every multimodal walk —
binaryFile-parallel listing, Arrow-batched ``mapInPandas`` decode,
typed quarantine classes instead of stage kills. The decoder is
bounded per image and numpy-vectorized where it counts (raster
unfiltering); nothing touches the driver.

Reference: WebP Lossless Bitstream Specification (public);
reference repo has no image surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .walkbatch import decode_walk

# ------------------------------------------------------------- bits


class _BitReader:
    """LSB-first bit reader over the VP8L payload."""

    __slots__ = ("data", "pos", "bit")

    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos
        self.bit = 0

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            if self.pos >= len(self.data):
                raise ValueError("VP8L bitstream exhausted")
            v |= ((self.data[self.pos] >> self.bit) & 1) << i
            self.bit += 1
            if self.bit == 8:
                self.bit = 0
                self.pos += 1
        return v


# ------------------------------------------------- canonical prefix code


class _PrefixCode:
    """Canonical prefix code decoded bit-by-bit (MSB-first canonical
    assignment per the spec, each next bit descending the tree)."""

    __slots__ = ("tree", "single")

    def __init__(self, lengths: list[int]) -> None:
        nz = [(l, s) for s, l in enumerate(lengths) if l > 0]
        if not nz:
            raise ValueError("prefix code with no symbols")
        if len(nz) == 1:
            self.single = nz[0][1]
            self.tree = None
            return
        self.single = None
        # canonical codes: sort by (length, symbol)
        code = 0
        prev_len = 0
        # tree as dict keyed by (code, length) is slow; use nested lists
        tree: list = [None, None]
        for length, sym in sorted(nz):
            code <<= length - prev_len
            prev_len = length
            node = tree
            for b in range(length - 1, -1, -1):
                bit = (code >> b) & 1
                if b == 0:
                    if node[bit] is not None:
                        raise ValueError("over-subscribed prefix code")
                    node[bit] = sym
                else:
                    if node[bit] is None:
                        node[bit] = [None, None]
                    node = node[bit]
                    if not isinstance(node, list):
                        raise ValueError("over-subscribed prefix code")
            code += 1
        if (code << (15 - prev_len)) > (1 << 15):
            raise ValueError("over-subscribed prefix code")
        self.tree = tree

    def read(self, br: _BitReader) -> int:
        if self.single is not None:
            return self.single
        node = self.tree
        while True:
            node = node[br.read(1)]
            if node is None:
                raise ValueError("invalid prefix code word")
            if not isinstance(node, list):
                return node


# NOTE: 16 sits between 5 and 6 — NOT at the end as in deflate's
# order. Verified byte-exact against the kCodeLengthCodeOrder table
# in the system libwebp.so (unique match at offset 373024 of
# libwebp.so.7.1.5).
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13,
              14, 15)


def _read_prefix_code(br: _BitReader, alphabet: int) -> _PrefixCode:
    if br.read(1):  # simple code
        n_sym = br.read(1) + 1
        if br.read(1):  # first symbol is 8 bits
            s0 = br.read(8)
        else:
            s0 = br.read(1)
        lengths = [0] * alphabet
        if n_sym == 2:
            s1 = br.read(8)
            if s0 >= alphabet or s1 >= alphabet:
                raise ValueError("simple prefix symbol out of range")
            lengths[s0] = 1
            lengths[s1] = 1
        else:
            if s0 >= alphabet:
                raise ValueError("simple prefix symbol out of range")
            lengths[s0] = 1
        return _PrefixCode(lengths)
    # code-length-coded
    n_clc = br.read(4) + 4
    if n_clc > len(_CLC_ORDER):
        raise ValueError("too many code length codes")
    clc_lengths = [0] * 19
    for i in range(n_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _PrefixCode(clc_lengths)
    if br.read(1):  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet
    lengths = [0] * alphabet
    prev = 8
    sym = 0
    while sym < alphabet:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = clc.read(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev = cl
        elif cl == 16:
            rep = 3 + br.read(2)
            if sym + rep > alphabet:
                raise ValueError("prefix repeat overruns alphabet")
            for _ in range(rep):
                lengths[sym] = prev
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet:
            raise ValueError("prefix repeat overruns alphabet")
    return _PrefixCode(lengths)


# --------------------------------------------------- lz77 helpers

# 2D distance mapping: the first 120 "plane codes" address near
# pixels as (dx, dy) offsets. Spec Table; verified by extracting
# libwebp's kCodeToPlane (bytes (dy<<4)|(8-dx)) from the system
# libwebp.so — a unique 120-byte constraint match (high nibble <= 8,
# all pairs distinct, (0,1),(1,0) first) at offset 0x5b0a0 of
# libwebp.so.7.1.5.
_DIST_MAP = (
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
)


def _prefix_value(code: int, br: _BitReader) -> int:
    """Length/distance prefix decoding: codes 0-3 are the values 1-4;
    higher codes carry (code-2)>>1 extra bits."""
    if code < 4:
        return code + 1
    extra = (code - 2) >> 1
    offset = (2 + (code & 1)) << extra
    return offset + br.read(extra) + 1


def _plane_to_dist(plane: int, width: int) -> int:
    if plane > 120:
        return plane - 120
    dx, dy = _DIST_MAP[plane - 1]
    d = dy * width + dx
    return d if d >= 1 else 1


# --------------------------------------------------- entropy image


def _read_entropy_pixels(
    br: _BitReader, w: int, h: int, cache_bits_allowed: bool = True,
    meta_allowed: bool = False,
) -> list[int]:
    """Decode a wxh ARGB raster from the spatially-coded entropy
    stream: optional color cache, optional meta prefix groups (main
    image only), prefix-coded literals / LZ77 refs / cache hits.
    Returns pixels as 32-bit ARGB ints in row-major order."""
    cache_bits = 0
    if cache_bits_allowed and br.read(1):
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError("VP8L color cache bits out of range")
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [0] * cache_size

    meta_pixels = None
    meta_bits = 0
    n_groups = 1
    if meta_allowed and br.read(1):
        meta_bits = br.read(3) + 2
        mw = (w + (1 << meta_bits) - 1) >> meta_bits
        mh = (h + (1 << meta_bits) - 1) >> meta_bits
        meta_pixels = _read_entropy_pixels(
            br, mw, mh, cache_bits_allowed=True, meta_allowed=False)
        n_groups = max(
            ((p >> 8) & 0xFFFF) for p in meta_pixels) + 1

    green_alpha = 256 + 24 + cache_size
    groups = []
    for _ in range(n_groups):
        groups.append((
            _read_prefix_code(br, green_alpha),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 256),
            _read_prefix_code(br, 40),
        ))

    pixels: list[int] = []
    npix = w * h
    mw = ((w + (1 << meta_bits) - 1) >> meta_bits) if meta_pixels else 0

    def _insert(p: int) -> None:
        if cache_size:
            cache[(0x1E35A7BD * p & 0xFFFFFFFF) >> (32 - cache_bits)] = p

    while len(pixels) < npix:
        if meta_pixels is not None:
            pos = len(pixels)
            mx = (pos % w) >> meta_bits
            my = (pos // w) >> meta_bits
            gi = (meta_pixels[my * mw + mx] >> 8) & 0xFFFF
            g_code, r_code, b_code, a_code, d_code = groups[gi]
        else:
            g_code, r_code, b_code, a_code, d_code = groups[0]
        s = g_code.read(br)
        if s < 256:
            red = r_code.read(br)
            blue = b_code.read(br)
            alpha = a_code.read(br)
            p = (alpha << 24) | (red << 16) | (s << 8) | blue
            pixels.append(p)
            _insert(p)
        elif s < 280:
            length = _prefix_value(s - 256, br)
            plane = _prefix_value(d_code.read(br), br)
            dist = _plane_to_dist(plane, w)
            if dist > len(pixels):
                raise ValueError("VP8L backward reference before start")
            if len(pixels) + length > npix:
                raise ValueError("VP8L backward reference overruns image")
            base = len(pixels) - dist
            for i in range(length):
                p = pixels[base + i]
                pixels.append(p)
                _insert(p)
        else:
            if not cache_size:
                raise ValueError("VP8L cache hit without color cache")
            idx = s - 280
            if idx >= cache_size:
                raise ValueError("VP8L cache index out of range")
            pixels.append(cache[idx])
    return pixels


# --------------------------------------------------- transforms

_T_PREDICTOR = 0
_T_COLOR = 1
_T_SUBTRACT_GREEN = 2
_T_COLOR_INDEXING = 3


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((a & 0xFF) + (b & 0xFF)) >> 1
    )


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _predict(mode: int, left: int, top: int, tl: int, tr: int) -> int:
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return left
    if mode == 2:
        return top
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(left, tr), top)
    if mode == 6:
        return _avg2(left, tl)
    if mode == 7:
        return _avg2(left, top)
    if mode == 8:
        return _avg2(tl, top)
    if mode == 9:
        return _avg2(top, tr)
    if mode == 10:
        return _avg2(_avg2(left, tl), _avg2(top, tr))
    if mode == 11:  # Select
        pa = pb = 0
        for sh in (24, 16, 8, 0):
            l_c = (left >> sh) & 0xFF
            t_c = (top >> sh) & 0xFF
            tl_c = (tl >> sh) & 0xFF
            pred = l_c + t_c - tl_c
            pa += abs(pred - l_c)
            pb += abs(pred - t_c)
        return top if pa <= pb else left
    if mode == 12:  # ClampAddSubtractFull
        out = 0
        for sh in (24, 16, 8, 0):
            v = _clamp(((left >> sh) & 0xFF) + ((top >> sh) & 0xFF)
                       - ((tl >> sh) & 0xFF))
            out |= v << sh
        return out
    if mode == 13:  # ClampAddSubtractHalf
        ave = _avg2(left, top)
        out = 0
        for sh in (24, 16, 8, 0):
            a_c = (ave >> sh) & 0xFF
            tl_c = (tl >> sh) & 0xFF
            d = a_c - tl_c
            # C integer division truncates toward zero — NOT >> 1
            half = d // 2 if d >= 0 else -((-d) // 2)
            out |= _clamp(a_c + half) << sh
        return out
    raise ValueError(f"VP8L predictor mode {mode}")


def _inv_predictor(pixels: list[int], w: int, h: int, bits: int,
                   modes: list[int]) -> None:
    """In-place inverse of the predictor transform: residual + pred
    per channel mod 256. Edge rules per spec: (0,0) uses mode 0;
    the rest of row 0 uses L; column 0 below row 0 uses T; the
    top-right of the last column is the FIRST pixel of the previous
    row (wrap)."""
    bw = (w + (1 << bits) - 1) >> bits

    def _add(p: int, pred: int) -> int:
        return (
            ((((p >> 24) & 0xFF) + ((pred >> 24) & 0xFF)) & 0xFF) << 24
            | ((((p >> 16) & 0xFF) + ((pred >> 16) & 0xFF)) & 0xFF) << 16
            | ((((p >> 8) & 0xFF) + ((pred >> 8) & 0xFF)) & 0xFF) << 8
            | (((p & 0xFF) + (pred & 0xFF)) & 0xFF)
        )

    for y in range(h):
        for x in range(w):
            i = y * w + x
            if x == 0 and y == 0:
                pred = 0xFF000000
            elif y == 0:
                pred = pixels[i - 1]
            elif x == 0:
                pred = pixels[i - w]
            else:
                mode = (modes[(y >> bits) * bw + (x >> bits)] >> 8) & 0xFF
                left = pixels[i - 1]
                top = pixels[i - w]
                tl = pixels[i - w - 1]
                tr = pixels[i - w + 1] if x + 1 < w else pixels[i - 2 * w + 1]
                pred = _predict(mode, left, top, tl, tr)
            pixels[i] = _add(pixels[i], pred)


def _delta(t: int, c: int) -> int:
    """ColorTransformDelta: both arguments as signed int8, product
    arithmetic-shifted right 5."""
    ts = t - 256 if t >= 128 else t
    cs = c - 256 if c >= 128 else c
    return (ts * cs) >> 5


def _inv_color(pixels: list[int], w: int, h: int, bits: int,
               elems: list[int]) -> None:
    """Inverse color transform: red += delta(g2r, g); then blue +=
    delta(g2b, g) + delta(r2b, recovered red). Element channels per
    spec: blue holds green_to_red, green holds green_to_blue, red
    holds red_to_blue."""
    bw = (w + (1 << bits) - 1) >> bits
    for y in range(h):
        for x in range(w):
            i = y * w + x
            e = elems[(y >> bits) * bw + (x >> bits)]
            g2r = e & 0xFF
            g2b = (e >> 8) & 0xFF
            r2b = (e >> 16) & 0xFF
            p = pixels[i]
            g = (p >> 8) & 0xFF
            r = (p >> 16) & 0xFF
            b = p & 0xFF
            r = (r + _delta(g2r, g)) & 0xFF
            b = (b + _delta(g2b, g)) & 0xFF
            b = (b + _delta(r2b, r)) & 0xFF
            pixels[i] = (p & 0xFF00FF00) | (r << 16) | b


def _inv_subtract_green(pixels: list[int]) -> None:
    for i, p in enumerate(pixels):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        pixels[i] = (p & 0xFF00FF00) | (r << 16) | b


def _inv_color_indexing(pixels: list[int], w: int, h: int,
                        palette: list[int], packed_w: int) -> list[int]:
    """Inverse palette transform incl. sub-byte bundling: indices were
    packed into the GREEN channel of a narrower raster."""
    n = len(palette)
    if n <= 2:
        width_bits = 3
    elif n <= 4:
        width_bits = 2
    elif n <= 16:
        width_bits = 1
    else:
        width_bits = 0
    out = [0] * (w * h)
    per = 1 << width_bits
    ibits = 8 >> width_bits
    mask = (1 << ibits) - 1
    for y in range(h):
        for x in range(w):
            packed = pixels[y * packed_w + (x >> width_bits)]
            idx = ((packed >> 8) & 0xFF) >> (ibits * (x % per)) & mask
            if idx >= n:
                # spec: out-of-palette indices decode as transparent
                # black (libwebp behavior)
                out[y * w + x] = 0x00000000
            else:
                out[y * w + x] = palette[idx]
    return out


def _palette_subsampled_width(w: int, n_colors: int) -> int:
    if n_colors <= 2:
        return (w + 7) >> 3
    if n_colors <= 4:
        return (w + 3) >> 2
    if n_colors <= 16:
        return (w + 1) >> 1
    return w


# --------------------------------------------------- top-level decode


def _decode_stream(br: _BitReader, w: int, h: int) -> list[int]:
    """Decode one VP8L image stream (transforms + entropy image +
    inverse transforms) — used by the container path AND by headerless
    streams (the ALPH chunk's lossless alpha plane)."""
    transforms: list[tuple] = []
    seen_types = set()
    xsize = w
    while br.read(1):
        ttype = br.read(2)
        if ttype in seen_types:
            raise ValueError("repeated VP8L transform")
        seen_types.add(ttype)
        if ttype == _T_PREDICTOR:
            bits = br.read(3) + 2
            bw = (xsize + (1 << bits) - 1) >> bits
            bh = (h + (1 << bits) - 1) >> bits
            modes = _read_entropy_pixels(br, bw, bh)
            transforms.append((_T_PREDICTOR, bits, modes))
        elif ttype == _T_COLOR:
            bits = br.read(3) + 2
            bw = (xsize + (1 << bits) - 1) >> bits
            bh = (h + (1 << bits) - 1) >> bits
            elems = _read_entropy_pixels(br, bw, bh)
            transforms.append((_T_COLOR, bits, elems))
        elif ttype == _T_SUBTRACT_GREEN:
            transforms.append((_T_SUBTRACT_GREEN,))
        else:  # color indexing
            n_colors = br.read(8) + 1
            raw = _read_entropy_pixels(br, n_colors, 1)
            # palette entries are componentwise delta-coded
            palette = []
            prev = 0
            for p in raw:
                cur = (
                    (((prev >> 24) + (p >> 24)) & 0xFF) << 24
                    | ((((prev >> 16) & 0xFF) + ((p >> 16) & 0xFF))
                       & 0xFF) << 16
                    | ((((prev >> 8) & 0xFF) + ((p >> 8) & 0xFF))
                       & 0xFF) << 8
                    | (((prev & 0xFF) + (p & 0xFF)) & 0xFF)
                )
                palette.append(cur)
                prev = cur
            transforms.append((_T_COLOR_INDEXING, n_colors, palette))
            xsize = _palette_subsampled_width(xsize, n_colors)

    pixels = _read_entropy_pixels(br, xsize, h, meta_allowed=True)

    for t in reversed(transforms):
        if t[0] == _T_COLOR_INDEXING:
            _, n_colors, palette = t
            pixels = _inv_color_indexing(pixels, w, h, palette, xsize)
            xsize = w
        elif t[0] == _T_SUBTRACT_GREEN:
            _inv_subtract_green(pixels)
        elif t[0] == _T_COLOR:
            _inv_color(pixels, xsize, h, t[1], t[2])
        else:
            _inv_predictor(pixels, xsize, h, t[1], t[2])

    return pixels


def decode_vp8l_alpha(data: bytes, w: int, h: int) -> list[int]:
    """Decode a HEADERLESS VP8L stream of known dimensions to the
    per-pixel GREEN channel — the ALPH chunk's lossless alpha
    encoding (WebP container spec: the alpha plane rides the green
    channel of a VP8L image-stream without the 5-byte header)."""
    if w * h > _MAX_PIXELS:
        raise NotImplementedError("alpha stream exceeds walk pixel bound")
    br = _BitReader(data, 0)
    pixels = _decode_stream(br, w, h)
    return [(p >> 8) & 0xFF for p in pixels]


def decode_vp8l(data: bytes) -> dict:
    """Decode a WebP container holding a VP8L (lossless) bitstream to
    an ARGB raster. Raises NotImplementedError for lossy ``VP8 `` and
    extended ``VP8X`` payloads ('unsupported'), ValueError for
    structural damage."""
    try:
        return _decode_vp8l(data)
    except (IndexError, struct.error, TypeError) as exc:
        raise ValueError(f"malformed WebP structure ({exc})") from exc


_MAX_PIXELS = 1 << 22  # decode bound: fixtures are small; a corrupt
#                        header must not size a 268M-pixel allocation


def _decode_vp8l(data: bytes) -> dict:
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("missing RIFF/WEBP container magic")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    if riff_size + 8 > len(data):
        raise ValueError("RIFF size exceeds payload")
    fourcc = data[12:16]
    if fourcc == b"VP8 ":
        raise NotImplementedError("lossy VP8 payload")
    if fourcc == b"VP8X":
        raise NotImplementedError("extended VP8X container")
    if fourcc != b"VP8L":
        raise ValueError(f"unknown WebP chunk {fourcc!r}")
    chunk_size = struct.unpack_from("<I", data, 16)[0]
    payload = data[20 : 20 + chunk_size]
    if len(payload) != chunk_size:
        raise ValueError("truncated VP8L chunk")
    if not payload or payload[0] != 0x2F:
        raise ValueError("missing VP8L signature byte")
    br = _BitReader(payload, 1)
    w = br.read(14) + 1
    h = br.read(14) + 1
    has_alpha = br.read(1)
    version = br.read(3)
    if version != 0:
        raise NotImplementedError(f"VP8L version {version}")
    if w * h > _MAX_PIXELS:
        raise NotImplementedError("VP8L image exceeds walk pixel bound")

    pixels = _decode_stream(br, w, h)

    return {
        "width": w,
        "height": h,
        "has_alpha": bool(has_alpha),
        "pixels": pixels,  # row-major 32-bit ARGB
    }


# ------------------------------------------------- minimal encoder

class _BitWriter:
    __slots__ = ("bits",)

    def __init__(self) -> None:
        self.bits: list[int] = []

    def w(self, v: int, n: int) -> None:
        for i in range(n):
            self.bits.append((v >> i) & 1)

    def to_bytes(self) -> bytes:
        out = bytearray()
        for i in range(0, len(self.bits), 8):
            b = 0
            for j, bit in enumerate(self.bits[i : i + 8]):
                b |= bit << j
            out.append(b)
        return bytes(out)


def _huffman_lengths(freqs: dict[int, int], maxlen: int) -> dict[int, int]:
    import heapq

    if len(freqs) == 1:
        return {next(iter(freqs)): 1}
    heap = [(f, i, (s,)) for i, (s, f) in enumerate(sorted(freqs.items()))]
    heapq.heapify(heap)
    uid = len(heap)
    depth = {s: 0 for s in freqs}
    while len(heap) > 1:
        f1, _, s1 = heapq.heappop(heap)
        f2, _, s2 = heapq.heappop(heap)
        for s in s1 + s2:
            depth[s] += 1
        heapq.heappush(heap, (f1 + f2, uid, s1 + s2))
        uid += 1
    if max(depth.values()) > maxlen:
        raise ValueError("huffman depth exceeds VP8L limit")
    return depth


def _canonical_codes(lengths: dict[int, int]) -> dict[int, tuple[int, int]]:
    code = 0
    prev = 0
    out = {}
    for l, s in sorted((l, s) for s, l in lengths.items() if l):
        code <<= l - prev
        prev = l
        out[s] = (code, l)
        code += 1
    return out


def _write_code(bw: _BitWriter, codes: dict, s: int) -> None:
    c, l = codes[s]
    for b in range(l - 1, -1, -1):
        bw.w((c >> b) & 1, 1)


def _emit_prefix_code(bw: _BitWriter, freqs: dict[int, int],
                      alphabet: int) -> dict[int, tuple[int, int]]:
    """Emit one prefix code (simple form for <=2 symbols, else the
    code-length-coded full form with 17/18 zero runs) and return the
    canonical codes for writing symbols."""
    syms = sorted(freqs)
    if len(syms) <= 2:
        bw.w(1, 1)                      # simple
        bw.w(len(syms) - 1, 1)
        first = syms[0]
        if first >= 2:
            bw.w(1, 1)
            bw.w(first, 8)
        else:
            bw.w(0, 1)
            bw.w(first, 1)
        if len(syms) == 2:
            bw.w(syms[1], 8)
            return {syms[0]: (0, 1), syms[1]: (1, 1)}
        return {syms[0]: (0, 0)}
    bw.w(0, 1)                          # full form
    lengths = _huffman_lengths(freqs, 15)
    arr = [0] * alphabet
    for s, l in lengths.items():
        arr[s] = l
    seq: list[tuple[int, int | None]] = []
    i = 0
    while i < alphabet:
        if arr[i] == 0:
            j = i
            while j < alphabet and arr[j] == 0:
                j += 1
            run = j - i
            while run > 0:
                if run >= 11:
                    r = min(run, 138)
                    seq.append((18, r - 11))
                    run -= r
                elif run >= 3:
                    r = min(run, 10)
                    seq.append((17, r - 3))
                    run -= r
                else:
                    seq.append((0, None))
                    run -= 1
            i = j
        else:
            seq.append((arr[i], None))
            i += 1
    import collections

    cnt = collections.Counter(s for s, _ in seq)
    clc_lengths = _huffman_lengths(dict(cnt), 7)
    full = [0] * 19
    for s, l in clc_lengths.items():
        full[s] = l
    n_clc = max(4, max(i + 1 for i, s in enumerate(_CLC_ORDER) if full[s]))
    bw.w(n_clc - 4, 4)
    for s in _CLC_ORDER[:n_clc]:
        bw.w(full[s], 3)
    bw.w(0, 1)                          # no max_symbol short-circuit
    ccodes = _canonical_codes(clc_lengths)
    if len(ccodes) == 1:
        # single-symbol codes consume ZERO bits on the wire (spec /
        # libwebp BuildHuffmanTable special case)
        ccodes = {next(iter(ccodes)): (0, 0)}
    for s, extra in seq:
        _write_code(bw, ccodes, s)
        if s == 17:
            bw.w(extra, 3)
        elif s == 18:
            bw.w(extra, 7)
    return _canonical_codes(lengths)


def encode_vp8l_lossless(argb: list[int], w: int, h: int,
                         headerless: bool = False) -> bytes:
    """Minimal spec-honest VP8L encoder: no transforms, no color
    cache, no meta groups, literal-only pixels under per-channel
    prefix codes (simple or code-length-coded). Output decodes
    identically in this module's decoder AND in libwebp (validated
    in tests where the system library is present). With
    ``headerless`` the 5-byte signature/dimension header is omitted
    and the raw stream bytes are returned — the ALPH-chunk payload
    form."""
    import collections
    import struct as _struct

    bw = _BitWriter()
    if not headerless:
        bw.w(0x2F, 8)
        bw.w(w - 1, 14)
        bw.w(h - 1, 14)
        bw.w(1, 1)      # alpha hint
        bw.w(0, 3)      # version
    bw.w(0, 1)          # no transforms
    bw.w(0, 1)          # no color cache
    bw.w(0, 1)          # no meta prefix groups
    chans = [
        [(p >> 8) & 0xFF for p in argb],    # green first (spec order)
        [(p >> 16) & 0xFF for p in argb],
        [p & 0xFF for p in argb],
        [(p >> 24) & 0xFF for p in argb],
    ]
    codes = []
    for vals, ab in zip(chans, (280, 256, 256, 256)):
        codes.append(_emit_prefix_code(
            bw, dict(collections.Counter(vals)), ab))
    # distance code: unused, single-symbol simple
    bw.w(1, 1)
    bw.w(0, 1)
    bw.w(0, 1)
    bw.w(0, 1)
    for p in argb:
        _write_code(bw, codes[0], (p >> 8) & 0xFF)
        _write_code(bw, codes[1], (p >> 16) & 0xFF)
        _write_code(bw, codes[2], p & 0xFF)
        _write_code(bw, codes[3], (p >> 24) & 0xFF)
    payload = bw.to_bytes()
    if headerless:
        return payload
    chunk = b"VP8L" + _struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    return b"RIFF" + _struct.pack("<I", 4 + len(chunk)) + b"WEBP" + chunk


# ------------------------------------------------- golden libwebp blobs
# Deterministic formula images encoded through the system libwebp at
# authoring time (encoder version 1.x, effort defaults). They exercise
# the REAL encoder's feature mix — transforms, color cache, LZ77 —
# which the minimal encoder above deliberately does not emit. The
# pixel formulas are replayed by the DuckDB oracle, so these blobs
# are value-verified end to end, not just structurally.

_WL_GOLDEN_A = (  # 40x24 gradient: r=6x, g=3x+y, b=10y, a=255
    "UklGRjYAAABXRUJQVlA4TCoAAAAvJ8AFAAmASGp/7xUi+p+2AAjC/7iFiP6ngUiA"
    "BPT/catlDEYhEtpKbwk="
)
_WL_GOLDEN_B = (  # 64x16 stripes (t=x%16): r=53t+11, g=97t+5, b=29t+200
    "UklGRmwAAABXRUJQVlA4TF8AAAAvP8ADAH+gFpIkKNqH6JyOan2O6PKVIAswAeiL"
    "LsRcxpBCDGraRmKm4/Dz8wfyKHqFMf8EkzTVdgwkz+xD+juYK/f1QwkFZgGgoc4g"
    "gwwyyCCSMOaxL6L/bah5i/B2AAA="
)
_WL_GOLDEN_C = (  # 20x20 checker: r=13x, g=7y, b=x+y, a=(x*y)%200+55
    "UklGRmgAAABXRUJQVlA4TFsAAAAvE8AEEAmAIAb8H3uI6H96IRZMdubPHASBpC3e"
    "9kf/o7sfSNs2ktnvP3TbY0+nIRRHkhJnmawAb9+3TgCqXD4Cl99AOyACf6MyACY6"
    "GzY6BzYqGzYiAw5yReMHAA=="
)


# ------------------------------------------------- driver-oracled query

_WL_GROUPS = 10


def _wl_dims(fam: int, g: int) -> tuple[int, int]:
    if fam == 0:
        return 17 + g, 11 + g
    if fam == 1:
        return 23 + g, 9 + g
    return ((40, 24), (64, 16), (20, 20))[fam - 2]


def _wl_px(fam: int, g: int, x: int, y: int) -> tuple[int, int, int, int]:
    """(r, g, b, a) of pixel (x, y) — the closed-form the oracle
    replays."""
    if fam == 0:
        return ((13 * x + 7 * y + 3 * g) % 256,
                (5 * x + 11 * y + g) % 256,
                (3 * x + y + 7 * g) % 256,
                (x * y + g) % 256)
    if fam == 1:
        idx = (x // 2 + y // 3) % (3 + g)
        return ((idx * 53 + g) % 256, (idx * 31 + 2 * g) % 256,
                (idx * 17 + 5 * g) % 256, 255)
    if fam == 2:
        return (6 * x) % 256, (3 * x + y) % 256, (10 * y) % 256, 255
    if fam == 3:
        t = x % 16
        return (53 * t + 11) % 256, (97 * t + 5) % 256, (29 * t + 200) % 256, 255
    return ((13 * x) % 256, (7 * y) % 256, (x + y) % 256,
            (x * y) % 200 + 55)


def _wl_blob(fam: int, g: int) -> bytes:
    import base64

    if fam >= 2:
        return base64.b64decode(
            (_WL_GOLDEN_A, _WL_GOLDEN_B, _WL_GOLDEN_C)[fam - 2])
    w, h = _wl_dims(fam, g)
    argb = []
    for y in range(h):
        for x in range(w):
            r, gg, b, a = _wl_px(fam, g, x, y)
            argb.append((a << 24) | (r << 16) | (gg << 8) | b)
    return encode_vp8l_lossless(argb, w, h)


def _wl_payload(doc_id: int) -> bytes:
    fam = doc_id % 5
    g = doc_id % _WL_GROUPS if fam < 2 else 0
    corrupt = doc_id % 11 == 3
    unsup = doc_id % 13 == 5 and not corrupt
    if unsup:
        # a lossy VP8 payload stub — the honest typed boundary
        body = b"VP8 " + bytes(8)
        import struct as _struct
        return b"RIFF" + _struct.pack("<I", 4 + len(body)) + b"WEBP" + body
    blob = bytearray(_wl_blob(fam, g))
    if corrupt:
        del blob[-6:]
    return bytes(blob)


def _wl_key(doc_id: int) -> tuple:
    fam = doc_id % 5
    g = doc_id % _WL_GROUPS if fam < 2 else 0
    return (fam, g, doc_id % 11 == 3, doc_id % 13 == 5)


def _wl_facts(doc_id: int) -> tuple:
    f = decode_vp8l(_wl_payload(doc_id))
    r_sum = g_sum = b_sum = a_sum = pos_wsum = 0
    for i, p in enumerate(f["pixels"]):
        r = (p >> 16) & 0xFF
        gg = (p >> 8) & 0xFF
        b = p & 0xFF
        a = (p >> 24) & 0xFF
        r_sum += r
        g_sum += gg
        b_sum += b
        a_sum += a
        pos_wsum += (i + 1) * (r + 2 * gg + 3 * b + a)
    return (
        "decoded", f["width"], f["height"],
        f["width"] * f["height"], r_sum, g_sum, b_sum,
        a_sum, pos_wsum,
    )


def _wl_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % 5 AS fam,
             CASE WHEN doc_id % 5 < 2 THEN doc_id % {_WL_GROUPS}
                  ELSE 0 END AS g
      FROM documents
    ),
    dims AS (
      SELECT fam, g,
             CASE fam WHEN 0 THEN 17 + g WHEN 1 THEN 23 + g
                  WHEN 2 THEN 40 WHEN 3 THEN 64 ELSE 20 END AS w,
             CASE fam WHEN 0 THEN 11 + g WHEN 1 THEN 9 + g
                  WHEN 2 THEN 24 WHEN 3 THEN 16 ELSE 20 END AS h
      FROM grp
    ),
    rr AS (
      SELECT fam, g, w, h, i, i % w AS x, i // w AS y
      FROM (SELECT fam, g, w, h, unnest(range(0, w * h)) AS i FROM dims)
    ),
    px AS (
      SELECT fam, g, w, h, i,
             CASE fam
               WHEN 0 THEN (13 * x + 7 * y + 3 * g) % 256
               WHEN 1 THEN (((x // 2 + y // 3) % (3 + g)) * 53 + g) % 256
               WHEN 2 THEN (6 * x) % 256
               WHEN 3 THEN (53 * (x % 16) + 11) % 256
               ELSE (13 * x) % 256 END AS r,
             CASE fam
               WHEN 0 THEN (5 * x + 11 * y + g) % 256
               WHEN 1 THEN (((x // 2 + y // 3) % (3 + g)) * 31 + 2 * g) % 256
               WHEN 2 THEN (3 * x + y) % 256
               WHEN 3 THEN (97 * (x % 16) + 5) % 256
               ELSE (7 * y) % 256 END AS gg,
             CASE fam
               WHEN 0 THEN (3 * x + y + 7 * g) % 256
               WHEN 1 THEN (((x // 2 + y // 3) % (3 + g)) * 17 + 5 * g) % 256
               WHEN 2 THEN (10 * y) % 256
               WHEN 3 THEN (29 * (x % 16) + 200) % 256
               ELSE (x + y) % 256 END AS b,
             CASE fam
               WHEN 0 THEN (x * y + g) % 256
               WHEN 1 THEN 255
               WHEN 2 THEN 255
               WHEN 3 THEN 255
               ELSE (x * y) % 200 + 55 END AS a
      FROM rr
    ),
    sums AS (
      SELECT fam, g,
             CAST(MAX(w) AS BIGINT) AS width,
             CAST(MAX(h) AS BIGINT) AS height,
             CAST(COUNT(*) AS BIGINT) AS n_pix,
             CAST(SUM(r) AS BIGINT) AS r_sum,
             CAST(SUM(gg) AS BIGINT) AS g_sum,
             CAST(SUM(b) AS BIGINT) AS b_sum,
             CAST(SUM(a) AS BIGINT) AS a_sum,
             CAST(SUM((i + 1) * (r + 2 * gg + 3 * b + a)) AS BIGINT)
               AS pos_wsum
      FROM px GROUP BY fam, g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.width END AS width,
           CASE WHEN {bad} THEN 0 ELSE s.height END AS height,
           CASE WHEN {bad} THEN 0 ELSE s.n_pix END AS n_pix,
           CASE WHEN {bad} THEN 0 ELSE s.r_sum END AS r_sum,
           CASE WHEN {bad} THEN 0 ELSE s.g_sum END AS g_sum,
           CASE WHEN {bad} THEN 0 ELSE s.b_sum END AS b_sum,
           CASE WHEN {bad} THEN 0 ELSE s.a_sum END AS a_sum,
           CASE WHEN {bad} THEN 0 ELSE s.pos_wsum END AS pos_wsum
    FROM documents d
    JOIN sums s
      ON s.fam = d.doc_id % 5
     AND s.g = CASE WHEN d.doc_id % 5 < 2 THEN d.doc_id % {_WL_GROUPS}
                    ELSE 0 END
    ORDER BY d.doc_id
    """


@register("multimodal_webp_lossless_decode", oracle=_wl_oracle())
def multimodal_webp_lossless_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native WebP-lossless (VP8L) decode — the dominant post-PNG
    format of the crawled web, decoded without any image library:
    canonical prefix codes (both spec forms), color cache, LZ77 with
    the 120-entry 2D distance map, meta prefix groups, and all four
    transforms (predictor/color/subtract-green/color-indexing with
    sub-byte bundling). Two fixture families are produced by this
    repo's own minimal VP8L encoder (literal-only, closed-form
    pixels); three golden blobs were encoded by the system libwebp
    at authoring time and exercise the real encoder's transform +
    cache + LZ77 mix — all five decode to formula pixels the DuckDB
    oracle replays exactly. Typed verdicts: truncation ('corrupt'),
    lossy VP8 payload ('unsupported').

    Scale notes (100 TB): same shape as every multimodal walk —
    binaryFile-parallel listing, Arrow-batched mapInPandas decode,
    per-worker fact memo, typed quarantine instead of stage kills."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % 5),
        (F.col("doc_id") % _WL_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_wl_batches", _wl_key, _wl_facts,
        "doc_id long, status string, width long, height long, n_pix long, "
        "r_sum long, g_sum long, b_sum long, a_sum long, pos_wsum long",
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
