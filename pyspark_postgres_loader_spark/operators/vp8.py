"""Native lossy WebP (VP8 keyframe) decode — RFC 6386, no codec
library.

Still lossy WebP images are single VP8 KEYFRAMES; together with the
VP8L module (operators/webp.py) this closes WebP entirely: the
format family a modern crawl ships most of its images in now
decodes natively in both lossy and lossless forms. Implemented from
the public RFC 6386 spec:

- the VP8 boolean arithmetic decoder (8-bit probability, one-bit
  renormalization);
- the full keyframe first partition: segmentation (map + absolute/
  delta quantizer and loop-filter features), loop-filter header
  (type/level/sharpness + per-ref/per-mode deltas), multi-partition
  sizes, quantizer indices with the five deltas, persistent token
  probability updates, skip probability;
- keyframe macroblock prediction records: segment ids, skip flags,
  16x16 modes (DC/V/H/TM) and full 4x4 B_PRED submodes with their
  above/left contexted tree probabilities;
- DCT token decoding: the 12-token coefficient tree over
  [plane][band][context] probabilities, cat1-6 extra-bit ladders,
  zigzag, per-segment dequantization (with the Y2 *2 and *155/100
  scalings and the chroma-DC 132 clamp);
- the inverse WHT (Y2 DC spread) and the 20091/35468 inverse DCT;
- all intra predictors: whole-block DC/V/H/TM with the 127/129
  border conventions and the ten 4x4 B modes (exact libvpx tap
  tables, including the RD off-by-one this implementation initially
  got wrong and differential testing caught);
- the NORMAL in-loop deblocking filter: per-MB level from segment +
  delta adjustments, interior/edge limits and high-edge-variance
  thresholds, the 4-tap common adjustment and the 27/18/9-tap
  macroblock-edge filter, with the eobtotal==0 skip rule. (The
  SIMPLE filter and multi-partition layouts are implemented per
  spec but libwebp's encoder never emits them — exercised by unit
  construction only, an honest boundary.)

Probability/quantizer constants (the coefficient probability table,
its update-probability table, the 10x10x9 keyframe B-mode table,
and both quantizer lookup tables) were extracted byte-exact from
the system libwebp and cross-validated end-to-end; note the B-mode
tables are indexed by LIBWEBP's mode enumeration (RD/VR before
LD/VL), not RFC numbering — a one-entry divergence that decodes
plausibly for dozens of symbols before failing, caught only by
differential testing.

Correctness evidence: the decoder output (YUV 4:2:0 planes, after
loop filtering) is validated pixel-exact against libwebp's own
``WebPDecodeYUV`` across a randomized battery of qualities 5-100,
frame shapes (including partial macroblocks), and content classes
(noise, gradients, smooth walks, hard edges, mixed segments —
segmentation active in most); the driver-oracled query decodes ten
embedded libwebp-encoded golden blobs spanning that space, with
facts pinned at authoring time from the cross-validated decode.

Scale notes (100 TB): same multimodal-walk shape — Arrow-batched
``mapInPandas`` over binaryFile listings, per-worker fact memo,
typed quarantine classes ('corrupt' truncation, 'unsupported'
interframes / extended containers) instead of stage kills.

Reference: RFC 6386 (public); reference repo has no image surface
(SURVEY.md §2 extension).
"""

from __future__ import annotations

import base64
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .walkbatch import decode_walk

# ---------------------------------------------------------------- tables
# Extracted byte-exact from the system libwebp (see module docstring);
# kDcTable/kAcTable are the RFC 6386 14.1 quantizer lookups.

_DC_Q = bytes([4, 5, 6, 7, 8, 9, 10, 10, 11, 12, 13, 14, 15, 16, 17, 17, 18, 19, 20, 20, 21, 21, 22, 22, 23, 23, 24, 25, 25, 26, 27, 28, 29, 30, 31, 32, 33, 34, 35, 36, 37, 37, 38, 39, 40, 41, 42, 43, 44, 45, 46, 46, 47, 48, 49, 50, 51, 52, 53, 54, 55, 56, 57, 58, 59, 60, 61, 62, 63, 64, 65, 66, 67, 68, 69, 70, 71, 72, 73, 74, 75, 76, 76, 77, 78, 79, 80, 81, 82, 83, 84, 85, 86, 87, 88, 89, 91, 93, 95, 96, 98, 100, 101, 102, 104, 106, 108, 110, 112, 114, 116, 118, 122, 124, 126, 128, 130, 132, 134, 136, 138, 140, 143, 145, 148, 151, 154, 157])
_AC_Q = struct.unpack("<128H", base64.b64decode(
    "BAAFAAYABwAIAAkACgALAAwADQAOAA8AEAARABIAEwAUABUAFgAXABgAGQAaABsA"
    "HAAdAB4AHwAgACEAIgAjACQAJQAmACcAKAApACoAKwAsAC0ALgAvADAAMQAyADMA"
    "NAA1ADYANwA4ADkAOgA8AD4AQABCAEQARgBIAEoATABOAFAAUgBUAFYAWABaAFwA"
    "XgBgAGIAZABmAGgAagBsAG4AcAByAHQAdwB6AH0AgACDAIYAiQCMAI8AkgCVAJgA"
    "mwCeAKEApACnAKoArQCxALUAuQC9AMEAxQDJAM0A0QDVANkA3QDhAOUA6gDvAPUA"
    "+QD+AAMBCAENARIBFwEcAQ=="
))
_COEFF_UPDATE_B64 = (
    "////////////////////////////////////////////sPb////////////f8fz/"
    "//////////n9/f////////////T8///////////q/v7///////////3/////////"
    "//////b+///////////v/f7///////////7//v////////////j+///////////7"
    "//7///////////////////////////3+///////////7/v7///////////7//v//"
    "//////////79//7////////6//7//v////////7/////////////////////////"
    "////////////////////////////////2f/////////////h/PH9///+/////+r6"
    "8fr9//3+//////7////////////f/v7//////////+79/v7///////////j+////"
    "///////5/v////////////////////////////3////////////3/v//////////"
    "//////////////////3+///////////8//////////////////////////////7+"
    "///////////9//////////////////////////////79///////////6////////"
    "//////7/////////////////////////////////////////////////////////"
    "uvv6///////////q+/T+//////////v78/3+//7///////3+///////////s/f7/"
    "//////////v9/f7+//////////7+///////////+/v7/////////////////////"
    "//////7////////////+/v////////////7////////////////////////////+"
    "////////////////////////////////////////////////////////////////"
    "////////////////////////////////////////////////////////////////"
    "////////////////////////////////+P/////////////6/vz+//////////j+"
    "+f3///////////39///////////2/f3///////////z++/7+//////////78////"
    "///////4/v3///////////3//v7///////////v+///////////1+/7/////////"
    "//39/v////////////v9///////////8/f7////////////+//////////////z/"
    "///////////5//7//////////////v/////////////9///////////6////////"
    "///////////////////////////////////+////////////////////////////"
)
_COEFF_DEFAULT_B64 = (
    "gICAgICAgICAgICAgICAgICAgICAgICAgICAgICAgICA/Yj+/+TbgICAgIC9gfL/"
    "49X/24CAgGp+4/zW0f//gICAAWL4/+zi//+AgIC1he7+3er/moCAgE6GyvfGtP/b"
    "gICAAbn5//P/gICAgIC4lvf/7OCAgICAgE1u2P/s5oCAgICAAWX7//H/gICAgICq"
    "i/H87NH//4CAgCV0xPPk////gICAAcz+//X/gICAgIDPoPr/7oCAgICAgGZn5//T"
    "q4CAgICAAZj8//D/gICAgICxh/P/6uGAgICAgFCB0//C4ICAgICAAQH/gICAgICA"
    "gID2Af+AgICAgICAgP+AgICAgICAgICAxiPt38G7oqCRmz6DLcbdrLDcnfzdAUQv"
    "ktCVp92i/9+AAZXx/93g//+AgIC4jer93tz/x4CAgFFjtfKwvvnK//+AAYHo/dbF"
    "8sT//4BjedL6ycb/yoCAgBdbo/Kqu/fS//+AAcj2/+r/gICAgIBtsvH/5/X//4CA"
    "gCyCyf3NwP//gICAAYTv+9vR/6WAgIBeiOH72r7//4CAgBZkrvW6of/HgICAAbb5"
    "/+jrgICAgIB8j/H/4+qAgICAgCNNtfvB0//NgICAAZ33/+zn//+AgIB5jev/4eP/"
    "/4CAgC1jvPvD2f/ggICAAQH7/9X/gICAgIDLAfj//4CAgICAgIkBsf/g/4CAgICA"
    "/Qn4+8/Q/8CAgICvDeDzwbn5xv//gEkRq92hs+yn/+qAAV/3/dS3//+AgIDvWvT6"
    "09H//4CAgJtNw/i8w///gICAARjv+9rb/82AgIDJM9v/xLqAgICAgEUuvu/J2v/k"
    "gICAAb/7//+AgICAgIDfpfn/1f+AgICAgI18+P//gICAgICAARD4//+AgICAgIC+"
    "JOb/7P+AgICAgJUB/4CAgICAgICAAeL/gICAgICAgID3wP+AgICAgICAgPCA/4CA"
    "gICAgICAAYb8//+AgICAgIDVPvr//4CAgICAgDdd/4CAgICAgICAgICAgICAgICA"
    "gICAgICAgICAgICAgICAgICAgICAgICAyhjV67q/3KDwr/9+Jrboqbjkrv+7gD0u"
    "ituXsvCq/9iAAXDm+se/95///4CmbeT809f/roCAgCdNouistPWy//+AATTc9sbH"
    "+dz//4B8Sr/zt8H63f//gBhHgtuaqvO2//+AAbbh+dvw/+CAgICVluL82M3/q4CA"
    "gBxsqvK3wv7f//+AAVHm/MzL/8CAgIB7ZtH3vMT/6YCAgBRfmfOkrf/LgICAAd74"
    "/9jVgICAgICor/b8683//4CAgC901//T1P//gICAAXns/dTW//+AgICNVNX8ycr/"
    "24CAgCpQoPCiuf/NgICAAQH/gICAgICAgID0Af+AgICAgICAgO4B/4CAgICAgICA"
)
_BMODE_B64 = (
    "53gwWXNxeJhwmLNAfqp2LkZfr0WPUFVSSJtnODoKq9q9EQ2YchoRoyzDFQqteRhQ"
    "wxo+LEBVkEcKJqvVkCIaqi43E4igIc5HPxQIcnLQDAniUSgLYLZUHRAkhrdZiWJl"
    "aqWUSLtkgp1vIEtQQmanY0o+KOqAKTUJsvGNGghrSisakkmmMRedQSZpoDM0H3OA"
    "aE8MG9n/VxEHV0RHLHIzD7oXLykObra3FRHCQi0ZZsW9FxIWWFiTliouLcTNK2G3"
    "dVUmI7M9JzXIVxoVK+irOCIzaHJmHV1NJxxVqzqlWmJAIhZ0zhciK6ZJazYgGjMB"
    "USsfRBlqFkCrJOFyIhMVZoS8EEx8PhJOX1U5MjAzwWUjn9dvWS5vPJQfrNvkFRJv"
    "cHFNVbP/JnhyKCoBxPXRChltWCsdjKbVJSuaPT8em0MtRAHRZFAIK5oBMxpHjk5O"
    "EP+AIsWrKSgFZtO3BAHdMzIRqNHAFxlSih8kqxumJizlQ1c6qVJzGjuzPztatDum"
    "XUmaKCgVdI/RIievLw8QtyLfMS23LhEhtwZiDyC3OS4WGIABNhElQSBJcxyAF4DN"
    "KAMJczPAEgbfVyUJcztNQBUvaDcs2gk2NYLiQFpGzSgpFxo5NjlwuAUpJqbVHiIa"
    "hZh0CiCGJxM13RpyIEn/HwlB6gIPAXZJSyAMM8D/oCszWB8jQ2ZVN7pVOBUXbzvN"
    "LSXANyZGfElmASJifWIqWGhVda9SX1Q1WYBkcWUtS097LzOAUasBOREFR2Y5NSkx"
    "JiENeTlJGgFVKQpDik1uWi9ycxUCCmb/phcGZR0QClWAZcQaORIKZmbVIhQrdRQP"
    "JKOARAEaZj1HJSI1H/PARTxHJkl3HN4lRC2AIgEvC/WrPhETRpJVNz5GJSslmmSj"
    "VaABPwlciBxAIMlVSw8JCUD/uHcQVgYcBUD/GfgBOAgRhIn/N3SAOg8UUoc5Gnko"
    "pDIfiZqFGSPaM2csg4N7HwaeVihAh5TgLbeAFhoRg/CaDgHRLRAVW0DeBwHFOBUn"
    "mzyKF2bVUwwNNsD/RC8cVRpVVYCAIJKrEgsHP5CrBAT2IxsKkq6rDBqAvlAjY7RQ"
    "fjYtVX4vV7AzKRQgZUuAi3aSdIBVOCkPsOxVJQk+Rx4Rd3b/ERKKZSY8ijdGKxqO"
    "kiQTHqv/YRsUii09PtsBUbxAICkUdZeOFBWjcBMMPcOAMAQY"
)


def _shape_coeff(flat: bytes):
    it = iter(flat)
    return [[[[next(it) for _ in range(11)] for _ in range(3)]
             for _ in range(8)] for _ in range(4)]


_COEFF_UPDATE = _shape_coeff(base64.b64decode(_COEFF_UPDATE_B64))
_COEFF_DEFAULT = _shape_coeff(base64.b64decode(_COEFF_DEFAULT_B64))
_BM = base64.b64decode(_BMODE_B64)
# libwebp mode enumeration: DC TM VE HE RD VR LD VL HD HU
_BMODE_P = [[[_BM[(i * 10 + j) * 9 + k] for k in range(9)]
             for j in range(10)] for i in range(10)]

_KF_YMODE_TREE = (-4, 2, 4, 6, 0, -1, -2, -3)   # B_PRED=4; DC,V,H,TM
_KF_YMODE_P = (145, 156, 163, 128)
_UV_TREE = (0, 2, -1, 4, -2, -3)
_KF_UV_P = (142, 114, 183)
_BMODE_TREE = (0, 2, -1, 4, -2, 6, 8, 12, -3, 10, -4, -5, -6, 14,
               -7, 16, -8, -9)
_COEFF_TREE = (-11, 2, 0, 4, -1, 6, 8, 12, -2, 10, -3, -4, 14, 16,
               -5, -6, 18, 20, -7, -8, -9, -10)
_CAT_PROBS = ([159], [165, 145], [173, 148, 140], [176, 155, 140, 135],
              [180, 157, 141, 134, 130],
              [254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129])
_CAT_BASE = (5, 7, 11, 19, 35, 67)
_BANDS = (0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
_ZIGZAG = (0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)
_B_PRED = 4


class _Bool:
    """RFC 6386 boolean arithmetic decoder."""

    __slots__ = ("d", "pos", "value", "range", "bitcount")

    def __init__(self, data: bytes) -> None:
        self.d = data
        self.pos = 2
        self.value = ((data[0] << 8) | data[1]) if len(data) >= 2 else 0
        self.range = 255
        self.bitcount = 0

    def bit(self, prob: int) -> int:
        split = 1 + (((self.range - 1) * prob) >> 8)
        bigsplit = split << 8
        if self.value >= bigsplit:
            ret = 1
            self.range -= split
            self.value -= bigsplit
        else:
            ret = 0
            self.range = split
        while self.range < 128:
            self.value <<= 1
            self.range <<= 1
            self.bitcount += 1
            if self.bitcount == 8:
                self.bitcount = 0
                if self.pos < len(self.d):
                    self.value |= self.d[self.pos]
                self.pos += 1
        return ret

    def lit(self, n: int) -> int:
        v = 0
        for _ in range(n):
            v = (v << 1) | self.bit(128)
        return v

    def slit(self, n: int) -> int:
        v = self.lit(n)
        return -v if self.bit(128) else v

    def tree(self, tree: tuple, probs, start: int = 0) -> int:
        i = start
        while True:
            i = tree[i + self.bit(probs[i >> 1])]
            if i <= 0:
                return -i


def _clamp(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def _idct4x4(coeffs: list) -> list:
    tmp = [0] * 16
    for i in range(4):
        ip = coeffs[i::4]
        a1 = ip[0] + ip[2]
        b1 = ip[0] - ip[2]
        c1 = ((ip[1] * 35468) >> 16) - (ip[3] + ((ip[3] * 20091) >> 16))
        d1 = (ip[1] + ((ip[1] * 20091) >> 16)) + ((ip[3] * 35468) >> 16)
        tmp[i] = a1 + d1
        tmp[12 + i] = a1 - d1
        tmp[4 + i] = b1 + c1
        tmp[8 + i] = b1 - c1
    out = [0] * 16
    for i in range(4):
        ip = tmp[i * 4 : i * 4 + 4]
        a1 = ip[0] + ip[2]
        b1 = ip[0] - ip[2]
        c1 = ((ip[1] * 35468) >> 16) - (ip[3] + ((ip[3] * 20091) >> 16))
        d1 = (ip[1] + ((ip[1] * 20091) >> 16)) + ((ip[3] * 35468) >> 16)
        out[i * 4 + 0] = (a1 + d1 + 4) >> 3
        out[i * 4 + 3] = (a1 - d1 + 4) >> 3
        out[i * 4 + 1] = (b1 + c1 + 4) >> 3
        out[i * 4 + 2] = (b1 - c1 + 4) >> 3
    return out


def _iwht4x4(coeffs: list) -> list:
    tmp = [0] * 16
    for i in range(4):
        ip = coeffs[i::4]
        a1 = ip[0] + ip[3]
        b1 = ip[1] + ip[2]
        c1 = ip[1] - ip[2]
        d1 = ip[0] - ip[3]
        tmp[i] = a1 + b1
        tmp[4 + i] = c1 + d1
        tmp[8 + i] = a1 - b1
        tmp[12 + i] = d1 - c1
    out = [0] * 16
    for i in range(4):
        ip = tmp[i * 4 : i * 4 + 4]
        a1 = ip[0] + ip[3]
        b1 = ip[1] + ip[2]
        c1 = ip[1] - ip[2]
        d1 = ip[0] - ip[3]
        out[i * 4 + 0] = (a1 + b1 + 3) >> 3
        out[i * 4 + 1] = (c1 + d1 + 3) >> 3
        out[i * 4 + 2] = (a1 - b1 + 3) >> 3
        out[i * 4 + 3] = (d1 - c1 + 3) >> 3
    return out


# ------------------------------------------------- frame decode


def _parse_frame(d: bytes) -> dict:
    if len(d) < 10:
        raise ValueError("VP8 frame too short")
    tag = d[0] | d[1] << 8 | d[2] << 16
    if tag & 1:
        raise NotImplementedError("VP8 interframe (not a keyframe)")
    part0 = tag >> 5
    if d[3:6] != b"\x9d\x01\x2a":
        raise ValueError("missing VP8 keyframe start code")
    w = struct.unpack_from("<H", d, 6)[0] & 0x3FFF
    h = struct.unpack_from("<H", d, 8)[0] & 0x3FFF
    if w == 0 or h == 0 or w * h > 1 << 22:
        raise ValueError("implausible VP8 frame dimensions")
    if 10 + part0 > len(d):
        raise ValueError("VP8 first partition exceeds payload")
    first = d[10 : 10 + part0]
    rest = d[10 + part0 :]
    br = _Bool(first)
    br.bit(128)  # color space
    br.bit(128)  # clamping
    seg_enabled = br.bit(128)
    seg_update_map = 0
    seg_probs = [255, 255, 255]
    seg_abs = 0
    seg_q = [0, 0, 0, 0]
    seg_lf = [0, 0, 0, 0]
    if seg_enabled:
        seg_update_map = br.bit(128)
        if br.bit(128):  # update feature data
            seg_abs = br.bit(128)
            for i in range(4):
                if br.bit(128):
                    seg_q[i] = br.slit(7)
            for i in range(4):
                if br.bit(128):
                    seg_lf[i] = br.slit(6)
        if seg_update_map:
            for i in range(3):
                if br.bit(128):
                    seg_probs[i] = br.lit(8)
    filter_simple = br.bit(128)
    filter_level = br.lit(6)
    sharpness = br.lit(3)
    lf_delta_enabled = br.bit(128)
    ref_lf = [0, 0, 0, 0]
    mode_lf = [0, 0, 0, 0]
    if lf_delta_enabled:
        if br.bit(128):
            for i in range(4):
                if br.bit(128):
                    ref_lf[i] = br.slit(6)
            for i in range(4):
                if br.bit(128):
                    mode_lf[i] = br.slit(6)
    nparts = 1 << br.lit(2)
    off = (nparts - 1) * 3
    if off > len(rest):
        raise ValueError("truncated VP8 partition size table")
    parts = []
    p = off
    for i in range(nparts - 1):
        sz = rest[i * 3] | rest[i * 3 + 1] << 8 | rest[i * 3 + 2] << 16
        if p + sz > len(rest):
            raise ValueError("VP8 partition exceeds payload")
        parts.append(rest[p : p + sz])
        p += sz
    parts.append(rest[p:])
    yac_qi = br.lit(7)

    def qdelta() -> int:
        return br.slit(4) if br.bit(128) else 0

    ydc_d, y2dc_d, y2ac_d, uvdc_d, uvac_d = (
        qdelta(), qdelta(), qdelta(), qdelta(), qdelta())
    br.bit(128)  # refresh entropy probs (keyframe: informational)
    probs = [[[list(_COEFF_DEFAULT[i][j][k]) for k in range(3)]
              for j in range(8)] for i in range(4)]
    for i in range(4):
        for j in range(8):
            for k in range(3):
                for l in range(11):
                    if br.bit(_COEFF_UPDATE[i][j][k][l]):
                        probs[i][j][k][l] = br.lit(8)
    skip_enabled = br.bit(128)
    prob_skip = br.lit(8) if skip_enabled else 0

    mbw = (w + 15) // 16
    mbh = (h + 15) // 16

    def clamp_q(x: int) -> int:
        return 0 if x < 0 else (127 if x > 127 else x)

    dq = []
    for s in range(4):
        q = yac_qi
        if seg_enabled:
            q = clamp_q(seg_q[s] if seg_abs else yac_qi + seg_q[s])
        y2ac = _AC_Q[clamp_q(q + y2ac_d)] * 155 // 100
        dq.append((
            _DC_Q[clamp_q(q + ydc_d)],
            _AC_Q[clamp_q(q)],
            _DC_Q[clamp_q(q + y2dc_d)] * 2,
            y2ac if y2ac >= 8 else 8,
            min(_DC_Q[clamp_q(q + uvdc_d)], 132),
            _AC_Q[clamp_q(q + uvac_d)],
        ))

    # ---- macroblock prediction records (rest of first partition) ----
    mb_info = []
    above_bmodes = [[0] * 4 for _ in range(mbw)]
    imap = {0: 0, 1: 2, 2: 3, 3: 1}  # DC/V/H/TM -> implied B mode
    for my in range(mbh):
        left_bmodes = [0] * 4
        row = []
        for mx in range(mbw):
            seg = 0
            if seg_update_map:
                if br.bit(seg_probs[0]):
                    seg = 2 + br.bit(seg_probs[2])
                else:
                    seg = br.bit(seg_probs[1])
            skip = br.bit(prob_skip) if skip_enabled else 0
            ymode = br.tree(_KF_YMODE_TREE, _KF_YMODE_P)
            if ymode == _B_PRED:
                bmodes = [0] * 16
                for sy in range(4):
                    for sx in range(4):
                        above = (above_bmodes[mx][sx] if sy == 0
                                 else bmodes[(sy - 1) * 4 + sx])
                        left = (left_bmodes[sy] if sx == 0
                                else bmodes[sy * 4 + sx - 1])
                        bmodes[sy * 4 + sx] = br.tree(
                            _BMODE_TREE, _BMODE_P[above][left])
            else:
                bmodes = [imap[ymode]] * 16
            above_bmodes[mx] = bmodes[12:16]
            left_bmodes = [bmodes[sy * 4 + 3] for sy in range(4)]
            uvmode = br.tree(_UV_TREE, _KF_UV_P)
            row.append((seg, skip, ymode, bmodes, uvmode))
        mb_info.append(row)

    # ---- residual token decode ----
    preaders = [_Bool(p) for p in parts]
    above_nz = [[0] * 9 for _ in range(mbw)]
    all_coeffs = [[None] * mbw for _ in range(mbh)]
    mb_has_coeffs = [[False] * mbw for _ in range(mbh)]
    for my in range(mbh):
        left_nz = [0] * 9
        br2 = preaders[my % nparts]
        for mx in range(mbw):
            seg, skip, ymode, bmodes, uvmode = mb_info[my][mx]
            y1dc, y1ac, y2dc, y2ac, uvdc, uvac = dq[seg]
            has_y2 = ymode != _B_PRED
            if skip:
                for i in range(8):
                    left_nz[i] = 0
                    above_nz[mx][i] = 0
                # Y2 nonzero context persists across skipped MBs
                continue

            def decode_block(plane, ctx, first, dcq, acq):
                out = [0] * 16
                i = first
                any_nz = 0
                prev_zero = False
                while i < 16:
                    p = probs[plane][_BANDS[i]][ctx]
                    tok = br2.tree(_COEFF_TREE, p,
                                   start=2 if prev_zero else 0)
                    if tok == 11:  # end of block
                        break
                    if tok == 0:
                        ctx = 0
                        prev_zero = True
                        i += 1
                        continue
                    prev_zero = False
                    if tok <= 4:
                        val = tok
                    else:
                        cat = tok - 5
                        extra = 0
                        for pb in _CAT_PROBS[cat]:
                            extra = (extra << 1) | br2.bit(pb)
                        val = _CAT_BASE[cat] + extra
                    if br2.bit(128):
                        val = -val
                    ctx = 1 if -1 <= val <= 1 else 2
                    out[_ZIGZAG[i]] = val * (dcq if i == 0 else acq)
                    any_nz = 1
                    i += 1
                return out, any_nz

            cm = {}
            if has_y2:
                ctx = left_nz[8] + above_nz[mx][8]
                y2, nz = decode_block(1, ctx, 0, y2dc, y2ac)
                left_nz[8] = above_nz[mx][8] = nz
                cm["y2"] = (y2, nz)
                plane_y, first_y = 0, 1
            else:
                plane_y, first_y = 3, 0
            ycoef = []
            prev = 0
            for sy in range(4):
                for sx in range(4):
                    l = left_nz[sy] if sx == 0 else prev
                    a = (above_nz[mx][sx] if sy == 0
                         else ycoef[(sy - 1) * 4 + sx][1])
                    blk, nz = decode_block(plane_y, l + a, first_y,
                                           y1dc, y1ac)
                    ycoef.append((blk, nz))
                    prev = nz
                    if sx == 3:
                        left_nz[sy] = nz
                    if sy == 3:
                        above_nz[mx][sx] = nz
            ucoef = []
            vcoef = []
            for store, base in ((ucoef, 4), (vcoef, 6)):
                for sy in range(2):
                    for sx in range(2):
                        l = (left_nz[base + sy] if sx == 0
                             else store[sy * 2][1])
                        a = (above_nz[mx][base + sx] if sy == 0
                             else store[(sy - 1) * 2 + sx][1])
                        blk, nz = decode_block(2, l + a, 0, uvdc, uvac)
                        store.append((blk, nz))
                        if sx == 1:
                            left_nz[base + sy] = nz
                        if sy == 1:
                            above_nz[mx][base + sx] = nz
            cm["y"] = ycoef
            cm["u"] = ucoef
            cm["v"] = vcoef
            all_coeffs[my][mx] = cm
            any_nz = (any(n for _, n in ycoef) or any(n for _, n in ucoef)
                      or any(n for _, n in vcoef)
                      or (has_y2 and cm["y2"][1]))
            mb_has_coeffs[my][mx] = bool(any_nz)
    return {
        "w": w, "h": h, "mbw": mbw, "mbh": mbh,
        "filter_level": filter_level, "filter_simple": filter_simple,
        "sharpness": sharpness, "seg_enabled": seg_enabled,
        "seg_abs": seg_abs, "seg_lf": seg_lf,
        "lf_delta_enabled": lf_delta_enabled, "ref_lf": ref_lf,
        "mode_lf": mode_lf, "mb_info": mb_info,
        "all_coeffs": all_coeffs, "mb_has_coeffs": mb_has_coeffs,
    }


# ------------------------------------------------- intra prediction


def _avg3(a: int, b: int, c: int) -> int:
    return (a + 2 * b + c + 2) >> 2


def _avg2(a: int, b: int) -> int:
    return (a + b + 1) >> 1


def _pred_b(mode, L, A, AL, AR):
    """4x4 B_PRED predictors (libvpx mode numbering and tap tables)."""
    p = [[0] * 4 for _ in range(4)]
    if mode == 0:  # DC
        v = (sum(A) + sum(L) + 4) >> 3
        for r in range(4):
            for c in range(4):
                p[r][c] = v
    elif mode == 1:  # TM
        for r in range(4):
            for c in range(4):
                p[r][c] = _clamp(A[c] + L[r] - AL)
    elif mode == 2:  # VE
        top = [AL] + list(A) + [AR[0]]
        for c in range(4):
            v = _avg3(top[c], top[c + 1], top[c + 2])
            for r in range(4):
                p[r][c] = v
    elif mode == 3:  # HE
        side = [AL] + list(L)
        for r in range(4):
            v = (_avg3(side[r], side[r + 1], side[r + 2]) if r < 3
                 else _avg3(L[2], L[3], L[3]))
            for c in range(4):
                p[r][c] = v
    elif mode == 4:  # RD
        e = [L[3], L[2], L[1], L[0], AL, A[0], A[1], A[2], A[3]]
        for r in range(4):
            for c in range(4):
                p[r][c] = _avg3(e[c - r + 3], e[c - r + 4], e[c - r + 5])
    elif mode == 5:  # VR
        e = [L[3], L[2], L[1], L[0], AL, A[0], A[1], A[2], A[3]]
        p[3][0] = _avg3(e[1], e[2], e[3])
        p[2][0] = _avg3(e[2], e[3], e[4])
        p[3][1] = p[1][0] = _avg3(e[3], e[4], e[5])
        p[2][1] = p[0][0] = _avg2(e[4], e[5])
        p[3][2] = p[1][1] = _avg3(e[4], e[5], e[6])
        p[2][2] = p[0][1] = _avg2(e[5], e[6])
        p[3][3] = p[1][2] = _avg3(e[5], e[6], e[7])
        p[2][3] = p[0][2] = _avg2(e[6], e[7])
        p[1][3] = _avg3(e[6], e[7], e[8])
        p[0][3] = _avg2(e[7], e[8])
    elif mode == 6:  # LD
        a = list(A) + list(AR)
        for r in range(4):
            for c in range(4):
                i = r + c
                p[r][c] = (_avg3(a[i], a[i + 1], a[i + 2]) if i < 6
                           else _avg3(a[6], a[7], a[7]))
    elif mode == 7:  # VL
        a = list(A) + list(AR)
        p[0][0] = _avg2(a[0], a[1])
        p[1][0] = _avg3(a[0], a[1], a[2])
        p[2][0] = p[0][1] = _avg2(a[1], a[2])
        p[1][1] = p[3][0] = _avg3(a[1], a[2], a[3])
        p[2][1] = p[0][2] = _avg2(a[2], a[3])
        p[3][1] = p[1][2] = _avg3(a[2], a[3], a[4])
        p[2][2] = p[0][3] = _avg2(a[3], a[4])
        p[3][2] = p[1][3] = _avg3(a[3], a[4], a[5])
        p[2][3] = _avg3(a[4], a[5], a[6])
        p[3][3] = _avg3(a[5], a[6], a[7])
    elif mode == 8:  # HD
        e = [L[3], L[2], L[1], L[0], AL, A[0], A[1], A[2]]
        p[3][0] = _avg2(e[0], e[1])
        p[3][1] = _avg3(e[0], e[1], e[2])
        p[2][0] = p[3][2] = _avg2(e[1], e[2])
        p[2][1] = p[3][3] = _avg3(e[1], e[2], e[3])
        p[2][2] = p[1][0] = _avg2(e[2], e[3])
        p[2][3] = p[1][1] = _avg3(e[2], e[3], e[4])
        p[1][2] = p[0][0] = _avg2(e[3], e[4])
        p[1][3] = p[0][1] = _avg3(e[3], e[4], e[5])
        p[0][2] = _avg3(e[4], e[5], e[6])
        p[0][3] = _avg3(e[5], e[6], e[7])
    else:  # 9: HU
        l = list(L)
        p[0][0] = _avg2(l[0], l[1])
        p[0][1] = _avg3(l[0], l[1], l[2])
        p[0][2] = p[1][0] = _avg2(l[1], l[2])
        p[0][3] = p[1][1] = _avg3(l[1], l[2], l[3])
        p[1][2] = p[2][0] = _avg2(l[2], l[3])
        p[1][3] = p[2][1] = _avg3(l[2], l[3], l[3])
        p[2][2] = p[2][3] = p[3][0] = p[3][1] = p[3][2] = p[3][3] = l[3]
    return p


def _pred_whole(plane, mode, x0, y0, size):
    """Whole-block DC/V/H/TM with the 127/129 border conventions."""
    import numpy as np

    has_above = y0 > 0
    has_left = x0 > 0
    out = np.zeros((size, size), np.int32)
    if mode == 0:  # DC
        s = n = 0
        if has_above:
            s += int(plane[y0 - 1, x0 : x0 + size].sum())
            n += size
        if has_left:
            s += int(plane[y0 : y0 + size, x0 - 1].sum())
            n += size
        out[:, :] = 128 if n == 0 else (s + (n >> 1)) // n
    elif mode == 1:  # V
        out[:, :] = (plane[y0 - 1, x0 : x0 + size] if has_above
                     else 127)
    elif mode == 2:  # H
        if has_left:
            out[:, :] = plane[y0 : y0 + size, x0 - 1][:, None]
        else:
            out[:, :] = 129
    else:  # TM
        al = (127 if not has_above
              else (129 if not has_left
                    else int(plane[y0 - 1, x0 - 1])))
        left = (plane[y0 : y0 + size, x0 - 1].astype(np.int32)
                if has_left else np.full(size, 129, np.int32))
        above = (plane[y0 - 1, x0 : x0 + size].astype(np.int32)
                 if has_above else np.full(size, 127, np.int32))
        out = np.clip(left[:, None] + above[None, :] - al, 0, 255)
    return out


def _reconstruct(f: dict):
    import numpy as np

    mbw, mbh = f["mbw"], f["mbh"]
    W16, H16 = mbw * 16, mbh * 16
    Y = np.zeros((H16, W16), np.int32)
    U = np.zeros((H16 // 2, W16 // 2), np.int32)
    V = np.zeros((H16 // 2, W16 // 2), np.int32)
    for my in range(mbh):
        for mx in range(mbw):
            seg, skip, ymode, bmodes, uvmode = f["mb_info"][my][mx]
            cm = f["all_coeffs"][my][mx]
            x0, y0 = mx * 16, my * 16
            if ymode == _B_PRED:
                for sy in range(4):
                    for sx in range(4):
                        bx, by = x0 + sx * 4, y0 + sy * 4
                        A = ([127] * 4 if by == 0
                             else [int(Y[by - 1, bx + c])
                                   for c in range(4)])
                        L = ([129] * 4 if bx == 0
                             else [int(Y[by + r, bx - 1])
                                   for r in range(4)])
                        AL = (127 if by == 0
                              else (129 if bx == 0
                                    else int(Y[by - 1, bx - 1])))
                        arx = bx + 4
                        if by == 0:
                            AR = [127] * 4
                        elif sx == 3:
                            # right-column subblocks read the MB-above
                            # row (above-right MB or edge replicate)
                            ary = y0 - 1
                            if ary < 0:
                                AR = [127] * 4
                            elif arx + 3 < W16:
                                AR = [int(Y[ary, arx + c])
                                      for c in range(4)]
                            else:
                                AR = [int(Y[ary, W16 - 1])] * 4
                        elif arx + 3 < W16:
                            AR = [int(Y[by - 1, arx + c])
                                  for c in range(4)]
                        else:
                            AR = [int(Y[by - 1, W16 - 1])] * 4
                        p = _pred_b(bmodes[sy * 4 + sx], L, A, AL, AR)
                        blk = cm["y"][sy * 4 + sx][0] if cm else [0] * 16
                        res = _idct4x4(blk)
                        for r in range(4):
                            for c in range(4):
                                Y[by + r, bx + c] = _clamp(
                                    p[r][c] + res[r * 4 + c])
            else:
                pred = _pred_whole(Y, ymode, x0, y0, 16)
                wht = (_iwht4x4(cm["y2"][0]) if cm else [0] * 16)
                for sy in range(4):
                    for sx in range(4):
                        blk = (list(cm["y"][sy * 4 + sx][0]) if cm
                               else [0] * 16)
                        blk[0] = wht[sy * 4 + sx]
                        res = _idct4x4(blk)
                        for r in range(4):
                            for c in range(4):
                                yy, xx = sy * 4 + r, sx * 4 + c
                                Y[y0 + yy, x0 + xx] = _clamp(
                                    int(pred[yy, xx]) + res[r * 4 + c])
            cx0, cy0 = mx * 8, my * 8
            for plane, key in ((U, "u"), (V, "v")):
                pred = _pred_whole(plane, uvmode, cx0, cy0, 8)
                for sy in range(2):
                    for sx in range(2):
                        blk = cm[key][sy * 2 + sx][0] if cm else [0] * 16
                        res = _idct4x4(blk)
                        for r in range(4):
                            for c in range(4):
                                yy, xx = sy * 4 + r, sx * 4 + c
                                plane[cy0 + yy, cx0 + xx] = _clamp(
                                    int(pred[yy, xx]) + res[r * 4 + c])
    return Y, U, V


# ------------------------------------------------- loop filter


def _c128(v: int) -> int:
    return -128 if v < -128 else (127 if v > 127 else v)


def _u2s(v: int) -> int:
    return v - 128


def _s2u(v: int) -> int:
    v += 128
    return 0 if v < 0 else (255 if v > 255 else v)


def _common_adjust(use_outer, px, i1, i2, i3, i4):
    p1, p0 = _u2s(px[i1]), _u2s(px[i2])
    q0, q1 = _u2s(px[i3]), _u2s(px[i4])
    a = _c128((_c128(p1 - q1) if use_outer else 0) + 3 * (q0 - p0))
    Fv = _c128(a + 4) >> 3
    Ev = _c128(a + 3) >> 3
    px[i3] = _s2u(q0 - Fv)
    px[i2] = _s2u(p0 + Ev)
    return Fv


def _filter_yes(E, I, px, idx):
    p3, p2, p1, p0, q0, q1, q2, q3 = (px[i] for i in idx)
    return (abs(p0 - q0) * 2 + abs(p1 - q1) // 2 <= E
            and abs(p3 - p2) <= I and abs(p2 - p1) <= I
            and abs(p1 - p0) <= I and abs(q3 - q2) <= I
            and abs(q2 - q1) <= I and abs(q1 - q0) <= I)


def _is_hev(thr, px, idx):
    return (abs(px[idx[2]] - px[idx[3]]) > thr
            or abs(px[idx[5]] - px[idx[4]]) > thr)


def _subblock_filter(hev_t, I, E, px, idx):
    if not _filter_yes(E, I, px, idx):
        return
    hv = _is_hev(hev_t, px, idx)
    Fv = _common_adjust(hv, px, idx[2], idx[3], idx[4], idx[5])
    if not hv:
        a = (Fv + 1) >> 1
        px[idx[5]] = _s2u(_u2s(px[idx[5]]) - a)
        px[idx[2]] = _s2u(_u2s(px[idx[2]]) + a)


def _mbedge_filter(hev_t, I, E, px, idx):
    if not _filter_yes(E, I, px, idx):
        return
    if _is_hev(hev_t, px, idx):
        _common_adjust(True, px, idx[2], idx[3], idx[4], idx[5])
        return
    p2, p1, p0 = (_u2s(px[idx[i]]) for i in (1, 2, 3))
    q0, q1, q2 = (_u2s(px[idx[i]]) for i in (4, 5, 6))
    w = _c128(_c128(p1 - q1) + 3 * (q0 - p0))
    a = _c128((27 * w + 63) >> 7)
    px[idx[4]] = _s2u(q0 - a)
    px[idx[3]] = _s2u(p0 + a)
    a = _c128((18 * w + 63) >> 7)
    px[idx[5]] = _s2u(q1 - a)
    px[idx[2]] = _s2u(p1 + a)
    a = _c128((9 * w + 63) >> 7)
    px[idx[6]] = _s2u(q2 - a)
    px[idx[1]] = _s2u(p2 + a)


def _filter_span(plane, vertical, edge, start, length, mb_edge,
                 hev_t, I, E):
    fn = _mbedge_filter if mb_edge else _subblock_filter
    idx = list(range(edge - 4, edge + 4))
    for k in range(start, start + length):
        fn(hev_t, I, E, plane[k] if vertical else plane[:, k], idx)


def _simple_span(plane, vertical, edge, start, length, E):
    for k in range(start, start + length):
        px = plane[k] if vertical else plane[:, k]
        p1, p0 = _u2s(px[edge - 2]), _u2s(px[edge - 1])
        q0, q1 = _u2s(px[edge]), _u2s(px[edge + 1])
        if abs(p0 - q0) * 2 + abs(p1 - q1) // 2 <= E:
            a = _c128(_c128(p1 - q1) + 3 * (q0 - p0))
            px[edge] = _s2u(q0 - (_c128(a + 4) >> 3))
            px[edge - 1] = _s2u(p0 + (_c128(a + 3) >> 3))


def _loop_filter(f, Y, U, V) -> None:
    if f["filter_level"] == 0:
        return
    sharp = f["sharpness"]
    for my in range(f["mbh"]):
        for mx in range(f["mbw"]):
            seg, skip, ymode, bmodes, uvmode = f["mb_info"][my][mx]
            lvl = f["filter_level"]
            if f["seg_enabled"]:
                lvl = (f["seg_lf"][seg] if f["seg_abs"]
                       else lvl + f["seg_lf"][seg])
                lvl = 0 if lvl < 0 else (63 if lvl > 63 else lvl)
            if f["lf_delta_enabled"]:
                lvl += f["ref_lf"][0]          # intra frame
                if ymode == _B_PRED:
                    lvl += f["mode_lf"][0]
                lvl = 0 if lvl < 0 else (63 if lvl > 63 else lvl)
            if lvl == 0:
                continue
            interior = lvl
            if sharp:
                interior >>= 2 if sharp > 4 else 1
                if interior > 9 - sharp:
                    interior = 9 - sharp
            if interior < 1:
                interior = 1
            hev_t = 2 if lvl >= 40 else (1 if lvl >= 15 else 0)
            mb_E = (lvl + 2) * 2 + interior
            sb_E = lvl * 2 + interior
            # eobtotal==0 rule: skip interior edges for coefficient-
            # free non-B_PRED macroblocks
            inner = f["mb_has_coeffs"][my][mx] or ymode == _B_PRED
            x0, y0 = mx * 16, my * 16
            cx0, cy0 = mx * 8, my * 8
            if f["filter_simple"]:
                if mx:
                    _simple_span(Y, True, x0, y0, 16, mb_E)
                if inner:
                    for sx in (4, 8, 12):
                        _simple_span(Y, True, x0 + sx, y0, 16, sb_E)
                if my:
                    _simple_span(Y, False, y0, x0, 16, mb_E)
                if inner:
                    for sy in (4, 8, 12):
                        _simple_span(Y, False, y0 + sy, x0, 16, sb_E)
                continue
            if mx:
                _filter_span(Y, True, x0, y0, 16, True, hev_t,
                             interior, mb_E)
                _filter_span(U, True, cx0, cy0, 8, True, hev_t,
                             interior, mb_E)
                _filter_span(V, True, cx0, cy0, 8, True, hev_t,
                             interior, mb_E)
            if inner:
                for sx in (4, 8, 12):
                    _filter_span(Y, True, x0 + sx, y0, 16, False,
                                 hev_t, interior, sb_E)
                _filter_span(U, True, cx0 + 4, cy0, 8, False, hev_t,
                             interior, sb_E)
                _filter_span(V, True, cx0 + 4, cy0, 8, False, hev_t,
                             interior, sb_E)
            if my:
                _filter_span(Y, False, y0, x0, 16, True, hev_t,
                             interior, mb_E)
                _filter_span(U, False, cy0, cx0, 8, True, hev_t,
                             interior, mb_E)
                _filter_span(V, False, cy0, cx0, 8, True, hev_t,
                             interior, mb_E)
            if inner:
                for sy in (4, 8, 12):
                    _filter_span(Y, False, y0 + sy, x0, 16, False,
                                 hev_t, interior, sb_E)
                _filter_span(U, False, cy0 + 4, cx0, 8, False, hev_t,
                             interior, sb_E)
                _filter_span(V, False, cy0 + 4, cx0, 8, False, hev_t,
                             interior, sb_E)


# ------------------------------------------------- public API


def decode_vp8(data: bytes) -> dict:
    """Decode a WebP container holding a lossy VP8 keyframe to YUV
    4:2:0 planes (post loop filter, cropped to the frame size).
    Raises NotImplementedError for lossless/extended/interframe
    payloads ('unsupported'), ValueError for structural damage."""
    try:
        return _decode_vp8(data)
    except (IndexError, struct.error, TypeError) as exc:
        raise ValueError(f"malformed VP8 structure ({exc})") from exc


def _decode_vp8(data: bytes) -> dict:
    if len(data) < 20 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("missing RIFF/WEBP container magic")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    if riff_size + 8 > len(data):
        raise ValueError("RIFF size exceeds payload")
    fourcc = data[12:16]
    if fourcc == b"VP8L":
        raise NotImplementedError("lossless VP8L payload in VP8 walk")
    if fourcc == b"VP8X":
        raise NotImplementedError("extended VP8X container in VP8 walk")
    if fourcc != b"VP8 ":
        raise ValueError(f"unknown WebP chunk {fourcc!r}")
    csize = struct.unpack_from("<I", data, 16)[0]
    payload = data[20 : 20 + csize]
    if len(payload) != csize:
        raise ValueError("truncated VP8 chunk")
    f = _parse_frame(payload)
    Y, U, V = _reconstruct(f)
    _loop_filter(f, Y, U, V)
    w, h = f["w"], f["h"]
    cw, ch = (w + 1) // 2, (h + 1) // 2
    return {
        "width": w,
        "height": h,
        "filter_level": f["filter_level"],
        "seg_enabled": bool(f["seg_enabled"]),
        "y": Y[:h, :w],
        "u": U[:ch, :cw],
        "v": V[:ch, :cw],
    }


# ------------------------------------------------- driver-oracled query
# Ten golden lossy blobs encoded by the system libwebp at authoring
# time: qualities 100/92/85/75/55/40/20/98/5/68 over five content
# classes, filter levels 0..63, segmentation active in seven. Facts
# were pinned from this module's decode, which the unit battery
# validates pixel-exact against libwebp's WebPDecodeYUV.

_V8_GOLDEN_B64 = [
    (
        "UklGRuQAAABXRUJQVlA4INgAAABwBgCdASogABgAAAAAJaACdMoRwN5X+M36V/1X"
        "n6d3eTPCAbIBo/7bKfiBQAE5YNoLZcG5pBDzjgPsrfgA/v//sZEfqbCJTKLIFJ9/"
        "xhe3sGfp4DiuV/rtR6KMCoNXAU9kjbRhet0T7f8/7yPsWd46R0vvHTW7+9V8J0Gh"
        "zdpwK4Sa+RkQbqn92BEq9GhPHaFiT6m9LPoEDtcssyi/uYZdF6rXL1M5UqQMpxYB"
        "fhQfUh+VDLYP+F+bZb/hexzqsEbm7d0BQGr6c5maXvsZf+67D3oiIEvAAAA="
    ),
    (
        "UklGRqAGAABXRUJQVlA4IJQGAADwIQCdASowACAAAIAOJbACdMoR8PIEonTECBdd"
        "k4DlOf1J9wH8Q/s3+O9gH64dQD0AP5h/gPSA9gD+L/272AP1w9S3+Wf9L+QfAB+q"
        "X/X/xXwB/yT+s/+TgAN4F2s/QPxA8we773U9kfxp0wP4r9gPqHiB/SfAH20fsfkQ"
        "/s35OeZ3+wbAv8U/qv5a/3HzrfyXvNehH+Sf2X8rf656gHiDdX/3L7ZvsA/h38j/"
        "qP8n/az/LfRD+Yf4r+q/s5/RvYF+Gfxz+0fmB/bfsA/if8Y/sH9Z/w3+1/uX///5"
        "v2NeYB7An6QfP+cwrcLKvJHBluidVlUJs2eB2pADd3wxeIJ5RQX5drYyzgj4I3jM"
        "gxjHTvGP/DObPLAAAP7rfUuxWgBg42LsP5jhm/rhb4L28oOB4XAhh0RUJhBskQ6+"
        "/bvbdgA1LLdu9H9q86MI5uQwl1uaL/4TMYv7VVRBqxfkl2JagIAVUnwpBH1HLVls"
        "ZBpdeLrMDKQZY2fnIbbzR3n3JQR2ARz7c6Ilir/h4Z5IBH67HwXen/5E5/f7nmz6"
        "xS6xk5oryzwKt1cRK7KlS8gjG7WWY27HQOMJacbt/KmG39BnLp2Vu6Xa5gE6Wtym"
        "Wd0tHxapBfj1RBS55MsKxUG5ql1GcXEh6mReLNBtGxe/ffvAkRtqJUz5SiZOyfEl"
        "iXHteoBbZ0YwiudJV6/c7XxX0eYe4ekGJHf/fgkj7TGaHcLtCye9c6Ah9S4D9XD6"
        "EwnMXz6/e070L6liLhf44Mpz3aUPIjwlCbc/hYcY7fwdekdF+rwDMHsJNZOMiRbF"
        "8qoVGbzaiVFLF8gwRezct2dGf0lZ+yfDv4q1nStF//l2sgSzFEPUmWkYGJ829+GO"
        "5WHuX7G4F01VwUi9zL+nO2eIjzJ6iHF5SUGgqmr+z3h/vUe84u9OQHKW9rwMZ7eH"
        "a6BjhdVGjrt1/n1cH3KKHFvPvv4mBu+Fbtak/flFS2ntC/t/CRHScLapBOviitMY"
        "cbPWlN6gFX9kiTxX3rPaa81qkHVapNi8uH7Cz07WnCpRiwY+vXZPRRqOEkxTSj7u"
        "S+ec8wXdH5EbCTml8R6X30WQtOLhbUc0UXJxtAMTNEhG+5VH36yYCPoVCEM8TOqq"
        "W2lkO96JCkAg/JOwDPzqbnRvfF2/Ck1YHVxoFXZiw0mXJ+Q4H/OG4iF1YiEof/lP"
        "lz4SLMWqVRVLbamflOFBfx+Yr6z6N6vkhuhA2QfetBVbe7v0TaE9JJr5OXReCac/"
        "iEdgUlUDKN/dIbEWBVG3+Jo05IHvM7kvme72T/o0kCs71MvD5qHPA5aC+PmCzwBq"
        "0fFUcaheFvEFClNhfhhV/ZVPYPllml0phA6Z33pAg//5sFLsJlHDsRYoFo5biknH"
        "VixkY1IhJFvQOOt9EwgHN1hTGpaq5w5g2bhs2yaY9GMZpMa2xb6xoZVfU+nOUziM"
        "aIbG9dZj8yg+GoFL4zJvnCzfiWLlGza+Ey5Z76pt5ygoBVc+bJvjZCHQoAEccq45"
        "IgrjjNkuGvb6pB7d5Z2oKjN10WaJtu+nIRgxqIiieUmmQ/uT+FcdQdT1e6DeHX+Y"
        "cy6yHTNfo0w2/MglxGlvAFBh6Ao+f2G5AuxHa7LHe8BvFRne7VBEGNqttbZ41Ipm"
        "oQmXY4EmLF1Xay217mSBpgn6PKmPvhC4G+P8ES/LEnglTQ8vuEjNDi3DrcC+AZUG"
        "n8x/tI+RNUn1wz1Si0F0Z5V8YStnmCoREi5EOMIGdXZ2umfnUhWlZGUreXFo7tSn"
        "sTNAh1WX9dp8+458vaKrB35lYXA6D4I5z25L/o6c4Z7Wni3Qou08hQ9UfXG7SX/i"
        "ZZAnJ2Ec3FQDfz7hG+9izwmqQOKubKvcNIpTSsHDLCn7ZTVZw9QpMc8DBSazX7eX"
        "VZ/1nxAV6EsmxES5/kPEl8KI2JlD9DPfRCeamoQytReTsuFCpLJWWZ8PBW8PwQI5"
        "pPFbykelYuLX52A2L8CZXF5kLcB5yHWeRgj15KRnSpxfRxFxTKEt2YPgKalKS/sk"
        "Qu8rMnfyPA8jbq5tL5DnTtd1Gm+Brl3JLcbqi6Wf+GCSEMXFUGXxiC4HaDDYY3aZ"
        "8Pi0ad3zz88jmrfUIdK9nou6UMSwJznBbPTEDPySXqCh7VCHHQ7+WW6HeGqyEN7Z"
        "PKpbZuMSR7fAclan6TEc6CgAeYkXv6otfMJ9QjZdN7D164+/vfNjC9YV/u7VBOVh"
        "fIO+gP1yZNzZ6/3/oeKG05EHjMaY/wAA"
    ),
    (
        "UklGRvgBAABXRUJQVlA4IOwBAACwCwCdASoYACgAPlEijUSjoiEYCqwAOAUEtgBO"
        "mUI709juj7Sz8buH7Td6k/4B/ivUB+gH+q/s3vhaarz137GfCr+wD+OaliUeXLtk"
        "LRAj0ezRWY0JmDbQyOYPLkRtOkNPEEXnHWAA/uwS+0Hyz9K33W+hg4bQ69APlh/z"
        "S43/9vJHe2uZyeIt+td6c4D/dpVGsXGc+TM30Fj/masD7dWhcEP/4KN1/gmooRjW"
        "OU/YEL4ReyWcEiwCG4w1L5yrotlTpplLMCemXtCrMRBiddYJKXa0etibeXfxZOdN"
        "yofFGDr6CIubOi+tB82DMKfnzF9gGBHquTUGQBwEHU3FRWw7fBY7/8z/Ae6D+lIh"
        "xCn74tR/hFv0yeVEutolOLugbjueFbpiCfQdPZ84blwZ3qIx1ZEcWPmjX00BM62Y"
        "ibW88/Zb+XWZv8ehP7uMaQM/26gLUc7cTParIjvxq4/SKUW42X9lg8N5VIMGKmnN"
        "kskoypitkZAbS3k+Gt61IgymOFbg+nLiBOX+Fu8g8TRHg6iLRvPPD4N8GgM8JWs+"
        "wuIhXHjPhLxLELDSvNz/86rAvtYNcd5/lL35GHiRyL+dzRSP/SILz+K7BTy87s7r"
        "DkR8S0tW6VAX7Mgqj689MXwzdiPU8hJGTBbKmlwEAAA="
    ),
    (
        "UklGRjIBAABXRUJQVlA4ICYBAABwCQCdASooABgAPpFAmkklo6KhJWzIsBIJbAE6"
        "A2ACjNI/2nkA8VY+7+AfgBhpP0A/AClAP//5gG8AfyD+Aff/4gH/r/gHqAfwn//g"
        "MK/LSvWDhXAA/u94AiSN/UsVSFjx9iqQsePsVSFj01dYxfc/1njNMiZqbL3m9Fne"
        "SuXLczRA54PU1SxmFK4l4cFpBLWHGBSKeQ+iiHdSwoq+mx4cNmmK/zx3/vPwproP"
        "ICfTS7iSbDUhG7dYxKbDmN7zrGJTYcx8m0/yj9/d13BjrSIDeviUsc9KV+M+YTNM"
        "uP8HJxAOiP2S3fzbVFQwHsRlPyxTMHg7a2+/4aZFsUJKcaZJZ2at9EAt0DT+8H/w"
        "a/4Jy733y2G277T/9r/wKFfJLbQwCr25AAA="
    ),
    (
        "UklGRtwBAABXRUJQVlA4INABAACQCgCdASohAB8APsFQoksnpKMhqqwA8BgJbACA"
        "CDCvA/7u2BoAPMB+lv6q++vpgHPcftV8EyNBCAcndmT+g993+pvsb/sY4rHjftqM"
        "keBp+wgPkLtsZe6j44P4siAA7mzM5I/ZfLRuGDg8bD4ZVYZWKQvVEt0WnytSczCK"
        "xIrX7HYQlEhWf9g3faj20/UfXaC31y2uXCx3YhaXUcBW3JqY4A6kDR1AB4kPbN9Z"
        "ZRMfYmFD1Sy4G5Jkmjzma+1WZUxnfv/3NtSoAnlbRY9jkoJP19o38VMfIHOKBcMr"
        "kP2TPrhk/OY3drzyiQfYNP5+uhVbuTL+kKHt9fahSL5r+3BUu3F4Kk/QQlTBK+va"
        "R2LcCKO6BIninfe9GlyuqZ/HskjK5yeBhvJf7kqKuU9yOyufaMBqD1oKcFfw2uN4"
        "P5y9vdvZBuomEGUx0tbe2p7FBKkh7aarwdV4j3DIL9gkWIilKYsQogXVTSF4xlX+"
        "lJiEkHY6yQcsV+36cFozb9OqyfUt7ysPqMXxztMgV8T44xaJn5nDSXHPG8Q9I61V"
        "LlAbkEyYqaZOd5o/44TJwTbUvZkpYqKt6B4ul0th4vU2vWBkmjySUpJBF7dZP6W9"
        "8YQAAA=="
    ),
    (
        "UklGRpgAAABXRUJQVlA4IIwAAAAQBQCdASovABEAPtVWn02/pKKiNUwD8BqJaAC1"
        "G2iAL8QAgFpx+TEoYE5CifyKbJBYAP7y2X0KIVXjeWy/7WCH/hD3Obg/WAfVrEW3"
        "L2+gS8Rh5CrN80veddQfJd9qGzh1sc+kSxBqIs80nXs2kFa4BKlK0KX8rq5hz+Zo"
        "OKDX8GJJNvwYl/BZLIAAAA=="
    ),
    (
        "UklGRowBAABXRUJQVlA4IIABAAAwCACdASoQADAABUB8JbACdMoMYOShngOfM9AG"
        "8AbxT/tLQDkB2AygeAHD33gxg/MTqAdFX9kPYA/YAxPCJCydlHtgJJCZcXgW3AD6"
        "xssiCuPdHcXo8Hwv3OkfWNhlogba6eadXmNmzO+DFDnXgdBzfCIK4J2t/lmZUx3q"
        "zBdlNr1MRkRVehnyr+w5LG/1FRUPngHBW6th9rBLhrSdMX4yEGe+f217In1+rQ4+"
        "bSng1q810stZIxmitjHuabMTIALapio8P2viVuzE8btB2qljzJftVoxOC1Nd9mx2"
        "yNEfJhzlQOTT1QRqKdN8mQNzgalv1KgxI6sbbaznfEnt8eikUux1Y89uJpTwRlIN"
        "o3wAP502KW06sAgrr+4SkvE1LWb+QO/cDlpY3ZJHMuOGri9UF3ReNZ2yYPs5B7k3"
        "fHOtoEjG05vjURCKSYyPwTNN/jC1qQbDgAtQexkTuAjS8k8OKliaWtvl231pWZ7h"
        "+JSg0zf1/1tgEiIOAr0LOfGAAAA="
    ),
    (
        "UklGRkAFAABXRUJQVlA4IDQFAAAwGwCdASpAABQAPgQB3wAACJbACdMoR2j4h+In"
        "5GfIJR36Z9nv2G3BEiPXl+M+0D2VfYd+O/8B6jv+A6gHmA/iH8J/uf+K94D+x/4D"
        "+ge4D/YeoB+qHWS/rd7AH6U+lL/vf7x8Fn6/f8P/Ye5f/fv+9WrOTfwD7IftJpAf"
        "ST8TtsfygebBwBWN/x7/VeSb8W/t/5M/sz0Ads76E+BnGR/p/5F+AHxv/4flB+lv"
        "+R7gH8q/of+C/JL+vf+7xO+iL+qJyrZh/ahqZAxL5aKGKZV5gr1671jiVu+bhaIZ"
        "CYeDWKVgAP7rDf2R0e3chfEofh5v6tJK99jjwKl2ss1hTFGvBvou5frZWCq/+Doh"
        "z5I3h2gRIOo2/HfmfxIY4cENDKoV/7PyOgHxdWT+ilteWt/7Ub/1zYl7xf1cOp1d"
        "N+1VhrbOvGSndcaxyT2KB8dv/9jtHOHvy6Wv4BySCAIBJ9jO4dRq0gDrDcVtpVL9"
        "//fhEsW+ZbPY21nMMv/9yxgBv8p+gqakUYk2hIm0uGFvo2XAOsjfCz2l7lDfMivx"
        "UvZZgoVuZy8kFNaFVAvr2mAI1ifCZjdIYGFWng+BbwdBdiYi4KnCpOO+XNu+OGd0"
        "MoJB4YXzxaMnfYpuly0NdGAuJqdX1vRU/7tVU4IfDNhZSncXvA9PhXLoeulDPlmf"
        "0BXKz5o8mNrOC7DNAGABkMyeh9E+bhptMSsrJNpfB/YcRvMWARCPXzpfBosFpeLi"
        "kYaRNX1c860h8lHSDzc1RZ54ULgDsv/KwW4CQUI+buOk0prShNJ2xvJn4UVPi2gy"
        "S96V1byyPAA4EdtQS05svzlvCjt/CPjzkF87GfYZaWPMaQgqxtf3nw/zQR8fr3D2"
        "y7F1z86tnI5W16033Lbh2P2ww8qn5wkkxVKUQobpB74rXF87bzqVv79AZO3e1iOK"
        "nzzI3/e6sO9gcIX1DsajO/ET32R0TANgX9nLKsjBczq1f8F8B/tS2856ICxNoV0c"
        "+BK58hTfOJqDKJ/HOZzn6d6eozhW4rVtdaEybPY+0bQ9D3UpnSKddqBCY+lHFeVc"
        "x+Hpaar+8z/01x7N15r6qYtpNfVx9aTP0LgIUA1MXBoU/0GGhWpkL9G8vlvr2/8Y"
        "hQUPx0iD0saZ1JDkllg70EbWic/YFmIp78Ii3Kgzx7LcAc7jf9oSeIM2uFqy7NrZ"
        "2lN73BtAb/4N6IaFFFsgY//8WIVnbdPc4ed4KbEYlGiuw9AKw///ttVttYsqy+BG"
        "7ND/0NbB/2NDYJPzzn50FCKnflIibM5/AEtyM1ipH+SPsIFDvMxfF6Gh3pZAoZah"
        "aM12Noazhz73BUV4LzrIbelZq1wbv/1plU7TR3eQusKiDFsKh+I7tQ8Ovx2N1hlK"
        "HsEckX+Ulfn/8SZMkxDl4MUkHMIN9c+Bw+I8qfiMskUxMOcL50HwvSX9DYKMIZ+/"
        "mc9ei430roIoM/dvE9e4kzz1dN1Y3hPdP/YfIDI++fAaTVY/L1quaOl2tdCNNZoM"
        "SlJevuteZeBj1/sHoldgjCC+055Yin1kIHKIxOyJC58f7bbwGmzKanpiV03/0PPz"
        "IZF+zId/TjEQ8TK/EW/g8/Uqk/MyeMH5izZtXre+e0TJnKSB2wKIXIDRGXrcDflD"
        "YUS9mm1cRuNYN9P3tA6H57KlCwRSNP6fjhX/c9fxpmPIRS7hSdP92HgPMm328ZTk"
        "6TaHliMpt8/L5UQ19wTCfeEGs5Lr7/L+uucV6ULSkF7/bKdl+hCPucmZKUe9blcw"
        "KZ4Tm48IAAA="
    ),
    (
        "UklGRsAAAABXRUJQVlA4ILQAAACQBgCdASocABwAP5nC12K5MKsmKAqrIDMJbACd"
        "MoS4AYAcggYH8A/qtx/9IB///Mr3lr9t/f/9P8CfruwAAP7fjBHQbDzk8YxCCGxb"
        "KpanBjQAoOKZxaSFOs1yBz86FH+YrCrmK+HXRopWq39iuMXFqO2xXGM1PcZjfPsN"
        "/BmAcHrpwOi4Ro5xXGMsXFcZOVwwe/K0U03xRgT6/Ps1rGlR95nYp6UfwqSk1QT7"
        "Zn0YZ/o+AAA="
    ),
    (
        "UklGRpQCAABXRUJQVlA4IIgCAADQDQCdASokACQAPqFAnUkmI6MhLjgLMMAUCWwA"
        "gAtAPAy49b7bweTRAB6AOMA9wHPRegDeKOfV9jH/Go9ucBROXDe85rNP9JewB+qf"
        "Uw/Z32Pv2UcSp3g+qCLDg0Y6A2IaQrxK/qrld8rTZLYkukjwQA+8u7IQoADtx9dK"
        "uIsEzymFYXBP5pDu9tIoUord+lYmSFkFwOyUN3fFGvS8YtejEauhWIN+zF0ojj0V"
        "UYQ6CxVFCOwQf5eDlOyRwef1T+8ItJVCI2CxrvxmjgDwsmUp8OM+a1i+7B0hPcWQ"
        "aetWaggDVbS0XoQyfdE/xq16P4as/yAcFkMMa9QGGkofLrrc1qxGDKTmBR5UFNxs"
        "ELZJNwb++yOtreb+BRFPsD8tVGVXElTf5A2GHvCYT8VhMQSSjEUnbbdjgtBrba+A"
        "GL2F/18XdK46yv9hoLM4Q1kv0L6BeLPhFUa/TX77t488uo/rcY9xczXs/GzwVVY2"
        "2UxIpBGRLX3Ezd50JSJp6qDUQTpsYnPVcx4IickRVIRTdl1djQOP0mlyIW/zgwwA"
        "q3VurpZ4vqLJNbNMjElgWp+fFCK9R1x1floxB+TE2RiBLPK5LampObVTahMJ3Lov"
        "2bL2Rs8ZzCWAX8Ls8/1dAeFj7oYiOx+pZ9ZCyrd67D+aoLe2bo5KrrTlbg+ciWHn"
        "7sFCRvNLL1+aLhKz+coleIpRRNTGZb+ZwHkcgmydrevVDAlAHcvfjwP0YFVHuvqX"
        "TeNFt1rP7TYLafQmGuvibiqsxgiT22qMxE+KP38/8OY05rf2/Qnv5//I2BF5/5Hy"
        "TOIEsLpM3w9RLVEbru5T9MNDFsvYBANpG7kWBnsaXyqJuJvcJjeNWhHwAAA="
    ),
]

# (w, h, y_sum, u_sum, v_sum, y_wsum, uv_wsum, filter_level)
_V8_FACTS = [
    (32, 24, 91464, 24184, 23216, 42537648, 6166960, 0),
    (48, 32, 192434, 48732, 49296, 147327794, 28467373, 2),
    (24, 40, 102644, 40020, 36495, 48842387, 13394419, 7),
    (40, 24, 74464, 37220, 39144, 35778240, 13916702, 11),
    (33, 31, 128156, 35026, 34860, 65589411, 14236158, 15),
    (47, 17, 84360, 31577, 28043, 39402397, 8922137, 63),
    (16, 48, 97152, 24601, 25266, 37321424, 7236578, 21),
    (64, 20, 176391, 34976, 42263, 112857066, 19460665, 0),
    (28, 28, 60950, 30574, 31562, 23945880, 9235187, 50),
    (36, 36, 162995, 41591, 41923, 105654136, 20341388, 12),
]
_V8_SEG = [0, 0, 1, 1, 1, 1, 0, 1, 1, 1]

_V8_GROUPS = 10


def _v8_payload(doc_id: int) -> bytes:
    g = doc_id % _V8_GROUPS
    corrupt = doc_id % 11 == 3
    unsup = doc_id % 13 == 5 and not corrupt
    blob = bytearray(base64.b64decode("".join(_V8_GOLDEN_B64[g])))
    if unsup:
        # flip the keyframe tag bit: a legal INTERFRAME payload this
        # keyframe walk honestly does not decode
        blob[20] |= 0x01
    if corrupt:
        del blob[-7:]
    return bytes(blob)


def _v8_key(doc_id: int) -> tuple:
    return (doc_id % _V8_GROUPS, doc_id % 11 == 3, doc_id % 13 == 5)


def _v8_facts(doc_id: int) -> tuple:
    import numpy as np

    f = decode_vp8(_v8_payload(doc_id))
    Y, U, V = f["y"], f["u"], f["v"]
    iy = np.arange(Y.size, dtype=np.int64) + 1
    iu = np.arange(U.size, dtype=np.int64) + 1
    return (
        "decoded", f["width"], f["height"],
        f["filter_level"], int(f["seg_enabled"]),
        int(Y.sum()), int(U.sum()), int(V.sum()),
        int((Y.flatten().astype(np.int64) * iy).sum()),
        int((U.flatten().astype(np.int64) * iu).sum())
        + 2 * int((V.flatten().astype(np.int64) * iu).sum()),
    )


def _v8_oracle() -> str:
    rows = []
    for g, (w, h, ys, us, vs, yw, uvw, lvl) in enumerate(_V8_FACTS):
        rows.append(
            f"SELECT {g} AS g, {w} AS width, {h} AS height, "
            f"{lvl} AS filter_level, {_V8_SEG[g]} AS seg_enabled, "
            f"{ys} AS y_sum, {us} AS u_sum, "
            f"{vs} AS v_sum, CAST({yw} AS BIGINT) AS y_wsum, "
            f"CAST({uvw} AS BIGINT) AS uv_wsum")
    facts_sql = " UNION ALL ".join(rows)
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 13 = 5"
    return f"""
    WITH facts AS ({facts_sql})
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE f.width END AS width,
           CASE WHEN {bad} THEN 0 ELSE f.height END AS height,
           CASE WHEN {bad} THEN 0 ELSE f.filter_level
                END AS filter_level,
           CASE WHEN {bad} THEN 0 ELSE f.seg_enabled END AS seg_enabled,
           CASE WHEN {bad} THEN 0 ELSE f.y_sum END AS y_sum,
           CASE WHEN {bad} THEN 0 ELSE f.u_sum END AS u_sum,
           CASE WHEN {bad} THEN 0 ELSE f.v_sum END AS v_sum,
           CASE WHEN {bad} THEN 0 ELSE f.y_wsum END AS y_wsum,
           CASE WHEN {bad} THEN 0 ELSE f.uv_wsum END AS uv_wsum
    FROM documents d
    JOIN facts f ON d.doc_id % {_V8_GROUPS} = f.g
    ORDER BY d.doc_id
    """


@register("multimodal_webp_lossy_decode", oracle=_v8_oracle())
def multimodal_webp_lossy_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Native lossy WebP (VP8 keyframe) decode — boolean arithmetic
    coder, contexted DCT token trees, segmentation, per-segment
    dequant, inverse WHT/DCT, all intra predictors, and the normal
    in-loop deblocking filter, validated pixel-exact against
    libwebp's own YUV output across qualities 5-100 (see module
    docstring). The ten golden fixtures rotate quality, content
    class, frame shape (partial macroblocks included), filter level
    0..63 and segmentation on/off; facts cover plane sums and
    position-weighted sums of the filtered YUV output. Typed
    verdicts: truncation ('corrupt'), interframe payloads
    ('unsupported').

    Scale notes (100 TB): the crawl's dominant image format decodes
    in the same Arrow-batched mapInPandas + per-worker-memo +
    typed-quarantine shape as every multimodal walk."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _V8_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_v8_batches", _v8_key, _v8_facts,
        "doc_id long, status string, width long, height long, "
        "filter_level long, seg_enabled long, y_sum long, u_sum long, "
        "v_sum long, y_wsum long, uv_wsum long",
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
