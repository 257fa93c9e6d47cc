"""Lossy WebP with alpha (VP8X + ALPH + VP8) — the last WebP form.

A lossy WebP with transparency is an extended container: a VP8X
header with the alpha flag, an ``ALPH`` chunk carrying the alpha
plane, and the lossy VP8 keyframe for the color. With VP8L, VP8,
and the animation walk already native, this module closes the final
form — every structurally valid WebP file a crawl contains now
decodes natively.

ALPH chunk (WebP container spec, public): one header byte —
2 reserved bits, 2 preprocessing bits (0 none, 1 level reduction),
2 filtering bits (0 none, 1 horizontal, 2 vertical, 3 gradient),
2 compression bits (0 raw, 1 lossless) — then the plane: raw bytes,
or a HEADERLESS VP8L image stream whose green channel carries the
alpha (decoded by ``webp.decode_vp8l_alpha``). Filtering stores
per-pixel deltas against a predictor: left (horizontal), above
(vertical), or ``clip(left + above - top_left)`` (gradient), with
the first pixel predicted from 0, the rest of row 0 from the left,
and the rest of column 0 from above.

Correctness evidence: seven golden fixtures encoded by the system
libwebp (filters none/horizontal/vertical exercised, both
compression modes, qualities rotated) decode to alpha planes
validated byte-exact against libwebp's own ``WebPDecodeRGBA`` alpha
channel, with the color facts from the libwebp-validated VP8
decoder; the GRADIENT filter — which libwebp's encoder heuristics
rarely select — is exercised by three self-assembled containers
(formula alpha, gradient-filtered deltas, this repo's headerless
VP8L encoder) that libwebp itself ACCEPTS and decodes to the same
alpha (pinned in tests).

Scale notes (100 TB): one more payload class through the same
Arrow-batched mapInPandas + per-worker memo + typed quarantine
shape; alpha unfiltering is a linear pass.

Reference: WebP Container Specification + RFC 6386 (public);
reference repo has no image surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

import base64
import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .vp8 import _V8_FACTS, _V8_GOLDEN_B64, decode_vp8
from .webp import decode_vp8l_alpha, encode_vp8l_lossless
from .walkbatch import decode_walk

_F_ALPHA = 0x10
_F_ANIM = 0x02


def _clip255(v: int) -> int:
    return 0 if v < 0 else (255 if v > 255 else v)


def unfilter_alpha(deltas: list[int], w: int, h: int,
                   fmode: int) -> list[int]:
    """Invert the ALPH prediction filter (container-spec rules)."""
    if fmode == 0:
        return list(deltas)
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0
            elif y == 0:
                pred = out[x - 1]
            elif x == 0:
                pred = out[(y - 1) * w]
            elif fmode == 1:      # horizontal
                pred = out[y * w + x - 1]
            elif fmode == 2:      # vertical
                pred = out[(y - 1) * w + x]
            else:                 # gradient
                pred = _clip255(out[y * w + x - 1]
                                + out[(y - 1) * w + x]
                                - out[(y - 1) * w + x - 1])
            out[y * w + x] = (pred + deltas[y * w + x]) & 0xFF
    return out


def filter_alpha(plane: list[int], w: int, h: int,
                 fmode: int) -> list[int]:
    """Forward filter (fixture construction for the gradient mode)."""
    if fmode == 0:
        return list(plane)
    out = [0] * (w * h)
    for y in range(h):
        for x in range(w):
            if x == 0 and y == 0:
                pred = 0
            elif y == 0:
                pred = plane[x - 1]
            elif x == 0:
                pred = plane[(y - 1) * w]
            elif fmode == 1:
                pred = plane[y * w + x - 1]
            elif fmode == 2:
                pred = plane[(y - 1) * w + x]
            elif fmode == 3:
                pred = _clip255(plane[y * w + x - 1]
                                + plane[(y - 1) * w + x]
                                - plane[(y - 1) * w + x - 1])
            else:
                pred = 0
            out[y * w + x] = (plane[y * w + x] - pred) & 0xFF
    return out


def walk_webp_alpha(data: bytes) -> dict:
    """Walk a VP8X still container with alpha: decode the ALPH plane
    (both compressions, all four filters) and the VP8 color frame.
    Raises NotImplementedError for level-reduction preprocessing and
    animation containers, ValueError for structural damage."""
    try:
        return _walk_alpha(data)
    except (IndexError, struct.error, TypeError) as exc:
        raise ValueError(f"malformed WebP structure ({exc})") from exc


def _walk_alpha(data: bytes) -> dict:
    if len(data) < 30 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("missing RIFF/WEBP container magic")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    if riff_size + 8 > len(data):
        raise ValueError("RIFF size exceeds payload")
    if data[12:16] != b"VP8X":
        raise ValueError("alpha walk requires a VP8X container")
    pos = 12
    end = 8 + riff_size
    canvas_w = canvas_h = None
    alph = None
    vp8_chunk = None
    while pos + 8 <= end:
        cc = data[pos : pos + 4]
        sz = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + sz]
        if len(body) != sz:
            raise ValueError("truncated WebP chunk body")
        pos += 8 + sz + (sz & 1)
        if cc == b"VP8X":
            if sz != 10:
                raise ValueError("VP8X chunk must be 10 bytes")
            flags = body[0]
            if flags & _F_ANIM:
                raise NotImplementedError(
                    "animation container in still alpha walk")
            if not flags & _F_ALPHA:
                raise ValueError("VP8X without alpha flag in alpha walk")
            canvas_w = (body[4] | body[5] << 8 | body[6] << 16) + 1
            canvas_h = (body[7] | body[8] << 8 | body[9] << 16) + 1
        elif cc == b"ALPH":
            alph = body
        elif cc == b"VP8 ":
            vp8_chunk = body
    if canvas_w is None or alph is None or vp8_chunk is None:
        raise ValueError("alpha container missing VP8X/ALPH/VP8")
    b0 = alph[0]
    if b0 >> 6:
        raise ValueError("ALPH reserved bits set")
    preproc = (b0 >> 4) & 3
    fmode = (b0 >> 2) & 3
    comp = b0 & 3
    if preproc == 1:
        raise NotImplementedError("ALPH level-reduction preprocessing")
    if preproc > 1 or comp > 1:
        raise ValueError("ALPH invalid preprocessing/compression")
    blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(vp8_chunk))
            + b"WEBP" + b"VP8 " + struct.pack("<I", len(vp8_chunk))
            + vp8_chunk)
    color = decode_vp8(blob)
    w, h = color["width"], color["height"]
    if (w, h) != (canvas_w, canvas_h):
        raise ValueError("VP8X canvas disagrees with VP8 frame (DIMS)")
    if comp == 0:
        if len(alph) - 1 != w * h:
            raise ValueError("raw ALPH plane size disagrees with canvas")
        deltas = list(alph[1:])
    else:
        deltas = decode_vp8l_alpha(alph[1:], w, h)
    alpha = unfilter_alpha(deltas, w, h, fmode)
    return {
        "width": w,
        "height": h,
        "filter": fmode,
        "compression": comp,
        "alpha": alpha,
        "y": color["y"],
        "u": color["u"],
        "v": color["v"],
    }


def build_webp_alpha(alpha: list[int], vp8_chunk: bytes, w: int, h: int,
                     fmode: int) -> bytes:
    """Assemble a VP8X+ALPH+VP8 container with a losslessly-coded,
    ``fmode``-filtered alpha plane — the fixture path for the
    gradient filter libwebp's encoder rarely emits."""
    deltas = filter_alpha(alpha, w, h, fmode)
    argb = [(0xFF << 24) | (d << 8) for d in deltas]
    stream = encode_vp8l_lossless(argb, w, h, headerless=True)
    alph = bytes([(fmode << 2) | 1]) + stream
    chunks = []
    vp8x = bytes([_F_ALPHA]) + bytes(3) \
        + (w - 1).to_bytes(3, "little") + (h - 1).to_bytes(3, "little")
    chunks.append(b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x)
    chunks.append(b"ALPH" + struct.pack("<I", len(alph)) + alph
                  + (b"\x00" if len(alph) & 1 else b""))
    chunks.append(b"VP8 " + struct.pack("<I", len(vp8_chunk)) + vp8_chunk
                  + (b"\x00" if len(vp8_chunk) & 1 else b""))
    payload = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


def _vp8_golden_chunk() -> bytes:
    blob = base64.b64decode("".join(_V8_GOLDEN_B64[0]))
    csize = struct.unpack_from("<I", blob, 16)[0]
    return blob[20 : 20 + csize]


# ------------------------------------------------- driver-oracled query

_WX_GOLDEN_B64: list = [
    (
        "UklGRrwAAABXRUJQVlA4WAoAAAAQAAAAHwAAFwAAQUxQSAoAAAABB1DaiAhERP8D"
        "VlA4IIwAAACwBQCdASogABgAPi0Sh0KhoQ3+qgAMAWJaACdMoR5n41+OX4zAGSl4"
        "YYWC5QEoE8xH7ki4vQAA/v/NHCXdkDZGg8QpIR4WUcM8XAQu6NO/iL1LdtzSeH6G"
        "4ybdC8xCbaw6PQKPvLabC7+/g94HioWNvcJtUZLlzK1cwm+np9bs235B/CIiZyhn"
        "1sIAAA=="
    ),
    (
        "UklGRgABAABXRUJQVlA4WAoAAAAQAAAAHwAAFwAAQUxQSGQAAAAFmQpE9D/AppEk"
        "R7OoTs0/Glpv52wcMQEK3LZRMjzGV7QmnWKlV+TsoAtcWAco1lPAY3wHsO8u2Txd"
        "wP62IX2GYvJr/yeUPwuWk9ws6ZJtUcIIKwGw5OrR/W+s813xPREs20ABVlA4IHYA"
        "AADQBACdASogABgAPoE4lEe/o6IhN/qoA/AQCWgAnTMcgX+qgGBT5Hb81wNt7gq7"
        "AAD+/LU5NhienL2enXTHtjvjyfUzMJxu7pXT7/D7AH/jM4lJV723BzNgP+U8Jzsa"
        "gsrf95w8LMt+vfBXKb6KfVtS26cW97AA"
    ),
    (
        "UklGRr4AAABXRUJQVlA4WAoAAAAQAAAAHwAAFwAAQUxQSBUAAAAJmYzof4BI22ab"
        "f+OnRxETkFRG4d0AVlA4IIIAAABQBQCdASogABgAPoU2lEelIyIhN/qoAKAQiWgA"
        "nTMl/jeq8QIGF0d3ArBSn69arkmFtoAA/vvsi7vD3zpwdgxbhOSgHG9Ps+83y2L5"
        "43ww/Wm/xnd5GB9DVqHLf45loFMtOSaXgylZOX2Q+XfdjP7FoYl+0Iz3X2+cwUVC"
        "Agd4Y8AA"
    ),
    (
        "UklGRvQBAABXRUJQVlA4WAoAAAAQAAAAFwAADwAAQUxQSIEBAAAANn6KgpUl5pvu"
        "y8k8hnKht4W4TFKMVAUjPqwOKoxow87gMDm6XDD5Y4rnb/iQgjQ+LY6PPA5S0jov"
        "2fVWxeme+Ovf1TCD8sl45voiSfqI4QnP2AqxvPGGtppgFfCDMMYyEWKfDACQt4A6"
        "EUplAHWAh11/aqmVvBBRZbv7xH3GoPkQftvwrS2GNEJmG0hshPnlQMIaNoO82dZB"
        "43EuS1hLCHG0F9DviPClJ7sfMSPaOhpXIgCcFkXCTALm7/0KlymKf5AAeAO3OT/L"
        "w+SWsaoOgUaQn27iDSPgrsTYgNZmD8DzfcY9cXhjgiZ+LugZDmGQ2etzIiZevutn"
        "xDa68m+yqv6fGVnrRIzznBhOHA+d+LqXvFlDDGsiQ3SezvOzWrN+tKvdOAcUnItX"
        "mWVmOnPGkOI5xTngJ3seacBjKUO69DwpLnZzNkTy8aLFIbg+rYtU6PcytRTnogcf"
        "wGd8NbRUj9oZWyLYr/Zg307XmnyXblc9gnweaEltyYE5d3UFZJ4RAFZQOCBMAAAA"
        "0AMAnQEqGAAQAD61UKFKpyUjIbAIAOAWiWoAnS9cgdGugmONIYIcAP73lid+G9AP"
        "tK+lsGCqVICm7TNGV3IYo4EI6XQGzzsQntjAAA=="
    ),
    (
        "UklGRtwDAABXRUJQVlA4WAoAAAAQAAAALwAALwAAQUxQSIICAAAFLzABERE+ZNW2"
        "W0dSehqCbQKW9D/WvQZgyQQe/NE0iYj+x/858E7PdEjKluuyXenp72Cpp2/JMXuK"
        "ASGPsperbr/rdmOcsV1meOWNGH+CG8tnmR4BIlbF7G3CZeJInU4J4dgFdovVvEv2"
        "qo2oyjyJ+sr0gAIsz8EYmHG2I2QXNdkla0uxFIoGkD1vmWOKJJwXB4izPKEUJPrG"
        "qk3RXsDdkMpVYdLa7M2yv6W57mDkkVtMHZnj+e3tYQnrjCOhHNtVJXkGVOlWttwC"
        "8EaUtzyhyAJmeKVkruzIG6fjjSlxo7aH8XrjHc04Xn9R2l5+SvIUbU2T6LObZORK"
        "JKCa/YVDA6hTKljVZnQ65gl3C2XRBt4jLNC3cmRNdtLVs87RdC5J5ap7vIUEVoow"
        "1DeeozKqESU1HCkPXSdU0RRWrVqFZp7BYJTUmimeObTtQsYJEd5O1DkaKfX1zOM+"
        "i+4lTXjLHJbrioYbsfKEi4Y08z3aLm/dkKCzQHWamNLd/I25Kqu+5QBz+fTbnws1"
        "/ElIerqyGqPkBbohRbXuM5KLKFTGyv6Awlt0HgkeZ6zaTLmq8aDvFSHaMEN2J4c2"
        "uysQDqTSr4tQxdTBSsods6tJ5tCEKCI7a0a4CQxRUwHXjAwRuxAuhKeY06vC7tLs"
        "01VAnxhzMKJsvx5aKSDUW9telXWfEyW9vVi3MJf69oiUagmcJS/OkuRynV3feD9j"
        "9zkIeYGyT2lqNwLj2+4GsaptLmUEhOL274tqTkBY8QovClFNvq9BrVp4iun1EDzJ"
        "8ft9hRy7p7e2+4QL7Ip/39fngag6XqxKXJdZfr/vc95utdHxTn/9udO/7/smAu67"
        "pCQ0F5z58wdWUDggNAEAAHAKAJ0BKjAAMAA+USiQRqOioaEjiABwCglsAJ0zL4Cf"
        "lv43fkByjJjF0X5DP0A/QDoANL/5wD0AN6q/mfUkx30rLdOxT44MmLCoBI2FdqgS"
        "b/tQBrvcgo4NvgWAAP7/WL0rHkqjM9SENhuCoPe8yYr+3KGf33GlI9+pzmjAdPMc"
        "3gTDdOMa7tp28uBvdKUH/3XwSEaiSAx2tW/mi55Efd8fVrv5oITfC+3PP80EJwvq"
        "RIxL9EOOY8//u2bgr/JqPLPhBCjmkh681MFxXFGFrNPhvHiE4fQWH/wVjD7gsQsA"
        "WZ183piJA8y2nFPGrsSUW1TRDUL6AXYpbdD+4HlNbggAB+PozGf9Nv4+jMZ/0i+c"
        "gDsVge/s5Coy/3qRGLGyf48ac0Xw5VaPjZmv4Jgxnu+zPwAA"
    ),
    (
        "UklGRqIAAABXRUJQVlA4WAoAAAAQAAAAHwAAFwAAQUxQSBYAAAABD/Cg/4iIIBZM"
        "5i/dnUFE/yN50kseVlA4IGYAAACQBACdASogABgAPt1gpU2/piOiN/qoA/AbiWgA"
        "tRc8Ac+/flQioUEr23cv+1gA/vLZOc9Kj4oXdvb9Mv/aee5zcH7G8Pjq7kLieuac"
        "0T4ZCpVSGPKJNE26cCi9FqwU9U6g1UFCAAA="
    ),
    (
        "UklGRjwBAABXRUJQVlA4WAoAAAAQAAAAJwAAHwAAQUxQSBwAAAABmYzof4BowELe"
        "Q7r/L9NIERMwAS6tuL2owWwAVlA4IPoAAADQCQCdASooACAALhEMhkMQkJCAgAgl"
        "sALEfWjwHkX4UfsZ/dOfC4B7V/sziTfgD0O+CBjf+4q7wB/AOz/tz1cBO/xkpeGG"
        "FtzAPa58dDvqV2pNqPU7KgAA/v/+yB6ETkqalPePmRWxy/ii+w+NC6MEoPusVIMI"
        "oC/1h/edMbLPyEviZ3PQqsOf5smw/zMIC1+FtRv7qTESAT7I3INg2P95K/BLvlf3"
        "kr9rfeH/aWf0VobiZt/7RwGHQghPPqrSx11Bn+aWy4k3S0TLAfz8h1CAb+fkOccz"
        "DSUdOa/PNH/gpErB6phPTZVBZgOfYLDgsiOlAYKkMajqWAAA"
    ),
    (), (), (),  # groups 7-9 are self-assembled
]

# (w, h, filter, compression, a_sum, a_wsum, y_sum)
_WX_FACTS: list = [
    (32, 24, 0, 1, 138240, 53153280, 79841),
    (32, 24, 1, 1, 101736, 42650120, 80858),
    (32, 24, 2, 1, 80640, 32446912, 81854),
    (24, 16, 0, 0, 48533, 9203485, 30677),
    (48, 48, 1, 1, 326585, 440794926, 260830),
    (32, 24, 0, 1, 122496, 47197504, 85071),
    (40, 32, 0, 1, 172800, 115926400, 149907),
    (32, 24, 3, 1, 94080, 41080576, 91464),
    (32, 24, 2, 1, 103664, 45874768, 91464),
    (32, 24, 1, 1, 99264, 38318048, 91464),
]

_WX_GROUPS = 10

# groups 7-9 are self-assembled gradient/vertical/horizontal-filtered
# containers over the 32x24 vp8 golden; alpha is the closed form below
_WX_SELF_FMODE = {7: 3, 8: 2, 9: 1}


def _wx_self_alpha(g: int, x: int, y: int) -> int:
    if g == 7:
        return min(255, 30 + 3 * x + 4 * y)     # smooth 2D (gradient)
    if g == 8:
        return (10 * y + x // 9 + 40) % 256     # column-smooth
    return (8 * x + y // 7 + 60) % 256          # row-smooth


def _wx_blob(g: int) -> bytes:
    if g in _WX_SELF_FMODE:
        w0, h0 = _V8_FACTS[0][0], _V8_FACTS[0][1]
        alpha = [_wx_self_alpha(g, x, y)
                 for y in range(h0) for x in range(w0)]
        return build_webp_alpha(alpha, _vp8_golden_chunk(), w0, h0,
                                _WX_SELF_FMODE[g])
    return base64.b64decode("".join(_WX_GOLDEN_B64[g]))


def _wx_payload(doc_id: int) -> bytes:
    g = doc_id % _WX_GROUPS
    corrupt = doc_id % 11 == 3
    unsup = doc_id % 13 == 5 and not corrupt
    blob = bytearray(_wx_blob(g))
    if unsup:
        # set the level-reduction preprocessing bit in the ALPH header
        i = blob.index(b"ALPH")
        blob[i + 8] |= 0x10
    if corrupt:
        del blob[-7:]
    return bytes(blob)


def _wx_key(doc_id: int) -> tuple:
    return (doc_id % _WX_GROUPS, doc_id % 11 == 3, doc_id % 13 == 5)


def _wx_facts(doc_id: int) -> tuple:
    import numpy as np

    f = walk_webp_alpha(_wx_payload(doc_id))
    a = np.asarray(f["alpha"], dtype=np.int64)
    ia = np.arange(a.size, dtype=np.int64) + 1
    return (
        "decoded", f["width"], f["height"], f["filter"],
        f["compression"], int(a.sum()),
        int((a * ia).sum()), int(f["y"].sum()),
    )


def _wx_oracle() -> str:
    rows = []
    for g, (w, h, fm, comp, a_sum, a_wsum, y_sum) in enumerate(_WX_FACTS):
        rows.append(
            f"SELECT {g} AS g, {w} AS width, {h} AS height, "
            f"{fm} AS filter_method, {comp} AS compression, "
            f"{a_sum} AS a_sum, CAST({a_wsum} AS BIGINT) AS a_wsum, "
            f"{y_sum} AS y_sum")
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
           CASE WHEN {bad} THEN 0 ELSE f.filter_method
                END AS filter_method,
           CASE WHEN {bad} THEN 0 ELSE f.compression END AS compression,
           CASE WHEN {bad} THEN 0 ELSE f.a_sum END AS a_sum,
           CASE WHEN {bad} THEN 0 ELSE f.a_wsum END AS a_wsum,
           CASE WHEN {bad} THEN 0 ELSE f.y_sum END AS y_sum
    FROM documents d
    JOIN facts f ON d.doc_id % {_WX_GROUPS} = f.g
    ORDER BY d.doc_id
    """


@register("multimodal_webp_alpha_decode", oracle=_wx_oracle())
def multimodal_webp_alpha_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Lossy WebP with alpha decoded natively end to end: the VP8X
    extended container, the ALPH plane (raw AND lossless headerless-
    VP8L compressions; all four prediction filters, the rarely-
    emitted gradient mode included via self-assembled containers
    libwebp itself accepts), and the color through the RFC 6386 VP8
    keyframe decoder — closing the LAST WebP form; every
    structurally valid WebP file now decodes natively. Facts pin
    alpha sums, position-weighted alpha sums, and luma sums. Typed
    verdicts: truncation ('corrupt'), level-reduction preprocessing
    ('unsupported').

    Scale notes (100 TB): same Arrow-batched mapInPandas +
    per-worker memo + typed-quarantine shape as the sibling walks."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _WX_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_wx_batches", _wx_key, _wx_facts,
        "doc_id long, status string, width long, height long, "
        "filter_method long, compression long, a_sum long, a_wsum long, "
        "y_sum long",
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
