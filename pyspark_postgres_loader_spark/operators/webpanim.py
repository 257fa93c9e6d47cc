"""Animated WebP (VP8X/ANIM/ANMF) container walk.

Animated WebP replaced GIF for most of the modern web's short
animations; a crawled multimodal corpus carries them in volume. The
still-image walk (operators/webp.py) deliberately treats ``VP8X``
as a typed boundary — this module closes that boundary for the
animation case: it walks the extended container per the public WebP
container spec and decodes EVERY frame natively — lossless frames
through the VP8L decoder and lossy frames through the VP8 keyframe
decoder (operators/vp8.py), both validated pixel-exact against
libwebp. Mixed-codec animations (a real crawl contains them) are
first-class: every third fixture group appends a lossy golden
frame.

Container layout (WebP Container Specification, public):

- ``VP8X`` (10 bytes): 1 flag byte (bit 0x02 = animation), 3
  reserved bytes, 24-bit little-endian canvas width-1 / height-1;
- ``ANIM`` (6 bytes): 4-byte BGRA background, 16-bit loop count;
- ``ANMF`` (16 bytes + frame data): 24-bit frame X/2 and Y/2 (the
  spec stores HALVED offsets — odd placements are unrepresentable),
  24-bit frame width-1 / height-1, 24-bit duration in ms, 1 flag
  byte (bit 0x01 disposal, 0x02 blending), then the frame's own
  image sub-chunk (``VP8L`` or lossy ``VP8 ``, both decoded);
- chunks are padded to even sizes, as everywhere in RIFF.

Structural verdicts: truncation ('corrupt'); a frame whose ANMF
declared dimensions disagree with its own bitstream header
('mismatch' — the cross-field consistency check a naive walk
skips); a frame placed outside the canvas ('corrupt'); VP8
INTERFRAMES — which cannot legally start an animation track
('unsupported').

Scale notes (100 TB): identical shape to the still-image walk —
binaryFile-parallel listing, Arrow-batched ``mapInPandas``, typed
quarantine. Frame decode cost is bounded per payload; nothing
composites on the driver (frame compositing is presentation, not
ingestion — the walk extracts per-frame facts).

Reference: WebP Container Specification (public); reference repo
has no image surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .vp8 import _V8_FACTS, _V8_GOLDEN_B64, decode_vp8
from .webp import decode_vp8l, encode_vp8l_lossless
from .walkbatch import decode_walk

_F_ANIM = 0x02


def _u24(b: bytes, off: int) -> int:
    return b[off] | (b[off + 1] << 8) | (b[off + 2] << 16)


def walk_webp_anim(data: bytes) -> dict:
    """Walk an animated WebP container; decode every frame (VP8L
    lossless AND VP8 lossy keyframes). Raises NotImplementedError
    for interframes / non-animation VP8X payloads, ValueError (with
    'DIMS' for the ANMF-vs-frame-header disagreement) for
    structural damage."""
    try:
        return _walk_anim(data)
    except (IndexError, struct.error, TypeError) as exc:
        raise ValueError(f"malformed WebP container ({exc})") from exc


def _walk_anim(data: bytes) -> dict:
    if len(data) < 30 or data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("missing RIFF/WEBP container magic")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    if riff_size + 8 > len(data):
        raise ValueError("RIFF size exceeds payload")
    end = 8 + riff_size
    pos = 12
    canvas_w = canvas_h = None
    loop_count = None
    frames: list[dict] = []
    while pos + 8 <= end:
        fourcc = data[pos : pos + 4]
        csize = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + csize]
        if len(body) != csize:
            raise ValueError("truncated WebP chunk body")
        pos += 8 + csize + (csize & 1)
        if fourcc == b"VP8X":
            if csize != 10:
                raise ValueError("VP8X chunk must be 10 bytes")
            flags = body[0]
            if not flags & _F_ANIM:
                raise NotImplementedError(
                    "VP8X without animation flag in anim walk")
            canvas_w = _u24(body, 4) + 1
            canvas_h = _u24(body, 7) + 1
        elif fourcc == b"ANIM":
            if csize != 6:
                raise ValueError("ANIM chunk must be 6 bytes")
            loop_count = struct.unpack_from("<H", body, 4)[0]
        elif fourcc == b"ANMF":
            if canvas_w is None or loop_count is None:
                raise ValueError("ANMF before VP8X/ANIM")
            if csize < 16 + 8:
                raise ValueError("ANMF chunk too small")
            fx = _u24(body, 0) * 2
            fy = _u24(body, 3) * 2
            fw = _u24(body, 6) + 1
            fh = _u24(body, 9) + 1
            duration = _u24(body, 12)
            fflags = body[15]
            sub_cc = body[16:20]
            sub_size = struct.unpack_from("<I", body, 20)[0]
            payload = body[24 : 24 + sub_size]
            if len(payload) != sub_size:
                raise ValueError("truncated frame sub-chunk")
            if sub_cc not in (b"VP8L", b"VP8 "):
                raise ValueError(f"unknown frame chunk {sub_cc!r}")
            blob = (b"RIFF"
                    + struct.pack("<I", 4 + 8 + sub_size + (sub_size & 1))
                    + b"WEBP" + sub_cc + struct.pack("<I", sub_size)
                    + payload + (b"\x00" if sub_size & 1 else b""))
            if sub_cc == b"VP8L":
                f = decode_vp8l(blob)
                kind = "vp8l"
                content = f["pixels"]
            else:
                # lossy keyframe through the native VP8 decoder
                f = decode_vp8(blob)
                kind = "vp8"
                content = (f["y"], f["u"], f["v"])
            if (f["width"], f["height"]) != (fw, fh):
                raise ValueError(
                    "ANMF dims disagree with frame header (DIMS)")
            if fx + fw > canvas_w or fy + fh > canvas_h:
                raise ValueError("frame extends beyond the canvas")
            frames.append({
                "x": fx, "y": fy, "w": fw, "h": fh, "kind": kind,
                "duration": duration, "dispose": fflags & 0x01,
                "blend": fflags & 0x02, "pixels": content,
            })
        # other chunks (ICCP/EXIF/XMP) are legal — skipped
    if canvas_w is None:
        raise ValueError("animated WebP without VP8X chunk")
    if not frames:
        raise ValueError("animated WebP without ANMF frames")
    return {
        "canvas_w": canvas_w,
        "canvas_h": canvas_h,
        "loop_count": loop_count,
        "frames": frames,
    }


def build_webp_anim(frames: list[tuple],
                    canvas_w: int, canvas_h: int,
                    loop_count: int) -> bytes:
    """Assemble an animated WebP container from (x, y, w, h,
    duration, content) frames — content is an ARGB pixel list
    (encoded as a VP8L frame through the minimal lossless encoder)
    or raw ``VP8 `` chunk payload bytes (embedded as a lossy frame
    verbatim). Used by the fixture generator and the unit suite."""
    chunks = []
    vp8x = bytes([_F_ANIM]) + bytes(3) \
        + (canvas_w - 1).to_bytes(3, "little") \
        + (canvas_h - 1).to_bytes(3, "little")
    chunks.append(b"VP8X" + struct.pack("<I", len(vp8x)) + vp8x)
    anim = bytes(4) + struct.pack("<H", loop_count)
    chunks.append(b"ANIM" + struct.pack("<I", len(anim)) + anim)
    for x, y, w, h, duration, content in frames:
        if isinstance(content, (bytes, bytearray)):
            sub = b"VP8 " + struct.pack("<I", len(content)) + bytes(content)
            if len(content) & 1:
                sub += b"\x00"
        else:
            still = encode_vp8l_lossless(content, w, h)
            sub_size = struct.unpack_from("<I", still, 16)[0]
            payload = still[20 : 20 + sub_size]
            sub = b"VP8L" + struct.pack("<I", sub_size) + payload
            if sub_size & 1:
                sub += b"\x00"
        body = ((x // 2).to_bytes(3, "little")
                + (y // 2).to_bytes(3, "little")
                + (w - 1).to_bytes(3, "little")
                + (h - 1).to_bytes(3, "little")
                + duration.to_bytes(3, "little")
                + bytes([0x02])  # blend over previous
                + sub)
        chunks.append(b"ANMF" + struct.pack("<I", len(body)) + body
                      + (b"\x00" if len(body) & 1 else b""))
    payload = b"WEBP" + b"".join(chunks)
    return b"RIFF" + struct.pack("<I", len(payload)) + payload


# ------------------------------------------------- driver-oracled query

_WA_GROUPS = 10


def _wa_nframes(g: int) -> int:
    return 2 + g % 4


def _wa_fdims(g: int) -> tuple[int, int]:
    return 16 + 2 * g, 10 + g


def _wa_px(g: int, f: int, x: int, y: int) -> tuple[int, int, int]:
    return ((11 * x + 5 * y + 7 * f + 3 * g) % 256,
            (3 * x + 13 * y + f + g) % 256,
            (x + y + 5 * f) % 256)


def _wa_has_lossy(g: int) -> bool:
    # every third group appends a lossy VP8 keyframe (the first vp8
    # golden, 32x24 q100) — the MIXED-codec animation a real crawl
    # contains
    return g % 3 == 2


def _vp8_golden_chunk(interframe: bool = False) -> bytes:
    import base64

    blob = base64.b64decode("".join(_V8_GOLDEN_B64[0]))
    csize = struct.unpack_from("<I", blob, 16)[0]
    payload = bytearray(blob[20 : 20 + csize])
    if interframe:
        payload[0] |= 0x01  # keyframe bit off → interframe
    return bytes(payload)


def _wa_blob(g: int, unsup: bool = False) -> bytes:
    nf = _wa_nframes(g)
    fw, fh = _wa_fdims(g)
    frames = []
    for f in range(nf):
        argb = []
        for y in range(fh):
            for x in range(fw):
                r, gg, b = _wa_px(g, f, x, y)
                argb.append(0xFF000000 | (r << 16) | (gg << 8) | b)
        frames.append((2 * f, 2 * ((f + g) % 3), fw, fh,
                       40 + 10 * f + g, argb))
    cw, ch = fw + 2 * (nf - 1), fh + 4
    if _wa_has_lossy(g) or unsup:
        frames.append((0, 0, 32, 24, 99 + g,
                       _vp8_golden_chunk(interframe=unsup)))
        cw, ch = max(cw, 32), max(ch, 24)
    return build_webp_anim(frames, cw, ch, g % 5)


def _wa_payload(doc_id: int) -> bytes:
    g = doc_id % _WA_GROUPS
    corrupt = doc_id % 11 == 3
    mismatch = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or mismatch)
    blob = bytearray(_wa_blob(g, unsup=unsup))
    if mismatch:
        # patch the FIRST ANMF's declared width-1 (+1): the frame
        # header keeps the true width, so the cross-check must fire
        i = blob.index(b"ANMF")
        blob[i + 8 + 6] = (blob[i + 8 + 6] + 1) & 0xFF
    if corrupt:
        del blob[-7:]
    return bytes(blob)


def _wa_key(doc_id: int) -> tuple:
    return (doc_id % _WA_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _wa_facts(doc_id: int) -> tuple:
    f = walk_webp_anim(_wa_payload(doc_id))
    dur_sum = 0
    pix_wsum = 0
    off_sum = 0
    for fi, fr in enumerate(f["frames"]):
        dur_sum += fr["duration"]
        off_sum += fr["x"] + 10 * fr["y"]
        if fr["kind"] == "vp8":
            Y, U, V = fr["pixels"]
            pix_wsum += (fi + 1) * (
                int(Y.sum()) + 2 * int(U.sum())
                + 3 * int(V.sum()))
            continue
        for i, p in enumerate(fr["pixels"]):
            r = (p >> 16) & 0xFF
            gg = (p >> 8) & 0xFF
            b = p & 0xFF
            pix_wsum += (fi + 1) * (i + 1) * (r + 2 * gg + 3 * b)
    return (
        "decoded", len(f["frames"]), f["canvas_w"],
        f["canvas_h"], f["loop_count"], dur_sum, off_sum,
        pix_wsum,
    )


def _wa_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    # the mixed-codec groups (g % 3 = 2) append the 32x24 vp8 golden:
    # its plane-sum fact is the pinned constant from operators/vp8.py
    w0, h0, ys, us, vs = _V8_FACTS[0][:5]
    lconst = ys + 2 * us + 3 * vs
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_WA_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g, 2 + g % 4 AS nf, 16 + 2 * g AS fw, 10 + g AS fh
      FROM grp
    ),
    fr AS (
      SELECT g, nf, fw, fh, unnest(range(0, nf)) AS f FROM dims
    ),
    px AS (
      SELECT g, f, fw,
             i % fw AS x, i // fw AS y, i
      FROM (SELECT g, f, fw, fh, unnest(range(0, fw * fh)) AS i FROM fr)
    ),
    pixsum AS (
      SELECT g, f,
             SUM((i + 1) * (
               ((11 * x + 5 * y + 7 * f + 3 * g) % 256)
               + 2 * ((3 * x + 13 * y + f + g) % 256)
               + 3 * ((x + y + 5 * f) % 256))) AS s
      FROM px GROUP BY g, f
    ),
    sums AS (
      SELECT fr.g,
             CAST(MAX(fr.nf) + MAX(CASE WHEN fr.g % 3 = 2 THEN 1
                  ELSE 0 END) AS BIGINT) AS n_frames,
             CAST(CASE WHEN MAX(fr.g) % 3 = 2
                  THEN GREATEST(MAX(fr.fw + 2 * (fr.nf - 1)), {w0})
                  ELSE MAX(fr.fw + 2 * (fr.nf - 1))
                  END AS BIGINT) AS canvas_w,
             CAST(CASE WHEN MAX(fr.g) % 3 = 2
                  THEN GREATEST(MAX(fr.fh + 4), {h0})
                  ELSE MAX(fr.fh + 4) END AS BIGINT) AS canvas_h,
             CAST(MAX(fr.g % 5) AS BIGINT) AS loop_count,
             CAST(SUM(40 + 10 * fr.f + fr.g)
                  + MAX(CASE WHEN fr.g % 3 = 2 THEN 99 + fr.g
                        ELSE 0 END) AS BIGINT) AS dur_sum,
             CAST(SUM(2 * fr.f + 10 * (2 * ((fr.f + fr.g) % 3)))
               AS BIGINT) AS off_sum,
             CAST(SUM((fr.f + 1) * p.s)
                  + MAX(CASE WHEN fr.g % 3 = 2
                        THEN (fr.nf + 1) * {lconst}
                        ELSE 0 END) AS BIGINT) AS pix_wsum
      FROM fr JOIN pixsum p ON fr.g = p.g AND fr.f = p.f
      GROUP BY fr.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'mismatch'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_frames END AS n_frames,
           CASE WHEN {bad} THEN 0 ELSE s.canvas_w END AS canvas_w,
           CASE WHEN {bad} THEN 0 ELSE s.canvas_h END AS canvas_h,
           CASE WHEN {bad} THEN 0 ELSE s.loop_count END AS loop_count,
           CASE WHEN {bad} THEN 0 ELSE s.dur_sum END AS dur_sum,
           CASE WHEN {bad} THEN 0 ELSE s.off_sum END AS off_sum,
           CASE WHEN {bad} THEN 0 ELSE s.pix_wsum END AS pix_wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_WA_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_webp_anim_walk", oracle=_wa_oracle())
def multimodal_webp_anim_walk(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Animated WebP walked natively: VP8X canvas + ANIM loop state +
    per-ANMF frame headers (halved offsets, durations, blend/dispose
    flags) with EVERY frame decoded — VP8L lossless frames through
    the libwebp-validated lossless decoder, lossy VP8 keyframes
    through the libwebp-validated RFC 6386 decoder — and each
    cross-checked against its declared ANMF dimensions. Mixed-codec
    animations are a fixture class (every third group appends a
    lossy golden frame). Facts cover container metadata AND
    frame-index-weighted pixel/plane sums, so both layers are
    value-verified. Typed verdicts: truncation ('corrupt'),
    ANMF/bitstream dimension disagreement ('mismatch'), VP8
    interframes ('unsupported').

    Scale notes (100 TB): identical to the still walk — Arrow-batched
    mapInPandas over binaryFile listings, per-worker memo, typed
    quarantine instead of stage kills; no compositing, no driver
    work."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _WA_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 17 == 2).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_wa_batches", _wa_key, _wa_facts,
        "doc_id long, status string, n_frames long, canvas_w long, "
        "canvas_h long, loop_count long, dur_sum long, off_sum long, "
        "pix_wsum long",
        value_errors=(("DIMS", "mismatch"),),
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
