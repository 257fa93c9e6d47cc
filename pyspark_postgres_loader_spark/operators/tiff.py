"""TIFF decode (TIFF 6.0) — greyscale, both byte orders, strips AND
tiles, uncompressed + PackBits + LZW (+ horizontal predictor).

TIFF is the scan/document/geo corpus staple. This module implements
the structure natively from the public spec: the II/MM header (BOTH
endiannesses — the value-fits-in-field rule is endian-sensitive and a
classic decoder bug, so fixtures alternate), the IFD entry walk
(tag/type/count/value-or-offset with values LEFT-JUSTIFIED in the
4-byte field), required baseline tags (ImageWidth/Length,
BitsPerSample 8, Compression, Photometric, StripOffsets/
StripByteCounts/RowsPerStrip, SamplesPerPixel), striped layout with
the last-strip short-row rule, PackBits (Compression 32773: literal
runs, repeat runs, the 128 noop), and — what scanners and GIS tools
actually emit — TIFF-flavor LZW (Compression 5: MSB-first bit
packing, Clear=256/EOI=257, the EARLY-CHANGE code-width bump at
2^w−1 that distinguishes TIFF from GIF LZW), the horizontal
differencing predictor (tag 317 = 2), and the tiled layout (tags
322-325: a 16-multiple tile grid with edge tiles PADDED to full tile
size).

Honest scope, typed quarantine: old/new JPEG (6/7), CCITT (2-4),
BitsPerSample != 8 and multi-sample images raise
``NotImplementedError`` ('unsupported'); structural damage is
'corrupt'. TIFF defines no checksums, so there is no crc class (same
status set as the 12-bit JPEG query).

Determinism: fixtures carry a closed-form pixel lattice with BOTH
run-heavy rows (PackBits repeat path) and literal rows (PackBits copy
path); the decode is lossless, so the oracle replays every pixel
directly — the FLAC/SOF3 argument.

Scale notes (100 TB): the standard Arrow-batched ``mapInPandas``
decode map; integer facts only re-enter the JVM.

Reference: no counterpart (SURVEY.md §2l multimodal extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_II, _MM = b"II", b"MM"
_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8}  # BYTE ASCII SHORT LONG RATIONAL


def packbits_encode(row: bytes) -> bytes:
    """Spec-faithful PackBits: repeat runs of >= 3 become (257 - n)
    control + byte; everything else accumulates into literal runs of
    <= 128."""
    out = bytearray()
    i = 0
    n = len(row)
    while i < n:
        # find run length at i
        j = i + 1
        while j < n and j - i < 128 and row[j] == row[i]:
            j += 1
        run = j - i
        if run >= 3:
            out.append(257 - run)
            out.append(row[i])
            i = j
            continue
        # literal: extend until a >=3 run starts or 128 bytes
        lit_start = i
        i = j
        while i < n and i - lit_start < 128:
            j = i + 1
            while j < n and row[j] == row[i]:
                j += 1
            if j - i >= 3:
                break
            i = j
        lit = row[lit_start : min(i, lit_start + 128)]
        i = lit_start + len(lit)
        out.append(len(lit) - 1)
        out += lit
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    out = bytearray()
    i = 0
    while len(out) < expected:
        if i >= len(data):
            raise ValueError("truncated PackBits stream")
        c = data[i]
        i += 1
        if c == 128:
            continue  # noop
        if c < 128:
            if i + c + 1 > len(data):
                raise ValueError("truncated PackBits literal")
            out += data[i : i + c + 1]
            i += c + 1
        else:
            if i >= len(data):
                raise ValueError("truncated PackBits run")
            out += bytes([data[i]]) * (257 - c)
            i += 1
    if len(out) != expected:
        raise ValueError("PackBits output overruns the strip size")
    return bytes(out)


_LZW_CLEAR = 256
_LZW_EOI = 257


def tiff_lzw_encode(data: bytes) -> bytes:
    """TIFF-flavor LZW (TIFF 6.0 §13): MSB-first bit packing, stream
    opens with Clear and ends with EOI, first dictionary code 258,
    EARLY code-width change (the width covering the NEXT code to be
    added bumps at table size 2^w − 1 — one code earlier than GIF;
    multimodal.py's GIF decoder documents the other convention)."""
    out = bytearray()
    acc = 0
    bits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, bits
        acc = (acc << width) | code
        bits += width
        while bits >= 8:
            out.append((acc >> (bits - 8)) & 0xFF)
            bits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    width = 9
    emit(_LZW_CLEAR, width)
    w = b""
    for c in data:
        wc = w + bytes([c])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = nxt
        nxt += 1
        if nxt == (1 << width) - 1 and width < 12:
            width += 1
        if nxt == 4094:  # spec: clear before the table fills
            emit(_LZW_CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            nxt = 258
            width = 9
        w = bytes([c])
    if w:
        emit(table[w], width)
    emit(_LZW_EOI, width)
    if bits:
        out.append((acc << (8 - bits)) & 0xFF)
    return bytes(out)


def tiff_lzw_decode(data: bytes, expected: int) -> bytes:
    """Inverse of tiff_lzw_encode (the early-change MSB variant).
    Decodes exactly ``expected`` bytes; anything structurally off is
    a typed ValueError."""
    table: list[bytes | None] | None = None
    width = 9
    out = bytearray()
    acc = 0
    bits = 0
    prev: bytes | None = None
    for byte in data:
        acc = (acc << 8) | byte
        bits += 8
        while bits >= width:
            code = (acc >> (bits - width)) & ((1 << width) - 1)
            bits -= width
            if code == _LZW_CLEAR:
                table = [bytes([i]) for i in range(256)] + [None, None]
                width = 9
                prev = None
                continue
            if code == _LZW_EOI:
                if len(out) != expected:
                    raise ValueError(
                        "LZW EOI before the declared pixel count"
                    )
                return bytes(out)
            if table is None:
                raise ValueError("LZW stream does not open with Clear")
            if code < len(table) and table[code] is not None:
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError(f"corrupt LZW stream: code {code}")
            out += entry
            if len(out) > expected:
                raise ValueError("LZW output overruns the chunk size")
            if prev is not None and len(table) < 4096:
                table.append(prev + entry[:1])
                # early change, decoder side: the encoder widened when
                # its next-free code hit 2^w − 1, and the decoder's
                # table additions run ONE CODE BEHIND the encoder's
                # (it reconstructs entry k while reading code k+1) —
                # so it must widen when its own table reaches
                # 2^w − 2, one entry before the encoder's boundary
                # (verified by an instrumented emit-width trace; the
                # boundary-crossing vectors are pinned in tests)
                if len(table) == (1 << width) - 2 and width < 12:
                    width += 1
            prev = entry
    raise ValueError("LZW stream ends without EOI")


def _predict2_encode(raw: bytes, row_w: int) -> bytes:
    """Horizontal differencing (Predictor tag 317 = 2), applied per
    row of the strip/tile before compression."""
    out = bytearray(raw)
    for r0 in range(0, len(raw), row_w):
        row = raw[r0 : r0 + row_w]
        for x in range(len(row) - 1, 0, -1):
            out[r0 + x] = (row[x] - row[x - 1]) & 0xFF
    return bytes(out)


def _predict2_decode(raw: bytes, row_w: int) -> bytes:
    out = bytearray(raw)
    for r0 in range(0, len(out), row_w):
        end = min(r0 + row_w, len(out))
        for x in range(r0 + 1, end):
            out[x] = (out[x] + out[x - 1]) & 0xFF
    return bytes(out)


def _compress_chunk(raw: bytes, compression: int, predictor: int,
                    row_w: int) -> bytes:
    if predictor == 2:
        raw = _predict2_encode(raw, row_w)
    if compression == 32773:
        return packbits_encode(raw)
    if compression == 5:
        return tiff_lzw_encode(raw)
    return raw


def build_tiff_grey(
    pixels,
    big_endian: bool = False,
    rows_per_strip: int = 8,
    compression: int = 1,
    tag_override: dict | None = None,
    tile: tuple[int, int] | None = None,
    predictor: int = 1,
) -> bytes:
    """Encode an ``(h, w)`` uint8 array as a greyscale TIFF —
    multi-strip or tiled (``tile`` = (TileWidth, TileLength), both
    16-multiples per spec; edge tiles zero-padded to full size),
    ``compression`` 1 (none), 5 (LZW) or 32773 (PackBits), optional
    horizontal predictor (317 = 2), either byte order.
    ``tag_override`` patches IFD tag values (fixtures use it to
    declare unsupported modes without fabricating their data)."""
    e = ">" if big_endian else "<"
    h, w = len(pixels), len(pixels[0])
    chunks = []
    if tile is None:
        for y0 in range(0, h, rows_per_strip):
            raw = b"".join(
                bytes(int(v) & 0xFF for v in pixels[y])
                for y in range(y0, min(y0 + rows_per_strip, h))
            )
            chunks.append(_compress_chunk(raw, compression, predictor, w))
    else:
        tw, th = tile
        for ty in range(0, h, th):
            for tx in range(0, w, tw):
                raw = b"".join(
                    bytes(
                        (int(pixels[y][x]) & 0xFF)
                        if y < h and x < w else 0
                        for x in range(tx, tx + tw)
                    )
                    for y in range(ty, ty + th)
                )
                chunks.append(
                    _compress_chunk(raw, compression, predictor, tw)
                )

    # layout: header(8) | chunk data | IFD
    header = struct.pack(e + "2sH", _MM if big_endian else _II, 42)
    offsets = []
    pos = 8
    for s in chunks:
        offsets.append(pos)
        pos += len(s)
    ifd_off = pos
    header += struct.pack(e + "I", ifd_off)

    n_chunks = len(chunks)
    # external value areas (needed when count > 1): placed after the IFD
    tags = {
        256: (4, 1, w),               # ImageWidth LONG
        257: (4, 1, h),               # ImageLength LONG
        258: (3, 1, 8),               # BitsPerSample SHORT
        259: (3, 1, compression),     # Compression
        262: (3, 1, 1),               # Photometric BlackIsZero
        277: (3, 1, 1),               # SamplesPerPixel
    }
    if tile is None:
        tags[273] = (4, n_chunks, offsets)     # StripOffsets
        tags[278] = (4, 1, rows_per_strip)     # RowsPerStrip
        tags[279] = (4, n_chunks, [len(s) for s in chunks])
    else:
        tags[322] = (4, 1, tile[0])            # TileWidth
        tags[323] = (4, 1, tile[1])            # TileLength
        tags[324] = (4, n_chunks, offsets)     # TileOffsets
        tags[325] = (4, n_chunks, [len(s) for s in chunks])
    if predictor != 1:
        tags[317] = (3, 1, predictor)          # Predictor
    for t, v in (tag_override or {}).items():
        tags[t] = v
    order = sorted(tags)
    ifd_size = 2 + 12 * len(order) + 4
    ext_pos = ifd_off + ifd_size
    entries = b""
    ext = b""
    for tag in order:
        typ, cnt, val = tags[tag]
        unit = _TYPE_SIZE[typ]
        fmt = {3: "H", 4: "I"}[typ]
        vals = val if isinstance(val, list) else [val]
        packed = b"".join(struct.pack(e + fmt, v) for v in vals)
        if len(packed) <= 4:
            field = packed + b"\x00" * (4 - len(packed))  # LEFT-justified
        else:
            field = struct.pack(e + "I", ext_pos)
            ext += packed
            ext_pos += len(packed)
        entries += struct.pack(e + "HHI", tag, typ, cnt) + field
    ifd = struct.pack(e + "H", len(order)) + entries + struct.pack(e + "I", 0)
    return header + b"".join(chunks) + ifd + ext


def decode_tiff_grey(payload: bytes):
    """Decode a baseline greyscale TIFF → (w, h, big_endian, strips,
    rows) with ``rows`` a list of per-row byte strings. Unsupported
    baseline-adjacent modes raise the typed quarantine."""
    try:
        return _decode_tiff_grey(payload)
    except (IndexError, struct.error, TypeError, AttributeError) as exc:
        # corrupt IFD entries (e.g. a zero-count tag) surface as
        # container/shape errors deep in the decode — structural
        # damage, typed like truncation (campaign-fuzz-pinned)
        raise ValueError(f"malformed TIFF structure ({exc})") from exc


def _decode_tiff_grey(payload: bytes):
    if len(payload) < 8:
        raise ValueError("truncated TIFF header")
    bo = payload[0:2]
    if bo == _II:
        e = "<"
    elif bo == _MM:
        e = ">"
    else:
        raise ValueError("bad TIFF byte order")
    if struct.unpack(e + "H", payload[2:4])[0] != 42:
        raise ValueError("bad TIFF magic number")
    ifd_off = struct.unpack(e + "I", payload[4:8])[0]
    if ifd_off + 2 > len(payload):
        raise ValueError("truncated IFD offset")
    n = struct.unpack(e + "H", payload[ifd_off : ifd_off + 2])[0]
    if ifd_off + 2 + 12 * n + 4 > len(payload):
        raise ValueError("truncated IFD")
    tags: dict[int, list[int]] = {}
    for k in range(n):
        off = ifd_off + 2 + 12 * k
        tag, typ, cnt = struct.unpack(e + "HHI", payload[off : off + 8])
        if typ not in (3, 4) or cnt == 0:
            # baseline greyscale needs only SHORT/LONG tags; a
            # zero-count entry would store an EMPTY value list that
            # every consumer indexes — treat it as absent so required
            # tags fail through the typed 'missing tag' path
            continue
        unit = _TYPE_SIZE[typ]
        fmt = {3: "H", 4: "I"}[typ]
        total = unit * cnt
        if total <= 4:
            area = payload[off + 8 : off + 8 + total]  # left-justified
        else:
            p = struct.unpack(e + "I", payload[off + 8 : off + 12])[0]
            if p + total > len(payload):
                raise ValueError("truncated external tag values")
            area = payload[p : p + total]
        tags[tag] = [
            struct.unpack(e + fmt, area[u * unit : (u + 1) * unit])[0]
            for u in range(cnt)
        ]

    def one(tag: int, default: int | None = None) -> int:
        if tag in tags:
            return tags[tag][0]
        if default is None:
            raise ValueError(f"missing required TIFF tag {tag}")
        return default

    comp = one(259, 1)
    if comp not in (1, 5, 32773):
        raise NotImplementedError(f"TIFF compression {comp}")
    if one(258, 8) != 8:
        raise NotImplementedError(f"TIFF BitsPerSample {one(258)}")
    if one(277, 1) != 1:
        raise NotImplementedError("multi-sample TIFF")
    pred = one(317, 1)
    if pred not in (1, 2):
        raise NotImplementedError(f"TIFF predictor {pred}")
    w, h = one(256), one(257)

    def inflate_chunk(raw: bytes, n_bytes: int, row_w: int) -> bytes:
        if comp == 32773:
            raw = packbits_decode(raw, n_bytes)
        elif comp == 5:
            raw = tiff_lzw_decode(raw, n_bytes)
        elif len(raw) != n_bytes:
            raise ValueError("strip byte count mismatch")
        if pred == 2:
            raw = _predict2_decode(raw, row_w)
        return raw

    tiled = 322 in tags or 323 in tags
    if tiled:
        tw, th = one(322), one(323)
        if tw <= 0 or th <= 0 or tw % 16 or th % 16:
            raise ValueError("TIFF tile dimensions must be 16-multiples")
        offsets = tags.get(324)
        counts = tags.get(325)
        if not offsets or not counts or len(offsets) != len(counts):
            raise ValueError("missing/mismatched tile tables")
        across = -(-w // tw)
        down = -(-h // th)
        if len(offsets) != across * down:
            raise ValueError("tile count does not cover the image")
        rows = [bytearray() for _ in range(h)]
        for ti, (o, c) in enumerate(zip(offsets, counts)):
            if o + c > len(payload):
                raise ValueError("truncated tile data")
            raw = inflate_chunk(payload[o : o + c], tw * th, tw)
            ty, tx = (ti // across) * th, (ti % across) * tw
            for r in range(min(th, h - ty)):
                keep = min(tw, w - tx)  # pad columns are discarded
                rows[ty + r] += raw[r * tw : r * tw + keep]
        return w, h, e == ">", len(offsets), [bytes(r) for r in rows]

    rps = one(278, h)
    offsets = tags.get(273)
    counts = tags.get(279)
    if not offsets or not counts or len(offsets) != len(counts):
        raise ValueError("missing/mismatched strip tables")
    if len(offsets) != -(-h // rps):
        raise ValueError("strip count does not cover the image")
    rows = []
    for si, (o, c) in enumerate(zip(offsets, counts)):
        if o + c > len(payload):
            raise ValueError("truncated strip data")
        nrows = min(rps, h - si * rps)
        raw = inflate_chunk(payload[o : o + c], nrows * w, w)
        rows += [raw[r * w : (r + 1) * w] for r in range(nrows)]
    return w, h, e == ">", len(offsets), rows


# ------------------------------------------------- driver-oracled query

_TIFF_GROUPS = 12


def _tiff_pixels(g: int):
    """Closed-form lattice mixing PackBits code paths: literal rows
    (y % 3 == 0: per-pixel variation) and run rows (values constant in
    5-pixel blocks)."""
    w, h = 19 + g, 10 + g % 5
    return [
        [
            (7 * x + 11 * y + 5 * g) % 256
            if y % 3 == 0
            else (9 * (x // 5) + 31 * y + 5 * g) % 256
            for x in range(w)
        ]
        for y in range(h)
    ]


def _tiff_payload(doc_id: int) -> bytes:
    g = doc_id % _TIFF_GROUPS
    payload = build_tiff_grey(
        _tiff_pixels(g),
        big_endian=g % 2 == 1,
        rows_per_strip=4,
        compression=32773 if g % 3 != 0 else 1,
    )
    if doc_id % 13 == 5 and doc_id % 11 != 3:
        # declare new-style JPEG in the Compression tag (data
        # untouched): the typed boundary fires on the tag,
        # deterministically (LZW graduated to 'decoded' in the
        # multimodal_tiff_lzw_tiled_decode sibling, so the marker
        # moved to a still-unsupported codec)
        payload = build_tiff_grey(
            _tiff_pixels(g),
            big_endian=g % 2 == 1,
            rows_per_strip=4,
            compression=1,
            tag_override={259: (3, 1, 7)},
        )
    if doc_id % 11 == 3:
        payload = payload[: len(payload) // 2]
    return payload


def _tiff_key(doc_id: int) -> tuple:
    return (doc_id % _TIFF_GROUPS, doc_id % 11 == 3, doc_id % 13 == 5)


def _tiff_facts(doc_id: int) -> tuple:
    w, h, be, n_strips, rows = decode_tiff_grey(
        _tiff_payload(doc_id)
    )
    csum = wsum = 0
    pos = 0
    for row in rows:
        for b in row:
            pos += 1
            csum += b
            wsum += pos * b
    return (
        "decoded", w, h, int(be), n_strips, csum, wsum,
    )


def _tiff_oracle() -> str:
    v = ("CASE WHEN (i // w) % 3 = 0"
         " THEN (7 * (i % w) + 11 * (i // w) + 5 * g) % 256"
         " ELSE (9 * ((i % w) // 5) + 31 * (i // w) + 5 * g) % 256 END")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_TIFF_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g, 19 + g AS w, 10 + g % 5 AS h FROM grp
    ),
    vals AS (
      SELECT g, w, h, i, {v} AS s
      FROM (SELECT g, w, h, unnest(range(0, w * h)) AS i FROM dims)
    ),
    sums AS (
      SELECT g, w, h,
             CAST((h + 3) // 4 AS INT) AS n_strips,
             CAST(SUM(s) AS BIGINT) AS px_sum,
             CAST(SUM((i + 1) * s) AS BIGINT) AS wpx_sum
      FROM vals GROUP BY g, w, h
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5
                THEN 0 ELSE s.w END AS width,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5
                THEN 0 ELSE s.h END AS height,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5
                THEN 0 ELSE CAST(d.doc_id % {_TIFF_GROUPS} % 2 AS INT)
                END AS big_endian,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5
                THEN 0 ELSE s.n_strips END AS n_strips,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5
                THEN 0 ELSE s.px_sum END AS px_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5
                THEN 0 ELSE s.wpx_sum END AS wpx_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_TIFF_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_tiff_decode", oracle=_tiff_oracle())
def multimodal_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF decode end to end: II AND MM byte orders (the
    oracled ``big_endian`` column pins the endianness-sensitive
    left-justified tag-value rule), multi-strip layout with the
    short-last-strip rule (``n_strips`` pinned), and PackBits
    decompression exercised on BOTH its code paths (fixture rows mix
    literal and run content; groups divisible by 3 stay uncompressed
    so the raw-strip path is oracled too). Lossless ⇒ the oracle
    replays the exact pixel lattice. Typed quarantine: truncation
    ('corrupt'), a new-JPEG Compression tag ('unsupported' — as are
    old JPEG, CCITT, non-8-bit and multi-sample; LZW and tiles decode
    in the multimodal_tiff_lzw_tiled_decode sibling).

    Scale notes (100 TB): same Arrow-batched mapInPandas decode map as
    every codec query; integer facts only re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_tiff_batches", _tiff_key, _tiff_facts,
        "doc_id long, status string, width int, height int, big_endian int, "
        "n_strips int, px_sum long, wpx_sum long",
    ).transform(_presentation_sort, "doc_id")


# --------------------------------------- LZW + tiled oracled query

_TL_GROUPS = 12
_TL_RPS = 5          # rows per strip in the striped groups
_TL_TILE = (16, 16)  # the spec-minimum 16-multiple tile


def _tl_pixels(g: int):
    """Closed-form lattice sized to force MULTI-TILE grids (2-3 tiles
    across, 2 down) with genuine edge-tile padding, mixing literal
    rows and run rows so LZW sees both regimes."""
    w, h = 30 + g, 18 + g % 6
    return [
        [
            (5 * x + 13 * y + 7 * g) % 256
            if y % 4 == 0
            else (11 * (x // 4) + 3 * y + 7 * g) % 256
            for x in range(w)
        ]
        for y in range(h)
    ]


def _tl_payload(doc_id: int) -> bytes:
    g = doc_id % _TL_GROUPS
    tiled = g % 2 == 0
    kwargs = dict(
        big_endian=(g // 2) % 2 == 1,
        compression=5,
        predictor=2 if g % 3 == 0 else 1,
    )
    if tiled:
        kwargs["tile"] = _TL_TILE
    else:
        kwargs["rows_per_strip"] = _TL_RPS
    if doc_id % 13 == 5 and doc_id % 11 != 3:
        # old-style JPEG declared over untouched LZW data: the typed
        # boundary fires on the Compression tag deterministically
        kwargs["tag_override"] = {259: (3, 1, 6)}
    payload = build_tiff_grey(_tl_pixels(g), **kwargs)
    if doc_id % 11 == 3:
        payload = payload[: len(payload) // 2]
    return payload


def _tl_key(doc_id: int) -> tuple:
    return (doc_id % _TL_GROUPS, doc_id % 11 == 3, doc_id % 13 == 5)


def _tl_facts(doc_id: int) -> tuple:
    g = doc_id % _TL_GROUPS
    w, h, be, n_chunks, rows = decode_tiff_grey(
        _tl_payload(doc_id)
    )
    csum = wsum = 0
    pos = 0
    for row in rows:
        for b in row:
            pos += 1
            csum += b
            wsum += pos * b
    return (
        "decoded", w, h, int(be), int(g % 2 == 0),
        n_chunks, csum, wsum,
    )


def _tl_oracle() -> str:
    v = ("CASE WHEN (i // w) % 4 = 0"
         " THEN (5 * (i % w) + 13 * (i // w) + 7 * g) % 256"
         " ELSE (11 * ((i % w) // 4) + 3 * (i // w) + 7 * g) % 256 END")
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 13 = 5"
    tw, th = _TL_TILE
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_TL_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g, 30 + g AS w, 18 + g % 6 AS h FROM grp
    ),
    vals AS (
      SELECT g, w, h, i, {v} AS s
      FROM (SELECT g, w, h, unnest(range(0, w * h)) AS i FROM dims)
    ),
    sums AS (
      SELECT g, w, h,
             CAST(CASE WHEN g % 2 = 0
                  THEN ((w + {tw} - 1) // {tw})
                       * ((h + {th} - 1) // {th})
                  ELSE (h + {_TL_RPS} - 1) // {_TL_RPS} END AS INT)
               AS n_chunks,
             CAST(SUM(s) AS BIGINT) AS px_sum,
             CAST(SUM((i + 1) * s) AS BIGINT) AS wpx_sum
      FROM vals GROUP BY g, w, h
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.w END AS width,
           CASE WHEN {bad} THEN 0 ELSE s.h END AS height,
           CASE WHEN {bad} THEN 0
                ELSE CAST((d.doc_id % {_TL_GROUPS} // 2) % 2 AS INT)
                END AS big_endian,
           CASE WHEN {bad} THEN 0
                ELSE CAST(CASE WHEN d.doc_id % {_TL_GROUPS} % 2 = 0
                     THEN 1 ELSE 0 END AS INT) END AS tiled,
           CASE WHEN {bad} THEN 0 ELSE s.n_chunks END AS n_chunks,
           CASE WHEN {bad} THEN 0 ELSE s.px_sum END AS px_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wpx_sum END AS wpx_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_TL_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_tiff_lzw_tiled_decode", oracle=_tl_oracle())
def multimodal_tiff_lzw_tiled_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The TIFF modes scanners and GIS tools actually emit, decoded
    end to end: TIFF-flavor LZW (Compression 5 — MSB-first packing,
    Clear/EOI, the early-change width bump the GIF variant lacks),
    the horizontal differencing predictor (tag 317 = 2, every third
    group), and the tiled layout (tags 322-325; even groups use a
    16×16 grid with real edge-tile padding, odd groups stay striped
    so both layouts share the codec path), in BOTH byte orders.
    Lossless ⇒ the oracle replays the exact pixel lattice plus the
    tile-grid/strip-count arithmetic. Typed quarantine: truncation
    ('corrupt'), an old-JPEG Compression tag ('unsupported').

    Scale notes (100 TB): the standard Arrow-batched mapInPandas
    decode map; integer facts only re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_tl_batches", _tl_key, _tl_facts,
        "doc_id long, status string, width int, height int, big_endian int, "
        "tiled int, n_chunks int, px_sum long, wpx_sum long",
    ).transform(_presentation_sort, "doc_id")
