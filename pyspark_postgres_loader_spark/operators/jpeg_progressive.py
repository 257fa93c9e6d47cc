"""Progressive JPEG (SOF2) — the second of the two JPEG modes in the
wild (most web JPEGs are progressive), decoded natively from ITU-T
T.81 Annex G: multiple SOS scans accumulate quantized coefficients —
DC first/refinement scans (interleaved), per-component AC scans with
SPECTRAL SELECTION (a [Ss..Se] zig-zag band per scan) and SUCCESSIVE
APPROXIMATION (first pass delivers coefficients at reduced precision
``>> Al``; refinement passes supply one magnitude bit each, with the
EOBn run-length codes and embedded correction bits of G.1.2.3) — then
one dequant + IDCT once every scan has landed. The encoder emits a
real multi-scan progressive script (DC Al=1 + DC refinement, two AC
spectral bands per component at Al=1 + their refinements, genuine
cross-block EOBn runs with buffered correction bits — the libjpeg
bit-buffer strategy), so round trips exercise every decode path;
hand-check: scans are parsed from OUR byte stream by the independent
marker-walk test, not trusted blindly.

Chroma subsampling (sampling factors in {1, 2} — 4:2:0, 4:2:2, 4:4:0)
is supported: interleaved DC scans walk MCUs emitting ``hi × vi``
blocks per component (spec A.2.3, same order as the baseline decoder),
while non-interleaved scans — every AC scan, and single-component DC
scans — walk the component's OWN block grid (``ceil(comp_w/8) ×
ceil(comp_h/8)``, spec A.2.2), which is SMALLER than the MCU-padded
grid when dimensions aren't MCU-aligned. Decoded chroma planes are
upsampled by box replication exactly like the baseline path. Factors
above 2 raise the typed quarantine error.

Scale notes (100 TB): decode cost is the same one-pass-per-scan walk
over the entropy data — still a pure per-payload map. Progressive
matters for corpus COVERAGE (a web crawl is mostly progressive
JPEGs); nothing about the Spark plan shape changes.
"""

from __future__ import annotations

from .multimodal import (
    _ZIGZAG,
    _BitReader,
    _BitWriter,
    _canonical_codes,
    _dct_matrix,
    _extend,
    _huff_decode,
    _jpeg_huffman_spec,
    _JPEG_QTABLE,
    _ycc_to_rgb,
)


# ------------------------------------------------------------- decoder

def decode_progressive(payload: bytes):
    """Decode an SOF2 progressive JPEG → ``(w, h, rgb)`` (same contract
    as the baseline decoder)."""
    import struct

    import numpy as np

    pos = 2
    qtables: dict[int, list[int]] = {}
    htables: dict[tuple[int, int], dict] = {}
    w = h = 0
    comps: list[tuple[int, int, int, int]] = []  # (cid, hi, vi, tq)
    coefs: list | None = None  # per component: (wib*hib, 64) int32, zigzag
    geom: list[tuple[int, int, int, int, int]] = []  # (hi, vi, wib, ow, oh)
    mcux = mcuy = 0
    preds: list[int] = []
    while pos < len(payload):
        if payload[pos] != 0xFF:
            raise ValueError(f"bad JPEG marker alignment at {pos}")
        marker = payload[pos + 1]
        pos += 2
        if marker == 0xD9:  # EOI
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
                if pq != 0:
                    raise NotImplementedError("16-bit JPEG quant tables")
                qtables[tq] = list(seg[off + 1 : off + 65])
                off += 65
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
        elif marker == 0xC2:  # SOF2
            precision, h, w, ncomp = seg[0], *struct.unpack(">HH", seg[1:5]), seg[5]
            if precision != 8:
                raise NotImplementedError("12-bit JPEG")
            if ncomp not in (1, 3):
                raise NotImplementedError(f"JPEG with {ncomp} components")
            comps = []
            for i in range(ncomp):
                cid, sampling, tq = seg[6 + 3 * i : 9 + 3 * i]
                hi, vi = sampling >> 4, sampling & 0x0F
                if hi not in (1, 2) or vi not in (1, 2):
                    raise NotImplementedError(
                        f"JPEG sampling factors {hi}x{vi} (only 1..2 supported)"
                    )
                comps.append((cid, hi, vi, tq))
            if ncomp == 1:
                # a lone component is never subsampled relative to itself
                comps = [(comps[0][0], 1, 1, comps[0][3])]
            hmax = max(hi for _c, hi, _v, _t in comps)
            vmax = max(vi for _c, _h, vi, _t in comps)
            mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
            geom, coefs = [], []
            for _cid, hi, vi, _tq in comps:
                wib, hib = mcux * hi, mcuy * vi  # MCU-padded grid
                cw, ch = -(-w * hi // hmax), -(-h * vi // vmax)  # comp px
                ow, oh = -(-cw // 8), -(-ch // 8)  # own grid (A.2.2)
                geom.append((hi, vi, wib, ow, oh))
                coefs.append(np.zeros((wib * hib, 64), dtype=np.int32))
            preds = [0] * ncomp
        elif marker == 0xC0:
            raise ValueError("baseline SOF0 inside progressive decoder")
        elif marker == 0xDA:  # SOS — one scan
            if coefs is None:
                raise ValueError("JPEG scan before SOF2")
            ns = seg[0]
            scomp = []  # (component index, dc table id, ac table id)
            for i in range(ns):
                cs, tables = seg[1 + 2 * i], seg[2 + 2 * i]
                ci = next(
                    j
                    for j, (cid, _h, _v, _tq) in enumerate(comps)
                    if cid == cs
                )
                scomp.append((ci, tables >> 4, tables & 0x0F))
            ss, se = seg[1 + 2 * ns], seg[2 + 2 * ns]
            ah, al = seg[3 + 2 * ns] >> 4, seg[3 + 2 * ns] & 0x0F
            pos += seg_len
            pos = _decode_scan(
                payload, pos, coefs, preds, scomp, htables,
                ss, se, ah, al, geom, mcux, mcuy,
            )
            continue
        pos += seg_len
    if coefs is None:
        raise ValueError("JPEG has no SOF2 frame")
    # all scans in: dequant, de-zigzag, IDCT — identical math to
    # baseline; subsampled chroma upsamples by box replication, the
    # same rule as _jpeg_scan
    t = _dct_matrix()
    hmax = max(hi for hi, _v, _w, _o, _p in geom)
    vmax = max(vi for _h, vi, _w, _o, _p in geom)
    planes = []
    for ci, (_cid, _h2, _v2, tq) in enumerate(comps):
        hi, vi, wib, _ow, _oh = geom[ci]
        hib = mcuy * vi
        q = np.asarray(qtables[tq], dtype=np.float64)
        plane = np.empty((hib * 8, wib * 8), dtype=np.uint8)
        dq = coefs[ci].astype(np.float64) * q[None, :]
        for b in range(wib * hib):
            block = np.zeros(64, dtype=np.float64)
            block[_ZIGZAG] = dq[b]
            spatial = t.T @ block.reshape(8, 8) @ t
            by, bx = divmod(b, wib)
            plane[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] = np.clip(
                np.round(spatial + 128.0), 0, 255
            ).astype(np.uint8)
        if hi != hmax:
            plane = np.repeat(plane, hmax // hi, axis=1)
        if vi != vmax:
            plane = np.repeat(plane, vmax // vi, axis=0)
        planes.append(plane)
    if len(planes) == 1:
        grey = planes[0][:h, :w]
        return w, h, np.repeat(grey[:, :, None], 3, axis=2).copy()
    rgb = _ycc_to_rgb(planes[0], planes[1], planes[2])
    return w, h, rgb[:h, :w].copy()


def _scan_block_order(scomp, geom, mcux, mcuy):
    """Block visit order for one scan (spec A.2): an INTERLEAVED scan
    (ns > 1) walks MCUs emitting ``hi × vi`` blocks per component in
    raster order within the MCU (A.2.3, identical to baseline); a
    NON-INTERLEAVED scan (ns == 1 — every AC scan, and single-component
    DC scans) walks the lone component's OWN block grid row-major
    (A.2.2), which is smaller than the MCU-padded grid when the image
    isn't MCU-aligned. Yields (component index, block index into the
    component's MCU-padded coefficient array)."""
    if len(scomp) > 1:
        for my in range(mcuy):
            for mx in range(mcux):
                for ci, _dc_id, _ac_id in scomp:
                    hi, vi, wib, _ow, _oh = geom[ci]
                    for vy in range(vi):
                        for vx in range(hi):
                            yield ci, (my * vi + vy) * wib + (mx * hi + vx)
    else:
        ci = scomp[0][0]
        _hi, _vi, wib, ow, oh = geom[ci]
        for by in range(oh):
            for bx in range(ow):
                yield ci, by * wib + bx


def _decode_scan(payload, pos, coefs, preds, scomp, htables,
                 ss, se, ah, al, geom, mcux, mcuy):
    """One SOS's entropy data. Returns the position AFTER the scan
    (aligned at the next marker). DC scans (ss==0) may interleave all
    components; AC scans are single-component per spec G.1.1.1.1.
    Block order per scan comes from :func:`_scan_block_order`."""
    reader = _BitReader(payload, pos)
    eobrun = 0

    if ss == 0:  # ---- DC scan
        if se != 0:
            raise ValueError("DC scan with nonzero Se")
        if ah == 0:
            for ci, _dc_id, _ac_id in scomp:
                preds[ci] = 0  # DC prediction resets per scan (F.2.1.3.1)
        dc_ids = {ci: dc_id for ci, dc_id, _ac_id in scomp}
        for ci, b in _scan_block_order(scomp, geom, mcux, mcuy):
            if ah == 0:
                table = htables[(0, dc_ids[ci])]
                s = _huff_decode(reader, table)
                diff = _extend(reader.bits(s), s)
                preds[ci] += diff
                coefs[ci][b, 0] = preds[ci] << al
            else:  # refinement: one raw bit
                if reader.bits(1):
                    coefs[ci][b, 0] |= 1 << al
    else:  # ---- AC scan, single component
        if len(scomp) != 1:
            raise ValueError("interleaved AC scan in progressive JPEG")
        ci, _dc_id, ac_id = scomp[0]
        table = htables[(1, ac_id)]
        block_coefs = coefs[ci]
        for _ci, b in _scan_block_order(scomp, geom, mcux, mcuy):
            if ah == 0:
                if eobrun > 0:
                    eobrun -= 1
                    continue
                k = ss
                while k <= se:
                    sym = _huff_decode(reader, table)
                    r, s = sym >> 4, sym & 0x0F
                    if s == 0:
                        if r < 15:  # EOBn: run of 2^r + bits(r) blocks
                            eobrun = (1 << r) - 1
                            if r:
                                eobrun += reader.bits(r)
                            break
                        k += 16  # ZRL
                        continue
                    k += r
                    if k > se:
                        raise ValueError("AC run past band end")
                    block_coefs[b, k] = _extend(reader.bits(s), s) << al
                    k += 1
            else:
                eobrun = _refine_ac_block(
                    reader, table, block_coefs, b, ss, se, al, eobrun
                )
    # locate the next marker by re-walking from the scan start: inside
    # entropy data every 0xFF is stuffed (FF 00), so the first FF with
    # a nonzero successor IS the next marker — no reader-state
    # arithmetic needed
    p = pos
    while p + 1 < len(payload):
        if payload[p] == 0xFF and payload[p + 1] != 0x00:
            return p
        p += 2 if payload[p] == 0xFF else 1
    raise ValueError("progressive scan ran past end of payload")


def _refine_ac_block(reader, table, block_coefs, b, ss, se, al, eobrun):
    """AC successive-approximation refinement for one block (spec
    G.1.2.3 / libjpeg decode_mcu_AC_refine): correction bits for
    already-nonzero coefficients, ZRL/newly-nonzero runs counted over
    ZERO-HISTORY positions only, EOBn runs carrying corrections."""
    p1 = 1 << al

    def correct(k):
        v = block_coefs[b, k]
        if v and reader.bits(1):
            block_coefs[b, k] = v + p1 if v > 0 else v - p1

    if eobrun > 0:
        # this block sits INSIDE a previously-read EOB run: only the
        # correction bits for its nonzero coefficients are present
        for k in range(ss, se + 1):
            correct(k)
        return eobrun - 1

    k = ss
    while k <= se:
        sym = _huff_decode(reader, table)
        r, s = sym >> 4, sym & 0x0F
        newval = 0
        if s == 0:
            if r < 15:
                # EOBn: TOTAL blocks in the run, current one included
                eobrun = 1 << r
                if r:
                    eobrun += reader.bits(r)
                break
            # ZRL: advance over 16 zero-history coeffs
        else:
            if s != 1:
                raise ValueError("refinement magnitude != 1")
            newval = p1 if reader.bits(1) else -p1
        # advance over r zero-history coeffs, correcting nonzero ones
        while k <= se:
            if block_coefs[b, k]:
                correct(k)
            else:
                if r == 0:
                    break
                r -= 1
            k += 1
        if newval and k <= se:
            block_coefs[b, k] = newval
        k += 1
    if eobrun > 0:
        # the EOBn just read starts AT this block: corrections for the
        # remainder of the band, then the run covers eobrun-1 more
        while k <= se:
            correct(k)
            k += 1
        return eobrun - 1
    return 0


# ------------------------------------------------------------- encoder

def encode_progressive(planes, qtable=None, sampling=None):
    """Encode 1 (grey) or 3 (YCbCr) planes as a REAL progressive JPEG:
    DC scan at Al=1 + DC refinement, then per component two AC
    spectral bands (1-5, 6-63) at Al=1 + their refinement scans —
    6 scans grey, 14 color. EOBn runs really span blocks and carry
    buffered correction bits (the libjpeg strategy). ``sampling``
    gives each component's (hi, vi) factors (default 4:4:4); as in
    ``_encode_jpeg``, subsampled planes must already be reduced —
    plane ``ci`` is ``(ceil(h·vi/vmax), ceil(w·hi/hmax))`` — and the
    DC scan interleaves MCUs (A.2.3) while AC scans walk each
    component's own block grid (A.2.2)."""
    import struct

    import numpy as np

    q_rowmajor = list(qtable) if qtable is not None else list(_JPEG_QTABLE)
    q_zz = [q_rowmajor[_ZIGZAG[k]] for k in range(64)]
    ncomp = len(planes)
    if sampling is None:
        sampling = [(1, 1)] * ncomp
    hmax = max(hi for hi, _vi in sampling)
    vmax = max(vi for _hi, vi in sampling)
    h, w = planes[0].shape
    if sampling[0] != (hmax, vmax):
        raise ValueError("component 0 must carry the max sampling factors")
    mcux, mcuy = -(-w // (8 * hmax)), -(-h // (8 * vmax))
    t = _dct_matrix()
    qarr = np.asarray(q_zz, dtype=np.float64)

    # quantized coefficients per component, zigzag order, indexed over
    # the MCU-padded grid (wib × hib blocks, row-major)
    allco, geom = [], []
    for ci, p in enumerate(planes):
        hi, vi = sampling[ci]
        wib, hib = mcux * hi, mcuy * vi
        ph, pw = p.shape
        ow, oh = -(-pw // 8), -(-ph // 8)  # own grid for AC scans
        geom.append((hi, vi, wib, ow, oh))
        pad = np.empty((hib * 8, wib * 8), dtype=np.float64)
        pad[:ph, :pw] = p
        pad[ph:, :pw] = p[-1:, :]
        pad[:, pw:] = pad[:, pw - 1 : pw]
        co = np.empty((wib * hib, 64), dtype=np.int64)
        for b in range(wib * hib):
            by, bx = divmod(b, wib)
            block = pad[by * 8 : by * 8 + 8, bx * 8 : bx * 8 + 8] - 128.0
            coef = t @ block @ t.T
            co[b] = np.round(coef.reshape(64)[_ZIGZAG] / qarr).astype(np.int64)
        allco.append(co)

    (dc_bits, dc_vals), _ = _jpeg_huffman_spec()
    # progressive AC alphabet additionally needs the EOBn symbols
    # (r<<4 | 0 for r=1..14) the sequential table omits: 176 symbols,
    # all at length 8 (canonical flat table, all-ones code unused)
    ac_bits = [0] * 16
    ac_bits[7] = 176
    ac_vals = [r << 4 for r in range(15)] + [0xF0] + [
        (run << 4) | size for run in range(16) for size in range(1, 11)
    ]
    dc_codes = _canonical_codes(dc_bits, dc_vals)
    ac_codes = _canonical_codes(ac_bits, ac_vals)

    def category(v):
        return int(v).bit_length() if v > 0 else int(-v).bit_length()

    def magnitude_bits(v, s):
        return v if v >= 0 else v + (1 << s) - 1

    scans = []  # (scomp list, ss, se, ah, al, bitstream bytes)

    # DC scans visit MCU block order (matches _scan_block_order);
    # single-component frames reduce to plain row-major
    def mcu_order():
        for my in range(mcuy):
            for mx in range(mcux):
                for ci in range(ncomp):
                    hi, vi, wib, _ow, _oh = geom[ci]
                    for vy in range(vi):
                        for vx in range(hi):
                            yield ci, (my * vi + vy) * wib + (mx * hi + vx)

    # ---- scan 1: DC, all components, Al=1
    wtr = _BitWriter()
    preds = [0] * ncomp
    for ci, b in mcu_order():
        v = int(allco[ci][b, 0]) >> 1  # point transform (arith shift)
        diff = v - preds[ci]
        preds[ci] = v
        s = category(diff)
        code, length = dc_codes[s]
        wtr.write(code, length)
        if s:
            wtr.write(magnitude_bits(diff, s), s)
    wtr.flush()
    scans.append((list(range(ncomp)), 0, 0, 0, 1, bytes(wtr.out)))

    # ---- scan 2: DC refinement, raw bits
    wtr = _BitWriter()
    for ci, b in mcu_order():
        wtr.write(int(allco[ci][b, 0]) & 1, 1)
    wtr.flush()
    scans.append((list(range(ncomp)), 0, 0, 1, 0, bytes(wtr.out)))

    # ---- AC scans per component, over the component's OWN block grid
    for ci in range(ncomp):
        _hi, _vi, wib, ow, oh = geom[ci]
        own = [by * wib + bx for by in range(oh) for bx in range(ow)]
        for ss, se in ((1, 5), (6, 63)):
            scans.append(
                (ci, ss, se, 0, 1, _ac_first(allco[ci], ss, se, 1,
                                             ac_codes, own))
            )
        for ss, se in ((1, 5), (6, 63)):
            scans.append(
                (ci, ss, se, 1, 0, _ac_refine(allco[ci], ss, se, 0,
                                              ac_codes, own))
            )

    # ---- assemble the stream
    def seg(marker, body):
        return bytes((0xFF, marker)) + struct.pack(">H", len(body) + 2) + body

    out = bytearray(b"\xff\xd8")
    out += seg(0xE0, b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00")
    out += seg(0xDB, bytes([0x00]) + bytes(q_zz))
    sof = struct.pack(">BHHB", 8, h, w, ncomp) + b"".join(
        bytes((ci + 1, (sampling[ci][0] << 4) | sampling[ci][1], 0))
        for ci in range(ncomp)
    )
    out += seg(0xC2, sof)
    out += seg(
        0xC4,
        bytes([0x00]) + bytes(dc_bits) + bytes(dc_vals)
        + bytes([0x10]) + bytes(ac_bits) + bytes(ac_vals),
    )
    for scomp, ss, se, ah, al, data in scans:
        if isinstance(scomp, list):
            body = bytes([len(scomp)]) + b"".join(
                bytes((ci + 1, 0x00)) for ci in scomp
            )
        else:
            body = bytes([1, scomp + 1, 0x00])
        body += bytes((ss, se, (ah << 4) | al))
        out += seg(0xDA, body)
        out += data
    out += b"\xff\xd9"
    return bytes(out)


def _ac_first(co, ss, se, al, ac_codes, blocks):
    """AC first scan for one band: values at reduced precision
    (truncating point transform), EOBn runs really spanning blocks.
    ``blocks`` is the scan's block visit order (the component's own
    grid, as indices into the MCU-padded coefficient array)."""
    wtr = _BitWriter()
    eobrun = 0

    def category(v):
        return int(v).bit_length() if v > 0 else int(-v).bit_length()

    def magnitude_bits(v, s):
        return v if v >= 0 else v + (1 << s) - 1

    def flush_eob():
        nonlocal eobrun
        while eobrun > 0:
            run = min(eobrun, 0x7FFF)
            r = run.bit_length() - 1
            code, length = ac_codes[r << 4]
            wtr.write(code, length)
            if r:
                wtr.write(run - (1 << r), r)
            eobrun -= run

    for b in blocks:
        vals = []
        for k in range(ss, se + 1):
            v = int(co[b, k])
            v = (abs(v) >> al) * (1 if v >= 0 else -1)  # truncating ÷ 2^al
            vals.append(v)
        if not any(vals):
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
            continue
        flush_eob()
        run = 0
        last_nz = max(i for i, v in enumerate(vals) if v)
        for i, v in enumerate(vals[: last_nz + 1]):
            if v == 0:
                run += 1
                continue
            while run > 15:
                code, length = ac_codes[0xF0]
                wtr.write(code, length)
                run -= 16
            s = category(v)
            code, length = ac_codes[(run << 4) | s]
            wtr.write(code, length)
            wtr.write(magnitude_bits(v, s), s)
            run = 0
        if last_nz < len(vals) - 1:
            eobrun += 1
    flush_eob()
    wtr.flush()
    return bytes(wtr.out)


def _ac_refine(co, ss, se, al, ac_codes, blocks):
    """AC refinement scan (G.1.2.3 encode, libjpeg strategy): newly
    nonzero coefficients coded with zero-HISTORY runs + a sign bit,
    correction bits for already-nonzero coefficients embedded after
    each code, EOBn runs buffering their correction bits. ``blocks``
    is the scan's block visit order (component's own grid)."""
    wtr = _BitWriter()
    eobrun = 0
    bit_buffer: list[int] = []  # corrections owed after the next code

    def flush_eob():
        nonlocal eobrun
        while eobrun > 0 or bit_buffer:
            run = min(max(eobrun, 1), 0x7FFF)
            r = run.bit_length() - 1
            code, length = ac_codes[r << 4]
            wtr.write(code, length)
            if r:
                wtr.write(run - (1 << r), r)
            for bit in bit_buffer:
                wtr.write(bit, 1)
            bit_buffer.clear()
            eobrun -= run
            if eobrun <= 0:
                eobrun = 0
                break

    for b in blocks:
        # absval>>al: 0 = still zero, 1 = NEWLY nonzero this scan,
        # >1 = nonzero history (gets a correction bit)
        absvals = [abs(int(co[b, k])) >> al for k in range(ss, se + 1)]
        signs = [1 if int(co[b, k]) >= 0 else -1 for k in range(ss, se + 1)]
        newly = [i for i, t in enumerate(absvals) if t == 1]
        last_new = newly[-1] if newly else -1
        run = 0  # zero slots since the last emitted code
        pending: list[int] = []  # corrections owed with the next code
        emitted_any = False
        for i, t in enumerate(absvals):
            if t == 0:
                run += 1
                continue
            # ZRL flushing happens AT every nonzero position, BEFORE
            # handling it, and never past the last newly-nonzero
            # (trailing zeros fold into the EOB run) — the libjpeg
            # emission order the decoder's advance loop assumes
            while run > 15 and i <= last_new:
                flush_eob()
                code, length = ac_codes[0xF0]
                wtr.write(code, length)
                run -= 16
                for bit in pending:
                    wtr.write(bit, 1)
                pending.clear()
            if t > 1:  # history: correction bit rides with next code
                pending.append(t & 1)
                continue
            flush_eob()
            code, length = ac_codes[(run << 4) | 1]
            wtr.write(code, length)
            wtr.write(1 if signs[i] > 0 else 0, 1)
            for bit in pending:
                wtr.write(bit, 1)
            pending.clear()
            run = 0
            emitted_any = True
        if run > 0 or pending or not emitted_any:
            # remainder of the block joins an EOB run, owing its
            # correction bits when the run is eventually emitted
            bit_buffer.extend(pending)
            eobrun += 1
            if eobrun == 0x7FFF:
                flush_eob()
    flush_eob()
    wtr.flush()
    return bytes(wtr.out)


# ------------------------------------------------- driver-oracled query

from typing import Iterator  # noqa: E402

import pandas as pd  # noqa: E402
from pyspark.sql import DataFrame, SparkSession  # noqa: E402

from ..registry import register  # noqa: E402
from ..tables import load_table  # noqa: E402
from .multimodal import _YCC_BIAS, real_decode_image  # noqa: E402
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_PROG_GROUPS = 12


def _prog_payload(doc_id: int) -> bytes:
    """Deterministic PROGRESSIVE fixture: block-constant planes with
    even offsets (DC-only coefficients → the multi-scan successive-
    approximation round trip is EXACT: the DC Al=1 scan carries v>>1
    and the refinement restores bit 0, AC scans are pure EOBn runs).
    Even groups grey, odd groups color. ``doc_id % 17 == 6`` builds a
    COLOR payload and patches its SOF2 sampling byte to 4x1 — factors
    above 2 are the typed 'unsupported' path (2x2 became a SUPPORTED
    layout when progressive gained chroma subsampling — see
    ``multimodal_jpeg_prog420_decode``); ``doc_id % 11 == 8``
    truncates ('corrupt')."""
    import numpy as np

    g = doc_id % _PROG_GROUPS

    def grid(bw, bh, fn):
        vals = np.empty((bh, bw), np.uint8)
        for by in range(bh):
            for bx in range(bw):
                vals[by, bx] = fn(bx, by)
        return np.repeat(np.repeat(vals, 8, 0), 8, 1)

    force_color = doc_id % 17 == 6 and doc_id % 11 != 8
    if g % 2 == 0 and not force_color:
        bw, bh = 2 + g % 3, 1 + g % 2
        img = grid(bw, bh,
                   lambda bx, by: 128 + 2 * (((11 * bx + 3 * by + 5 * g) % 49) - 24))
        payload = encode_progressive([img])
    else:
        bw, bh = 1 + g % 3, 1 + g % 2
        y = grid(bw, bh,
                 lambda bx, by: 128 + 2 * (((11 * bx + 3 * by + 5 * g) % 49) - 24))
        cb = grid(bw, bh,
                  lambda bx, by: 128 + 2 * (((7 * bx + 5 * by + 2 * g) % 49) - 24))
        cr = grid(bw, bh,
                  lambda bx, by: 128 + 2 * (((3 * bx + 13 * by + 4 * g) % 49) - 24))
        payload = encode_progressive([y, cb, cr])
    if force_color:
        i = payload.index(b"\xff\xc2")
        # marker(2)+len(2)+precision(1)+h(2)+w(2)+ncomp(1)+id(1) → sampling
        payload = payload[: i + 11] + b"\x41" + payload[i + 12 :]
    if doc_id % 11 == 8:
        payload = payload[: len(payload) // 2]
    return payload


def _prog_decode_key(doc_id: int) -> tuple:
    return (doc_id % _PROG_GROUPS, doc_id % 11 == 8, doc_id % 17 == 6)


def _prog_decode_facts(doc_id: int) -> tuple:
    import numpy as np

    w, h, px = real_decode_image(_prog_payload(doc_id))
    s = px.astype(np.int64).sum(axis=2).reshape(-1)
    weights = np.arange(1, s.size + 1, dtype=np.int64)
    return (
        "decoded", w, h, int(s.sum()), int((s * weights).sum())
    )


def _prog_oracle() -> str:
    half = 32768 + _YCC_BIAS

    def chan(num: str) -> str:
        return f"GREATEST(0, LEAST(255, (({num}) // 65536) - 256))"

    yv = "(128 + 2 * (((11 * bx + 3 * by + 5 * g) % 49) - 24))"
    cb = "(2 * (((7 * bx + 5 * by + 2 * g) % 49) - 24))"
    cr = "(2 * (((3 * bx + 13 * by + 4 * g) % 49) - 24))"
    r = chan(f"{yv} * 65536 + 91881 * {cr} + {half}")
    gch = chan(f"{yv} * 65536 - 22554 * {cb} - 46802 * {cr} + {half}")
    b = chan(f"{yv} * 65536 + 116130 * {cb} + {half}")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_PROG_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g,
             CASE WHEN g % 2 = 0 THEN 8 * (2 + g % 3) ELSE 8 * (1 + g % 3) END AS w,
             8 * (1 + g % 2) AS h
      FROM grp
    ),
    idx AS (
      SELECT g, w, h, unnest(range(0, w * h)) AS i FROM dims
    ),
    px AS (
      SELECT g, w, h, i, (i % w) // 8 AS bx, (i // w) // 8 AS by FROM idx
    ),
    vals AS (
      SELECT g, w, h, i,
             CASE WHEN g % 2 = 0
                  THEN 3 * (128 + 2 * (((11 * bx + 3 * by + 5 * g) % 49) - 24))
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
           CASE WHEN d.doc_id % 11 = 8 THEN 'corrupt'
                WHEN d.doc_id % 17 = 6 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.w END AS width,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.h END AS height,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.px_sum END AS px_sum,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.wpx_sum END AS wpx_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_PROG_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_jpeg_progressive_decode", oracle=_prog_oracle())
def multimodal_jpeg_progressive_decode(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """PROGRESSIVE JPEG decode (SOF2 — most JPEGs on the web), end to
    end: fixtures are encoded by the real multi-scan progressive
    encoder (DC scan at Al=1 + DC refinement + per-component spectral
    AC bands + AC refinements, genuine EOBn runs) and decoded by the
    native Annex G decoder accumulating coefficients across scans.
    Block-constant even-offset planes make the successive-
    approximation round trip EXACT, so the oracle replays every RGB
    pixel; typed quarantine: truncation ('corrupt') and
    progressive+subsampled ('unsupported'). Non-constant content
    (refinement correction bits, ZRL/EOBn interplay, prog-vs-seq
    equivalence) is pinned by tests/test_jpeg_progressive.py.

    Scale notes (100 TB): same mapInPandas decode map; progressive is
    a corpus-COVERAGE feature — a web crawl is mostly SOF2."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_prog_decode_batches", _prog_decode_key, _prog_decode_facts,
        "doc_id long, status string, width int, height int, px_sum long, "
        "wpx_sum long",
    ).transform(_presentation_sort, "doc_id")


# ---------------------------------- progressive + chroma subsampling

_P420_GROUPS = 12


def _p420_factors(g: int) -> tuple[int, int]:
    """Layout rotation: 4:2:0, 4:2:2, 4:4:0 by group mod 3 (same
    rotation as the baseline subsampled fixture)."""
    return [(2, 2), (2, 1), (1, 2)][g % 3]


def _p420_payload(doc_id: int) -> bytes:
    """Deterministic PROGRESSIVE chroma-subsampled JPEG fixture — the
    composition of the two real-world-dominant JPEG features (SOF2
    multi-scan + 4:2:0-family layouts, i.e. what a web crawl actually
    contains). Y is constant per 8x8 block with even offsets; Cb/Cr
    are constant per CHROMA region (8·fh × 8·fv pixels), so the
    subsampled chroma planes are block-constant too and the whole
    multi-scan successive-approximation round trip is EXACT (DC Al=1
    scan carries v>>1, the refinement restores bit 0, every AC scan is
    a pure EOBn run). ``doc_id % 17 == 6`` patches the SOF2 Y sampling
    byte to 4x1 (typed 'unsupported'); ``doc_id % 11 == 8`` truncates
    ('corrupt')."""
    import numpy as np

    g = doc_id % _P420_GROUPS
    fh, fv = _p420_factors(g)
    w, h = 16 * (1 + g % 2), 16 * (1 + (g // 2) % 2)

    def grid(nx, ny, fn):
        vals = np.empty((ny, nx), np.uint8)
        for cy in range(ny):
            for cx in range(nx):
                vals[cy, cx] = fn(cx, cy)
        return vals

    y = np.repeat(
        np.repeat(
            grid(w // 8, h // 8,
                 lambda bx, by: 128 + 2 * (((7 * bx + 5 * by + 3 * g) % 49) - 24)),
            8, axis=0),
        8, axis=1)
    # chroma built directly at SUBSAMPLED size (h//fv, w//fh): one 8x8
    # block per chroma region, exactly what the encoder consumes
    cb = np.repeat(
        np.repeat(
            grid(w // (8 * fh), h // (8 * fv),
                 lambda cx, cy: 128 + 2 * (((3 * cx + 5 * cy + 2 * g) % 49) - 24)),
            8, axis=0),
        8, axis=1)
    cr = np.repeat(
        np.repeat(
            grid(w // (8 * fh), h // (8 * fv),
                 lambda cx, cy: 128 + 2 * (((5 * cx + cy + 4 * g) % 49) - 24)),
            8, axis=0),
        8, axis=1)
    payload = encode_progressive(
        [y, cb, cr], sampling=[(fh, fv), (1, 1), (1, 1)]
    )
    if doc_id % 17 == 6 and doc_id % 11 != 8:
        # exclusive with truncation (same precedence contract as the
        # baseline 4:2:0 fixture): patch Y's sampling byte to 4x1 —
        # structurally valid SOF2 the decoder must REJECT typed
        i = payload.index(b"\xff\xc2")
        payload = payload[: i + 11] + b"\x41" + payload[i + 12 :]
    if doc_id % 11 == 8:
        payload = payload[: len(payload) // 2]
    return payload


def _p420_decode_batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import numpy as np

    cache: dict[tuple[int, bool, bool], tuple] = {}

    def facts(doc_id: int) -> tuple:
        g = doc_id % _P420_GROUPS
        key = (g, doc_id % 11 == 8, doc_id % 17 == 6)
        if key not in cache:
            layout = {0: "420", 1: "422", 2: "440"}[g % 3]
            try:
                w, h, px = real_decode_image(_p420_payload(doc_id))
                s = px.astype(np.int64).sum(axis=2).reshape(-1)
                weights = np.arange(1, s.size + 1, dtype=np.int64)
                cache[key] = (
                    layout, "decoded", w, h, int(s.sum()), int((s * weights).sum())
                )
            except NotImplementedError:
                cache[key] = (layout, "unsupported", 0, 0, 0, 0)
            except Exception:  # noqa: BLE001 — malformed bytes quarantine
                cache[key] = (layout, "corrupt", 0, 0, 0, 0)
        return cache[key]

    for pdf in it:
        if pdf.empty:
            continue
        out = [(int(d),) + facts(int(d)) for d in pdf["doc_id"]]
        yield pd.DataFrame(
            out,
            columns=[
                "doc_id", "layout", "status", "width", "height",
                "px_sum", "wpx_sum",
            ],
        ).astype(
            {
                "doc_id": "int64", "width": "int32", "height": "int32",
                "px_sum": "int64", "wpx_sum": "int64",
            }
        )


def _p420_oracle() -> str:
    """Symbolic replay: Y reads block (x//8, y//8), chroma reads region
    (x//(8·fh), y//(8·fv)) — box replication — through the integer
    fixed-point JFIF conversion; dims and factors rotate by group."""
    half = 32768 + _YCC_BIAS

    def chan(num: str) -> str:
        return f"GREATEST(0, LEAST(255, (({num}) // 65536) - 256))"

    yv = "(128 + 2 * (((7 * bx + 5 * by + 3 * g) % 49) - 24))"
    cb = "(2 * (((3 * cx + 5 * cy + 2 * g) % 49) - 24))"  # Cb - 128
    cr = "(2 * (((5 * cx + cy + 4 * g) % 49) - 24))"  # Cr - 128
    r = chan(f"{yv} * 65536 + 91881 * {cr} + {half}")
    gch = chan(f"{yv} * 65536 - 22554 * {cb} - 46802 * {cr} + {half}")
    b = chan(f"{yv} * 65536 + 116130 * {cb} + {half}")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_P420_GROUPS} AS g FROM documents
    ),
    dims AS (
      SELECT g,
             CASE WHEN g % 3 = 2 THEN 8 ELSE 16 END AS dx,
             CASE WHEN g % 3 = 1 THEN 8 ELSE 16 END AS dy,
             16 * (1 + g % 2) AS w,
             16 * (1 + (g // 2) % 2) AS h
      FROM grp
    ),
    idx AS (
      SELECT g, dx, dy, w, h, unnest(range(0, w * h)) AS i FROM dims
    ),
    px AS (
      SELECT g, w, h, i,
             (i % w) // 8 AS bx, (i // w) // 8 AS by,
             (i % w) // dx AS cx, (i // w) // dy AS cy
      FROM idx
    ),
    vals AS (
      SELECT g, w, h, i, ({r}) + ({gch}) + ({b}) AS s FROM px
    ),
    sums AS (
      SELECT g, w, h,
             CAST(SUM(s) AS BIGINT) AS px_sum,
             CAST(SUM((i + 1) * s) AS BIGINT) AS wpx_sum
      FROM vals GROUP BY g, w, h
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 3 = 0 THEN '420'
                WHEN d.doc_id % 3 = 1 THEN '422' ELSE '440' END AS layout,
           CASE WHEN d.doc_id % 11 = 8 THEN 'corrupt'
                WHEN d.doc_id % 17 = 6 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.w END AS width,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.h END AS height,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.px_sum END AS px_sum,
           CASE WHEN d.doc_id % 11 = 8 OR d.doc_id % 17 = 6 THEN 0
                ELSE s.wpx_sum END AS wpx_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_P420_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("multimodal_jpeg_prog420_decode", oracle=_p420_oracle())
def multimodal_jpeg_prog420_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE + CHROMA-SUBSAMPLED JPEG decode — the composition
    that covers the most common real-world JPEG shape (web crawls are
    dominated by progressive 4:2:0). Fixtures are encoded by the real
    multi-scan progressive encoder WITH sampling factors (interleaved
    MCU DC scans, per-component own-grid AC scans) and decoded by the
    generalized Annex G decoder; region-constant even-offset planes
    make the round trip EXACT so the DuckDB oracle replays every RGB
    pixel — a wrong MCU block order, a mis-sized own-grid AC walk, or
    a misaligned chroma upsample shifts the position-weighted sum and
    fails the hash. Typed quarantine: truncation ('corrupt') and a
    patched 4x1 SOF2 ('unsupported'). Non-constant content is pinned
    by tests/test_jpeg_progressive.py's prog-vs-sequential
    pixel-identity matrix (incl. non-MCU-aligned dims).

    Scale notes (100 TB): same Arrow-batched ``mapInPandas`` decode
    map as every codec query; ~50 B of integer facts per row re-enter
    the JVM; final ORDER BY is driver-contract presentation."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return d.mapInPandas(
        _p420_decode_batches,
        schema=(
            "doc_id long, layout string, status string, width int, "
            "height int, px_sum long, wpx_sum long"
        ),
    ).transform(_presentation_sort, "doc_id")
