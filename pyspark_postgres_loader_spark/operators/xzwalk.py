"""Native XZ / LZMA2 decoder — the last mainstream dump codec after
gzip/bzip2/zstd (kernel archives, many HF dataset shards and academic
corpora ship .xz). Everything is implemented from the public specs:

- the LZMA range decoder (11-bit adaptive probabilities, bit trees,
  reverse bit trees, direct bits) and the full LZMA match model: 12
  states, literal coder with lc/lp contexts and matched-literal
  decoding, length/rep-length coders, position-slot trees, aligned /
  specialized distance bits, and the 4-slot rep-distance history;
- the LZMA2 chunk layer: control bytes, uncompressed chunks,
  state/props/dict reset modes, exact per-chunk unpacked sizes;
- the XZ container: stream header/footer with CRC-32-protected
  flags, block headers (VLIs, filter flags, LZMA2 dict-size
  property), block padding, the integrity CHECK of the uncompressed
  data — CRC32, CRC64 (the ECMA reflected polynomial, implemented
  here and pinned to the published check vector 0x995DC9BBDF1939FA)
  and SHA-256 — plus the index (record count, unpadded-size/
  uncompressed-size VLIs) cross-checked against the decoded blocks.

Correctness evidence: the stdlib ``lzma`` module — an INDEPENDENT
implementation — is the encoder everywhere: the test battery decodes
its output across presets/filters/check types, and the driver-
oracled fixture compresses CLOSED-FORM content at runtime with
stdlib lzma and inflates it HERE; the DuckDB oracle replays the
content lattice and never sees a compressed byte.

Reference: the XZ file-format + LZMA specifications (public); no
repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import hashlib
import struct
import zlib

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

_M32 = 0xFFFFFFFF

# ---------------------------------------------------------- CRC-64/XZ

_CRC64_POLY = 0xC96C5795D7870F42  # ECMA-182, reflected form
_CRC64_TABLE = []
for _i in range(256):
    _r = _i
    for _ in range(8):
        _r = (_r >> 1) ^ (_CRC64_POLY if _r & 1 else 0)
    _CRC64_TABLE.append(_r)
del _i, _r


def crc64_xz(data: bytes, crc: int = 0) -> int:
    """CRC-64/XZ (check vector pinned in tests)."""
    crc ^= 0xFFFFFFFFFFFFFFFF
    for b in data:
        crc = (crc >> 8) ^ _CRC64_TABLE[(crc ^ b) & 0xFF]
    return crc ^ 0xFFFFFFFFFFFFFFFF


# ------------------------------------------------------ range decoder


class _RangeDec:
    def __init__(self, data: bytes, pos: int):
        if data[pos] != 0:
            raise ValueError("LZMA range coder must start with 0")
        self.code = int.from_bytes(data[pos + 1 : pos + 5], "big")
        self.rng = _M32
        self.d = data
        self.pos = pos + 5

    def _norm(self) -> None:
        if self.rng < (1 << 24):
            if self.pos >= len(self.d):
                raise ValueError("LZMA range coder exhausted")
            self.rng = (self.rng << 8) & _M32
            self.code = ((self.code << 8) | self.d[self.pos]) & _M32
            self.pos += 1

    def bit(self, probs: list[int], i: int) -> int:
        p = probs[i]
        bound = (self.rng >> 11) * p
        if self.code < bound:
            self.rng = bound
            probs[i] = p + ((2048 - p) >> 5)
            b = 0
        else:
            self.code -= bound
            self.rng -= bound
            probs[i] = p - (p >> 5)
            b = 1
        self._norm()
        return b

    def tree(self, probs: list[int], nbits: int, base: int = 0) -> int:
        m = 1
        for _ in range(nbits):
            m = (m << 1) | self.bit(probs, base + m)
        return m - (1 << nbits)

    def rtree(self, probs: list[int], nbits: int, base: int = 0) -> int:
        m = 1
        sym = 0
        for k in range(nbits):
            b = self.bit(probs, base + m)
            m = (m << 1) | b
            sym |= b << k
        return sym

    def direct(self, nbits: int) -> int:
        res = 0
        for _ in range(nbits):
            self.rng >>= 1
            c = (self.code - self.rng) & _M32
            if c >> 31:  # underflow: bit 0, code unchanged
                b = 0
            else:
                self.code = c
                b = 1
            self._norm()
            res = (res << 1) | b
        return res

    def finished(self) -> bool:
        return self.code == 0


# -------------------------------------------------------- LZMA engine


def _new_probs(n: int) -> list[int]:
    return [1024] * n


class _LzmaState:
    """Probability model + match state; reset semantics match LZMA2's
    control-byte modes."""

    def __init__(self, lc: int, lp: int, pb: int):
        self.set_props(lc, lp, pb)
        self.reset()

    def set_props(self, lc: int, lp: int, pb: int) -> None:
        self.lc, self.lp, self.pb = lc, lp, pb

    def reset(self) -> None:
        self.state = 0
        self.reps = [0, 0, 0, 0]
        self.is_match = _new_probs(12 << 4)
        self.is_rep = _new_probs(12)
        self.is_rep_g0 = _new_probs(12)
        self.is_rep_g1 = _new_probs(12)
        self.is_rep_g2 = _new_probs(12)
        self.is_rep0_long = _new_probs(12 << 4)
        self.pos_slot = [_new_probs(64) for _ in range(4)]
        self.spec_pos = _new_probs(115)
        self.align = _new_probs(16)
        self.len_dec = self._len_probs()
        self.rep_len_dec = self._len_probs()
        self.literal = _new_probs(0x300 << (self.lc + self.lp))

    @staticmethod
    def _len_probs() -> dict:
        return {
            "choice": _new_probs(2),
            "low": [_new_probs(8) for _ in range(16)],
            "mid": [_new_probs(8) for _ in range(16)],
            "high": _new_probs(256),
        }


def _decode_len(rc: _RangeDec, lp: dict, pos_state: int) -> int:
    if rc.bit(lp["choice"], 0) == 0:
        return 2 + rc.tree(lp["low"][pos_state], 3)
    if rc.bit(lp["choice"], 1) == 0:
        return 10 + rc.tree(lp["mid"][pos_state], 3)
    return 18 + rc.tree(lp["high"], 8)


def _lzma_run(
    rc: _RangeDec, st: _LzmaState, out: bytearray, limit: int
) -> None:
    """Decode symbols until ``out`` reaches ``limit`` bytes (LZMA2
    chunks carry exact unpacked sizes — no end marker)."""
    pb_mask = (1 << st.pb) - 1
    lp_mask = (1 << st.lp) - 1
    while len(out) < limit:
        pos_state = len(out) & pb_mask
        if rc.bit(st.is_match, (st.state << 4) | pos_state) == 0:
            prev = out[-1] if out else 0
            lit_state = (
                ((len(out) & lp_mask) << st.lc) + (prev >> (8 - st.lc))
                if st.lc
                else ((len(out) & lp_mask) << st.lc)
            )
            base = 0x300 * lit_state
            sym = 1
            if st.state < 7:
                while sym < 0x100:
                    sym = (sym << 1) | rc.bit(st.literal, base + sym)
            else:
                match_byte = out[-(st.reps[0] + 1)]
                while sym < 0x100:
                    mbit = (match_byte >> 7) & 1
                    match_byte = (match_byte << 1) & 0xFF
                    b = rc.bit(
                        st.literal, base + ((1 + mbit) << 8) + sym
                    )
                    sym = (sym << 1) | b
                    if mbit != b:
                        while sym < 0x100:
                            sym = (sym << 1) | rc.bit(st.literal, base + sym)
                        break
            out.append(sym & 0xFF)
            st.state = (
                0 if st.state < 4 else st.state - 3
                if st.state < 10 else st.state - 6
            )
            continue
        if rc.bit(st.is_rep, st.state) == 0:  # new match
            length = _decode_len(rc, st.len_dec, pos_state)
            st.reps[3], st.reps[2], st.reps[1] = (
                st.reps[2], st.reps[1], st.reps[0],
            )
            len_state = min(length - 2, 3)
            slot = rc.tree(st.pos_slot[len_state], 6)
            if slot < 4:
                dist = slot
            else:
                nd = (slot >> 1) - 1
                dist = (2 | (slot & 1)) << nd
                if slot < 14:
                    dist += rc.rtree(
                        st.spec_pos, nd, dist - slot - 1
                    )
                else:
                    dist += rc.direct(nd - 4) << 4
                    dist += rc.rtree(st.align, 4)
            if dist == _M32:
                raise ValueError("unexpected LZMA end marker in LZMA2")
            st.reps[0] = dist
            st.state = 7 if st.state < 7 else 10
        else:  # rep match
            if rc.bit(st.is_rep_g0, st.state) == 0:
                if rc.bit(
                    st.is_rep0_long, (st.state << 4) | pos_state
                ) == 0:
                    # short rep: one byte at rep0
                    st.state = 9 if st.state < 7 else 11
                    if st.reps[0] + 1 > len(out):
                        raise ValueError("LZMA short-rep beyond start")
                    out.append(out[-(st.reps[0] + 1)])
                    continue
            else:
                if rc.bit(st.is_rep_g1, st.state) == 0:
                    dist = st.reps[1]
                    st.reps[1] = st.reps[0]
                elif rc.bit(st.is_rep_g2, st.state) == 0:
                    dist = st.reps[2]
                    st.reps[2] = st.reps[1]
                    st.reps[1] = st.reps[0]
                else:
                    dist = st.reps[3]
                    st.reps[3] = st.reps[2]
                    st.reps[2] = st.reps[1]
                    st.reps[1] = st.reps[0]
                st.reps[0] = dist
            length = _decode_len(rc, st.rep_len_dec, pos_state)
            st.state = 8 if st.state < 7 else 11
        off = st.reps[0] + 1
        if off > len(out):
            raise ValueError("LZMA match distance beyond output start")
        for _ in range(length):
            out.append(out[-off])
    if len(out) != limit:
        raise ValueError("LZMA chunk overran its unpacked size")


def lzma2_decompress(data: bytes, props_byte: int) -> bytes:
    """LZMA2 chunk stream → bytes. ``props_byte`` is the filter's
    dict-size property (validated but unused — we keep the whole
    output in memory)."""
    if props_byte > 40:
        raise ValueError("invalid LZMA2 dictionary-size property")
    out = bytearray()
    pos = 0
    st: _LzmaState | None = None
    while True:
        if pos >= len(data):
            raise ValueError("LZMA2 stream missing its end marker")
        control = data[pos]
        pos += 1
        if control == 0:
            break
        if control in (1, 2):  # uncompressed chunk (1 = dict reset)
            size = struct.unpack_from(">H", data, pos)[0] + 1
            pos += 2
            chunk = data[pos : pos + size]
            if len(chunk) != size:
                raise ValueError("truncated LZMA2 uncompressed chunk")
            pos += size
            out += chunk
            if st is not None:
                st.reset()  # uncompressed chunks reset LZMA state
            continue
        if control < 0x80:
            raise ValueError(f"invalid LZMA2 control byte {control}")
        unpacked = ((control & 0x1F) << 16) + struct.unpack_from(
            ">H", data, pos
        )[0] + 1
        packed = struct.unpack_from(">H", data, pos + 2)[0] + 1
        pos += 4
        reset_mode = (control >> 5) & 3
        if reset_mode >= 2:
            props = data[pos]
            pos += 1
            if props > (4 * 5 + 4) * 9 + 8:
                raise ValueError("invalid LZMA props byte")
            lc = props % 9
            lp = (props // 9) % 5
            pb = props // 45
            if st is None:
                st = _LzmaState(lc, lp, pb)
            else:
                st.set_props(lc, lp, pb)
                st.reset()
        elif st is None:
            raise ValueError("LZMA2 chunk needs props before state reuse")
        elif reset_mode == 1:
            st.reset()
        chunk = data[pos : pos + packed]
        if len(chunk) != packed:
            raise ValueError("truncated LZMA2 compressed chunk")
        rc = _RangeDec(chunk, 0)
        target = len(out) + unpacked
        _lzma_run(rc, st, out, target)
        if rc.pos != packed:
            raise ValueError("LZMA2 chunk did not consume its bytes")
        pos += packed
    return bytes(out)


# ---------------------------------------------------------- container


def _vli(data: bytes, pos: int) -> tuple[int, int]:
    out = 0
    for k in range(9):
        if pos >= len(data):
            raise ValueError("truncated XZ VLI")
        b = data[pos]
        pos += 1
        out |= (b & 0x7F) << (7 * k)
        if not b & 0x80:
            return out, pos
    raise ValueError("XZ VLI too long")


_XZ_MAGIC = b"\xfd7zXZ\x00"
_CHECK_SIZES = {0: 0, 1: 4, 4: 8, 10: 32}
_CHECK_NAMES = {0: "none", 1: "crc32", 4: "crc64", 10: "sha256"}


def decompress_xz(payload: bytes) -> tuple[bytes, dict]:
    """Decode an XZ payload of one or more CONCATENATED streams with
    optional 4-byte-aligned zero stream padding between them (the
    spec's multi-stream layout — note stdlib lzma silently STOPS at
    stream padding, so the spec-following walk is strictly more
    complete). Returns (content, stats)."""
    out = bytearray()
    n_blocks = n_streams = 0
    check = None
    pos = 0
    try:
        return _decompress_xz_multi(payload, out, n_blocks, n_streams,
                                    check, pos)
    except (IndexError, struct.error) as exc:
        # byte-corrupted input walking off a field: structural damage,
        # typed like every other truncation (fuzz-pinned in tests)
        raise ValueError(f"truncated XZ data ({exc})") from exc


def _decompress_xz_multi(payload, out, n_blocks, n_streams, check, pos):
    while pos < len(payload):
        if payload[pos] == 0:
            # stream padding: zeros in multiples of 4, permitted only
            # BETWEEN/AFTER streams per the XZ spec — never before the
            # first stream (leading zeros are not a valid container)
            if n_streams == 0:
                raise ValueError("XZ stream padding before first stream")
            pad_start = pos
            while pos < len(payload) and payload[pos] == 0:
                pos += 1
            if (pos - pad_start) % 4:
                raise ValueError("XZ stream padding not 4-aligned")
            continue
        content, st = _decompress_xz_stream(payload[pos:])
        out += content
        n_blocks += st["n_blocks"]
        n_streams += 1
        if check is None:
            check = st["check"]
        pos += st["consumed"]
    if n_streams == 0:
        raise ValueError("empty XZ payload")
    return bytes(out), {
        "n_blocks": n_blocks,
        "n_streams": n_streams,
        "check": check,
        "consumed": pos,
    }


def _decompress_xz_stream(payload: bytes) -> tuple[bytes, dict]:
    """Decode ONE XZ stream → (content, stats). Raises
    NotImplementedError for non-LZMA2 filters or reserved check types
    ('unsupported'), ValueError with 'CRC' for any checksum/digest
    mismatch, plain ValueError for structural damage."""
    if len(payload) < 32 or payload[:6] != _XZ_MAGIC:
        raise ValueError("bad XZ stream header magic")
    flags = payload[6:8]
    if flags[0] != 0:
        raise ValueError("reserved XZ stream flag byte")
    check_type = flags[1] & 0x0F
    if flags[1] & 0xF0:
        raise ValueError("reserved XZ stream flag bits")
    if check_type not in _CHECK_SIZES:
        raise NotImplementedError(f"XZ check type {check_type}")
    if struct.unpack_from("<I", payload, 8)[0] != zlib.crc32(flags):
        raise ValueError("XZ stream-header CRC mismatch (CRC)")
    pos = 12
    out = bytearray()
    n_blocks = 0
    records: list[tuple[int, int]] = []
    while True:
        if pos >= len(payload):
            raise ValueError("XZ stream truncated before index")
        first = payload[pos]
        if first == 0:  # index indicator
            break
        header_start = pos
        header_size = (first + 1) * 4
        header = payload[pos : pos + header_size]
        if len(header) != header_size:
            raise ValueError("truncated XZ block header")
        if (
            struct.unpack_from("<I", header, header_size - 4)[0]
            != zlib.crc32(header[: header_size - 4])
        ):
            raise ValueError("XZ block-header CRC mismatch (CRC)")
        bflags = header[1]
        n_filters = (bflags & 3) + 1
        if bflags & 0x3C:
            raise ValueError("reserved XZ block-flag bits")
        p = 2
        comp_size = unc_size = None
        if bflags & 0x40:
            comp_size, p = _vli(header, p)
        if bflags & 0x80:
            unc_size, p = _vli(header, p)
        props_byte = None
        for _ in range(n_filters):
            fid, p = _vli(header, p)
            psize, p = _vli(header, p)
            props = header[p : p + psize]
            p += psize
            if fid == 0x21:  # LZMA2
                if psize != 1:
                    raise ValueError("bad LZMA2 filter properties size")
                props_byte = props[0]
            else:
                raise NotImplementedError(f"XZ filter 0x{fid:x}")
        if props_byte is None:
            raise ValueError("XZ block without an LZMA2 filter")
        pos += header_size
        data_start = pos
        # LZMA2 chunks are self-delimiting: walk them to find the end
        block_out = lzma2_decompress_span(payload, data_start, props_byte)
        block_data_end, block = block_out
        pos = block_data_end
        if comp_size is not None and pos - data_start != comp_size:
            raise ValueError("XZ compressed-size field mismatch")
        if unc_size is not None and len(block) != unc_size:
            raise ValueError("XZ uncompressed-size field mismatch")
        # padding to 4
        while (pos - data_start) % 4:
            if payload[pos] != 0:
                raise ValueError("nonzero XZ block padding")
            pos += 1
        csize = _CHECK_SIZES[check_type]
        stored = payload[pos : pos + csize]
        if len(stored) != csize:
            raise ValueError("truncated XZ block check")
        pos += csize
        if check_type == 1:
            ok = struct.unpack("<I", stored)[0] == zlib.crc32(block)
        elif check_type == 4:
            ok = struct.unpack("<Q", stored)[0] == crc64_xz(bytes(block))
        elif check_type == 10:
            ok = stored == hashlib.sha256(block).digest()
        else:
            ok = True
        if not ok:
            raise ValueError("XZ block check mismatch (CRC)")
        # unpadded size = header + compressed + check (no padding)
        unpadded = header_size + (block_data_end - data_start) + csize
        records.append((unpadded, len(block)))
        out += block
        n_blocks += 1
    # index
    idx_start = pos
    pos += 1  # the 0x00 indicator
    nrec, pos = _vli(payload, pos)
    if nrec != len(records):
        raise ValueError("XZ index record count mismatch")
    for want in records:
        u1, pos = _vli(payload, pos)
        u2, pos = _vli(payload, pos)
        if (u1, u2) != want:
            raise ValueError("XZ index record disagrees with block")
    while (pos - idx_start) % 4:
        if payload[pos] != 0:
            raise ValueError("nonzero XZ index padding")
        pos += 1
    if (
        struct.unpack_from("<I", payload, pos)[0]
        != zlib.crc32(payload[idx_start:pos])
    ):
        raise ValueError("XZ index CRC mismatch (CRC)")
    pos += 4
    # footer: CRC32(backward_size+flags) + backward size + flags + YZ
    if pos + 12 > len(payload):
        raise ValueError("truncated XZ stream footer")
    f_crc, backward = struct.unpack_from("<II", payload, pos)
    f_flags = payload[pos + 8 : pos + 10]
    if payload[pos + 10 : pos + 12] != b"YZ":
        raise ValueError("bad XZ stream footer magic")
    if f_flags != flags:
        raise ValueError("XZ footer flags disagree with header")
    if (backward + 1) * 4 != pos - idx_start:
        raise ValueError("XZ backward size mismatch")
    if f_crc != zlib.crc32(payload[pos + 4 : pos + 10]):
        raise ValueError("XZ stream-footer CRC mismatch (CRC)")
    pos += 12
    return bytes(out), {
        "n_blocks": n_blocks,
        "check": _CHECK_NAMES[check_type],
        "consumed": pos,
    }


def lzma2_decompress_span(
    data: bytes, start: int, props_byte: int
) -> tuple[int, bytes]:
    """Like :func:`lzma2_decompress` but over a span of a larger
    buffer: returns (end position after the 0x00 terminator, output)."""
    # find the chunk walk end by replaying headers
    pos = start
    while True:
        control = data[pos]
        if control == 0:
            pos += 1
            break
        if control in (1, 2):
            size = struct.unpack_from(">H", data, pos + 1)[0] + 1
            pos += 3 + size
            continue
        if control < 0x80:
            raise ValueError(f"invalid LZMA2 control byte {control}")
        packed = struct.unpack_from(">H", data, pos + 3)[0] + 1
        pos += 5 + packed + (1 if ((control >> 5) & 3) >= 2 else 0)
    blob = data[start:pos]
    return pos, lzma2_decompress(blob, props_byte)


# ------------------------------------------------- driver-oracled query

_XZ_GROUPS = 10


def _xz_content(g: int) -> bytes:
    """Closed-form lattice: 5000 + 256·g bytes, 24-symbol alphabet
    with triangular word shuffle + every-89th perturbation."""
    out = bytearray()
    for j in range(5000 + 256 * g):
        w = ((j // 16) * ((j // 16) + 1) // 2 + g) % 8
        v = (31 * w + 7 * (j % 16) + 17 * g
             + (1 if j % 89 == 0 else 0)) % 251
        out.append(v % 24 + 97)
    return bytes(out)


def _xz_payload(doc_id: int) -> bytes:
    import lzma as _lzma

    g = doc_id % _XZ_GROUPS
    check = (_lzma.CHECK_CRC64, _lzma.CHECK_CRC32, _lzma.CHECK_SHA256)[g % 3]
    blob = bytearray(_lzma.compress(_xz_content(g), check=check))
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    if crc_err:
        # flip the LAST byte of the stored block CHECK (deterministic
        # class: compressed-data damage could fire either the LZMA
        # structural checks or the block check depending on the byte,
        # but a flipped STORED digest can only be caught by the check
        # comparison). Located via one clean decode + the footer's
        # backward size; the check field is the bytes just before the
        # index indicator.
        good = bytes(blob)
        _content, st = decompress_xz(good)
        # re-scan: find index start = position of the 0x00 indicator
        # that follows the check field. The check field ends right
        # where the index begins; walk from the front like the
        # decoder does — easiest is to flip the byte just before the
        # index indicator, found via the footer's backward size.
        backward = struct.unpack_from("<I", good, st["consumed"] - 8)[0]
        idx_start = st["consumed"] - 12 - (backward + 1) * 4
        blob[idx_start - 1] ^= 0x01  # last byte of the block check
    if unsup:
        # declare a reserved check type (0x0F) in the stream flags
        # and RE-SEAL the header CRC so the typed gate, not the CRC,
        # fires (the Ogg lesson); the decoder rejects before reading
        # any further, so the stale footer copy is never compared
        blob[7] = 0x0F
        blob[8:12] = struct.pack("<I", zlib.crc32(bytes(blob[6:8])))
    if corrupt:
        del blob[-5:]  # cut inside the 12-byte stream footer
    return bytes(blob)


def _xz_key(doc_id: int) -> tuple:
    return (doc_id % _XZ_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _xz_facts(doc_id: int) -> tuple:
    data, st = decompress_xz(_xz_payload(doc_id))
    csum = wsum = 0
    for i, b in enumerate(data):
        csum += b
        wsum += (i + 1) * b
    return (
        "decoded", st["n_blocks"], st["check"], len(data),
        csum, wsum,
    )


def _xz_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_XZ_GROUPS} AS g FROM documents
    ),
    bytes AS (
      SELECT g, unnest(range(0, 5000 + 256 * g)) AS j FROM grp
    ),
    vals AS (
      SELECT g,
             ((31 * (((j // 16) * ((j // 16) + 1) // 2 + g) % 8)
               + 7 * (j % 16) + 17 * g
               + CASE WHEN j % 89 = 0 THEN 1 ELSE 0 END) % 251)
               % 24 + 97 AS b,
             j + 1 AS gpos
      FROM bytes
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS content_len,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM(gpos * b) AS BIGINT) AS wsum
      FROM vals GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'crc_error'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE 1 END AS n_blocks,
           CASE WHEN {bad} THEN ''
                WHEN d.doc_id % {_XZ_GROUPS} % 3 = 0 THEN 'crc64'
                WHEN d.doc_id % {_XZ_GROUPS} % 3 = 1 THEN 'crc32'
                ELSE 'sha256' END AS check_kind,
           CASE WHEN {bad} THEN 0 ELSE s.content_len END AS content_len,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_XZ_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_xz_lzma2_decode", oracle=_xz_oracle())
def ingest_xz_lzma2_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """XZ ingestion end to end — the dump codec decoded natively: the
    full LZMA range decoder and match model (12 states, lc/lp/pb
    literal contexts with matched-literal decoding, position-slot /
    specialized / aligned distance bits, 4-slot rep history), the
    LZMA2 chunk layer with all reset modes, and the XZ container
    (CRC-protected stream flags and block headers, VLIs, block
    padding, the per-block integrity CHECK — CRC32, our own CRC64/XZ
    pinned to its published vector, or SHA-256, rotating by fixture
    group and oracled as check_kind — the index cross-check and the
    footer). stdlib lzma is the independent runtime encoder of the
    closed-form fixture content. Typed verdicts: a cut inside the
    stream footer ('corrupt'), a flipped stored block-check byte
    ('crc_error'), a reserved check type under a RE-SEALED header CRC
    ('unsupported').

    Scale notes (100 TB): Arrow-batched mapInPandas decode map;
    chunks chain sequentially WITHIN a stream, corpus parallelism is
    across documents; only integer facts re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_xz_batches", _xz_key, _xz_facts,
        "doc_id long, status string, n_blocks int, check_kind string, "
        "content_len long, content_sum long, wsum long",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
