"""Full zstd compressed-block decoder (RFC 8878): FSE + Huffman +
sequence execution — closing the one documented scope boundary in
``zstdwalk.py`` (which walks frames and decodes RAW/RLE blocks but
quarantines entropy-coded blocks as honestly 'unsupported').

This module implements the ENTIRE compressed-block pipeline natively:

- backward bitstreams (padding-sentinel start, MSB-first reads) and
  the forward little-endian bitstream used by FSE table descriptions;
- FSE: accuracy-log'd normalized-count header decoding (including the
  small-value encoding and the 2-bit zero-repeat runs), the canonical
  spread/state-table construction with low-probability (-1) cells at
  the high end, and the three PREDEFINED distributions for literal
  lengths / match lengths / offset codes;
- Huffman: direct 4-bit weight headers AND FSE-compressed weight
  headers (two interleaved states), canonical table construction with
  the implicit last weight, 1-stream and 4-stream (jump table)
  literal decoding;
- sequences: all four symbol-compression modes (predefined / RLE /
  FSE / repeat), interleaved LL/OF/ML state machines over one
  backward bitstream, baseline+extra-bit code expansion, and the
  three-slot repeat-offset history with the literals_length == 0
  shift rule;
- sequence execution with overlapping match copies, and the frame's
  XXH64 content checksum (reusing zstdwalk's pinned implementation).

Correctness evidence (no symmetric-bug risk): the reference ``zstd``
CLI — an INDEPENDENT implementation — cross-validates in both
directions in tests/test_zstd_fse.py: our decoder must reproduce the
CLI's round-trip for corpora spanning Huffman-only, RLE-literals,
predefined-FSE and FSE_Compressed sequence paths at several levels,
and the driver-oracled fixture frames embedded below were produced by
that CLI from CLOSED-FORM content the DuckDB oracle replays byte by
byte (the decoder never influences the oracle).

Reference: RFC 8878; no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import struct

from .byteprim import xxh64

# --------------------------------------------------------------- bits


class BackBits:
    """Backward bitstream: written forward LSB-first, read from the
    top after skipping the padding sentinel (the highest set bit of
    the last non-zero byte)."""

    def __init__(self, data: bytes):
        if not data:
            raise ValueError("empty backward bitstream")
        self.v = int.from_bytes(data, "little")
        if self.v == 0:
            raise ValueError("backward bitstream has no sentinel bit")
        self.pos = self.v.bit_length() - 1  # sentinel consumed

    def read(self, n: int) -> int:
        """Read n bits; streams may run out into implicit zeros (the
        RFC allows final reads to consume padding)."""
        if n == 0:
            return 0
        self.pos -= n
        if self.pos >= 0:
            return (self.v >> self.pos) & ((1 << n) - 1)
        short = -self.pos
        if short > n:
            raise ValueError("backward bitstream exhausted")
        return (self.v & ((1 << (n - short)) - 1)) << short

    def peek(self, n: int) -> int:
        """Next n bits without consuming (zero-padded past the end)."""
        if self.pos >= n:
            return (self.v >> (self.pos - n)) & ((1 << n) - 1)
        avail = max(self.pos, 0)
        return (self.v & ((1 << avail) - 1)) << (n - avail)

    def skip(self, n: int) -> None:
        self.pos -= n

    def bits_left(self) -> int:
        return self.pos


class FwdBits:
    """Forward little-endian bitstream (FSE table descriptions)."""

    def __init__(self, data: bytes):
        self.v = int.from_bytes(data, "little")
        self.n = 8 * len(data)
        self.pos = 0

    def read(self, n: int) -> int:
        if self.pos + n > self.n:
            raise ValueError("FSE header bitstream exhausted")
        out = (self.v >> self.pos) & ((1 << n) - 1)
        self.pos += n
        return out

    def bytes_consumed(self) -> int:
        return (self.pos + 7) // 8


# ---------------------------------------------------------------- FSE


class FseTable:
    """Decoding table: per state → (symbol, nb_bits, baseline)."""

    __slots__ = ("log", "symbol", "nbits", "base")

    def __init__(self, log: int, symbol: list, nbits: list, base: list):
        self.log = log
        self.symbol = symbol
        self.nbits = nbits
        self.base = base


def fse_build(counts: list[int], log: int) -> FseTable:
    """Canonical FSE decode-table construction (RFC 8878 §4.1.1):
    -1 counts get single cells at the table's high end; positive
    counts spread with step (5/8·size + 3); per-symbol sub-states get
    nb_bits/baseline from the doubling rule."""
    size = 1 << log
    if sum(1 if c == -1 else c for c in counts) != size:
        raise ValueError("FSE counts do not sum to table size")
    symbol = [0] * size
    high = size - 1
    for s, c in enumerate(counts):
        if c == -1:
            symbol[high] = s
            high -= 1
    pos = 0
    step = (size >> 1) + (size >> 3) + 3
    mask = size - 1
    for s, c in enumerate(counts):
        if c <= 0:
            continue
        for _ in range(c):
            symbol[pos] = s
            pos = (pos + step) & mask
            while pos > high:
                pos = (pos + step) & mask
    if pos != 0:
        raise ValueError("FSE spread did not close")
    # per-symbol occurrence ranking in state order
    nbits = [0] * size
    base = [0] * size
    seen: dict[int, int] = {}
    freq = {s: c for s, c in enumerate(counts)}
    for state in range(size):
        s = symbol[state]
        c = freq.get(s, 0)
        if c == -1:
            nbits[state] = log
            base[state] = 0
            continue
        k = seen.get(s, 0)
        seen[s] = k + 1
        counter = c + k
        nb = log - (counter.bit_length() - 1)
        nbits[state] = nb
        base[state] = (counter << nb) - size
    return FseTable(log, symbol, nbits, base)


def fse_read_distribution(
    data: bytes, max_log: int, max_symbols: int
) -> tuple[list[int], int, int]:
    """Parse an FSE table description → (counts, accuracy_log,
    bytes_consumed). Counts may include -1 ('less than one')."""
    bs = FwdBits(data)
    log = bs.read(4) + 5
    if log > max_log:
        raise ValueError(f"FSE accuracy log {log} exceeds max {max_log}")
    remaining = (1 << log) + 1
    counts: list[int] = []
    while remaining > 1:
        if len(counts) >= max_symbols:
            raise ValueError("FSE distribution has too many symbols")
        bits = (remaining).bit_length()
        low_mask = (1 << (bits - 1)) - 1
        threshold = (1 << bits) - 1 - remaining
        val = bs.read(bits - 1)
        if val < threshold:
            value = val
        else:
            extra = bs.read(1)
            full = val | (extra << (bits - 1))
            value = full if full <= low_mask else full - threshold
        proba = value - 1
        counts.append(proba)
        remaining -= -proba if proba < 0 else proba
        if remaining < 1:
            raise ValueError("FSE distribution overshoots total")
        if proba == 0:
            while True:
                rep = bs.read(2)
                counts.extend([0] * rep)
                if rep != 3:
                    break
                if len(counts) > max_symbols:
                    raise ValueError("FSE zero-run overflows symbols")
    return counts, log, bs.bytes_consumed()


class FseState:
    def __init__(self, table: FseTable, bits: BackBits):
        self.t = table
        self.state = bits.read(table.log)

    def symbol(self) -> int:
        return self.t.symbol[self.state]

    def update(self, bits: BackBits) -> None:
        st = self.state
        self.state = self.t.base[st] + bits.read(self.t.nbits[st])


# ------------------------------------------------------------ Huffman


class HufTable:
    __slots__ = ("max_bits", "sym", "len")

    def __init__(self, max_bits: int, sym: list, ln: list):
        self.max_bits = max_bits
        self.sym = sym
        self.len = ln


def huf_build(weights: list[int]) -> HufTable:
    """Canonical Huffman decode table from EXPLICIT weights plus the
    implicit last weight completing the 2^n total (RFC 8878 §4.2.1)."""
    total = sum((1 << (w - 1)) for w in weights if w > 0)
    if total == 0:
        raise ValueError("huffman weights empty")
    # the implicit last weight completes the smallest power of 2
    # STRICTLY greater than the explicit total
    max_bits = total.bit_length()
    left = (1 << max_bits) - total
    last_w = left.bit_length()
    if (1 << (last_w - 1)) != left:
        raise ValueError("huffman weights do not complete a power of 2")
    ws = weights + [last_w]
    # number of bits per symbol: max_bits + 1 - weight (weight>0)
    ranked: list[tuple[int, int]] = []  # (nbits, symbol)
    for s, w in enumerate(ws):
        if w > 0:
            ranked.append((max_bits + 1 - w, s))
    # canonical assignment: longest codes (lowest weights) take the
    # lowest code values, symbols ascending within a length; the
    # decode table is indexed by the TOP max_bits of the stream, each
    # code occupying a 2^(max_bits - len) span
    from collections import defaultdict

    sym = [0] * (1 << max_bits)
    ln = [0] * (1 << max_bits)
    by_len: dict[int, list[int]] = defaultdict(list)
    for nb, s in ranked:
        by_len[nb].append(s)
    code = 0
    for nb in sorted(by_len, reverse=True):
        for s in sorted(by_len[nb]):
            span = 1 << (max_bits - nb)
            for i in range(span):
                sym[code + i] = s
                ln[code + i] = nb
            code += span
    if code != (1 << max_bits):
        raise ValueError("huffman table does not fill")
    return HufTable(max_bits, sym, ln)


def huf_read_weights(data: bytes) -> tuple[list[int], int]:
    """Huffman tree description → (explicit weights, bytes consumed).
    Header byte >= 128: direct 4-bit weights; else FSE-compressed
    weights with TWO interleaved states (RFC 8878 §4.2.1.2)."""
    if not data:
        raise ValueError("missing huffman tree description")
    hdr = data[0]
    if hdr >= 128:
        n = hdr - 127
        nbytes = (n + 1) // 2
        if 1 + nbytes > len(data):
            raise ValueError("truncated direct huffman weights")
        ws = []
        for i in range(n):
            b = data[1 + i // 2]
            ws.append((b >> 4) if i % 2 == 0 else (b & 0xF))
        return ws, 1 + nbytes
    comp = data[1 : 1 + hdr]
    if len(comp) != hdr:
        raise ValueError("truncated FSE huffman weights")
    counts, log, used = fse_read_distribution(comp, 6, 256)
    table = fse_build(counts, log)
    bits = BackBits(comp[used:])
    states = [FseState(table, bits), FseState(table, bits)]
    ws: list[int] = []
    # two interleaved states: emit symbol + update alternately; when
    # an update drives the bit pointer NEGATIVE (reads into padding),
    # emit one final symbol from the OTHER state and stop — the
    # reference tail-loop rule (an update consuming exactly the
    # remaining bits continues)
    i = 0
    while True:
        st = states[i & 1]
        ws.append(st.symbol())
        st.update(bits)
        if bits.pos < 0:
            ws.append(states[(i + 1) & 1].symbol())
            break
        i += 1
        if len(ws) > 254:
            raise ValueError("huffman weight stream runaway")
    return ws, 1 + hdr


# --------------------------------------------------- sequence codecs

# Predefined distributions (RFC 8878 §3.1.1.3.2.2)
_LL_DEFAULT = (
    [4, 3, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 2, 1, 1, 1, 2, 2, 2, 2, 2, 2,
     2, 2, 2, 3, 2, 1, 1, 1, 1, 1, -1, -1, -1, -1],
    6,
)
_ML_DEFAULT = (
    [1, 4, 3, 2, 2, 2, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1, -1, -1],
    6,
)
_OF_DEFAULT = (
    [1, 1, 1, 1, 1, 1, 2, 2, 2, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1, 1,
     1, 1, -1, -1, -1, -1, -1],
    5,
)

_LL_BASE = list(range(16)) + [
    16, 18, 20, 22, 24, 28, 32, 40, 48, 64, 128, 256, 512, 1024, 2048,
    4096, 8192, 16384, 32768, 65536,
]
_LL_BITS = [0] * 16 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]
_ML_BASE = list(range(3, 35)) + [
    35, 37, 39, 41, 43, 47, 51, 59, 67, 83, 99, 131, 259, 515, 1027,
    2051, 4099, 8195, 16387, 32771, 65539,
]
_ML_BITS = [0] * 32 + [
    1, 1, 1, 1, 2, 2, 3, 3, 4, 4, 5, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16,
]

_MAX_LOG = {"ll": 9, "of": 8, "ml": 9}


class _SeqTables:
    """Per-frame carry of the last FSE tables (Repeat_Mode)."""

    def __init__(self):
        self.ll: FseTable | None = None
        self.of: FseTable | None = None
        self.ml: FseTable | None = None


def _seq_table(
    kind: str, mode: int, data: bytes, pos: int, carry: _SeqTables
) -> tuple[FseTable, int]:
    default = {"ll": _LL_DEFAULT, "of": _OF_DEFAULT, "ml": _ML_DEFAULT}[kind]
    if mode == 0:  # Predefined
        counts, log = default
        return fse_build(counts, log), pos
    if mode == 1:  # RLE: single symbol, zero-bit table
        s = data[pos]
        return FseTable(0, [s], [0], [0]), pos + 1
    if mode == 2:  # FSE_Compressed
        counts, log, used = fse_read_distribution(
            data[pos:], _MAX_LOG[kind], len(default[0]) + 20
        )
        return fse_build(counts, log), pos + used
    prev = getattr(carry, kind)  # Repeat
    if prev is None:
        raise ValueError(f"repeat mode with no previous {kind} table")
    return prev, pos


# ------------------------------------------------------ block decode


def _decode_literals(
    data: bytes, pos: int, carry: dict, stats: dict | None = None
) -> tuple[bytes, int]:
    """Literals section → (literals, new position)."""
    b0 = data[pos]
    lit_type = b0 & 3
    if stats is not None:
        stats.setdefault("lit_types", set()).add(lit_type)
    size_fmt = (b0 >> 2) & 3
    if lit_type in (0, 1):  # Raw / RLE
        if size_fmt in (0, 2):
            rsize = b0 >> 3
            hlen = 1
        elif size_fmt == 1:
            rsize = (b0 >> 4) | (data[pos + 1] << 4)
            hlen = 2
        else:
            rsize = (b0 >> 4) | (data[pos + 1] << 4) | (data[pos + 2] << 12)
            hlen = 3
        pos += hlen
        if lit_type == 0:
            lits = data[pos : pos + rsize]
            if len(lits) != rsize:
                raise ValueError("truncated raw literals")
            return lits, pos + rsize
        return bytes([data[pos]]) * rsize, pos + 1
    # Compressed (2) / Treeless (3)
    if size_fmt == 0:
        both = b0 >> 4 | (data[pos + 1] << 4) | (data[pos + 2] << 12)
        rsize = both & 0x3FF
        csize = both >> 10
        hlen, streams = 3, 4
    elif size_fmt == 1:
        both = b0 >> 4 | (data[pos + 1] << 4) | (data[pos + 2] << 12)
        rsize = both & 0x3FF
        csize = both >> 10
        hlen, streams = 3, 4
    elif size_fmt == 2:
        both = (
            b0 >> 4
            | (data[pos + 1] << 4)
            | (data[pos + 2] << 12)
            | (data[pos + 3] << 20)
        )
        rsize = both & 0x3FFF
        csize = both >> 14
        hlen, streams = 4, 4
    else:
        both = (
            b0 >> 4
            | (data[pos + 1] << 4)
            | (data[pos + 2] << 12)
            | (data[pos + 3] << 20)
            | (data[pos + 4] << 28)
        )
        rsize = both & 0x3FFFF
        csize = both >> 18
        hlen, streams = 5, 4
    if size_fmt == 0:
        streams = 1  # single stream for BOTH compressed and treeless
    pos += hlen
    section = data[pos : pos + csize]
    if len(section) != csize:
        raise ValueError("truncated compressed literals")
    spos = 0
    if lit_type == 2:
        weights, used = huf_read_weights(section)
        carry["huf"] = huf_build(weights)
        spos = used
    table: HufTable | None = carry.get("huf")
    if table is None:
        raise ValueError("treeless literals with no previous table")
    body = section[spos:]
    if streams == 1:
        lits = _huf_stream(body, table, rsize)
    else:
        if len(body) < 6:
            raise ValueError("truncated 4-stream jump table")
        s1, s2, s3 = struct.unpack("<HHH", body[:6])
        part = (rsize + 3) // 4
        chunks = []
        off = 6
        for sz, want in (
            (s1, part), (s2, part), (s3, part),
            (len(body) - 6 - s1 - s2 - s3, rsize - 3 * part),
        ):
            if sz < 0 or off + sz > len(body):
                raise ValueError("bad literal stream sizes")
            chunks.append(_huf_stream(body[off : off + sz], table, want))
            off += sz
        lits = b"".join(chunks)
    if len(lits) != rsize:
        raise ValueError("literal stream produced wrong size")
    return lits, pos + csize


def _huf_stream(data: bytes, table: HufTable, count: int) -> bytes:
    bits = BackBits(data)
    out = bytearray()
    mb = table.max_bits
    for _ in range(count):
        idx = bits.peek(mb)  # implicit-zero padding at the tail is OK
        out.append(table.sym[idx])
        bits.skip(table.len[idx])
    return bytes(out)


def _decode_sequences(
    data: bytes, pos: int, end: int, lits: bytes, out: bytearray,
    rep: list[int], carry: _SeqTables, stats: dict | None = None,
) -> None:
    """Decode + execute the sequences section in place."""
    b0 = data[pos]
    if b0 == 0:
        out.extend(lits)
        pos += 1
        if pos != end:
            raise ValueError("trailing bytes after empty sequences")
        return
    if b0 < 128:
        nseq = b0
        pos += 1
    elif b0 < 255:
        nseq = ((b0 - 128) << 8) + data[pos + 1]
        pos += 2
    else:
        nseq = data[pos + 1] + (data[pos + 2] << 8) + 0x7F00
        pos += 3
    modes = data[pos]
    pos += 1
    if modes & 3:
        raise ValueError("reserved sequence-mode bits set")
    if stats is not None:
        stats.setdefault("seq_modes", set()).update(
            {(modes >> 6) & 3, (modes >> 4) & 3, (modes >> 2) & 3}
        )
        stats["n_sequences"] = stats.get("n_sequences", 0) + nseq
    ll_t, pos = _seq_table("ll", (modes >> 6) & 3, data, pos, carry)
    of_t, pos = _seq_table("of", (modes >> 4) & 3, data, pos, carry)
    ml_t, pos = _seq_table("ml", (modes >> 2) & 3, data, pos, carry)
    carry.ll, carry.of, carry.ml = ll_t, of_t, ml_t
    bits = BackBits(data[pos:end])
    ll_s = FseState(ll_t, bits)
    of_s = FseState(of_t, bits)
    ml_s = FseState(ml_t, bits)
    lit_pos = 0
    for i in range(nseq):
        of_code = of_s.symbol()
        ml_code = ml_s.symbol()
        ll_code = ll_s.symbol()
        if of_code > 31 or ml_code > 52 or ll_code > 35:
            raise ValueError("sequence code out of range")
        offset_val = (1 << of_code) + bits.read(of_code)
        ml = _ML_BASE[ml_code] + bits.read(_ML_BITS[ml_code])
        ll = _LL_BASE[ll_code] + bits.read(_LL_BITS[ll_code])
        if offset_val > 3:
            offset = offset_val - 3
            rep[2] = rep[1]
            rep[1] = rep[0]
            rep[0] = offset
        else:
            idx = offset_val - 1 + (1 if ll == 0 else 0)
            if idx == 0:
                offset = rep[0]
            elif idx == 1:
                offset = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            elif idx == 2:
                offset = rep[2]
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
            else:
                offset = rep[0] - 1
                if offset == 0:
                    raise ValueError("repcode produced zero offset")
                rep[2] = rep[1]
                rep[1] = rep[0]
                rep[0] = offset
        if lit_pos + ll > len(lits):
            raise ValueError("sequence consumes more literals than exist")
        out.extend(lits[lit_pos : lit_pos + ll])
        lit_pos += ll
        if offset > len(out):
            raise ValueError("match offset beyond window start")
        for _ in range(ml):
            out.append(out[-offset])
        if i + 1 < nseq:
            ll_s.update(bits)
            ml_s.update(bits)
            of_s.update(bits)
    out.extend(lits[lit_pos:])


def decode_compressed_block(
    data: bytes, out: bytearray, rep: list[int], lit_carry: dict,
    seq_carry: _SeqTables, stats: dict | None = None,
) -> None:
    lits, pos = _decode_literals(data, 0, lit_carry, stats)
    _decode_sequences(
        data, pos, len(data), lits, out, rep, seq_carry, stats
    )


# -------------------------------------------------------- frame walk


def decompress_frame(
    payload: bytes, stats: dict | None = None, zdict=None
) -> tuple[bytes, int]:
    try:
        return _decompress_frame(payload, stats, zdict)
    except IndexError as exc:
        # byte-corrupted input walking off a field: structural damage,
        # typed like every other truncation (fuzz-pinned in tests)
        raise ValueError(f"truncated zstd data ({exc})") from exc


def _decompress_frame(
    payload: bytes, stats: dict | None = None, zdict=None
) -> tuple[bytes, int]:
    """Decode ONE zstd frame → (content, bytes consumed). ``zdict``
    (operators/zstddict.ZstdDict) enables dictionary frames: the dict
    content prefills the window, its entropy tables seed the repeat
    modes and its offsets seed the rep history (RFC 8878 §5). A frame
    referencing a dictionary that is absent or has a different id
    raises NotImplementedError ('unsupported' — undecodable without
    those bytes). ValueError for structural damage, ValueError with
    'CRC' for an XXH64 mismatch."""
    if len(payload) < 5:
        raise ValueError("truncated zstd frame header")
    magic = struct.unpack("<I", payload[:4])[0]
    if magic != 0xFD2FB528:
        raise ValueError("bad zstd magic")
    fhd = payload[4]
    pos = 5
    single = (fhd >> 5) & 1
    checksum = (fhd >> 2) & 1
    did_field = fhd & 3
    if (fhd >> 3) & 1:
        raise ValueError("reserved frame-header bit set")
    if not single:
        pos += 1  # window descriptor
    did_len = (0, 1, 2, 4)[did_field]
    base = 0
    rep = [1, 4, 8]
    lit_carry: dict = {}
    seq_carry = _SeqTables()
    if did_len:
        did = int.from_bytes(payload[pos : pos + did_len], "little")
        if did != 0:
            if zdict is None or zdict.dict_id != did:
                raise NotImplementedError(
                    f"zstd frame references an unavailable dictionary "
                    f"(id {did})"
                )
            # RFC 8878 §5: dict content prefills the window, its
            # entropy tables become the initial repeat tables, its
            # offsets the initial rep history
            out0 = bytearray(zdict.content)
            base = len(out0)
            rep = list(zdict.rep)
            lit_carry = {"huf": zdict.huf}
            seq_carry.ll = zdict.ll
            seq_carry.of = zdict.of
            seq_carry.ml = zdict.ml
        pos += did_len
    fcs_len = (0, 2, 4, 8)[(fhd >> 6) & 3]
    if single and fcs_len == 0:
        fcs_len = 1
    fcs = None
    if fcs_len:
        if pos + fcs_len > len(payload):
            raise ValueError("truncated frame content size")
        fcs = int.from_bytes(payload[pos : pos + fcs_len], "little")
        if fcs_len == 2:
            fcs += 256
        pos += fcs_len
    out = out0 if base else bytearray()
    while True:
        if pos + 3 > len(payload):
            raise ValueError("truncated block header")
        bh = int.from_bytes(payload[pos : pos + 3], "little")
        pos += 3
        last = bh & 1
        btype = (bh >> 1) & 3
        bsize = bh >> 3
        if stats is not None:
            stats.setdefault("block_types", set()).add(btype)
        if btype == 0:  # Raw
            blk = payload[pos : pos + bsize]
            if len(blk) != bsize:
                raise ValueError("truncated raw block")
            out.extend(blk)
            pos += bsize
        elif btype == 1:  # RLE
            if pos >= len(payload):
                raise ValueError("truncated RLE block")
            out.extend(bytes([payload[pos]]) * bsize)
            pos += 1
        elif btype == 2:  # Compressed
            blk = payload[pos : pos + bsize]
            if len(blk) != bsize:
                raise ValueError("truncated compressed block")
            decode_compressed_block(
                blk, out, rep, lit_carry, seq_carry, stats
            )
            pos += bsize
        else:
            raise ValueError("reserved block type")
        if last:
            break
    produced = bytes(out[base:])
    if fcs is not None and len(produced) != fcs:
        raise ValueError("frame content size mismatch")
    if checksum:
        if pos + 4 > len(payload):
            raise ValueError("truncated content checksum")
        stored = struct.unpack("<I", payload[pos : pos + 4])[0]
        pos += 4
        if xxh64(produced) & 0xFFFFFFFF != stored:
            raise ValueError("zstd content checksum mismatch (CRC)")
    return produced, pos


# ------------------------------------------------- driver-oracled query
#
# Fixture frames: the reference ``zstd`` CLI (level 19, default XXH64
# checksum) compressed the closed-form lattice below at BUILD time;
# the frames are embedded as constants (data produced by a public
# tool, decoded at runtime by OUR decoder above — the oracle replays
# the lattice and never sees a zstd byte, so decoder and oracle are
# fully independent). tests/test_zstd_fse.py re-derives the lattice,
# re-inflates every frame through the CLI and through us, and pins
# that every group's frame really contains entropy-coded blocks.

_GOLDEN_B64 = {
    0: "KLUv/QRoNQMAwsIIDbDnAd2aXZrQJJkZhvNUzJ/nxSTfSlZf4958swgzjgiCkuUf"
    "oNB2uP8G8CJBcwxsnSLtFClOlXaKtFOkOBWkA3HcnVOLAIuMxaEDyUAyEE8QsINE"
    "DkJ/3UEGRV3mfRwA404KFxqrAg==",
    1: "KLUv/QRoTQMAwgIJDrDnAYQpbc0mu/bDMKUBeVbX0WfNm0jnPPgz3fQAUFQOK6Tz"
    "IKCR3eH6b+AiQWs4HFAylEMlnELaKdJOIe0UaaewdEDO23OqEaARWBz3kUxIE/kZ"
    "CTwidij15x1kKOgm3PKAGQerpjW98A==",
    2: "KLUv/QRoXQMA4kIJDsC3AUQivSVXuhEGgHMCWaOsy8uUtRunR746GW88IBWKiRzT"
    "eyGgkd3h+m/wIkFzDHbqEEmnSHGqtFOknSLFqdJOKelAnHfn1CLAIrA47kAykAby"
    "EyTsiMih0F93kKGom3mLA2bcqQLoBamF",
    3: "KLUv/QRodQMAAoMJDrDnAa0lu0as3FTDMBUBx3RN+lj6pKs/YJsbdX79dQgiWCUD"
    "sDUjoHHhwf03ACM5cwxAnSrtVGmnSjtV2qnSTpV2qrRTQToQh7tztQhgEVgcdiAZ"
    "SFbEMwJ4nNiRuLs38IFwP8eeDJpxpwok6kpm",
    4: "KLUv/QRohQMAAoMJDsC3AZJLTUimSC///3QBLmue1XX0WfOm0jkP/kw3XQQclcRA"
    "6TwjoHHhwf038CI5azg18IRTpDhV2inSTpHiVGmnSDtFilNBOiCH23PVCKARWBz2"
    "kUxIBuIxAnic2JG4O27ggVA/2R4HzThYBQEFvVg=",
    5: "KLUv/QRolQMAIsMJDsC3ASTSW3KpCUmuqjMDL+fUaOp8maZ24+iRr07GGw9KhTQx"
    "ZPQeJaBh4cH9NxAjuXIMdHKKhFMknCLlFAlHpBwi5RApp0g5BKQDcb47V4sAFpHN"
    "YTcSM9JGdECCD4o7lnvXDTws3M+xBYNm3KgCt80hMg==",
    6: "KLUv/QRotQMAUgMKDbDnAc0uSWp3cjFJUpx09Q+TBvNXfzCpr/kwE3Pn1VeJuRwB"
    "FCFHAyeoYeFh7Z8BICOxcgwRSAQOgSEZI40wI/zJeD6ijGWsZ5lykpO85aRZeAbi"
    "vhtqIVgEG+5+k67xZjNjYL4iGHHBfiRuZg2yFUzwVTzlVVE=",
    7: "KLUv/QRozQMAMgMKDsC3ASnUhGSK9EqrqsMBY0/bdfBqexqvc1cpoanQdddFyGFD"
    "DpTSAyigYeFr/w0QIzGqDjPwxKkSTpVwipRTJByRcoiUQ6ScIuUQiVNAYkDOt2eq"
    "EUGLxGSPOpBTEWxEpkj4EUSeJTfZPN8ABkKdZNtgAIw7VS7xoGI=",
    8: "KLUv/QRo1QMAcoMKDrDnAdTuTeq2TZQZBi8BJZyfp4RW8vxsJbzTTKpcvsx556sc"
    "GAwdgsgDKqhh3VutvwEgQyM7ETgQASI0lBAa4X9m7HwqClWoShVWqEIVrlBFFaog"
    "BxK+cfUBaBcTgTp+Aphp6FkQuCyiEGeFcqtHQOVNbghsOFUROulz",
    9: "KLUv/QRoFQQAosMKDrDnAeGKGU2SzBbDsFABdMWsMf1AqGL2TC9m+cNqvc1VP/zh"
    "QmiuAIqQ5i2gUdnV/hsgIzHWAUlOkXCKhEMlHCJxiIRDJBwi6RAJhyQcIuEQCYeW"
    "ZCCOd2fVIsGG7ESOOxCdimDLRnkZ22AbiuQRFBXPBjjuBpF9si0PjXFeDa9XU1E=",
}

_ZF_GROUPS = 10


def _zf_content(g: int) -> bytes:
    """Closed-form compressible lattice for group ``g``: 16-byte words
    selected by a triangular-number index (repeating structure zstd
    turns into matches) with a +1 perturbation every 97 bytes (breaks
    long matches into realistic short sequences), folded onto a
    16-symbol alphabet so the literals are Huffman-compressible (a
    full-range lattice made the encoder fall back to RAW literals —
    the coverage test pins Huffman + sequence paths in EVERY group)."""
    out = bytearray()
    for j in range(900 + 64 * g):
        w = ((j // 16) * ((j // 16) + 1) // 2) % 8
        v = (17 * w + 5 * (j % 16) + 11 * g
             + (1 if j % 97 == 0 else 0)) % 251
        out.append(v % 16 + 64)
    return bytes(out)


def _zf_payload(doc_id: int) -> bytes:
    import base64 as _b64

    g = doc_id % _ZF_GROUPS
    blob = bytearray(_b64.b64decode(_GOLDEN_B64[g]))
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    if crc_err:
        blob[-1] ^= 0x01  # stored XXH64 low byte
    if unsup:
        # declare a 1-byte dictionary ID (nonzero): honestly
        # unsupported HERE — no dictionary is supplied to this query,
        # so the frame is undecodable (dictionary frames decode in
        # ingest_zstd_dict_decode via operators/zstddict.py)
        fhd = blob[4]
        insert_at = 5 + (0 if (fhd >> 5) & 1 else 1)
        blob[4] = fhd | 0x01
        blob[insert_at:insert_at] = b"\x2a"
    if corrupt:
        del blob[-2:]  # cut INSIDE the 4-byte content checksum —
        # structurally detectable at every group (tail-drop)
    return bytes(blob)


def _zf_key(doc_id: int) -> tuple:
    return (doc_id % _ZF_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _zf_facts(doc_id: int) -> tuple:
    data, used = decompress_frame(_zf_payload(doc_id))
    csum = wsum = 0
    for i, b in enumerate(data):
        csum += b
        wsum += (i + 1) * b
    return ("decoded", len(data), csum, wsum)


def _zf_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_ZF_GROUPS} AS g FROM documents
    ),
    bytes AS (
      SELECT g, unnest(range(0, 900 + 64 * g)) AS j FROM grp
    ),
    vals AS (
      SELECT g,
             ((17 * (((j // 16) * ((j // 16) + 1) // 2) % 8)
               + 5 * (j % 16) + 11 * g
               + CASE WHEN j % 97 = 0 THEN 1 ELSE 0 END) % 251)
               % 16 + 64 AS b,
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
           CASE WHEN {bad} THEN 0 ELSE s.content_len END AS content_len,
           CASE WHEN {bad} THEN 0 ELSE s.content_sum END AS content_sum,
           CASE WHEN {bad} THEN 0 ELSE s.wsum END AS wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_ZF_GROUPS} = s.g
    ORDER BY d.doc_id
    """


def _register_query() -> None:
    from ..registry import register
    from .walkbatch import decode_walk
    from ..tables import load_table
    from ..functions.planctl import presentation_sort as _presentation_sort

    @register("ingest_zstd_compressed_decode", oracle=_zf_oracle())
    def ingest_zstd_compressed_decode(spark, sf_dir):
        """Full zstd decode end to end — FSE-compressed Huffman
        weights, Huffman literals, predefined/FSE/RLE sequence tables,
        repeat offsets, sequence execution, XXH64 verification — over
        frames the reference CLI produced from closed-form content.
        This removes ``ingest_zstd_frame_walk``'s documented scope
        boundary (that walk decodes RAW/RLE blocks and quarantines
        entropy-coded ones); here the entropy-coded path IS the
        oracled surface. Typed verdicts: a cut inside the content
        checksum ('corrupt'), a flipped stored-XXH64 bit
        ('crc_error'), a declared dictionary ID ('unsupported' — we
        decode dictionary-less frames only).

        Scale notes (100 TB): Arrow-batched mapInPandas decode map;
        blocks chain sequentially WITHIN a frame (the format's own
        window dependency), corpus parallelism is across documents;
        only integer facts re-enter the JVM."""
        d = load_table(spark, sf_dir, "documents").select("doc_id")
        return decode_walk(
            d, "_zf_batches", _zf_key, _zf_facts,
            "doc_id long, status string, content_len long, content_sum long, "
            "wsum long",
            value_errors=(("CRC", "crc_error"),),
        ).transform(_presentation_sort, "doc_id")


_register_query()
