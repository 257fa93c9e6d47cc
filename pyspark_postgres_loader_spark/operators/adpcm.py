"""IMA ADPCM (DVI4 / WAV format tag 0x11) — the classic 4-bit
adaptive-delta telephony/game codec, decoded natively from the public
IMA spec: an integer STATE MACHINE (89-entry step table, per-nibble
index adaptation, ±32768 predictor clamp) that turns each 4-bit code
into one 16-bit sample. Both encoder and decoder are implemented (the
encoder quantizes the true delta against the current step and tracks
its own decoder, the standard design that bounds drift), and the WAV
container path accepts format tag 17 blocks (header = initial
predictor + step index, then low-nibble-first code bytes).

The oracle novelty: a sequential codec state machine is still
SQL-expressible — DuckDB's ``list_reduce`` folds a STRUCT accumulator
(predictor, step index, running sums) over the closed-form nibble
sequence, replaying the exact integer recurrence per sample without
unrolling. That upgrades "stateful codec" from pytest-only to
driver-hashed.

Scale notes (100 TB): same Arrow-batched ``mapInPandas`` decode map as
every codec query; ADPCM is 4 bits/sample, so this is the cheapest
decode per payload byte in the suite.

Reference: no counterpart (SURVEY.md §2l multimodal extension).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .walkbatch import decode_walk

# the standard IMA step-size table (89 entries) and index adjustments
_STEPS = [
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767,
]
_INDEX_ADJ = [-1, -1, -1, -1, 2, 4, 6, 8]


def _ima_step(pred: int, idx: int, nibble: int) -> tuple[int, int]:
    """One IMA decode step: (predictor, index) → next state."""
    step = _STEPS[idx]
    diff = step >> 3
    if nibble & 1:
        diff += step >> 2
    if nibble & 2:
        diff += step >> 1
    if nibble & 4:
        diff += step
    pred = pred - diff if nibble & 8 else pred + diff
    pred = max(-32768, min(32767, pred))
    idx = max(0, min(88, idx + _INDEX_ADJ[nibble & 7]))
    return pred, idx


def decode_ima(nibbles, pred0: int, idx0: int) -> list[int]:
    """Decode a nibble sequence → samples ([pred0] + one per nibble,
    the WAV block convention where the header predictor IS sample 0)."""
    pred, idx = pred0, idx0
    out = [pred0]
    for nib in nibbles:
        pred, idx = _ima_step(pred, idx, int(nib))
        out.append(pred)
    return out


def encode_ima(samples, pred0: int | None = None, idx0: int = 0):
    """Encode samples → (nibbles, pred0, idx0): per sample, quantize
    the delta against the current step (the standard bit-greedy rule)
    and track the decoder's reconstruction so error never accumulates
    beyond one step size."""
    samples = [int(s) for s in samples]
    if pred0 is None:
        pred0 = samples[0]
    pred, idx = pred0, idx0
    nibbles = []
    for s in samples[1:]:
        step = _STEPS[idx]
        diff = s - pred
        nib = 0
        if diff < 0:
            nib = 8
            diff = -diff
        if diff >= step:
            nib |= 4
            diff -= step
        if diff >= step >> 1:
            nib |= 2
            diff -= step >> 1
        if diff >= step >> 2:
            nib |= 1
        nibbles.append(nib)
        pred, idx = _ima_step(pred, idx, nib)
    return nibbles, pred0, idx0


def build_wav_ima(samples, rate: int = 8000, idx0: int = 0) -> bytes:
    """Real WAV container, format tag 0x11 (IMA ADPCM), one block:
    4-byte block header (initial predictor int16, step index, reserved)
    then code bytes packed LOW NIBBLE FIRST."""
    nibbles, pred0, idx0 = encode_ima(samples, idx0=idx0)
    return build_wav_ima_raw(nibbles, pred0, idx0, rate)


def build_wav_ima_raw(
    nibbles, pred0: int, idx0: int, rate: int = 8000
) -> bytes:
    if len(nibbles) % 2:
        raise ValueError("IMA ADPCM nibble count must be even")
    body = bytearray(struct.pack("<hBB", pred0, idx0, 0))
    for lo, hi in zip(nibbles[::2], nibbles[1::2]):
        body.append((int(hi) << 4) | int(lo))
    block_align = len(body)
    fmt = struct.pack(
        "<HHIIHHHH", 0x11, 1, rate, rate // 2, block_align, 4,
        2, len(nibbles) + 1,  # cbSize, samples per block
    )
    data = bytes(body)
    out = b"RIFF" + struct.pack(
        "<I", 4 + 8 + len(fmt) + 8 + len(data)
    ) + b"WAVE"
    out += b"fmt " + struct.pack("<I", len(fmt)) + fmt
    out += b"data" + struct.pack("<I", len(data)) + data
    return out


def decode_wav_ima(payload: bytes):
    """Parse a format-17 WAV and decode every IMA block →
    ``(samples list, rate)``. Malformed → ``ValueError``."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, block_align, data = 12, None, None, None
    while pos + 8 <= len(payload):
        cid = payload[pos : pos + 4]
        (clen,) = struct.unpack("<I", payload[pos + 4 : pos + 8])
        body = payload[pos + 8 : pos + 8 + clen]
        if len(body) != clen:
            raise ValueError("truncated WAV chunk")
        if cid == b"fmt ":
            if clen < 16:
                raise ValueError("truncated fmt chunk")
            tag, channels, rate = struct.unpack("<HHI", body[:8])
            block_align = struct.unpack("<H", body[12:14])[0]
            bits = struct.unpack("<H", body[14:16])[0]
            if tag != 0x11:
                raise ValueError(f"not IMA ADPCM (format tag {tag})")
            if channels != 1:
                raise NotImplementedError("only mono IMA ADPCM supported")
            if bits != 4:
                raise ValueError(f"IMA ADPCM requires 4 bits (got {bits})")
        elif cid == b"data":
            data = body
        pos += 8 + clen + (clen & 1)
    if rate is None or data is None or not block_align:
        raise ValueError("missing fmt/data chunk")
    samples: list[int] = []
    for off in range(0, len(data), block_align):
        block = data[off : off + block_align]
        if len(block) < 4:
            raise ValueError("truncated IMA block header")
        pred0, idx0, _res = struct.unpack("<hBB", block[:4])
        if idx0 > 88:
            raise ValueError(f"IMA step index {idx0} out of range")
        nibbles = []
        for byte in block[4:]:
            nibbles.append(byte & 0x0F)  # LOW nibble first
            nibbles.append(byte >> 4)
        samples.extend(decode_ima(nibbles, pred0, idx0))
    return samples, rate


# ------------------------------------------------- driver-oracled query

_ADPCM_GROUPS = 12


def _adpcm_params(g: int) -> tuple[int, int, int]:
    """(n_nibbles, pred0, idx0) per fixture group."""
    return 128 + 32 * (g % 3), 64 * ((g % 9) - 4), (5 * g) % 50


def _adpcm_payload(doc_id: int) -> bytes:
    """Deterministic fixture: closed-form nibble stream
    ``(7i + 3g + i² % 5) % 16`` packed into a real format-17 WAV block.
    The nibble stream (not samples) is the closed form — the oracle
    replays the DECODER's state machine over it, so every step-table
    lookup, clamp and index adjustment is driver-hashed.
    ``doc_id % 11 == 2`` truncates ('corrupt')."""
    g = doc_id % _ADPCM_GROUPS
    n, pred0, idx0 = _adpcm_params(g)
    nibbles = [(7 * i + 3 * g + (i * i) % 5) % 16 for i in range(n)]
    payload = build_wav_ima_raw(nibbles, pred0, idx0, rate=8000 + 50 * g)
    if doc_id % 11 == 2:
        return payload[: len(payload) // 2]
    return payload


def _adpcm_key(doc_id: int) -> tuple:
    return (doc_id % _ADPCM_GROUPS, doc_id % 11 == 2)


def _adpcm_facts(doc_id: int) -> tuple:
    samples, _rate = decode_wav_ima(_adpcm_payload(doc_id))
    ssum = sum(samples)
    wsum = sum((i + 1) * v for i, v in enumerate(samples))
    return ("decoded", len(samples), ssum, wsum)


def _adpcm_oracle() -> str:
    """The state machine as ONE struct fold: ``list_reduce`` carries
    (pred, idx, sum, wsum, position) over the closed-form nibble list,
    applying the identical integer recurrence — step>>3 (+step>>2,
    +step>>1, +step by bits), sign bit, ±32768 clamp, index adjust
    clamped to [0, 88]."""
    steps = ", ".join(str(v) for v in _STEPS)
    # one decode step as SQL over acc (state) and x.nb (the nibble) —
    # DuckDB lambdas allow no subqueries, so the step lookup and diff
    # are INLINED everywhere they appear; non-negative step makes //
    # identical to >> on both engines
    step = f"([{steps}][acc.idx + 1])"
    diff = (
        f"({step} // 8"
        f" + CASE WHEN x.nb % 2 = 1 THEN {step} // 4 ELSE 0 END"
        f" + CASE WHEN (x.nb // 2) % 2 = 1 THEN {step} // 2 ELSE 0 END"
        f" + CASE WHEN (x.nb // 4) % 2 = 1 THEN {step} ELSE 0 END)"
    )
    newpred = (
        f"GREATEST(-32768, LEAST(32767, acc.pred + "
        f"CASE WHEN x.nb >= 8 THEN -{diff} ELSE {diff} END))"
    )
    newidx = (
        "GREATEST(0, LEAST(88, acc.idx + [-1, -1, -1, -1, 2, 4, 6, 8]"
        "[(x.nb % 8) + 1]))"
    )
    # NOTE the single-element list_transform inside the reduce lambda:
    # it LET-BINDS the new predictor once. Referencing the {{newpred}}
    # expression from several struct fields made DuckDB evaluate the
    # copies INCONSISTENTLY (same text, different value — observed as a
    # sign flip in the running sum while the state itself stayed
    # right); binding it to ``np`` and indexing [1] sidesteps that.
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_ADPCM_GROUPS} AS g FROM documents
    ),
    params AS (
      SELECT g, CAST(128 + 32 * (g % 3) AS BIGINT) AS n,
             CAST(64 * ((g % 9) - 4) AS BIGINT) AS pred0,
             CAST((5 * g) % 50 AS BIGINT) AS idx0
      FROM grp
    ),
    folded AS (
      SELECT g, n, pred0,
             list_reduce(
               list_prepend(
                 struct_pack(pred := pred0, idx := idx0,
                             s := pred0, w := pred0,
                             i := CAST(1 AS BIGINT),
                             nb := CAST(0 AS BIGINT)),
                 list_transform(range(0, n), i ->
                   struct_pack(pred := CAST(0 AS BIGINT),
                               idx := CAST(0 AS BIGINT),
                               s := CAST(0 AS BIGINT),
                               w := CAST(0 AS BIGINT),
                               i := CAST(0 AS BIGINT),
                               nb := (7 * i + 3 * g + (i * i) % 5) % 16))
               ),
               (acc, x) -> list_transform([{newpred}], np ->
                 struct_pack(
                   pred := np,
                   idx := {newidx},
                   s := acc.s + np,
                   w := acc.w + (acc.i + 1) * np,
                   i := acc.i + 1, nb := CAST(0 AS BIGINT)))[1]
             ) AS st
      FROM params
    ),
    sums AS (
      SELECT g, n + 1 AS n_samples,
             CAST(st.s AS BIGINT) AS sample_sum,
             CAST(st.w AS BIGINT) AS wsample_sum
      FROM folded
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 2 THEN 'corrupt' ELSE 'decoded' END
             AS status,
           CASE WHEN d.doc_id % 11 = 2 THEN 0 ELSE s.n_samples END
             AS n_samples,
           CASE WHEN d.doc_id % 11 = 2 THEN 0 ELSE s.sample_sum END
             AS sample_sum,
           CASE WHEN d.doc_id % 11 = 2 THEN 0 ELSE s.wsample_sum END
             AS wsample_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_ADPCM_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("audio_adpcm_decode", oracle=_adpcm_oracle())
def audio_adpcm_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native IMA ADPCM decode, end to end: real format-17 WAV blocks
    (initial predictor + step index header, low-nibble-first codes)
    run through the integer state machine; the DuckDB oracle replays
    the SAME recurrence as one ``list_reduce`` struct fold — a wrong
    step-table entry, clamp, nibble order or index adjustment diverges
    the state and fails the hash. Truncation quarantines ('corrupt').

    Scale notes (100 TB): Arrow-batched ``mapInPandas`` map; at 4
    bits/sample this is the cheapest audio decode per payload byte."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_adpcm_batches", _adpcm_key, _adpcm_facts,
        "doc_id long, status string, n_samples int, sample_sum long, "
        "wsample_sum long",
    ).transform(_presentation_sort, "doc_id")
