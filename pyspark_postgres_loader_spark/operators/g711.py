"""G.711 µ-law / A-law audio decode — the telephony PCM codecs.

Speech training corpora sourced from telephony (call-center,
switchboard-style datasets) ship 8 kHz G.711 audio: WAVE format
code 7 (µ-law) or 6 (A-law), one byte per sample. Both codecs are
pure bit-formula companders (ITU-T G.711, public):

- **µ-law**: the stored byte is the bitwise complement of
  sign(1) | exponent(3) | mantissa(4); linear PCM reconstructs as
  ``((mantissa << 3 | 0x84) << exponent) - 0x84`` with the sign
  applied — the +33 bias trick that makes the 8 segments join.
- **A-law**: the stored byte is XOR 0x55 (alternate-bit inversion
  for line transmission); segments 0/1 decode as
  ``(mantissa << 4) + 8`` (segment 1 adds 0x100), higher segments
  as ``((mantissa << 4) + 0x108) << (exponent - 1)``.

Because both decoders are closed-form integer arithmetic, the
DuckDB oracle replays the ENTIRE pipeline — byte synthesis,
compander inversion, sample sums — bit-exactly: a rare audio codec
whose decode is value-oracled end to end with no envelope.

Correctness evidence beyond the oracle: the µ-law decoder is
pinned against the published segment endpoints (0xFF → 0,
0x7F → -8031... see tests), round-trips a full-scale sweep through
the standard encoder inverse, and the walk layers on the same
RIFF/WAVE chunk machinery as the ADPCM walk (operators/adpcm.py).

Scale notes (100 TB): one byte per sample and a formula decode —
this is numpy table-lookup work inside Arrow-batched mapInPandas;
the 256-entry decode tables are built once per worker. Typed
verdicts: truncation ('corrupt'), a PCM16 format code
('unsupported' — that path belongs to the plain WAV walk).

Reference: ITU-T G.711 (public); reference repo has no audio
surface (SURVEY.md §2 extension).
"""

from __future__ import annotations

import struct

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..registry import register
from ..tables import load_table
from .walkbatch import decode_walk

_FMT_ALAW = 6
_FMT_MULAW = 7


def mulaw_decode_byte(b: int) -> int:
    """One µ-law byte → linear PCM (13-bit magnitude range)."""
    b = ~b & 0xFF
    sign = b & 0x80
    exponent = (b >> 4) & 0x07
    mantissa = b & 0x0F
    mag = ((mantissa << 3) | 0x84) << exponent
    mag -= 0x84
    return -mag if sign else mag

def alaw_decode_byte(b: int) -> int:
    """One A-law byte → linear PCM."""
    b ^= 0x55
    sign = b & 0x80
    exponent = (b >> 4) & 0x07
    mantissa = b & 0x0F
    if exponent == 0:
        mag = (mantissa << 4) + 8
    elif exponent == 1:
        mag = (mantissa << 4) + 0x108
    else:
        mag = ((mantissa << 4) + 0x108) << (exponent - 1)
    # A-law sign convention is INVERTED vs µ-law: bit 7 SET (after
    # the 0x55 unmasking) marks a POSITIVE sample (G.711 Table 2;
    # pinned against audioop over all 256 bytes)
    return mag if sign else -mag


def build_wav_g711(payload: bytes, fmt_code: int,
                   rate: int = 8000) -> bytes:
    """Wrap raw G.711 bytes in a minimal RIFF/WAVE container."""
    fmt = struct.pack("<HHIIHH", fmt_code, 1, rate, rate, 1, 8)
    body = (b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(payload)) + payload
            + (b"\x00" if len(payload) & 1 else b""))
    return b"RIFF" + struct.pack("<I", 4 + len(body)) + b"WAVE" + body


def decode_wav_g711(data: bytes) -> dict:
    """Walk a RIFF/WAVE container holding G.711 audio; decode every
    sample to linear PCM. Raises NotImplementedError for non-G.711
    format codes ('unsupported'), ValueError for structural
    damage."""
    try:
        return _decode_g711(data)
    except (IndexError, struct.error, TypeError) as exc:
        raise ValueError(f"malformed WAVE structure ({exc})") from exc


def _decode_g711(data: bytes) -> dict:
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    riff_size = struct.unpack_from("<I", data, 4)[0]
    if riff_size + 8 > len(data):
        raise ValueError("RIFF size exceeds payload")
    pos = 12
    fmt_code = None
    rate = None
    raw = None
    while pos + 8 <= 8 + riff_size:
        cid = data[pos : pos + 4]
        csize = struct.unpack_from("<I", data, pos + 4)[0]
        body = data[pos + 8 : pos + 8 + csize]
        if len(body) != csize:
            raise ValueError("truncated WAVE chunk")
        pos += 8 + csize + (csize & 1)
        if cid == b"fmt ":
            if csize < 16:
                raise ValueError("truncated fmt chunk")
            fmt_code, channels, rate = struct.unpack_from("<HHI", body, 0)
            bits = struct.unpack_from("<H", body, 14)[0]
            if channels != 1:
                raise NotImplementedError("multi-channel G.711 walk")
            if fmt_code not in (_FMT_ALAW, _FMT_MULAW):
                raise NotImplementedError(
                    f"WAVE format code {fmt_code} in G.711 walk")
            if bits != 8:
                raise ValueError("G.711 must be 8 bits per sample")
        elif cid == b"data":
            raw = body
    if fmt_code is None or raw is None:
        raise ValueError("WAVE missing fmt or data chunk")
    import numpy as np

    table = np.array(
        [(mulaw_decode_byte if fmt_code == _FMT_MULAW
          else alaw_decode_byte)(b) for b in range(256)],
        dtype=np.int32)
    samples = table[np.frombuffer(raw, dtype=np.uint8)]
    return {
        "fmt": "mulaw" if fmt_code == _FMT_MULAW else "alaw",
        "rate": rate,
        "n_samples": len(samples),
        "samples": samples,
    }


# ------------------------------------------------- driver-oracled query

_G7_GROUPS = 10


def _g7_n(g: int) -> int:
    return 1200 + 160 * g


def _g7_byte(g: int, i: int) -> int:
    return (151 * i + 29 * g + (i * i) // 7) % 256


def _g7_blob(g: int) -> bytes:
    raw = bytes(_g7_byte(g, i) for i in range(_g7_n(g)))
    fmt_code = _FMT_MULAW if g % 2 == 0 else _FMT_ALAW
    return build_wav_g711(raw, fmt_code, rate=8000 + 100 * g)


def _g7_payload(doc_id: int) -> bytes:
    g = doc_id % _G7_GROUPS
    corrupt = doc_id % 11 == 3
    unsup = doc_id % 13 == 5 and not corrupt
    if unsup:
        # PCM16 belongs to the plain WAV walk — typed boundary
        return build_wav_g711(bytes(64), 1)
    blob = bytearray(_g7_blob(g))
    if corrupt:
        del blob[-5:]
    return bytes(blob)


def _g7_key(doc_id: int) -> tuple:
    return (doc_id % _G7_GROUPS, doc_id % 11 == 3, doc_id % 13 == 5)


def _g7_facts(doc_id: int) -> tuple:
    f = decode_wav_g711(_g7_payload(doc_id))
    s = f["samples"]
    pcm_sum = int(s.sum())
    pcm_abs = int(abs(s).sum())
    wsum = int(
        ((pd.RangeIndex(len(s)).values + 1) * s).sum())
    return (
        "decoded", f["fmt"], f["rate"], f["n_samples"],
        pcm_sum, pcm_abs, wsum,
    )


def _g7_oracle() -> str:
    # the byte formula, then BOTH companders inverted in SQL — the
    # full decode replayed engine-side
    byte = "(151 * i + 29 * g + (i * i) // 7) % 256"
    mu = f"""
      (CASE WHEN ((255 - b) & 128) > 0 THEN -1 ELSE 1 END) *
      (((((255 - b) & 15) * 8 + 132)
        * (1 << (((255 - b) // 16) & 7))) - 132)
    """
    al = f"""
      (CASE WHEN (xor(b, 85) & 128) > 0 THEN 1 ELSE -1 END) *
      (CASE ((xor(b, 85) // 16) & 7)
         WHEN 0 THEN (xor(b, 85) & 15) * 16 + 8
         WHEN 1 THEN (xor(b, 85) & 15) * 16 + 264
         ELSE ((xor(b, 85) & 15) * 16 + 264)
              * (1 << (((xor(b, 85) // 16) & 7) - 1)) END)
    """
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_G7_GROUPS} AS g FROM documents
    ),
    rr AS (
      SELECT g, i, {byte} AS b
      FROM (SELECT g, unnest(range(0, 1200 + 160 * g)) AS i FROM grp)
    ),
    pcm AS (
      SELECT g, i,
             CASE WHEN g % 2 = 0 THEN ({mu}) ELSE ({al}) END AS v
      FROM rr
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_samples,
             CAST(SUM(v) AS BIGINT) AS pcm_sum,
             CAST(SUM(abs(v)) AS BIGINT) AS pcm_abs,
             CAST(SUM((i + 1) * v) AS BIGINT) AS pcm_wsum
      FROM pcm GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5 THEN ''
                WHEN d.doc_id % 2 = 0 THEN 'mulaw'
                ELSE 'alaw' END AS fmt,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5 THEN 0
                ELSE 8000 + 100 * (d.doc_id % {_G7_GROUPS})
                END AS rate,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5 THEN 0
                ELSE s.n_samples END AS n_samples,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5 THEN 0
                ELSE s.pcm_sum END AS pcm_sum,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5 THEN 0
                ELSE s.pcm_abs END AS pcm_abs,
           CASE WHEN d.doc_id % 11 = 3 OR d.doc_id % 13 = 5 THEN 0
                ELSE s.pcm_wsum END AS pcm_wsum
    FROM documents d
    JOIN sums s ON d.doc_id % {_G7_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("audio_g711_walk", oracle=_g7_oracle())
def audio_g711_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G.711 µ-law and A-law telephony audio decoded natively — the
    speech-corpus codec: RIFF/WAVE walk (format codes 7/6), both
    companders inverted to linear PCM via the ITU bit formulas, and
    — uniquely for an audio codec — the ENTIRE decode replayed
    bit-exactly by the DuckDB oracle, since both inverters are
    closed-form integer arithmetic. µ-law and A-law alternate by
    group; facts cover sample counts, PCM sums, absolute energy,
    and position-weighted sums. Typed verdicts: truncation
    ('corrupt'), a PCM16 format code ('unsupported').

    Scale notes (100 TB): one byte per sample through a 256-entry
    numpy lookup table built once per worker — Arrow-batched
    mapInPandas with the usual combo repartition + per-worker
    memo."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    combo = F.concat_ws(
        ":",
        (F.col("doc_id") % _G7_GROUPS),
        (F.col("doc_id") % 11 == 3).cast("int"),
        (F.col("doc_id") % 13 == 5).cast("int"),
    )
    out = decode_walk(
        d.repartition(32, combo), "_g7_batches", _g7_key, _g7_facts,
        "doc_id long, status string, fmt string, rate long, n_samples long, "
        "pcm_sum long, pcm_abs long, pcm_wsum long",
        worker_memo=True,
    )
    return out.repartition(1).sortWithinPartitions("doc_id")
