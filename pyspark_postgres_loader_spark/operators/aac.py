"""AAC ADTS frame-sync and header decode — the transport-layer half of
the codec, natively from the public ISO/IEC 13818-7 / 14496-3 ADTS
header layout (the streaming container virtually all raw .aac files
use).

Same honest scope as :mod:`.mp3`: everything corpus ingestion needs
from an ADTS stream — the 12-bit syncword, MPEG version / layer
validation, the audio-object-type (profile) field, the
sampling-frequency index table, channel configuration, the EXPLICIT
13-bit frame length (ADTS carries it, unlike MP3's derived lengths —
so the walk validates CONSISTENCY: length must cover the header and
land on the next syncword), the 2-bit raw-data-block count (1024
samples per block per frame), and the optional CRC-16 field
(protection_absent = 0 → 2 header bytes; same ANSI-0x8005 checksum as
MP3, reused from :func:`.mp3.crc16_mp3`) — while AUDIO SAMPLE
synthesis (the AAC filterbank/Huffman spectrum) remains a typed
``NotImplementedError`` in ``real_decode_audio``; we do not ship a
half-verified decoder.

Scale notes (100 TB): pure per-payload map, Arrow-batched
``mapInPandas``; the walk reads 7-9 bytes per frame and skips
payloads, so a corpus codec census is I/O-bound.

Reference: no counterpart (SURVEY.md §2l multimodal extension).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .mp3 import crc16_mp3
from .walkbatch import decode_walk

# sampling_frequency_index → Hz (13818-7 table; 13..14 reserved,
# 15 = escape, forbidden in ADTS)
_ADTS_SR = [96000, 88200, 64000, 48000, 44100, 32000, 24000, 22050,
            16000, 12000, 11025, 8000, 7350]

_SAMPLES_PER_BLOCK = 1024  # one raw_data_block = 1024 PCM samples


def decode_adts_frames(payload: bytes):
    """Walk every ADTS frame: sync, parse, explicit-length validation.
    Returns ``(profile, sample_rate, channels, frames)`` with frames a
    list of dicts (length, n_blocks, crc flag). ``ValueError`` for
    malformed streams (lost sync, reserved fields, length not covering
    the header, truncation, CRC mismatch), ``NotImplementedError`` for
    the Layer != 0 reserved encoding — the typed quarantine contract."""
    pos = 0
    profile = sr = channels = None
    frames: list[dict] = []
    while pos < len(payload):
        if pos + 7 > len(payload):
            raise ValueError("truncated ADTS frame header")
        b = payload[pos : pos + 9]
        if b[0] != 0xFF or (b[1] & 0xF0) != 0xF0:
            raise ValueError(f"lost ADTS frame sync at {pos}")
        layer = (b[1] >> 1) & 0x3
        if layer != 0:
            raise NotImplementedError(f"ADTS layer {layer} (reserved)")
        protection_absent = b[1] & 0x1
        prof = (b[2] >> 6) & 0x3  # audio object type - 1
        sf_idx = (b[2] >> 2) & 0xF
        if sf_idx >= len(_ADTS_SR):
            raise ValueError(f"reserved ADTS sampling-frequency index {sf_idx}")
        chan = ((b[2] & 0x1) << 2) | ((b[3] >> 6) & 0x3)
        flen = ((b[3] & 0x03) << 11) | (b[4] << 3) | ((b[5] >> 5) & 0x7)
        n_blocks = (b[6] & 0x3) + 1
        header_len = 7 if protection_absent else 9
        if flen < header_len:
            raise ValueError("ADTS frame length does not cover its header")
        if pos + flen > len(payload):
            raise ValueError("truncated ADTS frame body")
        if not protection_absent:
            # single-raw-block CRC (13818-7 §6.2: the check covers the
            # header's first 7 bytes; multi-block CRCs interleave with
            # the raw data and are out of the structural walk's scope)
            if n_blocks != 1:
                raise NotImplementedError(
                    "ADTS CRC with multiple raw data blocks"
                )
            stored = (b[7] << 8) | b[8]
            if crc16_mp3(payload[pos : pos + 7]) != stored:
                raise ValueError("ADTS CRC mismatch")
        this = (prof, _ADTS_SR[sf_idx], chan)
        if profile is None:
            profile, sr, channels = this
        elif this != (profile, sr, channels):
            raise ValueError("ADTS stream parameters changed mid-stream")
        frames.append(
            {"length": flen, "n_blocks": n_blocks,
             "crc": not protection_absent}
        )
        pos += flen
    if not frames:
        raise ValueError("ADTS stream has no frames")
    return profile, sr, channels, frames


def build_adts(
    profile: int,
    sf_idx: int,
    channels: int,
    frame_payload_lens: list[int],
    with_crc: bool = False,
    fill=lambda f, i: (5 * i + 13 * f) % 251,
) -> bytes:
    """Assemble a spec-shaped ADTS stream: real headers with the
    explicit 13-bit frame length, one raw data block per frame, and a
    valid CRC-16 over the 7 header bytes when ``with_crc``."""
    out = bytearray()
    for f, plen in enumerate(frame_payload_lens):
        header_len = 9 if with_crc else 7
        flen = header_len + plen
        if flen >= 1 << 13:
            raise ValueError("ADTS frame length exceeds 13 bits")
        hdr = bytearray(7)
        hdr[0] = 0xFF
        hdr[1] = 0xF0 | (0 << 3) | (0 << 1) | (0 if with_crc else 1)
        hdr[2] = (profile << 6) | (sf_idx << 2) | ((channels >> 2) & 0x1)
        hdr[3] = ((channels & 0x3) << 6) | ((flen >> 11) & 0x3)
        hdr[4] = (flen >> 3) & 0xFF
        hdr[5] = ((flen & 0x7) << 5) | 0x1F  # buffer fullness hi (VBR)
        hdr[6] = (0x3F << 2) | 0  # buffer fullness lo + 1 raw block
        out += hdr
        if with_crc:
            crc = crc16_mp3(bytes(hdr))
            out += bytes((crc >> 8, crc & 0xFF))
        out += bytes(fill(f, i) for i in range(plen))
    return bytes(out)


# ------------------------------------------------- driver-oracled query

_AAC_GROUPS = 12


def _aac_payload(doc_id: int) -> bytes:
    """Deterministic ADTS fixture: profile g%4, sampling index 3+g%5
    (48000..12000), 1-2 channels, 3..6 frames with payload lengths
    varying per frame (37 + 11·((g+f)%9)); ``g%4==1`` adds per-frame
    CRCs. Quarantine: ``doc_id%11==9`` drops the last 4 bytes —
    guaranteed MID-frame, unlike a halving cut, which can land exactly
    on a frame boundary and parse cleanly ('corrupt');
    ``doc_id%17==8`` patches the first sampling index to the reserved
    13 ('corrupt' — reserved field); ``doc_id%19==5`` (CRC groups)
    flips a stored CRC bit ('crc_error')."""
    g = doc_id % _AAC_GROUPS
    with_crc = g % 4 == 1
    payload = build_adts(
        profile=g % 4,
        sf_idx=3 + g % 5,
        channels=1 + g % 2,
        frame_payload_lens=[37 + 11 * ((g + f) % 9) for f in range(3 + g % 4)],
        with_crc=with_crc,
        fill=lambda f, i: (5 * i + 13 * f + g) % 251,
    )
    if doc_id % 17 == 8 and doc_id % 11 != 9:
        # reserved sampling-frequency index 13 in the first header
        b2 = (payload[2] & 0xC3) | (13 << 2)
        payload = payload[:2] + bytes([b2]) + payload[3:]
    if doc_id % 19 == 5 and with_crc and doc_id % 11 != 9 and doc_id % 17 != 8:
        payload = payload[:7] + bytes([payload[7] ^ 0x40]) + payload[8:]
    if doc_id % 11 == 9:
        payload = payload[:-4]  # always cuts inside the last frame
    return payload


def _aac_key(doc_id: int) -> tuple:
    return (doc_id % _AAC_GROUPS, doc_id % 11 == 9, doc_id % 17 == 8,
            doc_id % 19 == 5)


def _aac_facts(doc_id: int) -> tuple:
    g = doc_id % _AAC_GROUPS
    profile, sr, chans, frames = decode_adts_frames(
        _aac_payload(doc_id)
    )
    total_blocks = sum(fr["n_blocks"] for fr in frames)
    total_samples = total_blocks * _SAMPLES_PER_BLOCK
    wsum = 0
    for f, fr in enumerate(frames):
        plen = fr["length"] - (9 if fr["crc"] else 7)
        wsum += (f + 1) * sum(
            (i + 1) * ((5 * i + 13 * f + g) % 251)
            for i in range(plen)
        )
    return (
        "decoded", profile, sr, chans, len(frames),
        total_samples, total_samples * 1_000_000 // sr,
        sum(fr["length"] for fr in frames), wsum,
    )


def _aac_oracle() -> str:
    def lst(v):
        return "[" + ", ".join(str(x) for x in v) + "]"

    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_AAC_GROUPS} AS g FROM documents
    ),
    meta AS (
      SELECT g, g % 4 AS profile,
             {lst(_ADTS_SR)}[3 + g % 5 + 1] AS sr,
             1 + g % 2 AS channels,
             3 + g % 4 AS n_frames,
             (g % 4 = 1) AS with_crc
      FROM grp
    ),
    frames AS (
      SELECT g, profile, sr, channels, n_frames, with_crc,
             unnest(range(0, n_frames)) AS f
      FROM meta
    ),
    fr AS (
      SELECT *,
             37 + 11 * ((g + f) % 9) AS payload_len,
             37 + 11 * ((g + f) % 9)
               + CASE WHEN with_crc THEN 9 ELSE 7 END AS length
      FROM frames
    ),
    wsums AS (
      SELECT g, f, (f + 1) * CAST(SUM(
               (i + 1) * ((5 * i + 13 * f + g) % 251)) AS BIGINT) AS w
      FROM (SELECT g, f, unnest(range(0, payload_len)) AS i FROM fr)
      GROUP BY g, f
    ),
    sums AS (
      SELECT p.g,
             ANY_VALUE(p.profile) AS profile,
             ANY_VALUE(p.sr) AS sr,
             ANY_VALUE(p.channels) AS channels,
             ANY_VALUE(p.n_frames) AS n_frames,
             ANY_VALUE(p.with_crc) AS crc_group,
             CAST(SUM(p.length) AS BIGINT) AS frame_bytes
      FROM fr p GROUP BY p.g
    ),
    ws AS (
      SELECT g, CAST(SUM(w) AS BIGINT) AS payload_wsum FROM wsums GROUP BY g
    ),
    facts AS (
      SELECT s.g, s.profile, s.sr, s.channels, s.n_frames, s.crc_group,
             CAST(s.n_frames * {_SAMPLES_PER_BLOCK} AS BIGINT)
               AS total_samples,
             CAST(s.n_frames * {_SAMPLES_PER_BLOCK} * 1000000 // s.sr
               AS BIGINT) AS duration_us,
             s.frame_bytes, w.payload_wsum
      FROM sums s JOIN ws w ON s.g = w.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 9 THEN 'corrupt'
                WHEN d.doc_id % 17 = 8 THEN 'corrupt'
                WHEN d.doc_id % 19 = 5 AND t.crc_group THEN 'crc_error'
                ELSE 'decoded' END AS status,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.profile END AS profile,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.sr END AS sample_rate,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.channels END AS channels,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.n_frames END AS n_frames,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.total_samples END AS total_samples,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.duration_us END AS duration_us,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.frame_bytes END AS frame_bytes,
           CASE WHEN d.doc_id % 11 = 9 OR d.doc_id % 17 = 8
                  OR (d.doc_id % 19 = 5 AND t.crc_group)
                THEN 0 ELSE t.payload_wsum END AS payload_wsum
    FROM documents d
    JOIN facts t ON d.doc_id % {_AAC_GROUPS} = t.g
    ORDER BY d.doc_id
    """


@register("audio_aac_adts_walk", oracle=_aac_oracle())
def audio_aac_adts_walk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AAC ADTS frame-sync + header decode under oracle discipline —
    the transport sibling of ``audio_mp3_frame_walk``: real multi-frame
    ADTS streams (explicit 13-bit frame lengths the walk validates
    against the actual byte layout, profile / sampling-index /
    channel-config fields, optional per-frame CRC-16 over the 7 header
    bytes) walked natively; the oracle re-derives frame lengths,
    per-raw-block sample counts and the position-weighted payload sum.
    Four oracled statuses: 'decoded', 'corrupt' (truncation AND a
    reserved sampling index — both malformed data), 'crc_error'
    (flipped protection word), with the Layer != 0 reserved encoding as
    the typed 'unsupported' boundary (exercised in tests). AUDIO SAMPLE
    synthesis stays a typed NotImplementedError in
    ``real_decode_audio``.

    Scale notes (100 TB): per-payload map, ~7-9 header bytes read per
    frame — codec census at I/O cost."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_aac_batches", _aac_key, _aac_facts,
        "doc_id long, status string, profile int, sample_rate int, "
        "channels int, n_frames int, total_samples long, duration_us long, "
        "frame_bytes long, payload_wsum long",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
