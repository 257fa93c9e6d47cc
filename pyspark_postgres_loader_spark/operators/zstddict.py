"""zstd DICTIONARY frames (RFC 8878 §5) — the mode shared-corpus
shards actually use: train one dictionary over a corpus of small
similar documents, reference it by id from every frame, and amortize
the entropy tables + a shared window prefix across millions of tiny
payloads. This removes the last documented zstd scope boundary (the
r10 walk typed nonzero dictionary ids 'unsupported'; the r11 full
decoder kept that gate).

Native implementation on top of operators/zstdfse.py:

- the dictionary FILE format: 0xEC30A437 magic, dictionary id, the
  entropy tables in spec order (Huffman literals table, then the
  OF/ML/LL FSE tables, all in their in-frame serializations — the
  existing readers are reused), three explicit repeat offsets, and
  the content that prefills the window;
- frame-side wiring (zstdfse._decompress_frame): a matching-id frame
  starts with the dict content as its window (matches may reach
  across into it; output excludes it), the dict entropy tables seed
  the REPEAT modes (single-block CLI frames use sequence Repeat_Mode
  with no prior block — only the dictionary makes that legal, so the
  tables are provably consumed), and the dict offsets seed the rep
  history; frames referencing an absent/mismatched id stay the typed
  'unsupported'.

Correctness evidence: the golden dictionary was TRAINED by the
reference zstd CLI over 80 closed-form sample docs and the fixture
frames are CLI-compressed (-19 -D) from the same closed-form lattice
— encoder and decoder independent; the DuckDB oracle replays the
lattice byte-for-byte and never sees a zstd byte. The treeless-
literal path consuming the DICTIONARY's Huffman table is exercised
by a hand-assembled frame in tests (the CLI emits raw literals for
these tiny frames).

Scale notes (100 TB): dictionary decode is THE small-document regime
— one ~0.5 KB broadcastable artifact, per-doc CPU decode, zero data
shuffles; same Arrow-batched mapInPandas map as the codec family.

Reference: RFC 8878 §5 (public); no repo counterpart (SURVEY.md §2l
extension).
"""

from __future__ import annotations

import base64
import struct
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .zstdfse import (
    _LL_DEFAULT,
    _MAX_LOG,
    _ML_DEFAULT,
    _OF_DEFAULT,
    FseTable,
    HufTable,
    decompress_frame,
    fse_build,
    fse_read_distribution,
    huf_build,
    huf_read_weights,
)
from .walkbatch import decode_walk

_DICT_MAGIC = 0xEC30A437


@dataclass
class ZstdDict:
    dict_id: int
    huf: HufTable
    of: FseTable
    ml: FseTable
    ll: FseTable
    rep: list[int]
    content: bytes


def parse_zstd_dictionary(blob: bytes) -> ZstdDict:
    """RFC 8878 §5 dictionary file → ZstdDict. Typed ValueError for
    structural damage."""
    if len(blob) < 8:
        raise ValueError("truncated zstd dictionary header")
    if struct.unpack_from("<I", blob, 0)[0] != _DICT_MAGIC:
        raise ValueError("bad zstd dictionary magic")
    dict_id = struct.unpack_from("<I", blob, 4)[0]
    if dict_id == 0:
        raise ValueError("zstd dictionary id must be nonzero")
    pos = 8
    weights, used = huf_read_weights(blob[pos:])
    huf = huf_build(weights)
    pos += used
    tables = {}
    for kind, default in (("of", _OF_DEFAULT), ("ml", _ML_DEFAULT),
                          ("ll", _LL_DEFAULT)):
        counts, log, used = fse_read_distribution(
            blob[pos:], _MAX_LOG[kind], len(default[0]) + 20
        )
        tables[kind] = fse_build(counts, log)
        pos += used
    if pos + 12 > len(blob):
        raise ValueError("truncated zstd dictionary rep offsets")
    rep = list(struct.unpack_from("<3I", blob, pos))
    if any(r == 0 for r in rep):
        raise ValueError("zstd dictionary rep offset is zero")
    pos += 12
    return ZstdDict(
        dict_id=dict_id, huf=huf, of=tables["of"], ml=tables["ml"],
        ll=tables["ll"], rep=rep, content=blob[pos:],
    )


# -------------------------------------------------- golden fixtures
#
# Trained at build time by the reference zstd CLI (--train over 80
# closed-form samples; frames -19 -D) — data produced by a public
# tool, decoded here by OUR decoder, replayed by the oracle from the
# closed form below.

_ZD_DICT_B64 = (
    "N6Qw7MYBahEiEDDdAfAXacNfpA1/kTb8RdrE/DzP8zyfK6khreKf5/kMAUMzGLQI"
    "D8fFt9XMtg00YMCAgRcD0CQGA4pioBgoDIPBYDAYDAaDwWAwGAwGg8FgYFAMxoCA"
    "cjOzbQOEmSAIgiAIgiAIgiAIghBCCCGEEEJEROQBAQAAAAQAAAAIAAAAR0xBRktA"
    "RUpPRElOQ0hNQkpPRElOQ0hNQkdMQUZLQEVNQkdMQUZLQEVKT0RJTkNIRElOQ0hN"
    "QkdMQUZLQEVKT0dMQUZLQEVKT0RJTkNITUJKT0RJTkNITUJHTEFGS0BFQUZLQEVK"
    "T0RJTkNITUJHTERJTkNITUJHTEFGS0BFSk9HTEFGS0BFSk9ESU5DSE1CRktARUpP"
    "RElOQ0hNQkdMQUlOQ0hNQkdMQUZLQEVKT0RMQUZLQEVKT0RJTkNITUJHQ0hNQkdM"
    "QUZLQEVKT0RJTkZLQEVKT0RJTkNITUJHTEFJTkNITUJHTEFGS0BFSk9EQEVKT0RJ"
    "TkNITUJHTEFGS0NITUJHTEFGS0BFSk9ESU5GS0BFSk9ESU5DSE1CR0xBRUpPRElO"
    "Q0hNQkdMQUZLQEhNQkdMQUZLQEVKT0RJTkNLQEVKT0RJTkNITUJHTEFGQkdMQUZL"
    "QEVKT0RJTkNITUVKT0RJTkNITUJHTEFGS0BITUJHTEFGS0BFSk9ESU5DR0xBRktA"
    "RQ=="
)

_ZD_GOLDEN_B64 = {
    0: "KLUv/WfGAWoRWAGFAAAQQEoDPB20ZVCDEBqazvZXS0oKyQ==",
    1: "KLUv/WfGAWoRcAGFAAAQQ0oDPAd9GVSihZ4Sov0VU3K6Lg==",
    2: "KLUv/WfGAWoRiAGFAAAQRkoDPEO2DOoRQ1uvyP4KiApXeg==",
    3: "KLUv/WfGAWoRoAFtAAAIQQLwdqpQASMq6gmyqpnHgA==",
    4: "KLUv/WfGAWoRuAFtAAAIRALwXtpQAVNa6gmyI0B+eA==",
    5: "KLUv/WfGAWoR0AFtAAAIRwLARoOrAgYV1YUsLxHmtw==",
    6: "KLUv/WfGAWoR6AF9AAAIQgP8LoN+ULcYQlo/VOE+x6GA",
    7: "KLUv/WfGAWoRAAKFAAAIRQP8FoN+UL2YCK3C+iscAgUOBw==",
    8: "KLUv/WfGAWoRGAKFAAAIQAP8/kFzUIOY0NBMsS8coxxYFQ==",
    9: "KLUv/WfGAWoRMAKNAAAQQ0oDPOVBUwaViKGnnGJ/BbtJzLg=",
}


_ZD_GROUPS = 10


def _zd_content(g: int) -> bytes:
    """48-byte-block lattice: block seed s = (5b + 3g) % 8 collides
    across docs, giving the dictionary trainer shared substrings;
    byte j of a block is ((17s + 5(j%16) + 3(j//16)) % 251) % 16 + 64."""
    n = 600 + 24 * g
    out = bytearray()
    for i in range(n):
        b, j = divmod(i, 48)
        s = (5 * b + 3 * g) % 8
        out.append(((17 * s + 5 * (j % 16) + 3 * (j // 16)) % 251)
                   % 16 + 64)
    return bytes(out)


def _zd_dict() -> ZstdDict:
    return parse_zstd_dictionary(base64.b64decode("".join(_ZD_DICT_B64)))


# parsed once per process (~1.4 ms, as much as a decode); decoding only
# reads it
_ZD_WALK_DICT = _zd_dict()


def _zd_payload(doc_id: int) -> bytes:
    g = doc_id % _ZD_GROUPS
    blob = bytearray(base64.b64decode("".join(_ZD_GOLDEN_B64[g])))
    corrupt = doc_id % 11 == 3
    crc_err = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or crc_err)
    if crc_err:
        blob[-1] ^= 0x01  # stored XXH64 low byte
    elif unsup:
        # reference a DIFFERENT dictionary id: undecodable without
        # those bytes — the typed 'unsupported' boundary (the did
        # field is covered by no checksum, so only the gate fires)
        blob[5] ^= 0x01  # single-segment header: did starts at 5
    elif corrupt:
        del blob[-2:]  # cut inside the 4-byte content checksum
    return bytes(blob)


def _zd_key(doc_id: int) -> tuple:
    return (doc_id % _ZD_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _zd_facts(doc_id: int) -> tuple:
    data, used = decompress_frame(_zd_payload(doc_id), None, _ZD_WALK_DICT)
    csum = wsum = 0
    for i, b in enumerate(data):
        csum += b
        wsum += (i + 1) * b
    return ("decoded", len(data), csum, wsum)


def _zd_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 OR d.doc_id % 13 = 5"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_ZD_GROUPS} AS g FROM documents
    ),
    bytes_ AS (
      SELECT g, unnest(range(0, 600 + 24 * g)) AS i FROM grp
    ),
    vals AS (
      SELECT g, i,
             ((17 * ((5 * (i // 48) + 3 * g) % 8)
               + 5 * ((i % 48) % 16) + 3 * ((i % 48) // 16)) % 251)
               % 16 + 64 AS b
      FROM bytes_
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS content_len,
             CAST(SUM(b) AS BIGINT) AS content_sum,
             CAST(SUM((i + 1) * b) AS BIGINT) AS wsum
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
    JOIN sums s ON d.doc_id % {_ZD_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_zstd_dict_decode", oracle=_zd_oracle())
def ingest_zstd_dict_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dictionary-compressed zstd decode end to end: the CLI-trained
    dictionary file is parsed natively (magic, id, the three FSE
    tables + Huffman table in their in-frame serializations, rep
    offsets, window content) and every fixture frame decodes THROUGH
    it — the frames are single compressed blocks whose sequence
    tables arrive in Repeat_Mode with no prior block, which is only
    legal via the dictionary, and whose matches reach into the dict
    window (34-byte frames for 600+-byte content). The oracle replays
    the closed-form lattice; frames pointing at a different id are
    the typed 'unsupported'; a flipped stored XXH64 byte is
    'crc_error'; a cut inside the checksum is 'corrupt'.

    Scale notes (100 TB): the ~0.5 KB dictionary is the broadcast
    artifact of the small-document regime; per-doc CPU decode, zero
    data shuffles, Arrow-batched mapInPandas."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_zd_batches", _zd_key, _zd_facts,
        "doc_id long, status string, content_len long, content_sum long, "
        "wsum long",
        value_errors=(("CRC", "crc_error"),),
    ).transform(_presentation_sort, "doc_id")
