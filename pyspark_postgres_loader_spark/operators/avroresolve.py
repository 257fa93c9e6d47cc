"""Avro READER-vs-WRITER schema resolution — the half of the Avro
spec the plain container walk (operators/avrowalk.py) doesn't need:
every long-lived Avro pipeline evolves its schema, so a reader must
consume files written under an OLDER schema. Implements the public
spec's "Schema Resolution" rules natively:

- record fields are matched by NAME, not position — the reader's
  field order can differ arbitrarily from the writer's;
- writer-only fields are decoded AND DISCARDED (they still occupy
  bytes, so skipping is a real decode, not a seek);
- reader-only fields take the reader schema's ``default``; a
  reader-only field WITHOUT a default is the spec's hard error;
- primitive promotions: int→long / int→float / int→double /
  long→float / long→double / float→double, and string↔bytes;
  any other writer→reader pair is unresolvable.

The resolution plan is compiled ONCE per (writer, reader) pair and
applied per record: decode in writer order, emit in reader order.
Non-record / non-primitive resolution is the honest typed boundary.

Correctness evidence: the container layout reuses the spec-pinned
machinery of avrowalk.py (its known-byte tests), blocks are
compressed by INDEPENDENT encoders (stdlib zlib / pyarrow zstd) and
inflated through this repo's own decoders, and the DuckDB oracle
replays the closed-form resolved lattice — writer-order bytes in,
reader-order values out — without seeing an Avro byte. Typed
verdicts, each non-vacuous: truncation ('corrupt'), a reader schema
whose new field lacks a default ('no_default'), a reader demanding
an unresolvable promotion — string name → long ('unsupported').

Scale notes (100 TB): resolution compiles to a flat plan applied in
an Arrow-batched ``mapInPandas``; parallel across files; the plan is
per-task constant (broadcast-equivalent); only integer facts
re-enter the JVM.

Reference: Apache Avro specification, "Schema Resolution" (public);
no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .avrowalk import (
    _AVRO_MAGIC,
    _decode_block_data,
    _read_bytes,
    _read_value,
    encode_long,
    zigzag_long,
)
from .walkbatch import decode_walk

_PRIMITIVES = {"null", "boolean", "int", "long", "float", "double",
               "bytes", "string"}

# writer type → reader type pairs the spec allows beyond identity
_PROMOTIONS = {
    ("int", "long"), ("int", "float"), ("int", "double"),
    ("long", "float"), ("long", "double"), ("float", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def _prim_fields(schema: dict, which: str) -> list[tuple[str, str, dict]]:
    """Record schema → [(name, primitive type, field dict)]; the
    resolution scope is flat primitive records (honest boundary)."""
    if not isinstance(schema, dict) or schema.get("type") != "record":
        raise NotImplementedError(f"avro {which} schema is not a record")
    out: list[tuple[str, str, dict]] = []
    for f in schema.get("fields", []):
        if not isinstance(f, dict) or not isinstance(f.get("name"), str):
            raise ValueError(f"avro {which} field is not a named object")
        t = f.get("type")
        if isinstance(t, dict) and isinstance(t.get("type"), str):
            t = t["type"]
        if not isinstance(t, str) or t not in _PRIMITIVES:
            raise NotImplementedError(
                f"avro {which} field type {t!r} in resolution"
            )
        out.append((f["name"], t, f))
    if not out:
        raise ValueError(f"avro {which} record schema has no fields")
    return out


def _convert(v, wt: str, rt: str):
    if wt == rt:
        return v
    if rt in ("float", "double"):
        return float(v)
    if rt == "long":
        return v
    if rt == "bytes":
        return v.encode("utf-8")
    # bytes → string is the remaining promotion
    return v.decode("utf-8")


def compile_resolution(writer: dict, reader: dict) -> dict:
    """Compile the spec's resolution rules into a flat plan:
    ``steps`` = [(writer type, reader slot | None, reader type)] in
    WRITER decode order, ``defaults`` = [(reader slot, value)],
    ``names`` = reader-order output names."""
    wf = _prim_fields(writer, "writer")
    rf = _prim_fields(reader, "reader")
    r_by_name = {n: (slot, t, f) for slot, (n, t, f) in enumerate(rf)}
    steps: list[tuple[str, int | None, str]] = []
    matched = set()
    for name, wt, _ in wf:
        if name in r_by_name:
            slot, rt, _f = r_by_name[name]
            if wt != rt and (wt, rt) not in _PROMOTIONS:
                raise NotImplementedError(
                    f"avro unresolvable promotion {wt!r} -> {rt!r}"
                )
            steps.append((wt, slot, rt))
            matched.add(name)
        else:
            steps.append((wt, None, wt))  # decode and discard
    defaults: list[tuple[int, object]] = []
    for slot, (name, rt, f) in enumerate(rf):
        if name in matched:
            continue
        if "default" not in f:
            raise ValueError(
                f"avro reader field {name!r} has no default and no "
                "writer counterpart"
            )
        d = f["default"]
        if rt == "bytes" and isinstance(d, str):
            # spec: bytes defaults are JSON strings of ISO-8859-1 bytes
            d = d.encode("latin-1")
        if rt in ("float", "double"):
            d = float(d)
        defaults.append((slot, d))
    return {
        "steps": steps,
        "defaults": defaults,
        "names": [n for n, _, _ in rf],
    }


def walk_avro_resolved(data: bytes, reader_schema: dict) -> dict:
    """Walk one Avro object container under a READER schema → records
    in reader field order. Raises like avrowalk.walk_avro plus the
    resolution-specific typed errors from compile_resolution."""
    if len(data) < 4 or data[:4] != _AVRO_MAGIC:
        raise ValueError("bad avro magic")
    pos = 4
    meta: dict[str, bytes] = {}
    while True:
        count, pos = zigzag_long(data, pos)
        if count == 0:
            break
        if count < 0:
            _, pos = zigzag_long(data, pos)
            count = -count
        for _ in range(count):
            k, pos = _read_bytes(data, pos)
            v, pos = _read_bytes(data, pos)
            meta[k.decode("utf-8")] = v
    if "avro.schema" not in meta:
        raise ValueError("avro metadata lacks avro.schema")
    try:
        writer_schema = json.loads(meta["avro.schema"])
    except json.JSONDecodeError as exc:
        raise ValueError(f"avro schema is not JSON ({exc})") from exc
    codec = meta.get("avro.codec", b"null").decode("utf-8")
    plan = compile_resolution(writer_schema, reader_schema)
    width = len(plan["names"])
    if pos + 16 > len(data):
        raise ValueError("avro header sync truncated")
    sync = data[pos : pos + 16]
    pos += 16
    records: list[tuple] = []
    n_blocks = 0
    while pos < len(data):
        count, pos = zigzag_long(data, pos)
        if count <= 0:
            raise ValueError("avro block record count must be positive")
        if count > 1 << 24:
            # all-null-field records legally consume ZERO body bytes,
            # so the size field cannot bound the count — cap it before
            # it sizes the decode loop (the width-0 allocation lesson)
            raise ValueError("implausible avro block record count")
        size, pos = zigzag_long(data, pos)
        if size < 0 or pos + size + 16 > len(data):
            raise ValueError("avro block truncated")
        raw = _decode_block_data(codec, data[pos : pos + size])
        pos += size
        if data[pos : pos + 16] != sync:
            raise ValueError("avro block sync marker mismatch")
        pos += 16
        rpos = 0
        for _ in range(count):
            out: list = [None] * width
            for wt, slot, rt in plan["steps"]:
                v, rpos = _read_value(wt, raw, rpos)
                if slot is not None:
                    out[slot] = _convert(v, wt, rt)
            for slot, d in plan["defaults"]:
                out[slot] = d
            records.append(tuple(out))
        if rpos != len(raw):
            raise ValueError("avro block has bytes beyond its records")
        n_blocks += 1
    if n_blocks == 0:
        raise ValueError("avro container has no data blocks")
    return {
        "codec": codec,
        "fields": plan["names"],
        "n_blocks": n_blocks,
        "records": records,
    }


# ------------------------------------------------ fixture

_RS_GROUPS = 9
_RS_CODECS = ("null", "deflate", "zstandard")

# the WRITER (v1) schema the files carry — note field order
_RS_WRITER = {
    "type": "record",
    "name": "DocV1",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "extra", "type": "long"},   # dropped by the reader
        {"name": "name", "type": "string"},
        {"name": "val", "type": "int"},      # promoted by the reader
    ],
}

# the READER (v2) schema: different order, a promotion chain
# (val int→double, name string→bytes), a dropped field, a defaulted
# new field — every resolution rule in one schema
_RS_READER = {
    "type": "record",
    "name": "DocV2",
    "fields": [
        {"name": "name", "type": "bytes"},
        {"name": "val", "type": "double"},
        {"name": "id", "type": "long"},
        {"name": "bonus", "type": "long", "default": 7},
    ],
}

# reader variants that must FAIL in a typed way
_RS_READER_NO_DEFAULT = {
    "type": "record",
    "name": "DocV3",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "brand_new", "type": "long"},  # no default → error
    ],
}
_RS_READER_BAD_PROMOTION = {
    "type": "record",
    "name": "DocV4",
    "fields": [
        {"name": "name", "type": "long"},  # string → long: unresolvable
    ],
}


def _rs_n(g: int) -> int:
    return 1600 + 89 * g


def _rs_record(g: int, i: int) -> tuple[int, int, str, int]:
    """Writer-order record (id, extra, name, val)."""
    return (
        (i * 19 + 31 * g) % 12_000,
        (i * 7 + g) % 1_000,
        "n" + str((i * 5 + g) % 83),
        (i * i * 3 + 499 * g) % 30_000,
    )


def _rs_container(g: int) -> bytes:
    """Writer-schema container via avrowalk's assembler, generalized
    to the 4-field writer record by swapping its schema/encoder."""
    recs = [_rs_record(g, i) for i in range(_rs_n(g))]
    codec = _RS_CODECS[g % len(_RS_CODECS)]
    sync = bytes((g * 29 + i * 11 + 5) % 256 for i in range(16))
    return build_avro_generic(
        json.dumps(_RS_WRITER, separators=(",", ":")),
        [_rs_encode(r) for r in recs],
        codec,
        sync,
        block_records=400,
    )


def _rs_encode(rec: tuple[int, int, str, int]) -> bytes:
    rid, extra, name, val = rec
    nb = name.encode("utf-8")
    return (encode_long(rid) + encode_long(extra)
            + encode_long(len(nb)) + nb + encode_long(val))


def build_avro_generic(
    schema_json: str,
    encoded_records: list[bytes],
    codec: str,
    sync: bytes,
    block_records: int,
) -> bytes:
    """Hand-assembled container around pre-encoded record bodies —
    the layout twin of avrowalk.build_avro_container for arbitrary
    record schemas."""
    from .avrowalk import _compress_block

    out = bytearray(_AVRO_MAGIC)
    meta = [
        (b"avro.schema", schema_json.encode()),
        (b"avro.codec", codec.encode()),
    ]
    out += encode_long(len(meta))
    for k, v in meta:
        out += encode_long(len(k)) + k
        out += encode_long(len(v)) + v
    out += encode_long(0)
    out += sync
    for start in range(0, len(encoded_records), block_records):
        chunk = encoded_records[start : start + block_records]
        raw = b"".join(chunk)
        body = _compress_block(codec, raw)
        out += encode_long(len(chunk)) + encode_long(len(body))
        out += body + sync
    return bytes(out)


def _rs_case(doc_id: int) -> tuple[bytes, dict]:
    g = doc_id % _RS_GROUPS
    corrupt = doc_id % 11 == 3
    no_default = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or no_default)
    blob = _rs_container(g)
    if corrupt:
        blob = blob[:-8]
    reader = (_RS_READER_NO_DEFAULT if no_default
              else _RS_READER_BAD_PROMOTION if unsup
              else _RS_READER)
    return blob, reader


# ------------------------------------------------ spark + oracle


def _rs_key(doc_id: int) -> tuple:
    return (doc_id % _RS_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _rs_facts(doc_id: int) -> tuple:
    blob, reader = _rs_case(doc_id)
    f = walk_avro_resolved(blob, reader)
    # reader order: (name bytes, val double, id long, bonus)
    name_len = sum(len(r[0]) for r in f["records"])
    val_sum = int(sum(r[1] for r in f["records"]))
    id_sum = sum(r[2] for r in f["records"])
    bonus_sum = sum(r[3] for r in f["records"])
    return ("decoded", len(f["records"]),
                  id_sum, val_sum, name_len, bonus_sum)


def _rs_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_RS_GROUPS} AS g FROM documents
    ),
    recs AS (
      SELECT g, unnest(range(0, 1600 + 89 * g)) AS i FROM grp
    ),
    vals AS (
      SELECT g,
             (i * 19 + 31 * g) % 12000 AS id,
             1 + LENGTH(CAST((i * 5 + g) % 83 AS VARCHAR)) AS name_len,
             (i * i * 3 + 499 * g) % 30000 AS val
      FROM recs
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_records,
             CAST(SUM(id) AS BIGINT) AS id_sum,
             CAST(SUM(val) AS BIGINT) AS val_sum,
             CAST(SUM(name_len) AS BIGINT) AS name_len_sum,
             CAST(7 * COUNT(*) AS BIGINT) AS bonus_sum
      FROM vals GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'no_default'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_records END AS n_records,
           CASE WHEN {bad} THEN 0 ELSE s.id_sum END AS id_sum,
           CASE WHEN {bad} THEN 0 ELSE s.val_sum END AS val_sum,
           CASE WHEN {bad} THEN 0 ELSE s.name_len_sum END
             AS name_len_sum,
           CASE WHEN {bad} THEN 0 ELSE s.bonus_sum END AS bonus_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_RS_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_avro_schema_resolution", oracle=_rs_oracle())
def ingest_avro_schema_resolution(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Avro schema EVOLUTION read: files written under a v1 writer
    schema are consumed under a v2 reader schema exercising every
    resolution rule at once — name-based field matching across a
    reordered record, a writer-only field decoded and discarded, a
    reader-only field filled from its default, and the promotion
    chain int→double plus string→bytes — with block codecs still
    routed through this repo's own native decoders. The DuckDB
    oracle replays the RESOLVED lattice (reader order, promoted
    values, defaults) and never sees an Avro byte. Typed verdicts,
    each non-vacuous: truncation ('corrupt'), a reader field with no
    default and no writer counterpart ('no_default' — the spec's
    hard error), an unresolvable string→long promotion
    ('unsupported').

    Scale notes (100 TB): the resolution plan compiles once per
    (writer, reader) pair and is applied record-at-a-time inside an
    Arrow-batched mapInPandas; parallel across files; integer facts
    only re-enter the JVM."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_rs_batches", _rs_key, _rs_facts,
        "doc_id long, status string, n_records long, id_sum long, "
        "val_sum long, name_len_sum long, bonus_sum long",
        value_errors=(("no default", "no_default"),),
    ).transform(_presentation_sort, "doc_id")
