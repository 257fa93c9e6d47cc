"""Avro SINGLE-OBJECT encoding + CRC-64-AVRO schema fingerprints —
the third and final leg of the Avro family (object container:
avrowalk.py; reader-schema resolution: avroresolve.py; this: the
schema-registry wire format). Kafka-style pipelines ship individual
records as ``C3 01 + 8-byte little-endian CRC-64-AVRO fingerprint of
the writer schema's PARSING CANONICAL FORM + Avro binary body`` —
a consumer resolves the fingerprint against its schema store and
refuses messages it cannot identify.

Implemented from the public Avro spec, all three layers:

- **Parsing Canonical Form**: attribute stripping to the spec's
  field whitelist, object-key ordering (name, type, fields, symbols,
  items, values, size), primitive-object collapse ({"type":"long"} →
  "long"), fullname resolution (namespace folded into name), minimal
  JSON — so EQUIVALENT schemas (attribute order shuffled, docs/
  aliases added, namespace split out) fingerprint IDENTICALLY, which
  the tests pin;
- **CRC-64-AVRO**: the spec's bit-reversed 64-bit CRC with
  polynomial/EMPTY 0xC15D213AA4D7A795, table-driven exactly as the
  spec's pseudocode builds it;
- **the message walk**: a topic-dump blob of concatenated
  single-object messages; per message the marker is checked, the
  fingerprint looked up in the consumer's schema store (an unknown
  fingerprint is the typed 'unknown_schema' verdict — the failure
  mode this format exists to make explicit), and the body decoded
  through avrowalk's own record decoder with a strict
  consumed-exactly check.

Fixture lattice: per group, messages alternate between the Doc
schema (avrowalk's 3-field record) and a second Metric schema; every
doc's expected sums replay closed-form. Verdicts, each non-vacuous:
a flipped marker byte ('corrupt'), a fingerprint not in the store
('unknown_schema'), a truncated final body ('corrupt'), plus
'decoded'.

Scale notes (100 TB): single-object decode is embarrassingly
parallel (per-message, no container state); the fingerprint check is
an 8-byte hash lookup before any decode work — exactly why schema
registries scale to millions of messages/sec. Arrow-batched
mapInPandas, worker-lifetime memo.

Reference: the public Apache Avro specification (single object
encoding, schema fingerprints, Parsing Canonical Form); no repo
counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import json
import struct

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .avrowalk import (
    _decode_node,
    _record_fields,
    encode_long,
)
from .walkbatch import decode_walk

_EMPTY64 = 0xC15D213AA4D7A795

_FP_TABLE: list[int] | None = None


def _fp_table() -> list[int]:
    global _FP_TABLE
    if _FP_TABLE is None:
        table = []
        for i in range(256):
            fp = i
            for _ in range(8):
                fp = (fp >> 1) ^ (_EMPTY64 & -(fp & 1))
            table.append(fp)
        _FP_TABLE = table
    return _FP_TABLE


def crc64_avro(data: bytes) -> int:
    """The spec's CRC-64-AVRO fingerprint (bit-reversed, EMPTY =
    0xC15D213AA4D7A795)."""
    table = _fp_table()
    fp = _EMPTY64
    for b in data:
        fp = (fp >> 8) ^ table[(fp ^ b) & 0xFF]
    return fp


# ------------------------------------- Parsing Canonical Form

_FIELD_ORDER = ("name", "type", "fields", "symbols", "items",
                "values", "size")
_PRIMS = {"null", "boolean", "int", "long", "float", "double",
          "bytes", "string"}


def canonical_form(schema) -> str:
    """The spec's Parsing Canonical Form as a minimal-JSON string."""
    return _c14n(schema, None)


def _fullname(name: str, namespace: str | None,
              enclosing: str | None) -> str:
    if "." in name:
        return name
    ns = namespace if namespace is not None else enclosing
    return f"{ns}.{name}" if ns else name


def _c14n(s, enclosing_ns: str | None) -> str:
    if isinstance(s, str):
        if s in _PRIMS:
            return f'"{s}"'
        return json.dumps(
            _fullname(s, None, enclosing_ns), separators=(",", ":"))
    if isinstance(s, list):  # union
        return "[" + ",".join(_c14n(b, enclosing_ns) for b in s) + "]"
    if not isinstance(s, dict):
        raise ValueError("unrecognized schema node")
    t = s.get("type")
    # PCF transformation order (Avro spec): [STRIP] drops every
    # attribute outside {name,type,fields,symbols,items,values,size}
    # FIRST, then [PRIMITIVES] collapses any object where only "type"
    # remains — so {"type":"bytes","precision":4,"logicalType":…}
    # canonicalizes to '"bytes"', whatever extra attributes it carried
    if t in _PRIMS and not (set(s) & (set(_FIELD_ORDER) - {"type"})):
        return f'"{t}"'  # primitive-object collapse
    out = []
    ns = s.get("namespace")
    if t in ("record", "enum", "fixed"):
        full = _fullname(s["name"], ns, enclosing_ns)
        child_ns = full.rsplit(".", 1)[0] if "." in full else None
    else:
        full = None
        child_ns = enclosing_ns
    for key in _FIELD_ORDER:
        if key == "name" and full is not None:
            out.append(f'"name":{json.dumps(full, separators=(",", ":"))}')
        elif key == "type" and t is not None:
            if key not in s:
                continue
            if isinstance(t, str) and t in (
                    "record", "enum", "fixed", "array", "map"):
                out.append(f'"type":"{t}"')
            else:
                out.append(f'"type":{_c14n(t, child_ns)}')
        elif key in s and key not in ("name", "type"):
            v = s[key]
            if key == "fields":
                body = ",".join(
                    "{" + f'"name":{json.dumps(f["name"], separators=(",", ":"))},'
                    f'"type":{_c14n(f["type"], child_ns)}' + "}"
                    for f in v)
                out.append(f'"fields":[{body}]')
            elif key == "symbols":
                out.append('"symbols":'
                           + json.dumps(v, separators=(",", ":")))
            elif key in ("items", "values"):
                out.append(f'"{key}":{_c14n(v, child_ns)}')
            elif key == "size":
                out.append(f'"size":{int(v)}')
    return "{" + ",".join(out) + "}"


def schema_fingerprint(schema) -> int:
    return crc64_avro(canonical_form(schema).encode())


# -------------------------------------------- message build + walk

_MARKER = b"\xc3\x01"

_DOC_SCHEMA = {
    "type": "record",
    "name": "Doc",
    "fields": [
        {"name": "id", "type": "long"},
        {"name": "val", "type": "long"},
        {"name": "name", "type": "string"},
    ],
}

_METRIC_SCHEMA = {
    "type": "record",
    "name": "Metric",
    "namespace": "telemetry",
    "fields": [
        {"name": "k", "type": "long"},
        {"name": "gauge", "type": "long"},
    ],
}


def encode_single_object(schema, body: bytes) -> bytes:
    fp = schema_fingerprint(schema)
    return _MARKER + fp.to_bytes(8, "little") + body


def walk_single_objects(data: bytes, store: dict[int, dict]) -> dict:
    """Walk a concatenation of single-object messages against a
    fingerprint → schema store. Structural damage is typed."""
    try:
        return _walk_so(data, store)
    except (IndexError, struct.error, TypeError, KeyError) as exc:
        raise ValueError(f"malformed single-object stream ({exc})") from exc


def _walk_so(data: bytes, store: dict[int, dict]) -> dict:
    pos = 0
    n_msgs = 0
    per_schema: dict[str, int] = {}
    id_sum = val_sum = name_len = 0
    while pos < len(data):
        if data[pos : pos + 2] != _MARKER:
            raise ValueError("bad single-object marker")
        if pos + 10 > len(data):
            raise ValueError("truncated fingerprint")
        fp = int.from_bytes(data[pos + 2 : pos + 10], "little")
        schema = store.get(fp)
        if schema is None:
            raise ValueError(f"unknown schema fingerprint {fp:#x}")
        pos += 10
        fields = _record_fields(schema)
        row = []
        for _name, node in fields:
            v, pos = _decode_node(node, data, pos)
            row.extend(v)
        n_msgs += 1
        name = schema["name"]
        per_schema[name] = per_schema.get(name, 0) + 1
        if name == "Doc":
            id_sum += row[0]
            val_sum += row[1]
            name_len += len(row[2])
        else:
            id_sum += row[0]
            val_sum += row[1]
    return {
        "n_messages": n_msgs,
        "n_doc": per_schema.get("Doc", 0),
        "n_metric": per_schema.get("Metric", 0),
        "id_sum": id_sum,
        "val_sum": val_sum,
        "name_len_sum": name_len,
    }


# ------------------------------------------------ fixture + oracle

_SO_GROUPS = 8


def _so_doc_body(g: int, i: int) -> bytes:
    rid = (i * 13 + 7 * g) % 5000
    val = (i * i * 3 + 31 * g) % 40000
    nm = f"u{(i * 5 + g) % 83}".encode()
    return (encode_long(rid) + encode_long(val)
            + encode_long(len(nm)) + nm)


def _so_metric_body(g: int, i: int) -> bytes:
    return (encode_long((i * 11 + g) % 3000)
            + encode_long((i * 7 + 5 * g) % 9000))


def _so_n(g: int) -> int:
    return 600 + 40 * g


def _so_payload(doc_id: int) -> bytes:
    g = doc_id % _SO_GROUPS
    corrupt = doc_id % 11 == 3
    unknown = doc_id % 17 == 2 and not corrupt
    out = bytearray()
    for i in range(_so_n(g)):
        if i % 3 == 2:
            msg = encode_single_object(_METRIC_SCHEMA,
                                       _so_metric_body(g, i))
        else:
            msg = encode_single_object(_DOC_SCHEMA, _so_doc_body(g, i))
        if unknown and i == 5:
            b = bytearray(msg)
            b[6] ^= 0xFF  # inside the fingerprint, marker intact
            msg = bytes(b)
        out += msg
    if corrupt:
        del out[-3:]  # truncate the final body
    return bytes(out)


_SO_STORE = {
    schema_fingerprint(_DOC_SCHEMA): _DOC_SCHEMA,
    schema_fingerprint(_METRIC_SCHEMA): _METRIC_SCHEMA,
}

def _so_key(doc_id: int) -> tuple:
    return (doc_id % _SO_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2)


def _so_facts(doc_id: int) -> tuple:
    f = walk_single_objects(_so_payload(doc_id), _SO_STORE)
    return (
        "decoded", f["n_messages"], f["n_doc"], f["n_metric"],
        f["id_sum"], f["val_sum"], f["name_len_sum"],
    )


def _so_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_SO_GROUPS} AS g FROM documents
    ),
    msgs AS (
      SELECT r.g, i, (i % 3 = 2) AS is_metric,
             (i * 13 + 7 * r.g) % 5000 AS rid,
             (i * i * 3 + 31 * r.g) % 40000 AS val,
             1 + LENGTH(CAST((i * 5 + r.g) % 83 AS VARCHAR)) AS nlen,
             (i * 11 + r.g) % 3000 AS mk,
             (i * 7 + 5 * r.g) % 9000 AS mgauge
      FROM (SELECT g, 600 + 40 * g AS n FROM grp) r,
           LATERAL (SELECT unnest(range(0, r.n)) AS i)
    ),
    sums AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_messages,
             CAST(SUM(CASE WHEN is_metric THEN 0 ELSE 1 END)
               AS BIGINT) AS n_doc,
             CAST(SUM(CASE WHEN is_metric THEN 1 ELSE 0 END)
               AS BIGINT) AS n_metric,
             CAST(SUM(CASE WHEN is_metric THEN mk ELSE rid END)
               AS BIGINT) AS id_sum,
             CAST(SUM(CASE WHEN is_metric THEN mgauge ELSE val END)
               AS BIGINT) AS val_sum,
             CAST(SUM(CASE WHEN is_metric THEN 0 ELSE nlen END)
               AS BIGINT) AS name_len_sum
      FROM msgs GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'unknown_schema'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_messages END AS n_messages,
           CASE WHEN {bad} THEN 0 ELSE s.n_doc END AS n_doc,
           CASE WHEN {bad} THEN 0 ELSE s.n_metric END AS n_metric,
           CASE WHEN {bad} THEN 0 ELSE s.id_sum END AS id_sum,
           CASE WHEN {bad} THEN 0 ELSE s.val_sum END AS val_sum,
           CASE WHEN {bad} THEN 0 ELSE s.name_len_sum END
             AS name_len_sum
    FROM documents d
    JOIN sums s ON d.doc_id % {_SO_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("ingest_avro_single_object", oracle=_so_oracle())
def ingest_avro_single_object(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Avro single-object messages (the schema-registry wire format):
    per doc a topic-dump of C3 01 + CRC-64-AVRO fingerprint + body
    messages alternating between two schemas, walked against a
    fingerprint store with the body decoded through avrowalk's own
    record decoder. The canonical-form + fingerprint layers mean
    equivalent schemas resolve identically (pinned in tests); an
    unregistered fingerprint is the typed 'unknown_schema' verdict.
    The oracle replays message counts and sums closed-form.

    Scale notes (100 TB): per-message decode with no container
    state — embarrassingly parallel; the 8-byte fingerprint lookup
    rejects foreign messages before any decode work."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_so_batches", _so_key, _so_facts,
        "doc_id long, status string, n_messages long, n_doc long, "
        "n_metric long, id_sum long, val_sum long, name_len_sum long",
        value_errors=(("unknown schema", "unknown_schema"),),
        worker_memo=True,
    ).transform(_presentation_sort, "doc_id")
