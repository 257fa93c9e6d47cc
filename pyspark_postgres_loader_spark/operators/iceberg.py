"""Iceberg snapshot planning over Avro manifests — the second table
format (next to deltalog.py), and a genuine COMPOSITION: Iceberg's
metadata tree IS a set of Avro object-container files, so this walk
reads a manifest LIST and every manifest it references through
operators/avrowalk.py — the repo's own Avro decoder, block codecs
and all — exactly as a real Iceberg reader plans a snapshot.

The r12 Avro extensions this needs are real Iceberg shapes: manifest
entries carry a NESTED ``data_file`` record and OPTIONAL
(union-with-null) fields; avrowalk._compile_type now decodes nested
records (flattened dotted names) and ["null", X] unions in either
branch order.

Fixture model: a closed-form "object store" (path → blob) per
fixture group holding one manifest list (codec null) and 2-4
manifests (codecs rotating null/deflate/zstandard through our native
decoders). Entries mark every 4th file deleted (status 2) and every
3rd partition value null. FIVE typed verdicts, each non-vacuous:
truncation inside a manifest ('corrupt'), a flipped sync byte in the
manifest list ('mismatch'), an lzo-coded manifest ('unsupported'), a
manifest-list row referencing a path absent from the store
('missing' — the dangling-pointer failure unique to multi-file
metadata trees), plus 'decoded'.

Scale notes (100 TB): snapshot planning is metadata work — the
manifest tree numbers in the thousands of KB-sized Avro files while
the table holds billions of rows; the walk reads manifests, never
data files. Arrow-batched mapInPandas, parallel across fixtures.

Reference: the public Apache Iceberg spec (manifest list / manifest
file schemas, simplified to the walked profile) + the Avro container
spec; no repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .avrowalk import _compress_block, encode_long, walk_avro
from .walkbatch import decode_walk

_IC_GROUPS = 8

_MANIFEST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "file_path", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {"name": "partition_val",
                         "type": ["null", "long"]},
                    ],
                },
            },
        ],
    },
    separators=(",", ":"),
)

_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "added_files_count", "type": "int"},
            {"name": "partition_spec_id", "type": "int"},
        ],
    },
    separators=(",", ":"),
)


def _avro_container(schema: str, rows: list[bytes], codec: str,
                    sync: bytes, declared_codec: str | None = None) -> bytes:
    """Generic Avro container over pre-encoded record bodies (the
    avrowalk fixture builder is specialized to its own 3-field
    schema; this one takes raw record bytes)."""
    out = bytearray(b"Obj\x01")
    meta = [
        (b"avro.schema", schema.encode()),
        (b"avro.codec", (declared_codec or codec).encode()),
    ]
    out += encode_long(len(meta))
    for k, v in meta:
        out += encode_long(len(k)) + k
        out += encode_long(len(v)) + v
    out += encode_long(0)
    out += sync
    body = _compress_block(codec, b"".join(rows))
    out += encode_long(len(rows)) + encode_long(len(body))
    out += body + sync
    return bytes(out)


def _enc_str(s: str) -> bytes:
    b = s.encode()
    return encode_long(len(b)) + b


def _ic_n_manifests(g: int) -> int:
    return 2 + g % 3


def _ic_n_entries(g: int, m: int) -> int:
    return 5 + 2 * m + g % 2


def _ic_entry(g: int, m: int, e: int):
    """(status, record_count, file_size, partition_val|None)."""
    return (
        2 if e % 4 == 3 else 1,
        500 + 13 * e + 7 * m + 29 * g,
        4096 + 97 * e + 11 * m,
        None if e % 3 == 2 else e + m,
    )


def _ic_codec(m: int) -> str:
    return ("null", "deflate", "zstandard")[m % 3]


def _ic_store(g: int, unsup: bool) -> tuple[bytes, dict[str, bytes]]:
    """(manifest-list blob, {path: manifest blob})."""
    sync = bytes((g * 13 + i * 5 + 1) % 256 for i in range(16))
    store: dict[str, bytes] = {}
    list_rows: list[bytes] = []
    for m in range(_ic_n_manifests(g)):
        path = f"meta/m{g}_{m}.avro"
        rows: list[bytes] = []
        for e in range(_ic_n_entries(g, m)):
            status, rc, fs, pv = _ic_entry(g, m, e)
            body = encode_long(status) + encode_long(1000 + g)
            body += _enc_str(f"data/f{g}_{m}_{e}.parquet")
            body += encode_long(rc) + encode_long(fs)
            if pv is None:
                body += encode_long(0)  # union branch: null
            else:
                body += encode_long(1) + encode_long(pv)
            rows.append(body)
        store[path] = _avro_container(
            _MANIFEST_SCHEMA, rows, _ic_codec(m), sync,
            declared_codec="lzo" if unsup and m == 0 else None,
        )
        list_rows.append(
            _enc_str(path) + encode_long(len(rows)) + encode_long(g)
        )
    mlist = _avro_container(_LIST_SCHEMA, list_rows, "null", sync)
    return mlist, store


def walk_iceberg_snapshot(
    mlist: bytes, store: dict[str, bytes]
) -> dict:
    """Plan one snapshot: manifest list → referenced manifests →
    entry fold. A referenced path absent from the store raises
    ValueError with 'missing manifest'."""
    lst = walk_avro(mlist)
    if lst["fields"][:1] != ["manifest_path"]:
        raise ValueError("not a manifest list (first field mismatch)")
    out = {
        "n_manifests": 0, "n_entries": 0, "live_files": 0,
        "deleted_files": 0, "live_rows": 0, "live_bytes": 0,
        "null_partitions": 0,
    }
    for row in lst["records"]:
        path = row[0]
        blob = store.get(path)
        if blob is None:
            raise ValueError(f"missing manifest {path!r}")
        man = walk_avro(blob)
        if man["fields"] != [
            "status", "snapshot_id", "data_file.file_path",
            "data_file.record_count", "data_file.file_size_in_bytes",
            "data_file.partition_val",
        ]:
            raise ValueError("manifest schema mismatch")
        out["n_manifests"] += 1
        for st, _sid, _p, rc, fs, pv in man["records"]:
            out["n_entries"] += 1
            if st == 2:
                out["deleted_files"] += 1
            else:
                out["live_files"] += 1
                out["live_rows"] += rc
                out["live_bytes"] += fs
            if pv is None:
                out["null_partitions"] += 1
    if out["n_manifests"] == 0:
        raise ValueError("manifest list holds no manifests")
    return out


def _ic_payloads(doc_id: int) -> tuple[bytes, dict[str, bytes]]:
    g = doc_id % _IC_GROUPS
    corrupt = doc_id % 11 == 3
    mismatch = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or mismatch)
    missing = doc_id % 19 == 7 and not (corrupt or mismatch or unsup)
    mlist, store = _ic_store(g, unsup)
    if corrupt:
        # truncate the FIRST manifest (the list stays intact: the
        # dangling read is what fails)
        first = f"meta/m{g}_0.avro"
        store[first] = store[first][:-9]
    elif mismatch:
        b = bytearray(mlist)
        b[-1] ^= 0x01  # manifest list's final sync byte
        mlist = bytes(b)
    elif missing:
        del store[f"meta/m{g}_0.avro"]
    return mlist, store


def _ic_key(doc_id: int) -> tuple:
    return (doc_id % _IC_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5, doc_id % 19 == 7)


def _ic_facts(doc_id: int) -> tuple:
    mlist, store = _ic_payloads(doc_id)
    f = walk_iceberg_snapshot(mlist, store)
    return (
        "decoded", f["n_manifests"], f["n_entries"],
        f["live_files"], f["deleted_files"],
        f["live_rows"], f["live_bytes"],
        f["null_partitions"],
    )


def _ic_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5 OR d.doc_id % 19 = 7")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_IC_GROUPS} AS g FROM documents
    ),
    manifests AS (
      SELECT g, unnest(range(0, 2 + g % 3)) AS m FROM grp
    ),
    entries AS (
      SELECT g, m, e,
             CASE WHEN e % 4 = 3 THEN 2 ELSE 1 END AS status,
             500 + 13 * e + 7 * m + 29 * g AS rc,
             4096 + 97 * e + 11 * m AS fs,
             CASE WHEN e % 3 = 2 THEN 1 ELSE 0 END AS pnull
      FROM manifests, LATERAL (
        SELECT unnest(range(0, 5 + 2 * m + g % 2)) AS e
      )
    ),
    sums AS (
      SELECT g,
             CAST(2 + g % 3 AS INT) AS n_manifests,
             CAST(COUNT(*) AS BIGINT) AS n_entries,
             CAST(SUM(CASE WHEN status != 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS live_files,
             CAST(SUM(CASE WHEN status = 2 THEN 1 ELSE 0 END)
               AS BIGINT) AS deleted_files,
             CAST(SUM(CASE WHEN status != 2 THEN rc ELSE 0 END)
               AS BIGINT) AS live_rows,
             CAST(SUM(CASE WHEN status != 2 THEN fs ELSE 0 END)
               AS BIGINT) AS live_bytes,
             CAST(SUM(pnull) AS BIGINT) AS null_partitions
      FROM entries GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'mismatch'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                WHEN d.doc_id % 19 = 7 THEN 'missing'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_manifests END AS n_manifests,
           CASE WHEN {bad} THEN 0 ELSE s.n_entries END AS n_entries,
           CASE WHEN {bad} THEN 0 ELSE s.live_files END AS live_files,
           CASE WHEN {bad} THEN 0 ELSE s.deleted_files END
             AS deleted_files,
           CASE WHEN {bad} THEN 0 ELSE s.live_rows END AS live_rows,
           CASE WHEN {bad} THEN 0 ELSE s.live_bytes END AS live_bytes,
           CASE WHEN {bad} THEN 0 ELSE s.null_partitions END
             AS null_partitions
    FROM documents d
    JOIN sums s ON d.doc_id % {_IC_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("iceberg_manifest_snapshot", oracle=_ic_oracle())
def iceberg_manifest_snapshot(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg snapshot planning through the repo's own Avro decoder:
    manifest list → referenced manifest files (codecs rotating
    null/deflate/zstandard through our natives) → entry fold into
    live/deleted files, rows, bytes and null partition values —
    nested data_file records and the optional ["null","long"]
    partition field exercise the r12 Avro schema extensions. Five
    typed verdicts, each non-vacuous: manifest truncation
    ('corrupt'), a flipped manifest-list sync byte ('mismatch'), an
    lzo-coded manifest ('unsupported'), a dangling manifest path
    ('missing'). The oracle replays the entry lattice.

    Scale notes (100 TB): snapshot planning reads the KB-sized
    metadata tree, never data files — the point of the format; the
    walk is Arrow-batched and parallel across fixtures."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_ic_batches", _ic_key, _ic_facts,
        "doc_id long, status string, n_manifests int, n_entries long, "
        "live_files long, deleted_files long, live_rows long, "
        "live_bytes long, null_partitions long",
        value_errors=(
            ("missing manifest", "missing"),
            ("sync marker mismatch", "mismatch"),
        ),
    ).transform(_presentation_sort, "doc_id")
