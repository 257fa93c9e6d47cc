"""Iceberg v2 merge-on-read: position + equality DELETE FILES folded
into the snapshot plan — the half of format v2 every real reader must
implement, completing iceberg.py's status-2 (DELETED data file) fold.

Like the sibling, this is a genuine COMPOSITION over the repo's own
Avro decoder (operators/avrowalk.py): the manifest list, the data and
delete manifests, AND the delete files themselves are all Avro object
containers. The v2 semantics exercised, each non-vacuously:

- manifest-level ``content`` (0 = data, 1 = deletes) splits the tree;
- entry-level ``sequence_number`` gates application: a position
  delete applies to data files with ``data_seq <= delete_seq``; an
  equality delete only to ``data_seq < delete_seq`` (spec §Scan
  Planning) — the fixture plants a position row against a too-new
  m=2 file and an equality id against an m=1 file, both of which
  must fold to ZERO;
- position deletes are (file_path, pos) rows, deduplicated across
  delete files (a duplicated row must not double-count);
- equality deletes are value rows matched against the data files'
  closed-form id ranges (id = 100000*m + 1000*e + k, k < rc);
- a row killed by BOTH mechanisms counts once (the overlap term);
- ids matching nothing, ids under a status-2 (dead) data file, and
  seq-gated rows all fold to zero kills.

FIVE typed verdicts, each non-vacuous: truncation inside a delete
file ('corrupt'), a delete-file path absent from the object store
('missing'), a position row past the target file's record_count
('invalid' — spec: positions must be < the data file's row count),
an unknown delete content id 3 ('unsupported'), plus 'decoded'.

Scale notes (100 TB): merge-on-read planning is still metadata work —
the delete-file TREE is read (KB-sized Avro), never the data files;
at execution time the kills computed here become an anti-join
(data ⟕ position deletes on (file, pos); eq-ids broadcast), which is
exactly how Spark's Iceberg reader schedules it. Arrow-batched
mapInPandas, worker-lifetime fact memo, parallel across fixtures.

Reference: the public Apache Iceberg v2 spec (delete files, sequence
numbers, scan planning); no repo counterpart (SURVEY.md §2l
extension; VERDICT r12 task 3).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .avrowalk import encode_long, walk_avro
from .iceberg import _avro_container, _enc_str
from .walkbatch import decode_walk

_IM_GROUPS = 8

# entry-level sequence number of every delete file in the fixture
_DEL_SEQ = 2

_ENTRY_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": "long"},
            {"name": "sequence_number", "type": "long"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                    ],
                },
            },
        ],
    },
    separators=(",", ":"),
)

_LIST_SCHEMA_V2 = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "content", "type": "int"},
            {"name": "added_files_count", "type": "int"},
        ],
    },
    separators=(",", ":"),
)

_POS_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "position_delete",
        "fields": [
            {"name": "file_path", "type": "string"},
            {"name": "pos", "type": "long"},
        ],
    },
    separators=(",", ":"),
)

_EQ_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "equality_delete",
        "fields": [{"name": "id", "type": "long"}],
    },
    separators=(",", ":"),
)


# ------------------------------------------------- closed-form lattice

def _im_n_manifests(g: int) -> int:
    return 2 + g % 3


def _im_n_entries(g: int, m: int) -> int:
    return 5 + 2 * m + g % 2


def _im_rc(g: int, m: int, e: int) -> int:
    return 500 + 13 * e + 7 * m + 29 * g


def _im_live(e: int) -> bool:
    return e % 4 != 3


def _im_path(g: int, m: int, e: int) -> str:
    return f"data/f{g}_{m}_{e}.parquet"


def _im_base(m: int, e: int) -> int:
    """First id in data file (m, e); ids are base..base+rc-1 and the
    1000/100000 strides keep every file's range disjoint (rc < 1000,
    e < 12, so base(m,e)+rc <= base(m,e+1) and m-blocks never meet)."""
    return 100000 * m + 1000 * e


def _im_npos(g: int, m: int, e: int) -> int:
    """Positions 0..npos-1 of live file (m, e), m <= 1, are
    position-deleted."""
    return (e + m + g) % 4


def _im_eq_ids(g: int) -> list[int]:
    """The five equality-delete ids; see module docstring for what
    each one exercises. rc(g,0,0)-1 >= 4 > max npos, so id A's row is
    never ALSO position-killed; id B targets pos 0 of file (0,1) —
    the overlap case when npos(g,0,1) >= 1."""
    return [
        _im_base(0, 0) + _im_rc(g, 0, 0) - 1,  # A: kills last row of (0,0)
        _im_base(0, 1) + 0,                    # B: pos 0 of (0,1) — overlap
        _im_base(0, 2) + 5000,                 # C: matches nothing (rc<1000)
        _im_base(1, 0) + 0,                    # D: m=1 — seq-gated (2 !< 2)
        _im_base(0, 3) + 1,                    # E: (0,3) is status-2 — dead
    ]


def _im_store(g: int, unsup: bool) -> tuple[bytes, dict[str, bytes]]:
    """(manifest-list blob, {path: blob}) holding the data manifests,
    ONE delete manifest, and the three delete files it references."""
    sync = bytes((g * 7 + i * 3 + 2) % 256 for i in range(16))
    store: dict[str, bytes] = {}
    list_rows: list[bytes] = []

    # data manifests (content=0), data_seq = m + 1
    for m in range(_im_n_manifests(g)):
        path = f"meta/d{g}_{m}.avro"
        rows: list[bytes] = []
        for e in range(_im_n_entries(g, m)):
            body = encode_long(2 if not _im_live(e) else 1)
            body += encode_long(1000 + g)          # snapshot_id
            body += encode_long(m + 1)             # sequence_number
            body += encode_long(0)                 # content: DATA
            body += _enc_str(_im_path(g, m, e))
            body += encode_long(_im_rc(g, m, e))
            body += encode_long(4096 + 97 * e + 11 * m)
            rows.append(body)
        store[path] = _avro_container(_ENTRY_SCHEMA, rows, "null", sync)
        list_rows.append(_enc_str(path) + encode_long(0)
                         + encode_long(len(rows)))

    # position-delete files: pd1 = even-e rows, pd2 = odd-e rows plus
    # the cross-file duplicate (file(0,0), 0) and — when an m=2
    # manifest exists — a seq-gated row against file(2,0)
    pd_rows = [_im_pd_rows(g, 0), _im_pd_rows(g, 1)]
    eq_rows = [encode_long(i) for i in _im_eq_ids(g)]

    del_entries: list[bytes] = []
    for i, (rows, content, schema) in enumerate([
        (pd_rows[0], 1, _POS_SCHEMA),
        (pd_rows[1], 1, _POS_SCHEMA),
        (eq_rows, 2, _EQ_SCHEMA),
    ]):
        path = f"meta/del{g}_{i}.avro"
        store[path] = _avro_container(schema, rows, "deflate", sync)
        body = encode_long(1) + encode_long(1000 + g)
        body += encode_long(_DEL_SEQ)
        body += encode_long(content if not (unsup and i == 2) else 3)
        body += _enc_str(path)
        body += encode_long(len(rows))
        body += encode_long(1024 + 31 * i)
        del_entries.append(body)
    dpath = f"meta/del{g}.avro"
    store[dpath] = _avro_container(_ENTRY_SCHEMA, del_entries, "null", sync)
    list_rows.append(_enc_str(dpath) + encode_long(1)
                     + encode_long(len(del_entries)))

    mlist = _avro_container(_LIST_SCHEMA_V2, list_rows, "null", sync)
    return mlist, store


# ------------------------------------------------------------- walk

def walk_iceberg_mor(mlist: bytes, store: dict[str, bytes]) -> dict:
    """Plan one v2 snapshot with merge-on-read: manifest list →
    data + delete manifests → delete files → exact kill fold."""
    lst = walk_avro(mlist)
    if lst["fields"][:2] != ["manifest_path", "content"]:
        raise ValueError("not a v2 manifest list")

    # pass 1: data files — path → (record_count, data_seq)
    data: dict[str, tuple[int, int]] = {}
    deletes: list[tuple[int, int, str, int]] = []  # (content, seq, path, rc)
    n_data_man = n_del_man = 0
    for mpath, content, _cnt in lst["records"]:
        blob = store.get(mpath)
        if blob is None:
            raise ValueError(f"missing manifest {mpath!r}")
        man = walk_avro(blob)
        if man["fields"] != [
            "status", "snapshot_id", "sequence_number",
            "data_file.content", "data_file.file_path",
            "data_file.record_count", "data_file.file_size_in_bytes",
        ]:
            raise ValueError("manifest schema mismatch")
        if content == 0:
            n_data_man += 1
            for st, _sid, seq, fc, fp, rc, _fs in man["records"]:
                if fc != 0:
                    raise ValueError("delete file in a data manifest")
                if st != 2:
                    data[fp] = (rc, seq)
        elif content == 1:
            n_del_man += 1
            for st, _sid, seq, fc, fp, rc, _fs in man["records"]:
                if st == 2:
                    continue
                deletes.append((fc, seq, fp, rc))
        else:
            raise ValueError(f"unknown manifest content {content}")
    if not deletes:
        raise ValueError("v2 snapshot without delete files")

    # pass 2: read delete files, fold kills per data file
    pos_killed: dict[str, set[int]] = {}
    eq_killed: dict[str, set[int]] = {}
    n_delete_files = 0
    for fc, seq, fp, rc in deletes:
        blob = store.get(fp)
        if blob is None:
            raise ValueError(f"missing delete file {fp!r}")
        df = walk_avro(blob)
        if len(df["records"]) != rc:
            raise ValueError("delete file record_count mismatch")
        n_delete_files += 1
        if fc == 1:                       # position deletes: seq <= del
            if df["fields"] != ["file_path", "pos"]:
                raise ValueError("position delete schema mismatch")
            for tpath, pos in df["records"]:
                tgt = data.get(tpath)
                if tgt is None:
                    continue              # dead or unknown target file
                trc, tseq = tgt
                if tseq > seq:
                    continue              # too new — delete predates it
                if pos < 0 or pos >= trc:
                    raise ValueError(
                        f"position {pos} out of range for {tpath!r}")
                pos_killed.setdefault(tpath, set()).add(pos)
        elif fc == 2:                     # equality deletes: seq < del
            if df["fields"] != ["id"]:
                raise ValueError("equality delete schema mismatch")
            for (val,) in df["records"]:
                # closed-form id layout: id = 100000*m + 1000*e + k
                m, rem = divmod(val, 100000)
                e, k = divmod(rem, 1000)
                tpath = _im_path_of(m, e, data)
                if tpath is None:
                    continue
                trc, tseq = data[tpath]
                if tseq >= seq or k >= trc:
                    continue
                eq_killed.setdefault(tpath, set()).add(k)
        else:
            raise NotImplementedError(f"delete content {fc}")

    live_rows_pre = sum(rc for rc, _ in data.values())
    pos_applied = sum(len(s) for s in pos_killed.values())
    eq_matched = sum(len(s) for s in eq_killed.values())
    overlap = sum(
        len(pos_killed.get(p, set()) & s) for p, s in eq_killed.items())
    return {
        "n_data_manifests": n_data_man,
        "n_delete_manifests": n_del_man,
        "n_delete_files": n_delete_files,
        "live_rows_pre": live_rows_pre,
        "pos_applied": pos_applied,
        "eq_matched": eq_matched,
        "overlap_both": overlap,
        "live_rows_mor": live_rows_pre - pos_applied - eq_matched + overlap,
    }


def _im_path_of(m: int, e: int, data: dict[str, tuple[int, int]]):
    """Reverse the id layout to a candidate path; the group prefix is
    recoverable from any key (all files in one snapshot share g)."""
    for p in data:
        if p.endswith(f"_{m}_{e}.parquet"):
            return p
    return None


# ------------------------------------------------ spark + oracle

def _im_payloads(doc_id: int) -> tuple[bytes, dict[str, bytes]]:
    g = doc_id % _IM_GROUPS
    corrupt = doc_id % 11 == 3
    missing = doc_id % 17 == 2 and not corrupt
    invalid = doc_id % 13 == 5 and not (corrupt or missing)
    unsup = doc_id % 19 == 7 and not (corrupt or missing or invalid)
    mlist, store = _im_store(g, unsup)
    if corrupt:
        p = f"meta/del{g}_0.avro"
        store[p] = store[p][:-9]          # cut inside the final sync
    elif missing:
        del store[f"meta/del{g}_2.avro"]  # dangling equality file
    elif invalid:
        # rebuild pd1 with one out-of-range position appended; the
        # delete manifest's record_count must agree or the count
        # check fires first — so rebuild that entry too
        sync = bytes((g * 7 + i * 3 + 2) % 256 for i in range(16))
        extra = (_enc_str(_im_path(g, 0, 0))
                 + encode_long(_im_rc(g, 0, 0) + 7))
        rows = _im_pd_rows(g, 0) + [extra]
        store[f"meta/del{g}_0.avro"] = _avro_container(
            _POS_SCHEMA, rows, "deflate", sync)
        store[f"meta/del{g}.avro"] = _im_del_manifest(
            g, sync, pd0_count=len(rows))
    return mlist, store


def _im_pd_rows(g: int, parity: int) -> list[bytes]:
    rows: list[bytes] = []
    for m in (0, 1):
        for e in range(_im_n_entries(g, m)):
            if not _im_live(e) or e % 2 != parity:
                continue
            for p in range(_im_npos(g, m, e)):
                rows.append(_enc_str(_im_path(g, m, e)) + encode_long(p))
    if parity == 1:
        rows.append(_enc_str(_im_path(g, 0, 0)) + encode_long(0))
        if _im_n_manifests(g) > 2:
            rows.append(_enc_str(_im_path(g, 2, 0)) + encode_long(0))
    return rows


def _im_del_manifest(g: int, sync: bytes, pd0_count: int) -> bytes:
    counts = [pd0_count, len(_im_pd_rows(g, 1)), len(_im_eq_ids(g))]
    entries: list[bytes] = []
    for i, content in enumerate((1, 1, 2)):
        body = encode_long(1) + encode_long(1000 + g)
        body += encode_long(_DEL_SEQ) + encode_long(content)
        body += _enc_str(f"meta/del{g}_{i}.avro")
        body += encode_long(counts[i]) + encode_long(1024 + 31 * i)
        entries.append(body)
    return _avro_container(_ENTRY_SCHEMA, entries, "null", sync)


def _im_key(doc_id: int) -> tuple:
    return (doc_id % _IM_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5, doc_id % 19 == 7)


def _im_facts(doc_id: int) -> tuple:
    f = walk_iceberg_mor(*_im_payloads(doc_id))
    return (
        "decoded", f["n_data_manifests"],
        f["n_delete_manifests"], f["n_delete_files"],
        f["live_rows_pre"], f["pos_applied"],
        f["eq_matched"], f["overlap_both"],
        f["live_rows_mor"],
    )


def _im_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5 OR d.doc_id % 19 = 7")
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_IM_GROUPS} AS g FROM documents
    ),
    entries AS (
      SELECT g, m, e,
             (e % 4 != 3) AS live,
             500 + 13 * e + 7 * m + 29 * g AS rc,
             CASE WHEN m <= 1 AND e % 4 != 3
                  THEN (e + m + g) % 4 ELSE 0 END AS npos
      FROM grp, LATERAL (SELECT unnest(range(0, 2 + g % 3)) AS m),
           LATERAL (SELECT unnest(range(0, 5 + 2 * m + g % 2)) AS e)
    ),
    sums AS (
      SELECT g,
             CAST(SUM(CASE WHEN live THEN rc ELSE 0 END) AS BIGINT)
               AS live_rows_pre,
             -- the pd2 duplicate (file(0,0), pos 0) only adds a kill
             -- when npos(g,0,0) = g % 4 = 0 left pos 0 alive
             CAST(SUM(npos) + CASE WHEN g % 4 = 0 THEN 1 ELSE 0 END
               AS BIGINT) AS pos_applied,
             -- eq ids: A and B always match; C (no file), D (seq
             -- gate), E (dead file) never do
             CAST(2 AS BIGINT) AS eq_matched,
             -- id B hits pos 0 of file (0,1), position-killed when
             -- npos(g,0,1) = (1+g) % 4 >= 1
             CAST(CASE WHEN (1 + g) % 4 >= 1 THEN 1 ELSE 0 END
               AS BIGINT) AS overlap_both
      FROM entries GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'missing'
                WHEN d.doc_id % 13 = 5 THEN 'invalid'
                WHEN d.doc_id % 19 = 7 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0
                ELSE CAST(2 + d.doc_id % {_IM_GROUPS} % 3 AS INT)
                END AS n_data_manifests,
           CASE WHEN {bad} THEN 0 ELSE 1 END AS n_delete_manifests,
           CASE WHEN {bad} THEN 0 ELSE 3 END AS n_delete_files,
           CASE WHEN {bad} THEN 0 ELSE s.live_rows_pre END
             AS live_rows_pre,
           CASE WHEN {bad} THEN 0 ELSE s.pos_applied END AS pos_applied,
           CASE WHEN {bad} THEN 0 ELSE s.eq_matched END AS eq_matched,
           CASE WHEN {bad} THEN 0 ELSE s.overlap_both END
             AS overlap_both,
           CASE WHEN {bad} THEN 0
                ELSE s.live_rows_pre - s.pos_applied - s.eq_matched
                     + s.overlap_both END AS live_rows_mor
    FROM documents d
    JOIN sums s ON d.doc_id % {_IM_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("iceberg_mor_deletes", oracle=_im_oracle())
def iceberg_mor_deletes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg v2 merge-on-read snapshot planning through the repo's
    own Avro decoder: manifest list → data + delete manifests →
    position/equality delete files → exact kill fold with sequence-
    number gating, cross-file position dedup, and the pos∩eq overlap
    counted once. See the module docstring for the lattice; the
    oracle replays it closed-form.

    Scale notes (100 TB): metadata-tree reads only; at execution the
    kill sets become an anti-join on (file, pos) plus a broadcast of
    the equality ids — Spark-Iceberg's own physical strategy."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_im_batches", _im_key, _im_facts,
        "doc_id long, status string, n_data_manifests int, "
        "n_delete_manifests int, n_delete_files int, live_rows_pre long, "
        "pos_applied long, eq_matched long, overlap_both long, "
        "live_rows_mor long",
        value_errors=(("missing", "missing"), ("out of range", "invalid")),
        worker_memo=True,
    ).transform(_presentation_sort, "doc_id")
