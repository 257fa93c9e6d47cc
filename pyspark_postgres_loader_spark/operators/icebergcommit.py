"""Iceberg WRITE-then-READ commit closure — the engine PRODUCES a
valid snapshot append (a new manifest Avro container plus a rewritten
manifest-list, both through this repo's own Avro encoder) and then
RE-PLANS the committed snapshot through the same walk every other
Iceberg query uses (iceberg.py's ``walk_iceberg_snapshot``). Until
r14 every table-format query only replayed fixture-synthesized logs;
this closes the loop from the write side, the way bloomfilter.py did
for parquet (written AND read by us).

``append_snapshot`` is the commit operation:

- it READS the base manifest list with ``walk_avro`` (so the append
  is planned against decoded state, not byte-copied bytes),
- encodes the new manifest's entry records + container framing
  through ``_avro_container``/``encode_long`` (deflate-compressed
  block — our encoder, whose output only our independent decoder can
  vouch for),
- re-encodes the manifest list from the PARSED base rows plus the
  new row — a byte-level copy could hide an encoder bug; re-encoding
  from values cannot.

The oracled property is the closure itself: the re-planned totals of
the committed snapshot must equal base-walk + appended-input, where
the two sides of the equality travel through disjoint code paths
(write→read vs direct fold + arithmetic). ``eq_fold`` carries that
verdict per row; the DuckDB oracle replays both the base lattice and
the append lattice closed-form and never sees an Avro byte.

Typed verdicts: the WRITTEN manifest truncated after commit
('corrupt_commit' — the closure must fail loudly, not return stale
base facts), the commit's manifest-list row pointing at a manifest
that was never persisted ('missing' — the failed-write case), and a
committed manifest declaring an LZO codec ('unsupported').

Scale notes (100 TB): a snapshot commit is metadata work — the
manifest holds KB-scale entries while the data files hold the
table; write-side closure is what guarantees interop (a writer no
reader can re-plan has corrupted the table). Per-file map-side
decode, memoized per worker; only integer facts re-enter the JVM.

Reference: public Apache Iceberg spec (manifest list / manifest /
snapshot commit); base lattice shared with operators/iceberg.py; no
repo counterpart (SURVEY.md §2l extension).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, SparkSession

from ..registry import register
from ..tables import load_table
from ..functions.planctl import presentation_sort as _presentation_sort
from .avrowalk import encode_long, walk_avro
from .iceberg import (
    _IC_GROUPS,
    _LIST_SCHEMA,
    _MANIFEST_SCHEMA,
    _avro_container,
    _enc_str,
    _ic_store,
    walk_iceberg_snapshot,
)
from .walkbatch import decode_walk


def _new_entries(g: int) -> list[tuple[int, int, int, int | None]]:
    """The append's closed-form (status, record_count, file_size,
    partition_val|None) entries — an APPEND commit, so every entry
    is status 1 (ADDED)."""
    return [
        (1, 700 + 17 * e + 3 * g, 2048 + 13 * e + 5 * g,
         None if e % 4 == 1 else e + 7)
        for e in range(4 + g % 3)
    ]


def append_snapshot(
    mlist: bytes,
    store: dict[str, bytes],
    entries: list[tuple[int, int, int, int | None]],
    snapshot_id: int,
    manifest_path: str,
    *,
    codec: str = "deflate",
    declared_codec: str | None = None,
    persist_manifest: bool = True,
) -> tuple[bytes, dict[str, bytes]]:
    """Commit one append snapshot: encode the new manifest, re-encode
    the manifest list from parsed base rows + the new row. Returns
    (new manifest list, new store); the inputs are not mutated."""
    base = walk_avro(mlist)
    if base["fields"][:1] != ["manifest_path"]:
        raise ValueError("append target is not a manifest list")
    sync = bytes((snapshot_id * 31 + i * 7 + 3) % 256 for i in range(16))
    rows: list[bytes] = []
    for i, (status, rc, fs, pv) in enumerate(entries):
        body = encode_long(status) + encode_long(snapshot_id)
        body += _enc_str(f"data/s{snapshot_id}_f{i}.parquet")
        body += encode_long(rc) + encode_long(fs)
        if pv is None:
            body += encode_long(0)  # union branch: null
        else:
            body += encode_long(1) + encode_long(pv)
        rows.append(body)
    manifest = _avro_container(
        _MANIFEST_SCHEMA, rows, codec, sync,
        declared_codec=declared_codec,
    )
    store2 = dict(store)
    if persist_manifest:
        store2[manifest_path] = manifest
    list_rows = [
        _enc_str(path) + encode_long(cnt) + encode_long(spec)
        for path, cnt, spec in base["records"]
    ]
    list_rows.append(
        _enc_str(manifest_path) + encode_long(len(entries))
        + encode_long(0)
    )
    mlist2 = _avro_container(_LIST_SCHEMA, list_rows, "null", sync)
    return mlist2, store2


_ICC_ZERO = (0,) * 8


def _icc_facts(doc_id: int) -> tuple:
    # classifies its own faults: a failed commit is 'corrupt_commit',
    # not decode_walk's 'corrupt', so this never raises
    g = doc_id % _IC_GROUPS
    corrupt = doc_id % 11 == 3
    missing = doc_id % 17 == 2 and not corrupt
    unsup = doc_id % 13 == 5 and not (corrupt or missing)
    mlist, store = _ic_store(g, False)
    entries = _new_entries(g)
    path = f"meta/commit_{g}.avro"
    mlist2, store2 = append_snapshot(
        mlist, store, entries, 2000 + g, path,
        declared_codec="lzo" if unsup else None,
        persist_manifest=not missing,
    )
    if corrupt:
        store2[path] = store2[path][:-9]
    try:
        f2 = walk_iceberg_snapshot(mlist2, store2)
        # the independent side of the closure: direct base fold +
        # the appended input's arithmetic
        f0 = walk_iceberg_snapshot(mlist, store)
        exp = {
            "n_manifests": f0["n_manifests"] + 1,
            "n_entries": f0["n_entries"] + len(entries),
            "live_files": f0["live_files"] + len(entries),
            "deleted_files": f0["deleted_files"],
            "live_rows": f0["live_rows"] + sum(e[1] for e in entries),
            "live_bytes": f0["live_bytes"] + sum(e[2] for e in entries),
            "null_partitions": f0["null_partitions"]
            + sum(1 for e in entries if e[3] is None),
        }
        return (
            "decoded", f2["n_manifests"], f2["n_entries"],
            f2["live_files"], f2["deleted_files"], f2["live_rows"],
            f2["live_bytes"], f2["null_partitions"],
            1 if all(f2[k] == exp[k] for k in exp) else 0,
        )
    except NotImplementedError:
        return ("unsupported",) + _ICC_ZERO
    except ValueError as exc:
        msg = str(exc)
        status = ("missing" if "missing manifest" in msg
                  else "corrupt_commit")
        return (status,) + _ICC_ZERO
    except Exception:  # noqa: BLE001 — malformed bytes quarantine
        return ("corrupt_commit",) + _ICC_ZERO


def _icc_key(doc_id: int) -> tuple:
    return (doc_id % _IC_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2,
            doc_id % 13 == 5)


def _icc_oracle() -> str:
    bad = ("d.doc_id % 11 = 3 OR d.doc_id % 17 = 2 "
           "OR d.doc_id % 13 = 5")
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
    base AS (
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
    ),
    newe AS (
      SELECT g, e,
             700 + 17 * e + 3 * g AS rc,
             2048 + 13 * e + 5 * g AS fs,
             CASE WHEN e % 4 = 1 THEN 1 ELSE 0 END AS pnull
      FROM grp, LATERAL (
        SELECT unnest(range(0, 4 + g % 3)) AS e
      )
    ),
    delta AS (
      SELECT g,
             CAST(COUNT(*) AS BIGINT) AS n_new,
             CAST(SUM(rc) AS BIGINT) AS new_rows,
             CAST(SUM(fs) AS BIGINT) AS new_bytes,
             CAST(SUM(pnull) AS BIGINT) AS new_nulls
      FROM newe GROUP BY g
    ),
    sums AS (
      SELECT b.g,
             CAST(b.n_manifests + 1 AS INT) AS n_manifests,
             b.n_entries + x.n_new AS n_entries,
             b.live_files + x.n_new AS live_files,
             b.deleted_files AS deleted_files,
             b.live_rows + x.new_rows AS live_rows,
             b.live_bytes + x.new_bytes AS live_bytes,
             b.null_partitions + x.new_nulls AS null_partitions
      FROM base b JOIN delta x ON b.g = x.g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt_commit'
                WHEN d.doc_id % 17 = 2 THEN 'missing'
                WHEN d.doc_id % 13 = 5 THEN 'unsupported'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0 ELSE s.n_manifests END AS n_manifests,
           CASE WHEN {bad} THEN 0 ELSE s.n_entries END AS n_entries,
           CASE WHEN {bad} THEN 0 ELSE s.live_files END AS live_files,
           CASE WHEN {bad} THEN 0 ELSE s.deleted_files END
             AS deleted_files,
           CASE WHEN {bad} THEN 0 ELSE s.live_rows END AS live_rows,
           CASE WHEN {bad} THEN 0 ELSE s.live_bytes END AS live_bytes,
           CASE WHEN {bad} THEN 0 ELSE s.null_partitions END
             AS null_partitions,
           CAST(CASE WHEN {bad} THEN 0 ELSE 1 END AS INT) AS eq_fold
    FROM documents d
    JOIN sums s ON d.doc_id % {_IC_GROUPS} = s.g
    ORDER BY d.doc_id
    """


@register("iceberg_commit_roundtrip", oracle=_icc_oracle())
def iceberg_commit_roundtrip(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Write-then-read Iceberg snapshot commit closure: the engine
    encodes an append commit (new manifest + re-encoded manifest
    list, both through the repo's own Avro encoder) and re-plans the
    committed snapshot through ``walk_iceberg_snapshot``; the oracled
    ``eq_fold`` verdict checks re-planned totals against the
    independent base-fold + appended-input arithmetic. Typed
    verdicts: written-manifest truncation ('corrupt_commit'),
    unpersisted manifest ('missing'), LZO-declared commit
    ('unsupported'). See module docstring for the closure argument
    and scale notes."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_icc_batches", _icc_key, _icc_facts,
        "doc_id long, status string, n_manifests int, n_entries long, "
        "live_files long, deleted_files long, live_rows long, "
        "live_bytes long, null_partitions long, eq_fold int",
    ).transform(_presentation_sort, "doc_id")
