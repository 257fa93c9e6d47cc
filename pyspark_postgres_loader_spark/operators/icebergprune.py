"""Iceberg manifest PARTITION PRUNING over field summaries — the
planning step that makes the manifest tree worth having: the
manifest LIST carries per-manifest partition summaries
(contains_null + lower/upper bounds per spec field), and a reader
with a partition predicate prunes whole manifests WITHOUT opening
them. This operator implements that pruning over the repo's own
Avro decoder and — because a summary is a cache of the manifest's
content — AUDITS it: the fold over the surviving manifests must
equal the ground-truth fold over ALL manifests, and a manifest
pruned despite containing matches is the 'stale_summary' verdict
(the real-world failure this audit exists to catch: a compactor
that rewrote data but not the summary).

Fixture lattice (per group g): manifests m hold entries with
partition value pv = 10·m + e (NULL every 3rd entry), so manifest
ranges are disjoint decades; the predicate pv BETWEEN 10 AND
14+(g%3) matches only manifest 1 — every other manifest must prune
on its summary alone. The manifest-list rows carry the summary as a
nested record {contains_null: boolean, lower/upper:
["null","long"]} — booleans and optional unions through avrowalk's
schema engine.

Verdicts, each non-vacuous: truncation inside a manifest
('corrupt'), a manifest-list summary whose upper bound is patched
BELOW the manifest's real values so the pruner wrongly drops it —
caught by the ground-truth cross-check ('stale_summary'), plus
'decoded'.

Scale notes (100 TB): this is THE mechanism that keeps planning
O(matching data) instead of O(table): a predicate on a partition
column reads the KB-sized manifest list, prunes most manifests on
their summaries, and opens only survivors. The audit's
ground-truth pass is the correctness harness, not the production
path (a real reader trusts summaries — which is exactly why the
stale-summary verdict matters).

Reference: the public Apache Iceberg spec (manifest_file
field_summary, scan planning); composes with operators/iceberg.py;
no repo counterpart (SURVEY.md §2l extension).
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

_IP_GROUPS = 8

_IP_MANIFEST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "file_path", "type": "string"},
                        {"name": "record_count", "type": "long"},
                        {"name": "partition_val",
                         "type": ["null", "long"]},
                    ],
                },
            },
        ],
    },
    separators=(",", ":"),
)

_IP_LIST_SCHEMA = json.dumps(
    {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "added_files_count", "type": "int"},
            {
                "name": "summary",
                "type": {
                    "type": "record",
                    "name": "field_summary",
                    "fields": [
                        {"name": "contains_null", "type": "boolean"},
                        {"name": "lower", "type": ["null", "long"]},
                        {"name": "upper", "type": ["null", "long"]},
                    ],
                },
            },
        ],
    },
    separators=(",", ":"),
)


def _ip_n_manifests(g: int) -> int:
    return 2 + g % 3


def _ip_n_entries(g: int, m: int) -> int:
    return 5 + 2 * m + g % 2


def _ip_entry(g: int, m: int, e: int):
    """(live, record_count, pv|None)."""
    return (
        e % 4 != 3,
        500 + 13 * e + 7 * m + 29 * g,
        None if e % 3 == 2 else 10 * m + e,
    )


def _ip_pred(g: int) -> tuple[int, int]:
    """The partition predicate: pv BETWEEN lo AND hi — aimed at
    manifest 1's decade only."""
    return 10, 14 + g % 3


def _ip_store(g: int, stale: bool) -> tuple[bytes, dict[str, bytes]]:
    sync = bytes((g * 11 + i * 7 + 3) % 256 for i in range(16))
    store: dict[str, bytes] = {}
    list_rows: list[bytes] = []
    for m in range(_ip_n_manifests(g)):
        path = f"meta/p{g}_{m}.avro"
        rows: list[bytes] = []
        pvs: list[int] = []
        has_null = False
        for e in range(_ip_n_entries(g, m)):
            live, rc, pv = _ip_entry(g, m, e)
            body = encode_long(1 if live else 2)
            body += _enc_str(f"data/p{g}_{m}_{e}.parquet")
            body += encode_long(rc)
            if pv is None:
                body += encode_long(0)
                has_null = True
            else:
                body += encode_long(1) + encode_long(pv)
                pvs.append(pv)
            rows.append(body)
        store[path] = _avro_container(
            _IP_MANIFEST_SCHEMA, rows, ("null", "deflate")[m % 2], sync)
        lo, hi = (min(pvs), max(pvs)) if pvs else (None, None)
        if stale and m == 1:
            # the lying summary: upper patched below the predicate's
            # lo, so the pruner wrongly drops the ONLY matching
            # manifest — the audit must catch it
            hi = _ip_pred(g)[0] - 1
        srow = _enc_str(path) + encode_long(len(rows))
        srow += bytes([1 if has_null else 0])  # avro boolean: raw byte
        srow += (encode_long(0) if lo is None
                 else encode_long(1) + encode_long(lo))
        srow += (encode_long(0) if hi is None
                 else encode_long(1) + encode_long(hi))
        list_rows.append(srow)
    mlist = _avro_container(_IP_LIST_SCHEMA, list_rows, "null", sync)
    return mlist, store


def walk_iceberg_pruning(
    mlist: bytes, store: dict[str, bytes], lo: int, hi: int
) -> dict:
    """Prune manifests on their summaries, fold survivors, and audit
    against the ground-truth fold over all manifests."""
    lst = walk_avro(mlist)
    if lst["fields"] != [
        "manifest_path", "added_files_count", "summary.contains_null",
        "summary.lower", "summary.upper",
    ]:
        raise ValueError("not a summarized manifest list")

    def fold(paths: list[str]) -> tuple[int, int]:
        files = rows = 0
        for p in paths:
            blob = store.get(p)
            if blob is None:
                raise ValueError(f"missing manifest {p!r}")
            man = walk_avro(blob)
            for st, _fp, rc, pv in man["records"]:
                if st == 1 and pv is not None and lo <= pv <= hi:
                    files += 1
                    rows += rc
        return files, rows

    all_paths = [r[0] for r in lst["records"]]
    surviving = [
        r[0] for r in lst["records"]
        # a NULL-bounds summary (all-null manifest) can't match a
        # BETWEEN; otherwise keep iff [lower, upper] intersects
        if r[3] is not None and r[4] is not None
        and r[3] <= hi and r[4] >= lo
    ]
    pruned_files, pruned_rows = fold(surviving)
    truth_files, truth_rows = fold(all_paths)
    if (pruned_files, pruned_rows) != (truth_files, truth_rows):
        raise ValueError(
            "stale partition summary: pruned fold disagrees with "
            f"ground truth ({pruned_files}/{pruned_rows} vs "
            f"{truth_files}/{truth_rows})"
        )
    return {
        "n_manifests": len(all_paths),
        "n_pruned": len(all_paths) - len(surviving),
        "n_matching_files": truth_files,
        "matching_rows": truth_rows,
    }


def _ip_payloads(doc_id: int) -> tuple[bytes, dict[str, bytes]]:
    g = doc_id % _IP_GROUPS
    corrupt = doc_id % 11 == 3
    stale = doc_id % 17 == 2 and not corrupt
    mlist, store = _ip_store(g, stale)
    if corrupt:
        p = f"meta/p{g}_0.avro"
        store[p] = store[p][:-9]
    return mlist, store


def _ip_key(doc_id: int) -> tuple:
    return (doc_id % _IP_GROUPS, doc_id % 11 == 3, doc_id % 17 == 2)


def _ip_facts(doc_id: int) -> tuple:
    g = doc_id % _IP_GROUPS
    lo, hi = _ip_pred(g)
    f = walk_iceberg_pruning(*_ip_payloads(doc_id), lo, hi)
    return (
        "decoded", f["n_manifests"], f["n_pruned"],
        f["n_matching_files"], f["matching_rows"],
    )


def _ip_oracle() -> str:
    bad = "d.doc_id % 11 = 3 OR d.doc_id % 17 = 2"
    return f"""
    WITH grp AS (
      SELECT DISTINCT doc_id % {_IP_GROUPS} AS g FROM documents
    ),
    entries AS (
      SELECT g, m, e,
             (e % 4 != 3) AS live,
             500 + 13 * e + 7 * m + 29 * g AS rc,
             (e % 3 != 2) AS pv_ok,
             10 * m + e AS pv
      FROM grp, LATERAL (SELECT unnest(range(0, 2 + g % 3)) AS m),
           LATERAL (SELECT unnest(range(0, 5 + 2 * m + g % 2)) AS e)
    ),
    matches AS (
      SELECT g,
             CAST(SUM(CASE WHEN live AND pv_ok
                            AND pv BETWEEN 10 AND 14 + g % 3
                           THEN 1 ELSE 0 END) AS BIGINT) AS mf,
             CAST(SUM(CASE WHEN live AND pv_ok
                            AND pv BETWEEN 10 AND 14 + g % 3
                           THEN rc ELSE 0 END) AS BIGINT) AS mr
      FROM entries GROUP BY g
    )
    SELECT d.doc_id,
           CASE WHEN d.doc_id % 11 = 3 THEN 'corrupt'
                WHEN d.doc_id % 17 = 2 THEN 'stale_summary'
                ELSE 'decoded' END AS status,
           CASE WHEN {bad} THEN 0
                ELSE CAST(2 + d.doc_id % {_IP_GROUPS} % 3 AS INT)
                END AS n_manifests,
           -- only manifest 1 survives: pruned = n_manifests - 1
           CASE WHEN {bad} THEN 0
                ELSE CAST(1 + d.doc_id % {_IP_GROUPS} % 3 AS INT)
                END AS n_pruned,
           CASE WHEN {bad} THEN 0 ELSE x.mf END AS n_matching_files,
           CASE WHEN {bad} THEN 0 ELSE x.mr END AS matching_rows
    FROM documents d
    JOIN matches x ON d.doc_id % {_IP_GROUPS} = x.g
    ORDER BY d.doc_id
    """


@register("iceberg_partition_pruning", oracle=_ip_oracle())
def iceberg_partition_pruning(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Iceberg manifest pruning over manifest-list field summaries
    (contains_null + optional lower/upper bounds decoded through the
    repo's own Avro engine — booleans and nested optional unions),
    with the pruned fold AUDITED against the ground-truth fold over
    all manifests: a summary whose upper bound lies below the
    manifest's real values makes the pruner drop the only matching
    manifest, and the cross-check raises the typed 'stale_summary'
    verdict. The oracle replays the entry lattice, the predicate,
    and the pruning geometry closed-form.

    Scale notes (100 TB): summary pruning keeps planning O(matching
    data); the ground-truth pass exists only in this audit."""
    d = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_walk(
        d, "_ip_batches", _ip_key, _ip_facts,
        "doc_id long, status string, n_manifests int, n_pruned int, "
        "n_matching_files long, matching_rows long",
        value_errors=(("stale", "stale_summary"),),
        worker_memo=True,
    ).transform(_presentation_sort, "doc_id")
