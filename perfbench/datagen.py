"""Deterministic synthetic input tables for the benchmark.

Writes the ten parquet tables the engine's queries read (``tables.
TABLE_NAMES``) with the same schemas and value domains as the
repository's TPC-H-ish test fixtures (FIXTURES.md): uniform keys, day-granular
timestamps, a 30-word vocabulary for ``documents.text`` with a few
near-duplicate documents, unit-norm 64-dimensional embeddings.

Row counts scale with ``sf`` the way the fixtures do (``lineitem`` is
6M x sf). ``documents`` and ``embeddings`` scale at one tenth of that
rate, as in the fixtures' sf0.1 set.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 1

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["blue", "red", "hot", "new", "small", "big", "old", "cold"]
_NOUN = ["anvil", "bolt", "ring", "rod", "plate", "widget", "gear", "nut"]
_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_EPOCH_MS = 788_918_400_000  # 1995-01-01T00:00:00


def _days(rng, n: int, lo: int, hi: int) -> pa.Array:
    """Day-granular timestamps 1995-01-01 + [lo, hi) days, ms precision."""
    d = rng.integers(lo, hi, n).astype("int64")
    return pa.array(_EPOCH_MS + d * 86_400_000, type=pa.timestamp("ms"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float, seed: int = 42) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_part, n_ord, n_li = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": _REGIONS}
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": np.arange(n_cust, dtype="int64"),
            "c_name": _names("Customer", n_cust),
            "c_nationkey": rng.integers(0, 25, n_cust).astype("int32"),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": np.array(_SEGMENTS)[rng.integers(0, 5, n_cust)],
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(n_supp, dtype="int64"),
            "s_name": _names("Supplier", n_supp),
            "s_nationkey": rng.integers(0, 25, n_supp).astype("int32"),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    part_names = [f"{a} {b}" for a in _ADJ for b in _NOUN]
    out["part"] = pa.table(
        {
            "p_partkey": np.arange(n_part, dtype="int64"),
            "p_name": np.array(part_names)[rng.integers(0, 64, n_part)],
            "p_brand": np.array([f"Brand#{i}" for i in range(1, 26)])[
                rng.integers(0, 25, n_part)
            ],
            "p_type": np.array(_TYPES)[rng.integers(0, 6, n_part)],
            "p_size": rng.integers(1, 51, n_part).astype("int32"),
            "p_retailprice": 900.0 + rng.integers(0, 1000, n_part) / 10.0,
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": np.arange(n_ord, dtype="int64"),
            "o_custkey": rng.integers(0, n_cust, n_ord).astype("int64"),
            "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, 0, 2405),
            "o_orderpriority": np.array(_PRIORITIES)[rng.integers(0, 5, n_ord)],
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, n_ord, n_li).astype("int64"),
            "l_partkey": rng.integers(0, n_part, n_li).astype("int64"),
            "l_suppkey": rng.integers(0, n_supp, n_li).astype("int64"),
            "l_linenumber": rng.integers(1, 8, n_li).astype("int32"),
            "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
            "l_extendedprice": _money(rng, n_li, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_li) / 100.0,
            "l_tax": rng.integers(0, 9, n_li) / 100.0,
            "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)],
            "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_li)],
            "l_shipdate": _days(rng, n_li, 1, 2500),
        }
    )
    n_ev = int(1_000_000 * sf)
    ev_us = np.sort(rng.integers(0, 30 * 86_400_000_000, n_ev)) + 1_704_067_200_000_000
    out["events"] = pa.table(
        {
            "event_id": np.arange(n_ev, dtype="int64"),
            "ts": pa.array(ev_us, type=pa.timestamp("us")),
            "user_id": rng.integers(0, max(15, int(15_000 * sf)), n_ev).astype("int64"),
            "event_type": np.array(["click", "error", "purchase", "signup", "view"])[
                rng.integers(0, 5, n_ev)
            ],
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    texts: list[str] = []
    words = np.array(_WORDS)
    for i in range(n_docs):
        if i >= 20 and rng.random() < 0.05:  # near-duplicate of an earlier doc
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(words[rng.integers(0, len(_WORDS), rng.integers(10, 101))]))
    out["documents"] = pa.table(
        {
            "doc_id": np.arange(n_docs, dtype="int64"),
            "text": texts,
            "lang": np.array(_LANGS)[rng.choice(5, n_docs, p=_LANG_P)],
            "source": [f"src{i % 20}" for i in range(n_docs)],
            "n_chars": np.array([len(t) for t in texts], dtype="int64"),
        }
    )
    vec = rng.standard_normal((n_vec, 64)).astype("float32")
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    out["embeddings"] = pa.table(
        {
            "vec_id": np.arange(n_vec, dtype="int64"),
            "embedding": pa.FixedSizeListArray.from_arrays(vec.ravel(), 64).cast(
                pa.list_(pa.float32())
            ),
            "label": rng.integers(0, 10, n_vec).astype("int32"),
        }
    )
    return out


def ensure(root: str, sf: float) -> str:
    """Write the tables under ``root/sf<sf>-v<version>`` unless already
    there; return that directory. A half-written directory never
    becomes visible: files go to a temporary sibling that is renamed."""
    final = os.path.join(root, f"sf{sf}-v{GENERATOR_VERSION}")
    if os.path.isdir(final):
        return final
    tmp = f"{final}.tmp{os.getpid()}"
    os.makedirs(tmp, exist_ok=True)
    for name, tbl in tables(sf).items():
        pq.write_table(tbl, os.path.join(tmp, f"{name}.parquet"))
    os.replace(tmp, final)
    return final
