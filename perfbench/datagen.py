"""Seeded synthetic inputs for the benchmark.

Writes the ten tables the package reads (``region nation customer
supplier part orders lineitem events documents embeddings``), one
parquet file each, with the same column names, types and value domains
as the package's test fixtures: TPC-H-shaped entity and fact tables, an
``events`` stream table, a 30-word ``documents`` corpus in which 5% of
the documents are near-duplicates of earlier originals (the copy plus
the word ``dup``), and unit-norm 64-d ``embeddings``.

Row counts scale linearly with ``sf`` (sf=0.1 gives 600k lineitems).
The same ``(seed, sf)`` always gives the same tables, so a directory
that already holds them is reused. The benchmark always uses one seed
(``run.DATA_SEED``).
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["hot", "old", "red", "small", "new", "large", "cold", "blue"]
_PART_NOUN = ["bolt", "plate", "gear", "ring", "rod", "anvil", "widget", "gizmo"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]
_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
_EMB_DIM = 64


def _days(lo: dt.date, hi: dt.date, rng: np.random.Generator, n: int) -> np.ndarray:
    span = (hi - lo).days
    base = np.datetime64(lo.isoformat(), "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _strings(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx], pa.string())


def build_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """Every table as an Arrow table, drawn from one seeded generator."""
    rng = np.random.default_rng(seed)
    n_cust = max(150, int(150_000 * sf))
    n_supp = max(10, int(10_000 * sf))
    n_part = max(200, int(200_000 * sf))
    n_ord = max(1_500, int(1_500_000 * sf))
    n_line = 4 * n_ord
    n_evt = max(1_000, int(1_000_000 * sf))
    n_user = max(15, n_evt * 15 // 1000)
    n_doc = max(50, int(50_000 * sf))
    n_emb = max(200, int(20_000 * sf))

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS, pa.string()),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], pa.string()),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _strings(_SEGMENTS, rng.integers(0, 5, n_cust)),
        }
    )
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], pa.string()),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    partkey = np.arange(n_part)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(partkey, pa.int64()),
            "p_name": _strings(names, rng.integers(0, len(names), n_part)),
            "p_brand": _strings(
                [f"Brand#{i}" for i in range(1, 26)], rng.integers(0, 25, n_part)
            ),
            "p_type": _strings(_PART_TYPES, rng.integers(0, 6, n_part)),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": pa.array(np.round(900.0 + (partkey % 1000) / 10.0, 1)),
        }
    )
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": _strings(["F", "O", "P"], rng.integers(0, 3, n_ord)),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n_ord)),
            "o_orderdate": pa.array(
                _days(dt.date(1995, 1, 1), dt.date(2001, 8, 1), rng, n_ord),
                pa.timestamp("us"),
            ),
            "o_orderpriority": _strings(_PRIORITIES, rng.integers(0, 5, n_ord)),
        }
    )
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n_line)),
            "l_discount": pa.array(np.round(rng.uniform(0.0, 0.1, n_line), 2)),
            "l_tax": pa.array(np.round(rng.uniform(0.0, 0.08, n_line), 2)),
            "l_returnflag": _strings(["A", "N", "R"], rng.integers(0, 3, n_line)),
            "l_linestatus": _strings(["F", "O"], rng.integers(0, 2, n_line)),
            "l_shipdate": pa.array(
                _days(dt.date(1995, 1, 2), dt.date(2001, 11, 4), rng, n_line),
                pa.timestamp("us"),
            ),
        }
    )
    month_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, month_us, n_evt)).astype("timedelta64[us]")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_evt), pa.int64()),
            "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
            "event_type": _strings(_EVENT_TYPES, rng.integers(0, 5, n_evt)),
            "value": pa.array(np.round(rng.exponential(50.0, n_evt), 2)),
            "props": pa.array(
                [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n_evt)],
                pa.string(),
            ),
        }
    )
    # Exactly 5% of the documents (never among the first 20) copy an
    # earlier original. Copying only originals keeps every duplicate
    # cluster a star of depth one.
    dup_at = set(rng.choice(np.arange(20, n_doc), n_doc // 20, replace=False).tolist())
    texts: list[str] = []
    originals: list[int] = []
    for i, n_words in enumerate(rng.integers(10, 101, n_doc)):
        if i in dup_at:
            texts.append(texts[originals[int(rng.integers(0, len(originals)))]] + " dup")
        else:
            originals.append(i)
            words = rng.integers(0, len(_VOCAB), n_words)
            texts.append(" ".join(_VOCAB[w] for w in words))
    out["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": _strings(_LANGS, rng.choice(5, n_doc, p=_LANG_P)),
            "source": pa.array([f"src{i % 20}" for i in range(n_doc)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    vecs = rng.standard_normal((n_emb, _EMB_DIM))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    out["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    return out


def ensure_dataset(out_dir: str, seed: int, sf: float) -> str:
    """Write the tables for ``(seed, sf)`` under ``out_dir`` unless a
    complete set is already there; returns ``out_dir``."""
    done = os.path.join(out_dir, "_COMPLETE")
    if os.path.exists(done):
        return out_dir
    os.makedirs(out_dir, exist_ok=True)
    for name, table in build_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    with open(done, "w") as fh:
        fh.write(json.dumps({"seed": seed, "sf": sf}) + "\n")
    return out_dir

