"""Seeded input tables for the benchmark, written as parquet.

The benchmark owns its inputs: a program change cannot change them. The
tables have the schemas and value domains of the program's TPC-H-style
corpus (region, nation, customer, supplier, part, orders, lineitem, events,
documents, embeddings), scaled by ``sf`` (lineitem = 6 M x sf rows).
Timestamps (``o_orderdate``, ``l_shipdate``, ``events.ts``) are naive
``timestamp[us]``, the unit the sf0.001/sf0.01/sf0.1 corpus files store.
FIXTURES.md describes ``events.ts`` as ``timestamp[ns]``; the catalog reads
that too (as a long, then ``timestamp_micros(ts div 1000)``), but the
corpus the program runs on does not use it, so neither do these inputs.

Row *content* comes from a fixed generator seed, so every query result is
the same for every run seed. The run seed only permutes the row order
within each file, which the program must not depend on.

Only numpy and pyarrow are used, so generating starts no JVM.
"""

from __future__ import annotations

import hashlib
import os
import shutil
from datetime import datetime

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
CONTENT_SEED = 20240101
ROW_GROUP_ROWS = 65536
_VOCAB = (
    "a the spark stream batch window merge table column vector value data "
    "small big join filter group hash customer sort order slow fast line "
    "part row agg key query scan"
).split()
_PART_ADJ = "blue red large small hot cold shiny dull".split()
_PART_NOUN = "anvil bolt gear ring widget spring valve plate".split()


def _days(lo: str, hi: str, n: int, rng: np.random.Generator) -> pa.Array:
    start = np.datetime64(lo, "D")
    span = (np.datetime64(hi, "D") - start).astype(int)
    d = start + rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(d.astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> dict:
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 20 and r < 0.05:  # near duplicate of an earlier document
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        elif i > 20 and r < 0.052:  # exact duplicate
            texts.append(texts[int(rng.integers(0, i))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(rng.choice(_VOCAB, k)))
    langs = rng.choice(["en", "de", "es", "fr", "zh"], n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    return {
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": langs,
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    }


def build_tables(sf: float) -> dict[str, pa.Table]:
    """Every table at scale ``sf``, rows in key order (content seed only)."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord, n_line = int(200_000 * sf), int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(15, int(15_000 * sf))
    n_doc, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    i32 = pa.int32()
    t: dict[str, dict] = {}
    t["region"] = {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    }
    t["nation"] = {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    }
    t["customer"] = {
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(
            ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust
        ),
    }
    t["supplier"] = {
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    }
    t["part"] = {
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": [
            f"{_PART_ADJ[a]} {_PART_NOUN[b]}"
            for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
        ],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 1),
    }
    t["orders"] = {
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days("1995-01-01", "2001-08-01", n_ord, rng),
        "o_orderpriority": rng.choice(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord
        ),
    }
    t["lineitem"] = {
        "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
        "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": np.round(rng.uniform(0.0, 0.1, n_line), 2),
        "l_tax": np.round(rng.uniform(0.0, 0.08, n_line), 2),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _days("1995-01-02", "2001-11-04", n_line, rng),
    }
    start = np.datetime64(datetime(2024, 1, 1), "us")
    offs = np.sort(rng.integers(0, 30 * 86400 * 10**6, n_ev))
    t["events"] = {
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": pa.array(start + offs.astype("timedelta64[us]")),
        "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
        "event_type": rng.choice(["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }
    t["documents"] = _documents(rng, n_doc)
    vec = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    t["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), i32),
    }
    out = {}
    for name, cols in t.items():
        out[name] = pa.table(
            {k: v if isinstance(v, pa.Array) else pa.array(v) for k, v in cols.items()}
        )
    return out


def source_fingerprint() -> str:
    """Hash of this generator's code: a changed generator gets a new cache."""
    with open(__file__, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()[:12]


def ensure_inputs(cache_root: str, sf: float, seed: int) -> tuple[str, dict]:
    """Write (or reuse) the input set for ``(sf, seed)``; return its
    directory and per-table ``{"rows": n, "bytes": b}``."""
    out_dir = os.path.join(cache_root, f"sf{sf:g}-seed{seed}-{source_fingerprint()}")
    if not os.path.exists(os.path.join(out_dir, "_DONE")):
        tmp = out_dir + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        perm_rng = np.random.default_rng(seed)
        for name, table in build_tables(sf).items():
            table = table.take(perm_rng.permutation(table.num_rows))
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"), row_group_size=ROW_GROUP_ROWS)
        open(os.path.join(tmp, "_DONE"), "w").close()
        shutil.rmtree(out_dir, ignore_errors=True)
        os.rename(tmp, out_dir)
    sizes = {
        name: {
            "rows": pq.ParquetFile(path).metadata.num_rows,
            "bytes": os.path.getsize(path),
        }
        for name in TABLES
        for path in [os.path.join(out_dir, f"{name}.parquet")]
    }
    return out_dir, sizes
