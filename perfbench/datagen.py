"""Deterministic fixture warehouse for the benchmark.

Writes the ten tables the engine's catalog reads (``region`` .. ``embeddings``)
as single-file, single-row-group snappy parquet, shaped like the fixture
warehouses the test suite and ``bench.py`` read (TESTDATA.md), which a
checkout does not contain. The shape was taken from those files' footers
and columns at sf0.001, sf0.01 and sf0.1:

- row counts: ``lineitem`` 6,000,000 x scale and the TPC-H ratios for the
  other tables; ``documents`` and ``embeddings`` never fewer than 500 rows
  (50,000 and 20,000 x scale above that);
- every timestamp is ``INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false)``,
  the current fixtures' physical type (FIXTURES.md still names the older
  ms/ns generation), so events take the same ``events_schema`` branch;
- value distributions per column: uniform keys and categories, exponential
  event values, documents of 10-99 words drawn from one 31-word vocabulary,
  of which 5% copy an earlier document and append ``dup`` (the near
  duplicates the dedup heads find).

The rows depend only on ``scale``: the generator seed is a constant, never
the benchmark's ``--seed``, so every run of every seed reads identical rows.
"""

from __future__ import annotations

import os
import shutil
import tempfile

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Bump when the generated rows change, so a cached warehouse is rebuilt.
VERSION = 2
ROWS_SEED = 42

TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)

_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream table "
    "the value vector window"
).split()
_LANGS = np.array(["en", "fr", "es", "de", "zh"])
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]
_SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
_PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_PTYPES = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
_PNAME_A = np.array(["blue", "hot", "large", "red", "green", "cold", "small", "dark"])
_PNAME_B = np.array(["ring", "bolt", "nut", "gear", "pipe", "wire", "lamp", "tube"])
_EVENT_TYPES = np.array(["click", "view", "signup", "purchase", "error"])


def _dates(rng: np.random.Generator, n: int, start: str, days: int) -> pa.Array:
    base = np.datetime64(start, "us")
    offs = rng.integers(0, days, n).astype("timedelta64[D]").astype("timedelta64[us]")
    return pa.array(base + offs, pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(_VOCAB)
    texts = [" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 100)))])
             for _ in range(n)]
    # One document in 20 is a near duplicate: an earlier text plus " dup".
    for j in sorted(rng.choice(np.arange(1, n), n // 20, replace=False)):
        texts[j] = texts[int(rng.integers(0, j))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(_LANGS, n, p=_LANG_P)),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def build_tables(scale: float) -> dict[str, pa.Table]:
    """The warehouse's tables at ``scale``, identical on every call."""
    rng = np.random.default_rng(ROWS_SEED)
    n_cust, n_supp = max(int(150_000 * scale), 10), max(int(10_000 * scale), 5)
    n_part, n_ord = max(int(200_000 * scale), 10), max(int(1_500_000 * scale), 10)
    n_line, n_ev = max(int(6_000_000 * scale), 10), max(int(1_000_000 * scale), 10)
    n_doc, n_vec = max(int(50_000 * scale), 500), max(int(20_000 * scale), 500)
    n_users = max(int(15_000 * scale), 5)

    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust),
    })
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    names = np.char.add(np.char.add(rng.choice(_PNAME_A, n_part), " "), rng.choice(_PNAME_B, n_part))
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": names,
        "p_brand": np.char.add("Brand#", rng.integers(1, 26, n_part).astype(str)),
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": rng.choice(np.array(["O", "F", "P"]), n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2404),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord),
    })
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_line),
        "l_discount": np.round(rng.integers(0, 11, n_line) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, n_line) / 100.0, 2),
        "l_returnflag": rng.choice(np.array(["A", "N", "R"]), n_line),
        "l_linestatus": rng.choice(np.array(["O", "F"]), n_line),
        "l_shipdate": _dates(rng, n_line, "1995-01-02", 2498),
    })
    span_us = 30 * 86_400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, n_ev)).astype("timedelta64[us]")
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
        "event_type": rng.choice(_EVENT_TYPES, n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    t["documents"] = _documents(rng, n_doc)
    vecs = rng.standard_normal((n_vec, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vec), pa.int32()),
    })
    return t


def ensure_warehouse(root: str, scale: float) -> str:
    """Return the directory holding the warehouse at ``scale`` under
    ``root``, generating it first if it is missing. Generation writes to a
    temporary sibling and renames it into place, so an interrupted run
    never leaves a half-written warehouse behind."""
    out = os.path.join(root, f"warehouse-v{VERSION}-sf{scale:g}")
    if os.path.isdir(out):
        return out
    os.makedirs(root, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix=".gen-", dir=root)
    try:
        for name, table in build_tables(scale).items():
            pq.write_table(table, os.path.join(tmp, f"{name}.parquet"),
                           row_group_size=max(table.num_rows, 1), compression="snappy")
        try:
            os.rename(tmp, out)
        except OSError:  # another run finished the same warehouse first
            if not os.path.isdir(out):
                raise
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return out

