"""Deterministic fixture generator for the benchmark.

Writes the ten tables the catalog registers (FIXTURES.md schemas) at
scale factor 0.1.  Row counts, key ranges, value distributions and
physical row order follow the sf0.1 fixture files the test suite uses:

* ``lineitem``: 600k rows in random order; order, part and supplier
  keys, line numbers (1-7), quantities (1-50), prices (900-105000),
  discounts and flags each drawn uniformly and independently, so about
  2% of orders have no line and a key-range filter prunes nothing;
* ``orders`` (150k), ``customer`` (15k), ``supplier`` (1k) and
  ``part`` (20k, 64 part names): uniform keys, dates and prices;
* ``events``: 100k time-ordered events over 30 days, exponential
  values (mean 50), ``props`` as ``{"k": N}`` JSON with N in 0-99;
* ``documents``: 5,000 documents of 10-100 words (uniform; ~300
  characters on average) drawn from a 30-word vocabulary; 5% are near
  duplicates, an earlier document with " dup" appended; 40% ``en``
  and 15% each of four other languages;
* ``embeddings``: 2,000 random unit vectors of dimension 64 with
  uniform labels 0-9.

The data seed is fixed, so every run of the benchmark reads
byte-identical parquet; the run seed only shapes the statement mix and
the query order.

    python3 perfbench/datagen.py OUT_DIR
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DATA_SEED = 42
VERSION = "2"  # bump when the generated data changes
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")

_VOCAB = ("a the data spark sort hash join scan filter group agg window "
          "row column table query key value stream batch merge order line "
          "part customer vector small big fast slow").split()


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start, end, n):
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return (rng.integers(lo, hi + 1, n) * 86_400_000_000).astype(
        "datetime64[us]")


def _strings(prefix, keys):
    return [f"{prefix}{k:09d}" for k in keys.tolist()]


def _pick(rng, values, n):
    return np.array(values)[rng.integers(0, len(values), n)]


def build_tables(rng: np.random.Generator) -> dict[str, pa.Table]:
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
    n_cust, n_supp, n_part, n_ord, n_li = (15_000, 1_000, 20_000, 150_000,
                                           600_000)
    ck = np.arange(n_cust, dtype=np.int64)
    t["customer"] = pa.table({
        "c_custkey": ck,
        "c_name": _strings("Customer#", ck),
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    sk = np.arange(n_supp, dtype=np.int64)
    t["supplier"] = pa.table({
        "s_suppkey": sk,
        "s_name": _strings("Supplier#", sk),
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part, dtype=np.int64)
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
            "widget"]
    t["part"] = pa.table({
        "p_partkey": pk,
        "p_name": np.char.add(np.char.add(_pick(rng, adj, n_part), " "),
                              _pick(rng, noun, n_part)),
        "p_brand": np.char.add("Brand#",
                               rng.integers(1, 26, n_part).astype(str)),
        "p_type": _pick(rng, ["LARGE", "ECONOMY", "SMALL", "STANDARD",
                              "MEDIUM", "PROMO"], n_part),
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(rng, ["O", "F", "P"], n_ord),
        "o_totalprice": _money(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": rng.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105_000.0, n_li),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(rng, ["N", "R", "A"], n_li),
        "l_linestatus": _pick(rng, ["F", "O"], n_li),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-04", n_li),
    })
    n_ev = 100_000
    span_us = 30 * 86_400_000_000
    ts_us = (np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
             + np.sort(rng.integers(0, span_us, n_ev)))
    t["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ts_us.astype("datetime64[us]"),
        "user_id": rng.integers(0, 1500, n_ev).astype(np.int64),
        "event_type": _pick(rng, ["click", "view", "signup", "purchase",
                                  "error"], n_ev),
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev).tolist()],
    })
    t["documents"] = _documents(rng, 5_000, 250)
    t["embeddings"] = _embeddings(rng, 2_000, 64)
    return t


def _documents(rng: np.random.Generator, n: int, n_dup: int) -> pa.Table:
    """``n`` documents, ``n_dup`` of them near duplicates."""
    vocab = np.array(_VOCAB)
    dups = set(rng.choice(np.arange(1, n), n_dup, replace=False).tolist())
    texts: list[str] = []
    for i in range(n):
        if i in dups:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), k)]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": np.array(["en", "fr", "es", "zh", "de"])[
            rng.choice(5, n, p=[0.4, 0.15, 0.15, 0.15, 0.15])],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(s) for s in texts], dtype=np.int64),
    })


def _embeddings(rng: np.random.Generator, n: int, dim: int) -> pa.Table:
    vecs = rng.normal(0.0, 1.0, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    flat = pa.array(vecs.reshape(-1), pa.float32())
    offsets = pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32))
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.ListArray.from_arrays(offsets, flat),
        "label": rng.integers(0, 10, n).astype(np.int32),
    })


def ensure(out_dir: str) -> str:
    """Generate the fixtures under ``out_dir`` unless they are current.
    Returns ``out_dir``.  A ``_VERSION`` marker is written last, so an
    interrupted generation is redone on the next call."""
    marker = os.path.join(out_dir, "_VERSION")
    try:
        with open(marker) as f:
            if f.read() == VERSION:
                return out_dir
    except FileNotFoundError:
        pass
    os.makedirs(out_dir, exist_ok=True)
    tables = build_tables(np.random.default_rng(DATA_SEED))
    for name in TABLES:
        pq.write_table(tables[name], os.path.join(out_dir, f"{name}.parquet"))
    with open(marker, "w") as f:
        f.write(VERSION)
    return out_dir


if __name__ == "__main__":
    if len(sys.argv) != 2:
        sys.exit("usage: datagen.py OUT_DIR")
    ensure(sys.argv[1])
