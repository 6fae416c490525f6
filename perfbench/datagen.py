"""Seeded input tables for the benchmark.

The engine's registry reads a directory of ten parquet tables (a
TPC-H-like star schema plus ``events``, ``documents`` and
``embeddings``; see TESTDATA.md for the shapes).  This module builds
such a directory from a seed alone, so a run needs nothing outside its
checkout and the same seed always yields the same bytes:

- every table is drawn from ``numpy.random.default_rng(seed)`` with the
  column domains of the reference test data;
- rows are then written back in a seed-permuted order, so an entry that
  silently depends on file row order shows up as an oracle mismatch.

Each prepared directory carries a ``manifest.json`` with row counts and
sha256 file hashes, which every result repeats, so both sides of an A/B
provably read the same input.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import os
import shutil

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
             "MACHINERY"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod",
         "widget"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
               "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_WORDS = ("a agg batch big column customer data dup fast filter group "
          "hash join key line merge order part query row scan slow "
          "small sort spark stream table the value vector window").split()
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.4, 0.15, 0.15, 0.15, 0.15]


def _dates(rng, n: int, first: dt.date, last: dt.date) -> pa.Array:
    days = rng.integers(0, (last - first).days + 1, n)
    base = np.datetime64(first.isoformat(), "us")
    return pa.array(base + days.astype("timedelta64[D]"), pa.timestamp("us"))


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def generate(sf: float, seed: int) -> dict[str, pa.Table]:
    """The ten tables at scale factor ``sf`` (0.001 ≈ 6 k lineitem)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = max(int(150_000 * sf), 10), max(int(10_000 * sf), 5)
    n_part, n_ord = max(int(200_000 * sf), 20), max(int(1_500_000 * sf), 50)
    n_line, n_evt = max(int(6_000_000 * sf), 200), max(int(1_000_000 * sf), 100)
    n_user = max(int(15_000 * sf), 5)
    n_doc, n_emb = max(int(50_000 * sf), 500), max(int(20_000 * sf), 500)
    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32),
                            "r_name": _REGIONS})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
        "c_mktsegment": rng.choice(_SEGMENTS, n_cust)})
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": _money(rng, n_supp, -999.99, 9999.99)})
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(_ADJ, n_part),
                                              rng.choice(_NOUN, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": rng.choice(_PTYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) / 10, 1)})
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _money(rng, n_ord, 1000, 500_000),
        "o_orderdate": _dates(rng, n_ord, dt.date(1995, 1, 1),
                              dt.date(2001, 8, 1)),
        "o_orderpriority": rng.choice(_PRIORITIES, n_ord)})
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), i32),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, n_line, 900, 105_000),
        "l_discount": _money(rng, n_line, 0, 0.1),
        "l_tax": _money(rng, n_line, 0, 0.08),
        "l_returnflag": rng.choice(["A", "N", "R"], n_line),
        "l_linestatus": rng.choice(["F", "O"], n_line),
        "l_shipdate": _dates(rng, n_line, dt.date(1995, 1, 2),
                             dt.date(2001, 11, 4))})
    # strictly increasing timestamps over 30 days, as event_id order
    span_us = 30 * 86_400 * 1_000_000
    offs = np.sort(rng.choice(span_us, n_evt, replace=False))
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), i64),
        "ts": pa.array(np.datetime64("2024-01-01", "us") + offs,
                       pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), i64),
        "event_type": rng.choice(_EVENT_TYPES, n_evt),
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)]})
    lengths = rng.integers(10, 100, n_doc)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lengths]
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": texts,
        "lang": rng.choice(_LANGS, n_doc, p=_LANG_P),
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": pa.array([len(s) for s in texts], i64)})
    vecs = rng.normal(size=(n_emb, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32)})
    return t


def _manifest(path: str) -> dict:
    out = {}
    for name in TABLES:
        f = os.path.join(path, f"{name}.parquet")
        with open(f, "rb") as fh:
            digest = hashlib.sha256(fh.read()).hexdigest()
        out[name] = {"rows": pq.ParquetFile(f).metadata.num_rows,
                     "sha256": digest}
    return out


def prepare(data_dir: str, sf: float, seed: int) -> dict:
    """Build (once per seed) and describe one input directory.

    The directory name carries scale and seed: the engine keys its cached
    intermediates by the input directory's basename, so distinct inputs
    must never share one.
    """
    path = os.path.join(data_dir, f"pb_sf{sf}_seed{seed}")
    done = os.path.join(path, "manifest.json")
    if not os.path.exists(done):
        tmp = path + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        tables = generate(sf, seed)
        rng = np.random.default_rng([seed, 1])
        for name in TABLES:
            t = tables[name]
            pq.write_table(t.take(pa.array(rng.permutation(t.num_rows))),
                           os.path.join(tmp, f"{name}.parquet"))
        with open(os.path.join(tmp, "manifest.json"), "w") as fh:
            json.dump(_manifest(tmp), fh, indent=1, sort_keys=True)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)
    with open(done) as fh:
        return {"path": path, "sf": sf, "seed": seed, "tables": json.load(fh)}
