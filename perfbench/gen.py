"""Seeded input generation for the benchmark.

Every input a workload reads is made here from the run's seed, so the
same seed gives byte-identical inputs and no file outside the run root
is read.  Two kinds of input:

* ``make_tables``: the engine's fixture schema (a TPC-H-shaped star
  plus ``events``, ``documents`` and ``embeddings``), one parquet file
  per table, with the column types (parquet timestamps in microseconds,
  as in the fixture files' footers), value domains and distributions
  (uniform keys) of the engine's fixture tables, at the row counts of
  its sf0.01 set.
* ``make_raw_cnae``: the raw layer of the reference CNAE pipeline, a
  header-less ``;``-separated CSV with padded, empty and
  quoted-delimiter descriptions.

Only the seed moves values, so every seed gives the same row counts.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
_LANGS = ["en", "de", "es", "fr", "zh"]
_LANG_P = [0.41, 0.15, 0.15, 0.145, 0.145]
_WORDS = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
_DIM = 64
# scale factor of the generated tables (``lineitem`` = 6 M x SF rows)
SF = 0.01
RAW_FILES = 4


def table_rows(documents: int | None = None) -> dict[str, int]:
    """Row count of each table; ``documents`` overrides the corpus
    size."""
    return {
        "region": 5,
        "nation": 25,
        "customer": int(150_000 * SF),
        "supplier": max(10, int(10_000 * SF)),
        "part": int(200_000 * SF),
        "orders": int(1_500_000 * SF),
        "lineitem": int(6_000_000 * SF),
        "events": int(1_000_000 * SF),
        "documents": documents or max(500, int(50_000 * SF)),
        "embeddings": max(500, int(20_000 * SF)),
    }


def _days(rng, n, start: dt.date, end: dt.date) -> np.ndarray:
    span = (end - start).days
    base = np.datetime64(start, "us")
    return base + rng.integers(0, span + 1, n).astype("timedelta64[D]")


def _money(rng, n, lo, hi) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _write(dst: str, name: str, cols: dict) -> None:
    pq.write_table(
        pa.table(cols), os.path.join(dst, f"{name}.parquet"),
        compression="snappy",
    )


def _documents(rng, n: int) -> dict:
    """Word-salad documents over a 30-word vocabulary, 10-99 words
    each; 5% of them, at random places, are replaced by another
    document's text plus a ``dup`` token.  That is how the fixture
    corpus is made: its near-duplicates, and the few exact duplicates
    where two of them copy the same document, so every funnel gate
    drops something."""
    lens = rng.integers(10, 100, n)
    texts = [" ".join(rng.choice(_WORDS, k)) for k in lens]
    for i in rng.choice(n, n // 20, replace=False):
        texts[i] = texts[int(rng.integers(0, n))] + " dup"
    langs = rng.choice(_LANGS, n, p=_LANG_P)
    return {
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(langs, pa.string()),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }


def make_tables(dst: str, seed: int,
                documents: int | None = None) -> dict[str, int]:
    """Write every fixture table under ``dst``; return row counts."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    n = table_rows(documents)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    ts = pa.timestamp("us")

    _write(dst, "region", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": pa.array(_REGIONS, s),
    })
    _write(dst, "nation", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = n["customer"]
    _write(dst, "customer", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": pa.array(_money(rng, nc, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(rng.choice(_SEGMENTS, nc), s),
    })
    ns = n["supplier"]
    _write(dst, "supplier", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": pa.array(_money(rng, ns, -999.99, 9999.99), f64),
    })
    npart = n["part"]
    names = [
        f"{a} {b}"
        for a, b in zip(rng.choice(_ADJ, npart), rng.choice(_NOUN, npart))
    ]
    _write(dst, "part", {
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": pa.array(names, s),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, npart)], s),
        "p_type": pa.array(rng.choice(_PTYPES, npart), s),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": pa.array(
            np.round(900 + (np.arange(npart) % 1000) / 10, 1), f64),
    })
    no = n["orders"]
    _write(dst, "orders", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], no), s),
        "o_totalprice": pa.array(_money(rng, no, 1000, 500_000), f64),
        "o_orderdate": pa.array(
            _days(rng, no, dt.date(1995, 1, 1), dt.date(2001, 8, 1)), ts),
        "o_orderpriority": pa.array(rng.choice(_PRIORITY, no), s),
    })
    nl = n["lineitem"]
    _write(dst, "lineitem", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": pa.array(rng.integers(1, 51, nl).astype(float), f64),
        "l_extendedprice": pa.array(_money(rng, nl, 900, 105_000), f64),
        "l_discount": pa.array(rng.integers(0, 11, nl) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, nl) / 100, f64),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], nl), s),
        "l_linestatus": pa.array(rng.choice(["F", "O"], nl), s),
        "l_shipdate": pa.array(
            _days(rng, nl, dt.date(1995, 1, 2), dt.date(2001, 11, 4)), ts),
    })
    ne = n["events"]
    gaps = rng.exponential(30 * 86400 / ne, ne)
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    _write(dst, "events", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(
            t0 + (np.cumsum(gaps) * 1e6).astype("timedelta64[us]"), ts),
        "user_id": pa.array(rng.integers(0, max(nc // 10, 1), ne), i64),
        "event_type": pa.array(rng.choice(_EVENTS, ne), s),
        "value": pa.array(np.round(rng.exponential(50, ne), 2), f64),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)], s),
    })
    _write(dst, "documents", _documents(rng, n["documents"]))
    nv = n["embeddings"]
    vec = rng.normal(size=(nv, _DIM)).astype(np.float32)
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    _write(dst, "embeddings", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vec), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return n


_CNAE_WORDS = (
    "Cultivo de cereais algodão Açaí comércio varejista atacadista "
    "fabricação serviços transporte rodoviário carga produtos químicos"
).split()


def make_raw_cnae(dst: str, seed: int, rows: int) -> int:
    """Write the raw CNAE layer (``CODIGO;DESCRICAO``, no header) as
    ``RAW_FILES`` part files under ``dst``; return its size in bytes.

    About 2% of descriptions are empty, 10% carry leading and trailing
    blanks and 5% hold a quoted ``;``, the cases of the reference
    pipeline's golden test."""
    os.makedirs(dst, exist_ok=True)
    rng = np.random.default_rng(seed)
    words = np.array(_CNAE_WORDS)
    nwords = rng.integers(2, 7, rows)
    kind = rng.random(rows)
    codes = rng.permutation(rows) + 100_000
    lines = []
    for i in range(rows):
        desc = " ".join(rng.choice(words, nwords[i]))
        if kind[i] < 0.02:
            field = '""' if kind[i] < 0.01 else ""
        elif kind[i] < 0.12:
            field = f'"  {desc}  "'
        elif kind[i] < 0.17:
            field = f'"{desc}; {words[i % len(words)]}"'
        else:
            field = f'"{desc}"'
        lines.append(f"{codes[i]};{field}")
    size = 0
    for k in range(RAW_FILES):
        path = os.path.join(dst, f"Cnaes_{k}.csv")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write("\n".join(lines[k::RAW_FILES]) + "\n")
        size += os.path.getsize(path)
    return size
