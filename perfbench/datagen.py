"""Seeded star-schema + corpus generator for the registry workloads.

Writes the ten tables the registry reads (``catalog.TABLES``) as one
parquet file each, with the schemas and value domains of the synthetic
tables described in TESTDATA.md: uniform TPC-H-like keys and measures, a 30-day
sorted event stream, a 30-word-vocabulary document corpus in which 5%
of documents are near-duplicates (another document's text plus
``" dup"``), and unit-norm 64-dim embeddings. Every value is drawn from
``numpy.random.default_rng(seed)``, so one seed gives byte-identical
tables and another seed gives different ones.

Row counts scale with ``sf`` the way the testdata does (sf0.1 = 600k
lineitem, 5k documents).
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
COLORS = ["blue", "old", "small", "new", "large", "hot", "cold", "red"]
NOUNS = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "rod", "anvil"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch").split()
LANGS = ["en", "es", "zh", "de", "fr"]
LANG_P = [0.41, 0.1475, 0.1475, 0.1475, 0.1475]

ORDER_EPOCH = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404            # 1995-01-01 .. 2001-08-01
EVENT_EPOCH = dt.datetime(2024, 1, 1)
EVENT_SPAN_US = 30 * 86_400 * 1_000_000
EMBED_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform 2-decimal amounts in [lo, hi]."""
    cents = rng.integers(round(lo * 100), round(hi * 100) + 1, n)
    return np.round(cents / 100.0, 2)


def _days(epoch: dt.datetime, offsets: np.ndarray) -> pa.Array:
    us = (np.datetime64(epoch, "us")
          + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))
    return pa.array(us, pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """Every table at scale ``sf`` from ``seed`` (pure; no I/O)."""
    rng = np.random.default_rng(seed)
    n_cust = max(int(150_000 * sf), 50)
    n_supp = max(int(10_000 * sf), 10)
    n_part = max(int(200_000 * sf), 100)
    n_ord = max(int(1_500_000 * sf), 500)
    n_line = max(int(6_000_000 * sf), 2_000)
    n_evt = max(int(1_000_000 * sf), 1_000)
    n_user = max(int(15_000 * sf), 30)
    n_doc = max(int(50_000 * sf), 200)
    n_emb = max(int(20_000 * sf), 100)

    out: dict[str, pa.Table] = {}
    out["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": REGIONS,
    })
    out["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    out["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": _names("Customer", n_cust),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
    })
    out["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": _names("Supplier", n_supp),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    pk = np.arange(n_part)
    out["part"] = pa.table({
        "p_partkey": pa.array(pk, pa.int64()),
        "p_name": [f"{COLORS[a]} {NOUNS[b]}" for a, b in
                   zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))],
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": np.array(PART_TYPES)[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900.0 + (pk % 1000) / 10.0, 1),
    })
    out["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _money(rng, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(ORDER_EPOCH, rng.integers(0, ORDER_DAYS + 1, n_ord)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
    })
    out["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
        "l_extendedprice": _money(rng, 900.0, 105000.0, n_line),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(ORDER_EPOCH,
                            rng.integers(1, ORDER_DAYS + 96, n_line)),
    })
    ts = np.sort(rng.integers(0, EVENT_SPAN_US, n_evt))
    out["events"] = pa.table({
        "event_id": pa.array(np.arange(n_evt), pa.int64()),
        "ts": pa.array(np.datetime64(EVENT_EPOCH, "us")
                       + ts.astype("timedelta64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_user, n_evt), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_evt)],
        "value": np.round(rng.exponential(50.0, n_evt), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_evt)],
    })
    out["documents"] = _documents(rng, n_doc)
    emb = rng.standard_normal((n_emb, EMBED_DIM))
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    out["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(emb.astype(np.float32)),
                              pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    return out


def _documents(rng, n: int) -> pa.Table:
    lens = rng.integers(10, 101, n)
    words = rng.integers(0, len(VOCAB), int(lens.sum()))
    vocab = np.array(VOCAB)
    texts, pos = [], 0
    for k in lens:
        texts.append(" ".join(vocab[words[pos:pos + k]]))
        pos += k
    # 5% near-duplicates: an earlier document's text plus one token
    dups = rng.choice(np.arange(1, n), size=n // 20, replace=False)
    for d in np.sort(dups):
        texts[d] = texts[int(rng.integers(0, d))] + " dup"
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": texts,
        "lang": np.array(LANGS)[rng.choice(5, size=n, p=LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def write(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Generate and write every table; returns row counts by table."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, tbl in tables(sf, seed).items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = tbl.num_rows
    return counts
