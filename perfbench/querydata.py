"""Seeded star-schema, event, document and embedding tables for the
query suite, written as one parquet file per table.

The benchmark depends on no data outside the repository, so it writes
its own copy of the suite's inputs. At scale factor 0.1 the row counts, key
cardinalities, value ranges and means, string lengths and timestamp
spans follow the suite's sf0.1 tables (600k lineitems, 150k orders,
100k events, 5k documents, 2k embedding vectors of length 64); values
are drawn from ``numpy`` with the given seed, so the same seed writes
the same bytes.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["signup", "purchase", "view", "click", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row "
         "the agg key query a scan batch of to and is").split()
EMB_DIM = 64


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100), n) / 100.0


def _ts(rng, start: str, days: int, n: int, unit: str = "D") -> pa.Array:
    """``n`` timestamps drawn from ``days`` days after ``start``, at
    whole ``unit`` steps."""
    steps = days * (np.timedelta64(1, "D") // np.timedelta64(1, unit))
    d = np.datetime64(start, "us") + rng.integers(0, steps, n).astype(
        f"timedelta64[{unit}]").astype("timedelta64[us]")
    return pa.array(d, pa.timestamp("us"))


def _choice(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _documents(rng, n: int) -> pa.Table:
    texts: list[str] = []
    for i in range(n):
        if i > 10 and rng.random() < 0.1:  # a near-duplicate of an earlier doc
            toks = texts[int(rng.integers(0, i))].split()
            toks[int(rng.integers(0, len(toks)))] = WORDS[int(rng.integers(0, len(WORDS)))]
        else:
            toks = [WORDS[j] for j in rng.integers(0, len(WORDS), int(rng.integers(9, 106)))]
            if rng.random() < 0.2:
                toks[-1] += "."
        texts.append(" ".join(toks))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(rng, LANGS, n),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(out_dir: str, seed: int, sf: float = 0.1) -> None:
    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), int(10_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev = int(1_000_000 * sf)
    i32, i64 = np.int32, np.int64
    tables = {
        "region": pa.table({
            "r_regionkey": pa.array(np.arange(5, dtype=i32)),
            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]),
        }),
        "nation": pa.table({
            "n_nationkey": pa.array(np.arange(25, dtype=i32)),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array(np.arange(25, dtype=i32) % 5),
        }),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=i64)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(i32)),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
            "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
        }),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=i64)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(i32)),
            "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
        }),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord, dtype=i64)),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(i64)),
            "o_orderstatus": _choice(rng, ["O", "F", "P"], n_ord),
            "o_totalprice": pa.array(_money(rng, 900, 500_000, n_ord)),
            "o_orderdate": _ts(rng, "1995-01-01", 2404, n_ord),
            "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
        }),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line).astype(i64)),
            "l_partkey": pa.array(rng.integers(0, int(200_000 * sf), n_line).astype(i64)),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line).astype(i64)),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line).astype(i32)),
            "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(np.float64)),
            "l_extendedprice": pa.array(_money(rng, 900, 105_000, n_line)),
            "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
            "l_returnflag": _choice(rng, ["A", "N", "R"], n_line),
            "l_linestatus": _choice(rng, ["O", "F"], n_line),
            "l_shipdate": _ts(rng, "1995-01-02", 2498, n_line),
        }),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev, dtype=i64)),
            "ts": _ts(rng, "2024-01-01", 30, n_ev, unit="us"),
            "user_id": pa.array(rng.integers(0, 1500, n_ev).astype(i64)),
            "event_type": _choice(rng, EVENT_TYPES, n_ev),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }),
        "documents": _documents(rng, int(50_000 * sf)),
    }
    n_emb = int(20_000 * sf)
    vec = rng.normal(0.0, 0.1, (n_emb, EMB_DIM)).astype(np.float32)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=i64)),
        "embedding": pa.FixedSizeListArray.from_arrays(
            pa.array(vec.ravel()), EMB_DIM).cast(pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(i32)),
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))
