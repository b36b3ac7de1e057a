"""Seeded sf0.1-shaped star schema for the batch workload, written as one
parquet file (one row group) per table.

Row counts, key ranges and value domains follow the engine's test catalog
at sf0.1 (lineitem 600k, orders 150k, customer 15k, supplier 1k, events
100k, documents 5k with 5% near-duplicates); values are drawn from the
seed, so each seed is a different dataset of the same shape.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

#: Tables the 18 headline queries read.
TABLES = ("region", "nation", "customer", "supplier", "orders", "lineitem", "events", "documents")

_VOCAB = np.array(
    "spark window merge table column vector stream value data small join filter "
    "big group hash customer sort order slow line part fast row the agg key "
    "query a scan batch".split()
)
_DAY_US = 86_400 * 1_000_000


def _ts(base: str, offsets_us: np.ndarray) -> pa.Array:
    start = np.datetime64(base, "us").astype(np.int64)
    return pa.array(start + offsets_us, type=pa.timestamp("us"))


def _names(prefix: str, n: int) -> list[str]:
    return [f"{prefix}#{i:09d}" for i in range(n)]


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    texts: list[str] = []
    for _ in range(n):
        r = rng.random()
        if texts and r < 0.05:  # near-duplicate of an earlier document
            texts.append(texts[int(rng.integers(len(texts)))] + " dup")
        elif texts and r < 0.0516:  # exact duplicate
            texts.append(texts[int(rng.integers(len(texts)))])
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(_VOCAB[rng.integers(0, len(_VOCAB), k)]))
    langs = rng.choice(["en", "zh", "es", "fr", "de"], n, p=[0.41, 0.15, 0.15, 0.15, 0.14])
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n, dtype=np.int64)),
            "text": pa.array(texts),
            "lang": pa.array(langs),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
        }
    )


def make_tables(seed: int, sf: float = 0.1) -> dict[str, pa.Table]:
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev, n_doc = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf), int(50_000 * sf)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ev_offsets = np.sort(rng.integers(0, 30 * _DAY_US, n_ev))
    return {
        "region": pa.table(
            {
                "r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
            }
        ),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": pa.array(np.arange(25, dtype=np.int32) % 5),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
                "c_name": _names("Customer", n_cust),
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
                "c_acctbal": pa.array(money(-999.99, 9999.99, n_cust)),
                "c_mktsegment": pa.array(
                    rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust)
                ),
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
                "s_name": _names("Supplier", n_supp),
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
                "s_acctbal": pa.array(money(-999.99, 9999.99, n_supp)),
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord)),
                "o_orderstatus": pa.array(rng.choice(["F", "O", "P"], n_ord)),
                "o_totalprice": pa.array(money(1000.0, 500000.0, n_ord)),
                "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord) * _DAY_US),
                "o_orderpriority": pa.array(
                    rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)
                ),
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li)),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li)),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li)),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
                "l_quantity": pa.array(qty),
                "l_extendedprice": pa.array(np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2)),
                "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
                "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
                "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li)),
                "l_linestatus": pa.array(rng.choice(["F", "O"], n_li)),
                "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_li) * _DAY_US),
            }
        ),
        "events": pa.table(
            {
                "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
                "ts": _ts("2024-01-01", ev_offsets),
                "user_id": pa.array(rng.integers(0, 1500, n_ev)),
                "event_type": pa.array(rng.choice(["signup", "purchase", "view", "click", "error"], n_ev)),
                "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2)),
                "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
            }
        ),
        "documents": _documents(rng, n_doc),
    }


def write_tables(tables: dict[str, pa.Table], out_dir: str) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), row_group_size=len(table))
