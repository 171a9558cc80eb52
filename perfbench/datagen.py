"""Seeded TPC-H-shaped input tables for the benchmark.

The tables mirror the schemas the catalog and its DuckDB oracles read
(`orders lineitem documents`): the same column names, types and value
ranges. Row counts scale with `sf` like TPC-H (sf0.1: 150k orders, 600k
line items). The same (seed, sf) always gives byte-identical parquet
files; no Spark is involved.
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
STATUSES = ["O", "F", "P"]
VOCAB = ("spark window merge table column vector stream value data small "
         "join filter big group hash customer sort order slow line part "
         "fast row the agg key query a scan batch").split()
LANGS = ["en", "en", "en", "fr", "es", "zh", "de"]

ORDER_DAY0 = dt.datetime(1995, 1, 1)
ORDER_DAYS = 2404          # 1995-01-01 .. 2001-08-01
SHIP_DAY0 = dt.datetime(1995, 1, 2)
SHIP_DAYS = 2498           # 1995-01-02 .. 2001-11-04


def table_sizes(sf: float) -> dict[str, int]:
    return {
        "customer": max(10, int(150_000 * sf)),
        "orders": max(100, int(1_500_000 * sf)),
        "lineitem": max(400, int(6_000_000 * sf)),
        "documents": max(50, int(50_000 * sf)),
    }


def _days(rng: np.random.Generator, day0: dt.datetime, span: int,
          n: int) -> pa.Array:
    base = np.datetime64(day0, "us")
    days = rng.integers(0, span + 1, n).astype("timedelta64[D]")
    return pa.array(base + days.astype("timedelta64[us]"),
                    type=pa.timestamp("us"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    cents = rng.integers(int(lo * 100), int(hi * 100) + 1, n)
    return cents / 100.0


def orders_table(rng: np.random.Generator, n: int, n_cust: int) -> pa.Table:
    return pa.table({
        "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n, dtype=np.int64)),
        "o_orderstatus": pa.array(np.array(STATUSES)[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500_000.0, n)),
        "o_orderdate": _days(rng, ORDER_DAY0, ORDER_DAYS, n),
        "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n)]),
    })


def _lineitem(rng: np.random.Generator, n: int, n_orders: int) -> pa.Table:
    return pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_orders, n, dtype=np.int64)),
        "l_partkey": pa.array(rng.integers(0, max(1, n // 30), n, dtype=np.int64)),
        "l_suppkey": pa.array(rng.integers(0, max(1, n // 600), n, dtype=np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n).astype(np.int32)),
        "l_quantity": pa.array(rng.integers(1, 51, n).astype(np.float64)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105_000.0, n)),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, SHIP_DAY0, SHIP_DAYS, n),
    })


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts = []
    for _ in range(n):
        words = list(vocab[rng.integers(0, len(VOCAB), int(rng.integers(10, 101)))])
        if rng.random() < 0.05:
            words.append("dup")
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(np.array(LANGS)[rng.integers(0, len(LANGS), n)]),
        "source": pa.array([f"src{i % 20}" for i in range(n)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype=np.int64)),
    })


def write_tables(out_dir: str, seed: int, sf: float,
                 names: tuple[str, ...]) -> dict[str, str]:
    """Write the named tables as `<out_dir>/<name>.parquet`; returns
    {name: path}. Each table draws from its own stream of the seed, so
    the set of tables requested does not change any table's contents."""
    os.makedirs(out_dir, exist_ok=True)
    sizes = table_sizes(sf)
    makers = {
        "orders": lambda r: orders_table(r, sizes["orders"], sizes["customer"]),
        "lineitem": lambda r: _lineitem(r, sizes["lineitem"], sizes["orders"]),
        "documents": lambda r: _documents(r, sizes["documents"]),
    }
    paths = {}
    for name in names:
        rng = np.random.default_rng([seed, zlib.crc32(name.encode())])
        paths[name] = os.path.join(out_dir, f"{name}.parquet")
        pq.write_table(makers[name](rng), paths[name])
    return paths
