"""Seeded inputs: lineitem and orders rows shaped like the TPC-H tables
the query registry reads, and small hive-partitioned parquet trees made
of lineitem rows. The same seed gives the same rows and the same files."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF01_LINEITEM_ROWS = 600_000
LINEITEM_ROWS_PER_SF = 6_000_000
LINES_PER_ORDER = 4
FLAGS = np.array(["A", "N", "R"])
STATUSES = np.array(["F", "O"])
ORDER_STATUSES = np.array(["F", "O", "P"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
_EPOCH_1995_US = 788_918_400 * 1_000_000  # 1995-01-01T00:00:00Z

LINEITEM_SCHEMA = pa.schema(
    [
        ("l_orderkey", pa.int64()),
        ("l_partkey", pa.int64()),
        ("l_suppkey", pa.int64()),
        ("l_linenumber", pa.int32()),
        ("l_quantity", pa.float64()),
        ("l_extendedprice", pa.float64()),
        ("l_discount", pa.float64()),
        ("l_tax", pa.float64()),
        ("l_returnflag", pa.string()),
        ("l_linestatus", pa.string()),
        ("l_shipdate", pa.timestamp("us")),
    ]
)


class Lineitem:
    """``n`` lineitem rows as column arrays. Row ``i`` has the key
    (l_orderkey, l_linenumber) = (i // 4, i % 4 + 1), so keys are unique,
    a contiguous row range is a contiguous l_orderkey range, and a key
    maps back to its row index."""

    def __init__(self, seed: int, n: int = SF01_LINEITEM_ROWS):
        rng = np.random.default_rng(seed)
        i = np.arange(n, dtype=np.int64)
        self.n = n
        self.orderkey = i // LINES_PER_ORDER
        self.linenumber = (i % LINES_PER_ORDER + 1).astype(np.int32)
        self.partkey = rng.integers(0, 20_000, n)
        self.suppkey = rng.integers(0, 1_000, n)
        self.quantity = rng.integers(1, 51, n).astype(np.float64)
        self.price_cents = rng.integers(90_068, 10_499_992, n)
        self.discount = rng.integers(0, 11, n) / 100.0
        self.tax = rng.integers(0, 9, n) / 100.0
        self.flag_idx = rng.integers(0, 3, n)
        self.status_idx = rng.integers(0, 2, n)
        self.ship_us = _EPOCH_1995_US + rng.integers(0, 2_499, n) * 86_400_000_000

    def table(self, rows: np.ndarray, price_cents: np.ndarray | None = None) -> pa.Table:
        """Arrow table of the given row indices (optionally with other
        prices: a changeset updates l_extendedprice)."""
        cents = self.price_cents[rows] if price_cents is None else price_cents
        return pa.table(
            [
                pa.array(self.orderkey[rows]),
                pa.array(self.partkey[rows]),
                pa.array(self.suppkey[rows]),
                pa.array(self.linenumber[rows]),
                pa.array(self.quantity[rows]),
                pa.array(cents / 100.0),
                pa.array(self.discount[rows]),
                pa.array(self.tax[rows]),
                pa.array(FLAGS[self.flag_idx[rows]]),
                pa.array(STATUSES[self.status_idx[rows]]),
                pa.array(self.ship_us[rows], pa.timestamp("us")),
            ],
            schema=LINEITEM_SCHEMA,
        )


def orders_table(seed: int, n: int) -> pa.Table:
    """``n`` orders with keys 0..n-1 (the l_orderkey range of
    ``Lineitem(n=4 * n)``), n/10 customers, and whole-cent prices up to
    560,000, about TPC-H's largest order price. About a tenth of the
    prices are above 499,900, so at any scale every one of 20 customer
    groups holds some, and the work of queries that cut there does not
    depend on the seed."""
    rng = np.random.default_rng(seed)
    return pa.table(
        {
            "o_orderkey": pa.array(np.arange(n, dtype=np.int64)),
            "o_custkey": pa.array(rng.integers(0, max(1, n // 10), n)),
            "o_orderstatus": pa.array(ORDER_STATUSES[rng.integers(0, 3, n)]),
            "o_totalprice": pa.array(rng.integers(100_000, 56_000_000, n) / 100.0),
            "o_orderdate": pa.array(_EPOCH_1995_US + rng.integers(0, 2_404, n) * 86_400_000_000, pa.timestamp("us")),
            "o_orderpriority": pa.array(PRIORITIES[rng.integers(0, 5, n)]),
        }
    )


def write_tpch(root: str, seed: int, sf: float) -> dict[str, int]:
    """``lineitem.parquet`` and ``orders.parquet`` at scale factor ``sf``
    under ``root``, named as the query registry loads them. Returns
    table name -> file size."""
    os.makedirs(root, exist_ok=True)
    n = int(LINEITEM_ROWS_PER_SF * sf)
    items = Lineitem(seed, n=n)
    tables = {
        "lineitem": items.table(np.arange(n)),
        "orders": orders_table(seed + 1, n // LINES_PER_ORDER),
    }
    sizes = {}
    for name, t in tables.items():
        path = os.path.join(root, f"{name}.parquet")
        pq.write_table(t, path)
        sizes[name] = os.path.getsize(path)
    return sizes


def tree_file_rows(rng: np.random.Generator) -> int:
    """Rows for one small file: 4-64 KiB of parquet."""
    return int(rng.integers(120, 2_200))


def write_tree(root: str, seed: int, years: int, files_per_leaf: int) -> list[str]:
    """Hive-partitioned tree ``l_shipyear=Y/l_returnflag=F/part-N.parquet``
    of small parquet files. Returns the written paths."""
    rng = np.random.default_rng(seed)
    items = Lineitem(seed + 1, n=years * len(FLAGS) * files_per_leaf * 2_200)
    paths: list[str] = []
    start = 0
    for y in range(years):
        for flag in FLAGS:
            leaf = os.path.join(root, f"l_shipyear={1995 + y}", f"l_returnflag={flag}")
            os.makedirs(leaf, exist_ok=True)
            for k in range(files_per_leaf):
                rows = np.arange(start, start + tree_file_rows(rng))
                start = rows[-1] + 1
                path = os.path.join(leaf, f"part-{k:05d}.parquet")
                pq.write_table(items.table(rows), path)
                paths.append(path)
    return paths


def write_file(path: str, seed: int, rows: int) -> int:
    """One parquet file of ``rows`` seeded rows; returns its size."""
    items = Lineitem(seed, n=rows)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(items.table(np.arange(rows)), path)
    return os.path.getsize(path)
