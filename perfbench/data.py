"""Seeded source tables for the benchmark (TPC-H-shaped, built from --seed).

Every table is generated with NumPy from one ``numpy.random.Generator`` and
written with pyarrow, so the same seed always gives byte-identical inputs and
no Spark job runs while inputs are being made.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                     "MACHINERY"])
PRIORITIES = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                       "5-LOW"])
STATUSES = np.array(["F", "O", "P"])

#: orders per customer and the mean lineitems per order, as in TPC-H
ORDERS_PER_CUSTOMER = 10
MAX_LINES = 7


def price(rng: np.random.Generator, n: int) -> np.ndarray:
    """Order totals in whole cents, so every sum is exact in float64."""
    return rng.integers(100_00, 5_000_00, size=n) / 100.0


def make_customers(rng: np.random.Generator, n: int) -> pd.DataFrame:
    keys = np.arange(1, n + 1, dtype=np.int64)
    return pd.DataFrame({
        "c_custkey": keys,
        "c_name": [f"Customer#{k:09d}" for k in keys],
        "c_nationkey": rng.integers(0, 25, size=n).astype(np.int32),
        "c_acctbal": rng.integers(-999_99, 9_999_99, size=n) / 100.0,
        "c_mktsegment": SEGMENTS[rng.integers(0, len(SEGMENTS), size=n)],
    })


def make_orders(rng: np.random.Generator, n: int, customers: int,
                first_key: int = 1) -> pd.DataFrame:
    return pd.DataFrame({
        "o_orderkey": np.arange(first_key, first_key + n, dtype=np.int64),
        "o_custkey": rng.integers(1, customers + 1, size=n).astype(np.int64),
        "o_orderstatus": STATUSES[rng.integers(0, len(STATUSES), size=n)],
        "o_totalprice": price(rng, n),
        "o_orderpriority": PRIORITIES[rng.integers(0, len(PRIORITIES),
                                                   size=n)],
    })


def make_lineitems(rng: np.random.Generator,
                   orderkeys: np.ndarray) -> pd.DataFrame:
    lines = rng.integers(1, MAX_LINES + 1, size=len(orderkeys))
    okeys = np.repeat(orderkeys, lines)
    # 1..k within each order
    starts = np.repeat(np.cumsum(lines) - lines, lines)
    linenos = (np.arange(len(okeys)) - starts + 1).astype(np.int32)
    n = len(okeys)
    return pd.DataFrame({
        "l_orderkey": okeys.astype(np.int64),
        "l_linenumber": linenos,
        "l_quantity": rng.integers(1, 51, size=n).astype(np.float64),
        "l_extendedprice": price(rng, n),
    })


def write_parquet(df: pd.DataFrame, path: str) -> str:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    pq.write_table(pa.Table.from_pandas(df, preserve_index=False), tmp)
    os.replace(tmp, path)
    return path


def make_tables(seed: int, customers: int) -> dict[str, pd.DataFrame]:
    """customer / orders / lineitem for ``customers`` customers."""
    rng = np.random.default_rng(seed)
    cust = make_customers(rng, customers)
    orders = make_orders(rng, customers * ORDERS_PER_CUSTOMER, customers)
    lineitem = make_lineitems(rng, orders["o_orderkey"].to_numpy())
    return {"customer": cust, "orders": orders, "lineitem": lineitem}
