"""Correctness gate: maintained reduce views against a DuckDB recompute.

The expected rows are computed by DuckDB from the benchmark's own model of
the final source rows (the pandas frames it mutated alongside the program),
never from anything the program stored, so a wrong view cannot vouch for
itself.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from views import REVENUE_PREFIX

V_SQL = {
    "orders_by_cust": """
        SELECT CAST(o_custkey AS VARCHAR) AS _mr_key,
               SUM(o_totalprice) AS total, COUNT(*) AS n
        FROM orders GROUP BY 1""",
    "lines_by_order": """
        SELECT CAST(l_orderkey AS VARCHAR) AS _mr_key,
               COUNT(*) AS n, MAX(l_extendedprice) AS max_price
        FROM lineitem GROUP BY 1""",
    "cust_profile": """
        WITH c AS (SELECT CAST(c_custkey AS VARCHAR) AS k, c_name, c_acctbal
                   FROM customer),
             o AS (SELECT CAST(o_custkey AS VARCHAR) AS k,
                          arg_max(o_totalprice, o_orderkey) AS last_price
                   FROM orders GROUP BY 1)
        SELECT COALESCE(c.k, o.k) AS _mr_key, c.c_name, c.c_acctbal,
               o.last_price
        FROM c FULL OUTER JOIN o ON c.k = o.k""",
}

REVENUE_SQL = f"""
    SELECT '{REVENUE_PREFIX}' || CAST(o_custkey AS VARCHAR) AS _mr_key,
           SUM(o_totalprice) AS revenue, COUNT(*) AS n
    FROM orders GROUP BY 1"""


def recompute(sql: dict[str, str], tables: dict[str, pd.DataFrame]
              ) -> dict[str, pd.DataFrame]:
    con = duckdb.connect()
    try:
        for name, df in tables.items():
            con.register(name, df)
        return {t: con.execute(q).df() for t, q in sql.items()}
    finally:
        con.close()


def _same(a: pd.Series, b: pd.Series) -> np.ndarray:
    """Element-wise equality; NULLs equal each other, floats to 1e-9 rel."""
    both_null = a.isna().to_numpy() & b.isna().to_numpy()
    if pd.api.types.is_numeric_dtype(a) and pd.api.types.is_numeric_dtype(b):
        x = a.to_numpy(dtype=float)
        y = b.to_numpy(dtype=float)
        with np.errstate(invalid="ignore"):
            close = np.abs(x - y) <= 1e-9 * np.maximum(1.0, np.abs(y))
        return both_null | close
    eq = (a.astype(object).to_numpy() == b.astype(object).to_numpy())
    return both_null | eq


def mismatches(actual: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Rows missing, extra or different, keyed by ``_mr_key``."""
    cols = [c for c in expected.columns if c != "_mr_key"]
    if actual["_mr_key"].duplicated().any():
        return int(actual["_mr_key"].duplicated().sum())
    m = expected.merge(actual[["_mr_key", *cols]], on="_mr_key",
                       how="outer", suffixes=("_exp", "_act"),
                       indicator=True)
    bad = (m["_merge"] != "both").to_numpy()
    for c in cols:
        bad |= ~_same(m[f"{c}_act"], m[f"{c}_exp"])
    return int(bad.sum())


def check_views(read, expected: dict[str, pd.DataFrame]) -> dict[str, int]:
    """``read(target)`` returns the maintained view as pandas; returns the
    mismatch count per target."""
    return {t: mismatches(read(t), exp) for t, exp in expected.items()}


def plant_error(df: pd.DataFrame) -> pd.DataFrame:
    """A copy of a reduce view with one value changed (gate self-test)."""
    df = df.copy()
    col = next(c for c in df.columns
               if c != "_mr_key" and pd.api.types.is_numeric_dtype(df[c]))
    df.loc[df.index[0], col] = df[col].iloc[0] + 1
    return df
