"""The view definitions the workloads maintain.

View set V (``ivm_trickle``, ``resync_upgrade``) has six targets over the
customer / orders / lineitem tables; the revenue view (``crud_loop``) has two
targets over the ``orders`` collection of a ResourceStore.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from qvarn_mr_spark.operators import map_item, reduce_agg, reduce_join
from qvarn_mr_spark.operators.mapreduce import MERGE_ADD, MERGE_MAX

#: source → primary-key column for view set V; ``l_id`` is registered on the
#: lineitem table as ``<l_orderkey>-<l_linenumber>``
V_ID_COLS = {"customer": "c_custkey", "orders": "o_orderkey",
             "lineitem": "l_id"}

V_TARGETS = ("orders_map", "orders_by_cust", "lines_map", "lines_by_order",
             "profile_map", "cust_profile")


def with_lineitem_id(df):
    return df.withColumn(
        "l_id", F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber")))


def view_set_v(lines_version: int = 1) -> dict:
    """``lines_version`` is the lineitem map handler's version; bumping it is
    the handler upgrade that ``resync_upgrade`` resyncs."""
    return {
        "orders_map": {"orders": map_item("o_custkey", "o_totalprice")},
        "orders_by_cust": {"orders_map": reduce_agg(
            {"total": F.sum, "n": F.count}, merge=MERGE_ADD)},
        "lines_map": {"lineitem": map_item(
            "l_orderkey", "l_extendedprice", version=lines_version)},
        "lines_by_order": {"lines_map": reduce_agg(
            {"n": F.count, "max_price": F.max},
            merge={"n": MERGE_ADD, "max_price": MERGE_MAX})},
        "profile_map": {"customer": map_item("c_custkey"),
                        "orders": map_item("o_custkey")},
        "cust_profile": {"profile_map": reduce_join(
            {"customer": {"c_name": True, "c_acctbal": True},
             "orders": {"last_price": "o_totalprice"}},
            order_by={"customer": "c_custkey", "orders": "o_orderkey"})},
    }


#: the customer-revenue view over ResourceStore orders (ids are the store's)
REVENUE_TARGETS = ("revenue_map", "revenue")
REVENUE_PREFIX = "Cust#"


def revenue_view() -> dict:
    key = F.concat(F.lit(REVENUE_PREFIX), F.col("o_custkey").cast("string"))
    return {
        "revenue_map": {"orders": map_item(key, "o_totalprice")},
        "revenue": {"revenue_map": reduce_agg(
            {"revenue": F.sum, "n": F.count}, merge=MERGE_ADD)},
    }
