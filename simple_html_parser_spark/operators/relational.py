"""Relational showcase operators (SURVEY.md §2.8: joins/aggregations/
windows are Spark built-ins in this engine — these queries exist to
prove the engine composes them correctly and to exercise broadcast /
partial-agg / window paths under the oracle gate)."""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """TPC-H Q1-style: partial-aggregating groupBy (map-side combine),
    one shuffle on the tiny (flag, status) key space."""
    return (
        lineitem
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 4).alias("sum_base_price"),
            F.round(F.sum(F.col("l_extendedprice")
                          * (1 - F.col("l_discount"))), 4)
            .alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def top_orders(orders: DataFrame, customer: DataFrame,
               lineitem: DataFrame) -> DataFrame:
    """TPC-H Q3-style join: customer is the small side → broadcast
    (no shuffle for it); lineitem↔orders co-shuffle on the order key."""
    revenue = (
        lineitem.groupBy("l_orderkey")
        .agg(F.round(F.sum(F.col("l_extendedprice")
                           * (1 - F.col("l_discount"))), 4)
             .alias("revenue"))
    )
    return (
        orders.join(F.broadcast(customer.select("c_custkey", "c_name")),
                    orders.o_custkey == F.col("c_custkey"))
        .join(revenue, orders.o_orderkey == revenue.l_orderkey)
        .select(
            F.col("o_orderkey").alias("orderkey"),
            F.col("c_name").alias("customer"), "revenue")
        .orderBy(F.col("revenue").desc(), "orderkey")
        .limit(20)
    )


def events_topk_per_user(events: DataFrame, k: int = 3) -> DataFrame:
    """Window top-k: rank events per user by value (single shuffle on
    user_id, no global sort)."""
    w = Window.partitionBy("user_id").orderBy(
        F.col("value").desc(), F.col("event_id"))
    return (
        events
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= k)
        .select("user_id", "event_id", "event_type",
                F.round("value", 6).alias("value"), "rk")
    )


def supplier_part_join(part: DataFrame, supplier: DataFrame,
                       lineitem: DataFrame) -> DataFrame:
    """Semi/anti-join demo: parts shipped by at least one supplier from
    lineitem (left_semi) with per-part shipped quantity."""
    shipped = (
        lineitem.groupBy("l_partkey")
        .agg(F.round(F.sum("l_quantity"), 4).alias("total_qty"),
             F.count("*").alias("n_lines"))
    )
    return (
        part.join(shipped, part.p_partkey == shipped.l_partkey)
        .select(F.col("p_partkey").alias("partkey"),
                F.col("p_name").alias("part_name"),
                "total_qty", "n_lines")
    )
