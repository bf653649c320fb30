"""Event analytics + relational coverage queries.

These cover the dataflow primitives of SURVEY.md §2C on the driver's tables:
scan/prefix-sum (running totals — reference ``scan_inplace``,
src/graph.h:107-109), group-by-count histograms (``histogram_by_key``,
external/connectivity.h:66), top-k (``max_element``), sessionization
(ordered window + gap predicate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

SESSION_GAP_S = 1800


def sessionize(events: DataFrame, gap_s: int = SESSION_GAP_S) -> DataFrame:
    """(user_id, n_sessions): count sessions split at inactivity gaps.

    lag-window + cumulative-sum-of-boundaries — the standard batch
    sessionization; deterministic ordering via (ts, event_id).
    """
    # Microsecond-precision gaps (timestampdiff over the raw NTZ values),
    # NOT unix_timestamp which truncates to whole seconds: a 1800.4s gap
    # IS an expired session, and the truncation made Spark disagree with
    # the DuckDB oracle's fractional epoch() on gaps within 1s of the
    # threshold (first seen at the sf1 scale tier, where such gaps
    # actually occur). timestampdiff is timezone-free on TIMESTAMP_NTZ
    # and exact integer microseconds — bit-deterministic vs the oracle.
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    with_prev = events.select(
        "user_id", "ts", F.lag("ts").over(w).alias("prev_ts")
    )
    gap_us = F.expr("timestampdiff(MICROSECOND, prev_ts, ts)")
    is_start = F.when(
        F.col("prev_ts").isNull() | (gap_us > gap_s * 1_000_000), 1
    ).otherwise(0)
    return (
        with_prev.select("user_id", is_start.alias("s"))
        .groupBy("user_id")
        .agg(F.sum("s").alias("n_sessions"))
    )


def hourly_rollup(events: DataFrame) -> DataFrame:
    """(hour_bucket, event_type, n, sum_value): tumbling 1h windows."""
    bucket = F.floor(F.unix_timestamp("ts") / 3600).alias("hour_bucket")
    return (
        events.groupBy(bucket, "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 3).alias("sum_value"),
        )
    )


def running_total(events: DataFrame) -> DataFrame:
    """(event_id, user_id, cum_value): per-user prefix sum in time order."""
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return events.select(
        "event_id", "user_id", F.round(F.sum("value").over(w), 4).alias("cum_value")
    )


def top_users(events: DataFrame, k: int = 10) -> DataFrame:
    """(user_id, total): top-k users by summed value (max_element analog)."""
    return (
        events.groupBy("user_id")
        .agg(F.round(F.sum("value"), 3).alias("total"))
        .orderBy(F.desc("total"), F.asc("user_id"))
        .limit(k)
    )


def event_histogram(events: DataFrame) -> DataFrame:
    """(event_type, n): histogram_by_key."""
    return events.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))


# --- relational coverage over the TPC-H-ish tables ------------------------

def _money(col: str):
    """Money/quantity column as decimal(18,4): summed in exact decimal so the
    result is independent of partition/summation order. A double SUM over
    tens of millions of rows differs between engines in the last ulp (the
    sf10 gate caught sum_disc_price off by 0.01 after rounding vs DuckDB);
    decimal addition is associative, so any plan shape yields one answer."""
    return F.col(col).cast("decimal(18,4)")


def pricing_summary(lineitem: DataFrame) -> DataFrame:
    """Q1-style aggregate sweep (filter → groupBy → multi-agg).

    Sums run in decimal (see ``_money``) and cast to double only after the
    final round — bit-deterministic across engines and cluster sizes.
    """
    one = F.lit(1).cast("decimal(18,4)")
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum(_money("l_quantity")), 2).cast("double").alias("sum_qty"),
            F.round(F.sum(_money("l_extendedprice")), 2).cast("double").alias("sum_base_price"),
            F.round(
                F.sum(_money("l_extendedprice") * (one - _money("l_discount"))), 2
            ).cast("double").alias("sum_disc_price"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


def top_revenue_orders(orders: DataFrame, lineitem: DataFrame, k: int = 10) -> DataFrame:
    """Q3-style join + agg + top-k."""
    one = F.lit(1).cast("decimal(18,4)")
    rev = (
        lineitem.groupBy("l_orderkey")
        .agg(
            F.round(
                F.sum(_money("l_extendedprice") * (one - _money("l_discount"))), 2
            ).cast("double").alias("revenue")
        )
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey)
        .select(F.col("o_orderkey").alias("orderkey"), "o_orderpriority", "revenue")
        .orderBy(F.desc("revenue"), F.asc("orderkey"))
        .limit(k)
    )


def order_priority_histogram(orders: DataFrame) -> DataFrame:
    """(o_orderpriority, n)."""
    return orders.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n"))
