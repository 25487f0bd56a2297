"""Analytics query surface: the engine-extension coverage beyond the
reference's three queries (SURVEY §2.C "engine adds").

The reference's SQL surface is filter/project/lookup-join/group-count/
top-k. A user switching a real log-analytics workload to this engine
also needs the standard relational operator set; this module provides
it over the driver's star schema, every query oracle-checked:

- multi-way joins (broadcast dims + shuffle fact joins)
- rich aggregates (sum/avg/min/max, distinct agg, rollup)
- window functions (ranking, lag/sessionization)
- semi/anti joins (EXISTS / NOT EXISTS)
- set operations (UNION / INTERSECT / EXCEPT)
- scalar string/date/math functions
- time-bucketed aggregation (the batch twin of a streaming
  tumbling window — same plan Structured Streaming runs per batch)

Determinism across engines (the oracle gate):
- Money/value sums are computed in DECIMAL(18,2) in BOTH engines —
  decimal addition is exact and associative, so Spark's partial-agg
  order vs DuckDB's order cannot change the result (double sums
  would differ in the last ulps).
- Averages divide the exact decimal sum by the exact count in double,
  rounded to 4 — one deterministic IEEE division per group.
- Every ranking has a total tie-break order.
- **Output columns are pinned to engine-neutral types.** The decimal
  math stays internal; the *final* projection casts decimals to
  DOUBLE on both sides (exact-decimal -> double is the correctly
  rounded IEEE value in both engines while the unscaled digits fit
  in 2^53 — sums are rounded to scale 2 first where needed), and
  integer sums are CAST to BIGINT in the oracle (DuckDB widens
  SUM(int) to HUGEINT, which pandas renders as float). Decimal /
  HUGEINT / DATE outputs hash differently from Spark's through a
  pandas conversion even when values are equal, so no query emits
  them.

Scale notes: all joins against region/nation/customer/supplier/part
are broadcast; fact-fact joins (orders⨝lineitem) shuffle on the join
key with AQE handling skew; aggregates are partial+final hash aggs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..session import read_table

DEC = "decimal(18,2)"


def _dec(col) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def _money(col: Column, scale: int | None = None) -> Column:
    """Pin an exact-decimal aggregate to the engine-neutral DOUBLE.

    ``scale`` rounds first (exactly, in decimal) so the unscaled
    digits stay well under 2^53 and the final decimal->double cast is
    the identical correctly-rounded IEEE value in Spark and DuckDB.
    """
    if scale is not None:
        col = F.round(col, scale)
    return col.cast("double")


# --------------------------------------------------------------------------
# Aggregation
# --------------------------------------------------------------------------

def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped pricing summary over lineitem (full scan agg).

    Per (returnflag, linestatus): exact decimal sums, rounded-double
    averages, row count. The canonical partial+final hash aggregate.
    """
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    charge = disc_price * (F.lit(1).cast(DEC) + _dec("l_tax"))
    out = (
        li.groupBy("l_returnflag", "l_linestatus")
        .agg(
            _money(F.sum(_dec("l_quantity"))).alias("sum_qty"),
            _money(F.sum(_dec("l_extendedprice"))).alias("sum_base_price"),
            _money(F.sum(disc_price), scale=2).alias("sum_disc_price"),
            _money(F.sum(charge), scale=2).alias("sum_charge"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .withColumn("avg_qty", F.round(F.col("sum_qty") / F.col("count_order"), 4))
        .withColumn("avg_price", F.round(F.col("sum_base_price") / F.col("count_order"), 4))
    )
    return out.select(
        "l_returnflag", "l_linestatus", "sum_qty", "sum_base_price",
        "sum_disc_price", "sum_charge", "avg_qty", "avg_price", "count_order",
    )


def distinct_parts_per_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: suppliers by breadth of parts shipped."""
    li = read_table(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_suppkey")
        .agg(
            F.countDistinct("l_partkey").alias("n_parts"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.desc("n_parts"), F.asc("l_suppkey"))
    )


def lineitem_global_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global (no-group) aggregate with min/max/sum/count over the fact."""
    li = read_table(spark, sf_dir, "lineitem")
    return li.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct("l_orderkey").alias("n_orders"),
        _money(F.min(_dec("l_extendedprice"))).alias("min_price"),
        _money(F.max(_dec("l_extendedprice"))).alias("max_price"),
        _money(F.sum(_dec("l_quantity"))).alias("total_qty"),
    )


def orders_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY ROLLUP(status, priority): hierarchical subtotals."""
    o = read_table(spark, sf_dir, "orders")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            _money(F.sum(_dec("o_totalprice"))).alias("revenue"),
        )
    )


def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-bucketed aggregation — the batch twin of a streaming
    tumbling window (same plan per micro-batch under readStream)."""
    ev = read_table(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            _money(F.sum(_dec("value"))).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# Joins
# --------------------------------------------------------------------------

def top_customers_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """orders ⨝ customer ⨝ nation (broadcast dims), top-25 by revenue."""
    o = read_table(spark, sf_dir, "orders")
    c = read_table(spark, sf_dir, "customer")
    n = read_table(spark, sf_dir, "nation")
    agg = (
        o.groupBy("o_custkey")
        .agg(
            _money(F.sum(_dec("o_totalprice"))).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    joined = (
        agg.join(F.broadcast(c), agg.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("c_name").alias("name"),
            F.col("n_name").alias("nation"),
            "revenue",
            "n_orders",
        )
    )
    return joined.orderBy(F.desc("revenue"), F.asc("custkey")).limit(25)


def regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-way join region->nation->customer->orders->lineitem (Q5-ish).

    The only shuffle join is orders⨝lineitem (both fact-sized); dims
    broadcast. Aggregate-before-join keeps the shuffle narrow.
    """
    r = read_table(spark, sf_dir, "region")
    n = read_table(spark, sf_dir, "nation")
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    disc_price = _dec("l_extendedprice") * (F.lit(1).cast(DEC) - _dec("l_discount"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            _money(F.sum(disc_price), scale=2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


def order_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi join (EXISTS): orders with any late-shipped lineitem."""
    o = read_table(spark, sf_dir, "orders")
    li = read_table(spark, sf_dir, "lineitem")
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(F.count(F.lit(1)).alias("n_orders"))


def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti join (NOT EXISTS): parts never shipped in bulk (qty > 45).

    The extra join predicate keeps the result non-trivial at every SF
    (every part has *some* lineitem, few have bulk shipments).
    """
    p = read_table(spark, sf_dir, "part")
    li = read_table(spark, sf_dir, "lineitem")
    return p.join(
        li,
        (p.p_partkey == li.l_partkey) & (li.l_quantity > 45),
        "left_anti",
    ).select("p_partkey", "p_name")


# --------------------------------------------------------------------------
# Window functions
# --------------------------------------------------------------------------

def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ranking window: top-3 orders per customer by totalprice."""
    o = read_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            F.col("o_custkey").alias("custkey"),
            F.col("o_orderkey").alias("orderkey"),
            _money(_dec("o_totalprice")).alias("totalprice"),
            "rn",
        )
    )


def user_session_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag() sessionization: count 30-min-gap sessions per user.

    Event-time sessions computed in batch; the streaming twin is
    applyInPandasWithState (see streaming.stateful). Gap arithmetic in
    exact integer microseconds so both engines agree bit-for-bit.
    """
    ev = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    us = F.unix_micros(F.col("ts"))
    prev = F.lag(us).over(w)
    gap = F.when(prev.isNull() | ((us - prev) > 1800 * 1_000_000), 1).otherwise(0)
    return (
        ev.withColumn("new_session", gap)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("new_session").cast("bigint").alias("n_sessions"),
        )
    )


# --------------------------------------------------------------------------
# Set operations & scalar functions
# --------------------------------------------------------------------------

def customer_segments_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(BUILDING ∩ active) ∪ (negative-balance ∖ active): one plan
    covering INTERSECT, EXCEPT, UNION with distinct semantics.

    ``negative`` is keyed by the customer PK, so EXCEPT (distinct
    semantics) equals EXCEPT ALL + DISTINCT here, two shuffle stages
    cheaper; and the union branches are provably disjoint (one is
    a subset of ``active``, the other of its complement), so no outer
    DISTINCT is needed.
    """
    c = read_table(spark, sf_dir, "customer")
    o = read_table(spark, sf_dir, "orders")
    active = o.select(F.col("o_custkey").alias("custkey")).distinct()
    building = c.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("custkey")
    )
    negative = c.filter(F.col("c_acctbal") < 0).select(
        F.col("c_custkey").alias("custkey")
    )
    # exceptAll, not except_: inputs are PK-unique + distinct, so the
    # multiset difference is already a set and skips EXCEPT's trailing
    # distinct aggregate.
    return building.intersect(active).union(negative.exceptAll(active))


def order_scalar_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar function surface: string/date/math projections."""
    o = read_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.upper(F.col("o_orderstatus")).alias("status_uc"),
        F.length("o_orderpriority").alias("prio_len"),
        F.substring("o_orderpriority", 1, 1).alias("prio_class"),
        F.year("o_orderdate").alias("yr"),
        F.month("o_orderdate").alias("mth"),
        F.day("o_orderdate").alias("dom"),
        _money(F.round(_dec("o_totalprice") * F.lit(0.1).cast(DEC), 2)).alias("fee"),
        F.abs(-F.col("o_custkey")).alias("abs_cust"),
    )


# --------------------------------------------------------------------------
# Oracle SQL (DuckDB) — mirrored aliases & decimal arithmetic
# --------------------------------------------------------------------------

_DISC = "CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))"
_CHARGE = f"{_DISC} * (1 + CAST(l_tax AS DECIMAL(18,2)))"

ORACLE: dict[str, str] = {
    "pricing_summary": f"""
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                                                           AS sum_qty,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                                                           AS sum_base_price,
               CAST(ROUND(SUM({_DISC}), 2) AS DOUBLE)      AS sum_disc_price,
               CAST(ROUND(SUM({_CHARGE}), 2) AS DOUBLE)    AS sum_charge,
               ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*), 4)                        AS avg_qty,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                     / COUNT(*), 4)                        AS avg_price,
               COUNT(*)                                    AS count_order
        FROM lineitem GROUP BY l_returnflag, l_linestatus
    """,
    "distinct_parts_per_supplier": """
        SELECT l_suppkey, COUNT(DISTINCT l_partkey) AS n_parts,
               COUNT(*) AS n_items
        FROM lineitem GROUP BY l_suppkey
        ORDER BY n_parts DESC, l_suppkey ASC
    """,
    "lineitem_global_stats": """
        SELECT COUNT(*) AS n_rows, COUNT(DISTINCT l_orderkey) AS n_orders,
               CAST(MIN(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS min_price,
               CAST(MAX(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS max_price,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
                   AS total_qty
        FROM lineitem
    """,
    "orders_rollup": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue
        FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
    """,
    "hourly_event_stats": """
        SELECT date_trunc('hour', ts) AS hour, event_type,
               COUNT(*) AS n_events,
               CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
        FROM events GROUP BY 1, 2
    """,
    "top_customers_revenue": """
        SELECT o.o_custkey AS custkey, c.c_name AS name, n.n_name AS nation,
               CAST(SUM(CAST(o.o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
                   AS revenue,
               COUNT(*) AS n_orders
        FROM orders o
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY 1, 2, 3
        ORDER BY revenue DESC, custkey ASC LIMIT 25
    """,
    "regional_revenue": f"""
        SELECT r.r_name AS region, n.n_name AS nation,
               CAST(ROUND(SUM({_DISC}), 2) AS DOUBLE) AS revenue,
               COUNT(*) AS n_items
        FROM lineitem
        JOIN orders o ON l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1, 2
    """,
    "order_priority_check": """
        SELECT o_orderpriority, COUNT(*) AS n_orders
        FROM orders o
        WHERE EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_orderkey = o.o_orderkey AND l.l_shipdate > o.o_orderdate
        )
        GROUP BY o_orderpriority
    """,
    "parts_never_ordered": """
        SELECT p_partkey, p_name FROM part p
        WHERE NOT EXISTS (
            SELECT 1 FROM lineitem l
            WHERE l.l_partkey = p.p_partkey AND l.l_quantity > 45
        )
    """,
    "top_orders_per_customer": """
        SELECT o_custkey AS custkey, o_orderkey AS orderkey,
               CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE)
                   AS totalprice, rn
        FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY o_custkey
                ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
            FROM orders
        ) WHERE rn <= 3
    """,
    "user_session_stats": """
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(new_session) AS BIGINT) AS n_sessions
        FROM (
            SELECT user_id,
                   CASE WHEN prev_us IS NULL
                             OR (us - prev_us) > 1800 * 1000000
                        THEN 1 ELSE 0 END AS new_session
            FROM (
                SELECT user_id, epoch_us(ts) AS us,
                       LAG(epoch_us(ts)) OVER (
                           PARTITION BY user_id
                           ORDER BY ts ASC, event_id ASC) AS prev_us
                FROM events
            )
        ) GROUP BY user_id
    """,
    "customer_segments_setops": """
        (SELECT c_custkey AS custkey FROM customer
          WHERE c_mktsegment = 'BUILDING'
         INTERSECT
         SELECT o_custkey AS custkey FROM orders)
        UNION
        (SELECT c_custkey AS custkey FROM customer WHERE c_acctbal < 0
         EXCEPT
         SELECT o_custkey AS custkey FROM orders)
    """,
    "order_scalar_features": """
        SELECT o_orderkey,
               UPPER(o_orderstatus) AS status_uc,
               CAST(LENGTH(o_orderpriority) AS INTEGER) AS prio_len,
               SUBSTRING(o_orderpriority, 1, 1) AS prio_class,
               CAST(YEAR(o_orderdate) AS INTEGER) AS yr,
               CAST(MONTH(o_orderdate) AS INTEGER) AS mth,
               CAST(DAY(o_orderdate) AS INTEGER) AS dom,
               CAST(ROUND(CAST(o_totalprice AS DECIMAL(18,2))
                          * CAST(0.1 AS DECIMAL(18,2)), 2) AS DOUBLE)
                   AS fee,
               ABS(-o_custkey) AS abs_cust
        FROM orders
    """,
}

QUERIES = {
    "pricing_summary": pricing_summary,
    "distinct_parts_per_supplier": distinct_parts_per_supplier,
    "lineitem_global_stats": lineitem_global_stats,
    "orders_rollup": orders_rollup,
    "hourly_event_stats": hourly_event_stats,
    "top_customers_revenue": top_customers_revenue,
    "regional_revenue": regional_revenue,
    "order_priority_check": order_priority_check,
    "parts_never_ordered": parts_never_ordered,
    "top_orders_per_customer": top_orders_per_customer,
    "user_session_stats": user_session_stats,
    "customer_segments_setops": customer_segments_setops,
    "order_scalar_features": order_scalar_features,
}
