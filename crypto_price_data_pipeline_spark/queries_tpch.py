"""Relational core: the TPC-H query shapes and the SQL surface
(joins, windows, grouping sets, set operations, scalar function
families).

Each entry is a named query over the testdata tables (TESTDATA.md). The
Spark side is idiomatic DataFrame code; the oracle is ANSI SQL DuckDB
runs on the same parquet, and tools/check_oracle.py compares both
(row count + schema + order-insensitive value multiset). Float aggregates
follow the DECIMAL(38,6) determinism contract in
``functions/portable.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .functions.portable import _col, _dec, davg, dsum, S_DAVG, S_DSUM
from .io.sources import load_table, register_views


# ------------------------------------------------------- relational core


def q01_pricing_summary(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q1 shape: scan→filter→hash-agg→sort. The flagship query
    (SURVEY.md §7 'minimum end-to-end slice')."""
    li = load_table(spark, sf, "lineitem")
    disc_price = _col("l_extendedprice") * (1 - _col("l_discount"))
    charge = (_col("l_extendedprice") * (1 - _col("l_discount"))) * (1 + _col("l_tax"))
    return (
        li.where(_col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum(_col("l_quantity")).alias("sum_qty"),
            dsum(_col("l_extendedprice")).alias("sum_base_price"),
            dsum(disc_price).alias("sum_disc_price"),
            dsum(charge).alias("sum_charge"),
            davg(_col("l_quantity")).alias("avg_qty"),
            davg(_col("l_extendedprice")).alias("avg_price"),
            davg(_col("l_discount")).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


Q01_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {S_DSUM('l_quantity')} AS sum_qty,
       {S_DSUM('l_extendedprice')} AS sum_base_price,
       {S_DSUM('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
       {S_DSUM('(l_extendedprice * (1 - l_discount)) * (1 + l_tax)')} AS sum_charge,
       {S_DAVG('l_quantity')} AS avg_qty,
       {S_DAVG('l_extendedprice')} AS avg_price,
       {S_DAVG('l_discount')} AS avg_disc,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
"""


def q02_filter_pushdown(spark: SparkSession, sf: str) -> DataFrame:
    """Projection + predicate — both reach the parquet scan (check
    PushedFilters/ReadSchema in .explain)."""
    li = load_table(spark, sf, "lineitem")
    return li.where(
        (_col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (_col("l_shipdate") < F.lit("1997-02-01").cast("timestamp"))
        & (_col("l_quantity") < 10)
    ).select("l_orderkey", "l_partkey", "l_linenumber", "l_quantity", "l_extendedprice")


Q02_SQL = """
SELECT l_orderkey, l_partkey, l_linenumber, l_quantity, l_extendedprice
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-02-01 00:00:00'
  AND l_quantity < 10
"""


def q03_segment_top_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join → agg → top-10 (TakeOrderedAndProject)."""
    cust = load_table(spark, sf, "customer").where(_col("c_mktsegment") == "BUILDING")
    orders = load_table(spark, sf, "orders").where(
        _col("o_orderdate") < F.lit("1998-01-01").cast("timestamp")
    )
    li = load_table(spark, sf, "lineitem").where(
        _col("l_shipdate") > F.lit("1998-01-01").cast("timestamp")
    )
    revenue = _col("l_extendedprice") * (1 - _col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .groupBy(
            "l_orderkey",
            # timestamps leave the engine as canonical strings so the
            # oracle compare is representation-independent (Spark
            # collects tz-aware UTC, DuckDB naive — same instant,
            # different repr)
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_orderpriority",
        )
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


Q03_SQL = f"""
SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate, o_orderpriority,
       {S_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
WHERE c_mktsegment = 'BUILDING'
  AND o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
  AND l_shipdate  > TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S'), o_orderpriority
ORDER BY revenue DESC, l_orderkey
LIMIT 10
"""


def q05_region_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way star join; dims broadcast, facts shuffle
    once on the join keys."""
    region = load_table(spark, sf, "region").where(_col("r_name") == "ASIA")
    nation = load_table(spark, sf, "nation")
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        (_col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (_col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    revenue = _col("l_extendedprice") * (1 - _col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(
            supp,
            (li["l_suppkey"] == supp["s_suppkey"])
            & (cust["c_nationkey"] == supp["s_nationkey"]),
        )
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(F.broadcast(region), nation["n_regionkey"] == region["r_regionkey"])
        .groupBy("n_name")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "n_name")
    )


Q05_SQL = f"""
SELECT n_name, {S_DSUM('l_extendedprice * (1 - l_discount)')} AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name = 'ASIA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY n_name
ORDER BY revenue DESC, n_name
"""


def q06_forecast_revenue(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan-filter-scalar-agg (no shuffle beyond
    the final single-row reduce)."""
    li = load_table(spark, sf, "lineitem")
    return li.where(
        (_col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (_col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        & (_col("l_discount") >= 0.02)
        & (_col("l_discount") <= 0.09)
        & (_col("l_quantity") < 24)
    ).agg(dsum(_col("l_extendedprice") * _col("l_discount")).alias("revenue"))


Q06_SQL = f"""
SELECT {S_DSUM('l_extendedprice * l_discount')} AS revenue
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
  AND l_discount BETWEEN 0.02 AND 0.09
  AND l_quantity < 24
"""


def q_semi_join(spark: SparkSession, sf: str) -> DataFrame:
    """left_semi = EXISTS; segment counts of customers with ≥1 open order."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(_col("o_orderstatus") == "O")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
        .orderBy("c_mktsegment")
    )


Q_SEMI_SQL = """
SELECT c_mktsegment, COUNT(*) AS n_customers
FROM customer
WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_orderstatus = 'O')
GROUP BY c_mktsegment
ORDER BY c_mktsegment
"""


def q_anti_join(spark: SparkSession, sf: str) -> DataFrame:
    """left_anti = NOT EXISTS; customers with no orders at all."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .select("c_custkey", "c_name", "c_mktsegment")
    )


Q_ANTI_SQL = """
SELECT c_custkey, c_name, c_mktsegment
FROM customer
WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
"""


def q_topk_per_group(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 orders by totalprice per priority (ranking window)."""
    orders = load_table(spark, sf, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(_col("rk") <= 3)
        .select("o_orderpriority", "rk", "o_orderkey", "o_totalprice")
    )


Q_TOPK_GROUP_SQL = """
SELECT o_orderpriority, CAST(rk AS INTEGER) AS rk, o_orderkey, o_totalprice
FROM (
  SELECT o_orderpriority, o_orderkey, o_totalprice,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority
                            ORDER BY o_totalprice DESC, o_orderkey) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q_window_delta(spark: SparkSession, sf: str) -> DataFrame:
    """lag() analytic: per-user value delta between consecutive events."""
    ev = load_table(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        (_col("value") - F.lag("value").over(w)).alias("delta"),
    )


Q_WINDOW_DELTA_SQL = """
SELECT event_id, user_id,
       value - LAG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS delta
FROM events
"""


def q_moving_avg(spark: SparkSession, sf: str) -> DataFrame:
    """24-row trailing moving average per user (rowsBetween frame)."""
    ev = load_table(spark, sf, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-23, Window.currentRow)
    )
    mov = F.sum(_dec(_col("value"))).over(w).cast("double") / F.count("value").over(w)
    return ev.select("event_id", "user_id", mov.alias("mov_avg_24"))


Q_MOVING_AVG_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) / COUNT(value) OVER w AS mov_avg_24
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)
"""


def q_rollup(spark: SparkSession, sf: str) -> DataFrame:
    """ROLLUP hierarchy totals with GROUPING markers."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            dsum(_col("l_quantity")).alias("sum_qty"),
            F.count(F.lit(1)).alias("n"),
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
        )
    )


Q_ROLLUP_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {S_DSUM('l_quantity')} AS sum_qty,
       COUNT(*) AS n,
       CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
       CAST(GROUPING(l_linestatus) AS INT) AS g_status
FROM lineitem
GROUP BY ROLLUP (l_returnflag, l_linestatus)
"""


def q_cube(spark: SparkSession, sf: str) -> DataFrame:
    """CUBE over (returnflag, linestatus)."""
    li = load_table(spark, sf, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        dsum(_col("l_extendedprice")).alias("sum_price"),
        F.count(F.lit(1)).alias("n"),
    )


Q_CUBE_SQL = f"""
SELECT l_returnflag, l_linestatus,
       {S_DSUM('l_extendedprice')} AS sum_price, COUNT(*) AS n
FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def q_setops(spark: SparkSession, sf: str) -> DataFrame:
    """UNION / INTERSECT / EXCEPT (distinct semantics throughout)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders")
    building = cust.where(_col("c_mktsegment") == "BUILDING").select("c_custkey")
    rich = cust.where(_col("c_acctbal") > 5000).select("c_custkey")
    active = orders.select(_col("o_custkey").alias("c_custkey"))
    negative = cust.where(_col("c_acctbal") < 0).select("c_custkey")
    return building.union(rich).distinct().intersect(active).subtract(negative)


Q_SETOPS_SQL = """
SELECT c_custkey FROM (
  (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
   UNION
   SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
  INTERSECT
  SELECT o_custkey AS c_custkey FROM orders
  EXCEPT
  SELECT c_custkey FROM customer WHERE c_acctbal < 0
)
"""


def q_pivot(spark: SparkSession, sf: str) -> DataFrame:
    """Pivot linestatus into columns (explicit value list → single pass)."""
    li = load_table(spark, sf, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(_dec(_col("l_quantity"))).cast("double"))
        .orderBy("l_returnflag")
    )


Q_PIVOT_SQL = """
SELECT l_returnflag,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'O') AS DOUBLE) AS "O",
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) FILTER (WHERE l_linestatus = 'F') AS DOUBLE) AS "F"
FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
"""


def q_agg_distinct(spark: SparkSession, sf: str) -> DataFrame:
    """COUNT(DISTINCT) alongside plain aggs (Catalyst expand rewrite)."""
    orders = load_table(spark, sf, "orders")
    return (
        orders.groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.countDistinct("o_custkey").alias("n_customers"),
            dsum(_col("o_totalprice")).alias("sum_total"),
        )
        .orderBy("o_orderpriority")
    )


Q_AGG_DISTINCT_SQL = f"""
SELECT o_orderpriority, COUNT(*) AS n_orders,
       COUNT(DISTINCT o_custkey) AS n_customers,
       {S_DSUM('o_totalprice')} AS sum_total
FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
"""


def q_above_brand_avg(spark: SparkSession, sf: str) -> DataFrame:
    """Correlated-subquery shape, decorrelated as agg + broadcast join."""
    part = load_table(spark, sf, "part")
    brand_avg = part.groupBy("p_brand").agg(davg(_col("p_retailprice")).alias("brand_avg"))
    return (
        part.join(F.broadcast(brand_avg), "p_brand")
        .where(_col("p_retailprice") > _col("brand_avg"))
        .select("p_partkey", "p_brand", "p_retailprice", "brand_avg")
    )


Q_ABOVE_AVG_SQL = f"""
SELECT p_partkey, p_brand, p_retailprice, brand_avg
FROM part
JOIN (SELECT p_brand, {S_DAVG('p_retailprice')} AS brand_avg
      FROM part GROUP BY p_brand) USING (p_brand)
WHERE p_retailprice > brand_avg
"""


def q_band_join(spark: SparkSession, sf: str) -> DataFrame:
    """Range/banding join against a tiny tiers dimension (broadcast-NL
    fast path of operators.range_join.band_join)."""
    from .operators.range_join import band_join

    ev = load_table(spark, sf, "events")
    tiers = spark.createDataFrame(
        [(0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e9, "high")],
        "lo double, hi double, tier string",
    )
    return (
        band_join(ev, tiers, "value")
        .groupBy("tier")
        .agg(F.count(F.lit(1)).alias("n"), dsum(_col("value")).alias("sum_value"))
        .orderBy("tier")
    )


Q_BAND_JOIN_SQL = f"""
SELECT tier, COUNT(*) AS n, {S_DSUM('value')} AS sum_value
FROM events
JOIN (VALUES (CAST(0.0 AS DOUBLE), CAST(50.0 AS DOUBLE), 'low'),
             (CAST(50.0 AS DOUBLE), CAST(150.0 AS DOUBLE), 'mid'),
             (CAST(150.0 AS DOUBLE), CAST(1e9 AS DOUBLE), 'high')) t(lo, hi, tier)
  ON value >= lo AND value < hi
GROUP BY tier ORDER BY tier
"""


def q_asof_join(spark: SparkSession, sf: str) -> DataFrame:
    """As-of join: each purchase gets the latest prior click value of
    the same user (union+window rewrite; DuckDB verifies with its
    native ASOF JOIN)."""
    from .operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    purchases = ev.where(_col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(_col("event_type") == "click").select(
        "user_id", "ts", _col("value").alias("last_click_value")
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"])
    return out.withColumn(
        "ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS")
    )


Q_ASOF_SQL = """
SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.value, r.last_click_value
FROM (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase') l
ASOF LEFT JOIN (SELECT user_id, ts, value AS last_click_value
                FROM events WHERE event_type = 'click') r
  ON l.user_id = r.user_id AND l.ts >= r.ts
"""


def _asof_direction_query(spark: SparkSession, sf: str, direction: str, out_col: str) -> DataFrame:
    from .operators.asof import asof_join

    ev = load_table(spark, sf, "events")
    purchases = ev.where(_col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    clicks = ev.where(_col("event_type") == "click").select(
        "user_id", "ts", _col("value").alias(out_col)
    )
    out = asof_join(purchases, clicks, on="ts", by=["user_id"], direction=direction)
    return out.withColumn("ts", F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"))


def q_asof_forward(spark: SparkSession, sf: str) -> DataFrame:
    """Forward as-of: each purchase gets the next click value at or
    after it (same union+window plan as backward, mirrored frame).
    Oracle: correlated first-row-ahead subquery."""
    return _asof_direction_query(spark, sf, "forward", "next_click_value")


def q_asof_nearest(spark: SparkSession, sf: str) -> DataFrame:
    """Nearest as-of: closest click either side, ties backward —
    exercises the integer-microsecond distance compare."""
    return _asof_direction_query(spark, sf, "nearest", "nearest_click_value")


Q_ASOF_FORWARD_SQL = """
SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.value,
       (SELECT r.value FROM events r
         WHERE r.event_type = 'click' AND r.user_id = l.user_id AND r.ts >= l.ts
         ORDER BY r.ts LIMIT 1) AS next_click_value
FROM events l WHERE l.event_type = 'purchase'
"""


Q_ASOF_NEAREST_SQL = """
SELECT l.event_id, l.user_id, strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, l.value,
       (SELECT r.value FROM events r
         WHERE r.event_type = 'click' AND r.user_id = l.user_id
         ORDER BY ABS(epoch_us(r.ts) - epoch_us(l.ts)) ASC, r.ts ASC LIMIT 1) AS nearest_click_value
FROM events l WHERE l.event_type = 'purchase'
"""


def q04_order_priority(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS (left-semi) + count per priority."""
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem").where(F.col("l_quantity") > 45)
    return (
        orders.join(li, orders["o_orderkey"] == li["l_orderkey"], "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        .orderBy("o_orderpriority")
    )


Q04_SQL = """
SELECT o_orderpriority, COUNT(*) AS order_count
FROM orders
WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-04-01 00:00:00'
  AND EXISTS (SELECT 1 FROM lineitem
              WHERE l_orderkey = o_orderkey AND l_quantity > 45)
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


def q07_nation_volume(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q7 shape: customer-nation × supplier-nation trade volume
    per year (two broadcast dim joins + year extraction)."""
    li = load_table(spark, sf, "lineitem")
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    n1 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("c_nk"), F.col("n_name").alias("cust_nation")
    )
    n2 = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("s_nk"), F.col("n_name").alias("supp_nation")
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(supp, li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(n1), cust["c_nationkey"] == n1["c_nk"])
        .join(F.broadcast(n2), supp["s_nationkey"] == n2["s_nk"])
        .where(F.col("cust_nation") != F.col("supp_nation"))
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(dsum(revenue).alias("volume"))
    )


Q07_SQL = """
SELECT supp_nation, cust_nation, l_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS volume
FROM (
  SELECT n1.n_name AS cust_nation, n2.n_name AS supp_nation,
         CAST(year(l_shipdate) AS INT) AS l_year,
         l_extendedprice, l_discount
  FROM lineitem
  JOIN orders   ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation n1 ON c_nationkey = n1.n_nationkey
  JOIN nation n2 ON s_nationkey = n2.n_nationkey
  WHERE n1.n_name <> n2.n_name
)
GROUP BY supp_nation, cust_nation, l_year
"""


def q_grouping_sets(spark: SparkSession, sf: str) -> DataFrame:
    """GROUPING SETS via the SQL API (same Catalyst plan as DataFrame)."""
    register_views(spark, sf)
    return spark.sql(
        """
        SELECT l_returnflag, l_linestatus,
               CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
               COUNT(*) AS n
        FROM lineitem
        GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
        """
    )


Q_GROUPING_SETS_SQL = """
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
       COUNT(*) AS n
FROM lineitem
GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus), ())
"""


def q_string_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Scalar string surface (SURVEY §2.3 F1-F3 generalized): case
    transforms, substring, length, replace, concat."""
    cust = load_table(spark, sf, "customer").where(F.col("c_custkey") <= 1000)
    return cust.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("segment_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").cast("bigint").alias("name_len"),
        F.translate("c_name", "#", "-").alias("name_dashed"),
        F.concat_ws("|", "c_mktsegment", "c_name").alias("seg_name"),
    )


Q_STRING_FUNCS_SQL = """
SELECT c_custkey,
       UPPER(c_name) AS name_upper,
       LOWER(c_mktsegment) AS segment_lower,
       SUBSTRING(c_name, 1, 8) AS name_prefix,
       CAST(LENGTH(c_name) AS BIGINT) AS name_len,
       REPLACE(c_name, '#', '-') AS name_dashed,
       CONCAT(c_mktsegment, '|', c_name) AS seg_name
FROM customer WHERE c_custkey <= 1000
"""


def q_case_null(spark: SparkSession, sf: str) -> DataFrame:
    """CASE/COALESCE/NULLIF null-handling surface."""
    orders = load_table(spark, sf, "orders")
    bucket = (
        F.when(F.col("o_totalprice") < 50000, "small")
        .when(F.col("o_totalprice") < 200000, "medium")
        .otherwise("large")
    )
    return (
        orders.select(
            "o_orderkey",
            bucket.alias("price_bucket"),
            F.coalesce(F.nullif("o_orderstatus", F.lit("P")), F.lit("settled")).alias(
                "status_norm"
            ),
        )
        .groupBy("price_bucket", "status_norm")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("price_bucket", "status_norm")
    )


Q_CASE_NULL_SQL = """
SELECT CASE WHEN o_totalprice < 50000 THEN 'small'
            WHEN o_totalprice < 200000 THEN 'medium'
            ELSE 'large' END AS price_bucket,
       COALESCE(NULLIF(o_orderstatus, 'P'), 'settled') AS status_norm,
       COUNT(*) AS n
FROM orders
GROUP BY 1, 2
ORDER BY price_bucket, status_norm
"""


def q_union_by_name(spark: SparkSession, sf: str) -> DataFrame:
    """unionByName across differently-ordered projections (the `data` ∪
    `data_batched` view union of SURVEY §2.8), then per-user totals."""
    ev = load_table(spark, sf, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select("user_id", "value")
    views = ev.where(F.col("event_type") == "view").select(
        F.col("value").alias("value"), F.col("user_id").alias("user_id")
    ).select("value", "user_id")  # reversed column order on purpose
    return (
        purchases.unionByName(views)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), dsum(F.col("value")).alias("sum_value"))
        .orderBy("user_id")
    )


Q_UNION_BY_NAME_SQL = """
SELECT user_id, COUNT(*) AS n,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
FROM (
  SELECT user_id, value FROM events WHERE event_type = 'purchase'
  UNION ALL
  SELECT user_id, value FROM events WHERE event_type = 'view'
)
GROUP BY user_id ORDER BY user_id
"""


def q_range_frame(spark: SparkSession, sf: str) -> DataFrame:
    """RANGE window frame: trailing 1-hour sum per user over event time
    (ordered by epoch micros so the range bound is numeric)."""
    ev = load_table(spark, sf, "events")
    us = F.unix_micros(F.col("ts"))
    w = (
        Window.partitionBy("user_id")
        .orderBy(us)
        .rangeBetween(-3600 * 1_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.sum(_dec(F.col("value"))).over(w).cast("double").alias("sum_1h"),
        F.count("value").over(w).alias("n_1h"),
    )


Q_RANGE_FRAME_SQL = """
SELECT event_id, user_id,
       CAST(SUM(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE) AS sum_1h,
       COUNT(value) OVER w AS n_1h
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
"""


def q_first_last(spark: SparkSession, sf: str) -> DataFrame:
    """first_value/last_value/nth_value analytic functions."""
    orders = load_table(spark, sf, "orders")
    w = (
        Window.partitionBy("o_orderpriority")
        .orderBy(F.col("o_orderkey"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return orders.select(
        "o_orderkey",
        "o_orderpriority",
        F.first_value("o_totalprice").over(w).alias("first_price"),
        F.last_value("o_totalprice").over(w).alias("last_price"),
        F.nth_value("o_totalprice", 2).over(w).alias("second_price"),
    )


Q_FIRST_LAST_SQL = """
SELECT o_orderkey, o_orderpriority,
       FIRST_VALUE(o_totalprice) OVER w AS first_price,
       LAST_VALUE(o_totalprice) OVER w AS last_price,
       NTH_VALUE(o_totalprice, 2) OVER w AS second_price
FROM orders
WINDOW w AS (PARTITION BY o_orderpriority ORDER BY o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
"""


def q10_returned_items(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q10 shape: revenue lost to returns per customer, top 20."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_returnflag") == "R")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    cust = load_table(spark, sf, "customer")
    nation = load_table(spark, sf, "nation")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(dsum(revenue).alias("revenue"))
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


Q10_SQL = """
SELECT c_custkey, c_name, n_name, c_acctbal,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
WHERE l_returnflag = 'R'
  AND o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1997-07-01 00:00:00'
GROUP BY c_custkey, c_name, n_name, c_acctbal
ORDER BY revenue DESC, c_custkey
LIMIT 20
"""


def q12_priority_by_status(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q12 shape: conditional aggregation (urgent vs other order
    counts) per line status."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    orders = load_table(spark, sf, "orders")
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(urgent, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~urgent, 1).otherwise(0)).alias("low_line_count"),
        )
        .orderBy("l_linestatus")
    )


Q12_SQL = """
SELECT l_linestatus,
       CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM lineitem
JOIN orders ON l_orderkey = o_orderkey
WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY l_linestatus
ORDER BY l_linestatus
"""


def q14_promo_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q14 shape: conditional revenue ratio (promo share).

    Ratio of two exact decimal sums converted to double — deterministic
    in both engines."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf, "part")
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type") == "PROMO", revenue).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(
            (F.lit(100.0) * F.sum(_dec(promo)).cast("double")
             / F.sum(_dec(revenue)).cast("double")).alias("promo_revenue_pct")
        )
    )


Q14_SQL = """
SELECT 100.0 * CAST(SUM(CAST(CASE WHEN p_type = 'PROMO'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS promo_revenue_pct
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
  AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
"""


def q18_large_orders(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q18 shape: HAVING over a grouped sum, re-joined to the
    order/customer detail."""
    li = load_table(spark, sf, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 250)
    )
    orders = load_table(spark, sf, "orders")
    cust = load_table(spark, sf, "customer")
    return (
        big.join(orders, big["l_orderkey"] == orders["o_orderkey"])
        .join(cust, orders["o_custkey"] == cust["c_custkey"])
        .select(
            "c_custkey",
            "c_name",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd HH:mm:ss").alias("o_orderdate"),
            "o_totalprice",
            "total_qty",
        )
        .orderBy(F.desc("total_qty"), "o_orderkey")
        .limit(100)
    )


Q18_SQL = """
SELECT c_custkey, c_name, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS o_orderdate,
       o_totalprice, total_qty
FROM (
  SELECT l_orderkey,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total_qty
  FROM lineitem GROUP BY l_orderkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 250
)
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY total_qty DESC, o_orderkey
LIMIT 100
"""


def q19_multi_predicate(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q19 shape: disjunctive multi-attribute predicates (brand ×
    size × quantity bands) — exercises OR-predicate pushdown/folding."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part")
    cond = (
        ((F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 10) & (F.col("l_quantity") >= 1) & (F.col("l_quantity") <= 20))
        | ((F.col("p_brand") == "Brand#2") & (F.col("p_size") <= 20) & (F.col("l_quantity") >= 5) & (F.col("l_quantity") <= 30))
        | ((F.col("p_brand") == "Brand#3") & (F.col("p_size") <= 30) & (F.col("l_quantity") >= 10) & (F.col("l_quantity") <= 40))
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .where(cond)
        .agg(dsum(revenue).alias("revenue"), F.count(F.lit(1)).alias("n_lines"))
    )


Q19_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue,
       COUNT(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE (p_brand = 'Brand#1' AND p_size <= 10 AND l_quantity BETWEEN 1 AND 20)
   OR (p_brand = 'Brand#2' AND p_size <= 20 AND l_quantity BETWEEN 5 AND 30)
   OR (p_brand = 'Brand#3' AND p_size <= 30 AND l_quantity BETWEEN 10 AND 40)
"""


def q_math_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Math scalar surface: abs/floor/ceil/round/sqrt/mod — the
    IEEE-deterministic subset (exp/ln differ in final ulp across libm
    implementations and are deliberately excluded from oracles)."""
    li = load_table(spark, sf, "lineitem").where(F.col("l_orderkey") <= 2000)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.abs(F.col("l_discount") - 0.05).alias("abs_disc_delta"),
        F.floor("l_extendedprice").cast("bigint").alias("price_floor"),
        F.ceil("l_extendedprice").cast("bigint").alias("price_ceil"),
        F.round("l_extendedprice", 1).alias("price_round1"),
        F.sqrt("l_quantity").alias("qty_sqrt"),
        F.pmod(F.col("l_orderkey"), F.lit(7)).alias("key_mod7"),
    )


Q_MATH_SQL = """
SELECT l_orderkey, l_linenumber,
       ABS(l_discount - 0.05) AS abs_disc_delta,
       CAST(FLOOR(l_extendedprice) AS BIGINT) AS price_floor,
       CAST(CEIL(l_extendedprice) AS BIGINT) AS price_ceil,
       ROUND(l_extendedprice, 1) AS price_round1,
       SQRT(l_quantity) AS qty_sqrt,
       l_orderkey % 7 AS key_mod7
FROM lineitem WHERE l_orderkey <= 2000
"""


def q_date_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Datetime scalar surface (SURVEY §2.3 F4-F7 generalized):
    truncation, extraction, arithmetic, formatting."""
    orders = load_table(spark, sf, "orders").where(F.col("o_orderkey") <= 2000)
    return orders.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", "o_orderdate"), "yyyy-MM-dd HH:mm:ss").alias(
            "order_month"
        ),
        F.year("o_orderdate").cast("int").alias("order_year"),
        F.month("o_orderdate").cast("int").alias("order_month_num"),
        F.dayofmonth("o_orderdate").cast("int").alias("order_day"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_date_str"),
        F.date_add(F.to_date("o_orderdate"), 30).alias("due_date"),
        F.datediff(F.lit("1998-01-01").cast("date"), F.to_date("o_orderdate"))
        .cast("int")
        .alias("days_to_1998"),
    )


Q_DATE_FUNCS_SQL = """
SELECT o_orderkey,
       strftime(date_trunc('month', o_orderdate), '%Y-%m-%d %H:%M:%S') AS order_month,
       CAST(year(o_orderdate) AS INT) AS order_year,
       CAST(month(o_orderdate) AS INT) AS order_month_num,
       CAST(day(o_orderdate) AS INT) AS order_day,
       strftime(o_orderdate, '%Y-%m-%d') AS order_date_str,
       date_add(CAST(o_orderdate AS DATE), 30) AS due_date,
       CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '1998-01-01') AS INT) AS days_to_1998
FROM orders WHERE o_orderkey <= 2000
"""


def q_json_extract(spark: SparkSession, sf: str) -> DataFrame:
    """JSON decode over the events.props column (SURVEY §2.3 F10):
    path extraction + typed cast + aggregation."""
    ev = load_table(spark, sf, "events")
    k = F.get_json_object("props", "$.k").cast("int")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").cast("bigint").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


Q_JSON_EXTRACT_SQL = """
SELECT event_type, COUNT(*) AS n,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
       MIN(CAST(json_extract_string(props, '$.k') AS INT)) AS min_k,
       MAX(CAST(json_extract_string(props, '$.k') AS INT)) AS max_k
FROM events GROUP BY event_type ORDER BY event_type
"""


# --------------------------------------------------------------- Q2 shape


def q02_min_cost_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery, decorrelated into an
    aggregate + equi-join (exactly what Catalyst does to the SQL form).

    For each LARGE-type part, the supplier(s) that shipped it at the
    lowest extended price. The per-part min is a broadcast-able agg;
    the probe join is partition-local after AQE.
    """
    part = load_table(spark, sf, "part").where(F.col("p_type") == "LARGE")
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")

    offers = (
        li.join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
                li["l_partkey"] == part["p_partkey"])
        .select("p_partkey", "p_brand", "p_size", "l_suppkey", "l_extendedprice")
    )
    min_price = offers.groupBy(F.col("p_partkey").alias("mp_partkey")).agg(
        F.min("l_extendedprice").alias("min_price")
    )
    return (
        offers.join(
            F.broadcast(min_price),
            (offers["p_partkey"] == min_price["mp_partkey"])
            & (offers["l_extendedprice"] == min_price["min_price"]),
        )
        .join(F.broadcast(supp), offers["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select(
            "p_partkey", "p_brand", "p_size", "s_name", "n_name",
            F.col("l_extendedprice").alias("best_price"),
        )
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


Q02_MIN_COST_SQL = """
SELECT p_partkey, p_brand, p_size, s_name, n_name, l_extendedprice AS best_price
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
WHERE p_type = 'LARGE'
  AND l_extendedprice = (
    SELECT MIN(l2.l_extendedprice)
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
ORDER BY p_partkey, s_name
LIMIT 100
"""


# --------------------------------------------------------------- Q8 shape


def q08_market_share(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q8 shape: market share of NATION_1 suppliers within AMERICA
    customers' orders, per year. Conditional ratio of two decimal sums;
    all dims broadcast, single shuffle at the year agg."""
    region = load_table(spark, sf, "region").where(F.col("r_name") == "AMERICA")
    cnation = load_table(spark, sf, "nation")
    snation = load_table(spark, sf, "nation").select(
        F.col("n_nationkey").alias("sn_nationkey"), F.col("n_name").alias("supp_nation")
    )
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    li = load_table(spark, sf, "lineitem")

    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    target = F.when(F.col("supp_nation") == "NATION_1", revenue).otherwise(F.lit(0.0))
    return (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .join(F.broadcast(cust), orders["o_custkey"] == cust["c_custkey"])
        .join(F.broadcast(cnation), cust["c_nationkey"] == cnation["n_nationkey"])
        .join(F.broadcast(region), cnation["n_regionkey"] == region["r_regionkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(snation), supp["s_nationkey"] == F.col("sn_nationkey"))
        .groupBy(F.year("o_orderdate").alias("o_year"))
        .agg(
            (F.sum(_dec(target)).cast("double")
             / F.sum(_dec(revenue)).cast("double")).alias("mkt_share")
        )
        .orderBy("o_year")
    )


Q08_SQL = """
SELECT CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(CASE WHEN sn.n_name = 'NATION_1'
                          THEN l_extendedprice * (1 - l_discount)
                          ELSE 0.0 END AS DECIMAL(38,6))) AS DOUBLE)
       / CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS mkt_share
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation cn ON c_nationkey = cn.n_nationkey
JOIN region   ON cn.n_regionkey = r_regionkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation sn ON s_nationkey = sn.n_nationkey
WHERE r_name = 'AMERICA'
  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
  AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
GROUP BY EXTRACT(year FROM o_orderdate)
ORDER BY o_year
"""


# --------------------------------------------------------------- Q9 shape


def q09_nation_profit(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year. The classic
    uses ps_supplycost (no partsupp table here) — p_retailprice stands in
    as the unit cost, preserving the multi-join + derived-expression +
    two-level groupBy plan shape."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%e%"))
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")
    orders = load_table(spark, sf, "orders")

    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - F.col("p_retailprice") * F.col("l_quantity") * F.lit(0.1)
    )
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_retailprice")),
                li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(supp), li["l_suppkey"] == supp["s_suppkey"])
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(F.col("n_name").alias("nation"), F.year("o_orderdate").alias("o_year"))
        .agg(dsum(amount).alias("sum_profit"))
        .orderBy("nation", F.desc("o_year"))
    )


Q09_SQL = """
SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS INTEGER) AS o_year,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                     - p_retailprice * l_quantity * 0.1 AS DECIMAL(38,6))) AS DOUBLE)
         AS sum_profit
FROM lineitem
JOIN part     ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN orders   ON l_orderkey = o_orderkey
WHERE p_name LIKE '%e%'
GROUP BY n_name, EXTRACT(year FROM o_orderdate)
ORDER BY nation, o_year DESC
"""


# -------------------------------------------------------------- Q11 shape


def q11_important_stock(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q11 shape: HAVING against a scalar subquery over the whole
    table (group value > fraction of global total). Shipped value per
    part vs 0.1% of total shipped value. The global total is a 1-row
    broadcast cross join — no second scan of the grouped data."""
    li = load_table(spark, sf, "lineitem")
    value = F.col("l_extendedprice") * F.col("l_quantity")
    per_part = li.groupBy("l_partkey").agg(dsum(value).alias("part_value"))
    total = li.agg((dsum(value) * F.lit(0.0007)).alias("threshold"))
    return (
        per_part.join(F.broadcast(total))
        .where(F.col("part_value") > F.col("threshold"))
        .select("l_partkey", "part_value")
        .orderBy(F.desc("part_value"), "l_partkey")
    )


Q11_SQL = """
SELECT l_partkey,
       CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS part_value
FROM lineitem
GROUP BY l_partkey
HAVING CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE) > (
  SELECT CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(38,6))) AS DOUBLE) * 0.0007
  FROM lineitem
)
ORDER BY part_value DESC, l_partkey
"""


# -------------------------------------------------------------- Q13 shape


def q13_customer_distribution(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q13 shape: LEFT OUTER join + two-level aggregation — orders
    per customer, then customers per order-count (zero-order customers
    included via the outer join)."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderpriority") != "1-URGENT"
    )
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
        .orderBy(F.desc("custdist"), F.desc("c_count"))
    )


Q13_SQL = """
SELECT c_count, COUNT(*) AS custdist
FROM (
  SELECT c_custkey, COUNT(o_orderkey) AS c_count
  FROM customer
  LEFT OUTER JOIN orders ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
  GROUP BY c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


# -------------------------------------------------------------- Q15 shape


def q15_top_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q15 shape: revenue view + join against its own MAX (scalar
    subquery). Revenue per supplier in 1997H1; keep supplier(s) at the
    max. The decimal-sum contract makes the double equality exact on
    both engines."""
    li = load_table(spark, sf, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    supp = load_table(spark, sf, "supplier")
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(dsum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("total_revenue"))
    )
    max_rev = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    return (
        revenue.join(F.broadcast(max_rev), F.col("total_revenue") == F.col("max_revenue"))
        .join(F.broadcast(supp), F.col("supplier_no") == supp["s_suppkey"])
        .select("s_suppkey", "s_name", "total_revenue")
        .orderBy("s_suppkey")
    )


Q15_SQL = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
           AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
    AND l_shipdate <  TIMESTAMP '1997-07-01 00:00:00'
  GROUP BY l_suppkey
)
SELECT s_suppkey, s_name, total_revenue
FROM supplier JOIN revenue ON s_suppkey = supplier_no
WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
ORDER BY s_suppkey
"""


# -------------------------------------------------------------- Q16 shape


def q16_supplier_cnt(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q16 shape: NOT IN subquery (anti join) + COUNT(DISTINCT)
    per attribute group. Distinct suppliers per (p_brand, p_size) for
    non-PROMO parts, excluding suppliers whose name ends in '7'."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_type") != "PROMO")
    excluded = load_table(spark, sf, "supplier").where(
        F.col("s_name").like("%7")
    ).select(F.col("s_suppkey").alias("x_suppkey"))
    return (
        li.join(F.broadcast(part.select("p_partkey", "p_brand", "p_size")),
                li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(excluded), li["l_suppkey"] == F.col("x_suppkey"), "left_anti")
        .groupBy("p_brand", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        .orderBy(F.desc("supplier_cnt"), "p_brand", "p_size")
        .limit(50)
    )


Q16_SQL = """
SELECT p_brand, p_size, COUNT(DISTINCT l_suppkey) AS supplier_cnt
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_type <> 'PROMO'
  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_name LIKE '%7')
GROUP BY p_brand, p_size
ORDER BY supplier_cnt DESC, p_brand, p_size
LIMIT 50
"""


# -------------------------------------------------------------- Q17 shape


def q17_small_quantity(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q17 shape: correlated AVG subquery, decorrelated into a
    per-part aggregate + broadcast join. Revenue from lineitems below
    30% of their part's average quantity."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_brand") == "Brand#1")
    part_avg = li.groupBy(F.col("l_partkey").alias("ap_partkey")).agg(
        (davg(F.col("l_quantity")) * F.lit(0.3)).alias("qty_threshold")
    )
    return (
        li.join(F.broadcast(part.select("p_partkey")), li["l_partkey"] == part["p_partkey"])
        .join(F.broadcast(part_avg), li["l_partkey"] == F.col("ap_partkey"))
        .where(F.col("l_quantity") < F.col("qty_threshold"))
        .agg((dsum(F.col("l_extendedprice")) / F.lit(7.0)).alias("avg_yearly"))
    )


Q17_SQL = """
SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / 7.0 AS avg_yearly
FROM lineitem
JOIN part ON l_partkey = p_partkey
WHERE p_brand = 'Brand#1'
  AND l_quantity < (
    SELECT CAST(SUM(CAST(l2.l_quantity AS DECIMAL(38,6))) AS DOUBLE) / COUNT(l2.l_quantity) * 0.3
    FROM lineitem l2
    WHERE l2.l_partkey = p_partkey
  )
"""


# -------------------------------------------------------------- Q20 shape


def q20_part_shippers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q20 shape: nested semi-join chain — suppliers that shipped
    more than 60 units of any part whose name contains '3', joined to
    their nation. Inner agg → threshold filter → LEFT SEMI probe."""
    li = load_table(spark, sf, "lineitem")
    part = load_table(spark, sf, "part").where(F.col("p_name").like("%o%"))
    supp = load_table(spark, sf, "supplier")
    nation = load_table(spark, sf, "nation")

    heavy = (
        li.join(F.broadcast(part.select("p_partkey")), li["l_partkey"] == part["p_partkey"])
        .groupBy("l_suppkey", "l_partkey")
        .agg(dsum(F.col("l_quantity")).alias("total_qty"))
        .where(F.col("total_qty") > 100.0)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(heavy, supp["s_suppkey"] == heavy["l_suppkey"], "left_semi")
        .join(F.broadcast(nation), supp["s_nationkey"] == nation["n_nationkey"])
        .select("s_name", "n_name")
        .orderBy("s_name")
    )


Q20_SQL = """
SELECT s_name, n_name
FROM supplier
JOIN nation ON s_nationkey = n_nationkey
WHERE s_suppkey IN (
  SELECT l_suppkey
  FROM lineitem
  JOIN part ON l_partkey = p_partkey
  WHERE p_name LIKE '%o%'
  GROUP BY l_suppkey, l_partkey
  HAVING CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) > 100.0
)
ORDER BY s_name
"""


# -------------------------------------------------------------- Q21 shape


def q21_waiting_supplier(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS / NOT EXISTS over sibling rows of the
    same order. No receipt/commit dates in this schema, so the 'late'
    predicate becomes l_returnflag = 'R': suppliers with a returned
    line in a multi-supplier order where NO other supplier of that
    order had a return.

    Formulated as a two-level aggregate: per (order, supplier) first
    (map-side combinable, no COUNT DISTINCT expand), then per order.
    The per-supplier aggregate subplan appears on both sides of the
    final join, and its shuffle is identical — AQE's ReusedExchange
    materializes it once.
    """
    li = load_table(spark, sf, "lineitem")
    supp = load_table(spark, sf, "supplier")
    orders = load_table(spark, sf, "orders").where(F.col("o_orderstatus") == "F")

    per_supp = li.groupBy("l_orderkey", "l_suppkey").agg(
        F.max(F.when(F.col("l_returnflag") == "R", 1).otherwise(0)).alias("has_ret")
    )
    order_stats = (
        per_supp.groupBy(F.col("l_orderkey").alias("os_orderkey"))
        .agg(
            F.count("*").alias("n_supps"),
            F.sum("has_ret").alias("n_ret_supps"),
        )
        .where((F.col("n_supps") > 1) & (F.col("n_ret_supps") == 1))
    )
    returned = per_supp.where(F.col("has_ret") == 1).select("l_orderkey", "l_suppkey")
    return (
        returned.join(orders, returned["l_orderkey"] == orders["o_orderkey"], "left_semi")
        .join(order_stats, returned["l_orderkey"] == F.col("os_orderkey"))
        .join(F.broadcast(supp), returned["l_suppkey"] == supp["s_suppkey"])
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(100)
    )


Q21_SQL = """
SELECT s_name, COUNT(*) AS numwait
FROM (
  SELECT DISTINCT l_orderkey, l_suppkey
  FROM lineitem
  WHERE l_returnflag = 'R'
) l1
JOIN orders ON l1.l_orderkey = o_orderkey
JOIN supplier ON l1.l_suppkey = s_suppkey
WHERE o_orderstatus = 'F'
  AND EXISTS (
    SELECT 1 FROM lineitem l2
    WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
  )
  AND NOT EXISTS (
    SELECT 1 FROM lineitem l3
    WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
      AND l3.l_returnflag = 'R'
  )
GROUP BY s_name
ORDER BY numwait DESC, s_name
LIMIT 100
"""


# -------------------------------------------------------------- Q22 shape


def q22_idle_customers(spark: SparkSession, sf: str) -> DataFrame:
    """TPC-H Q22 shape: scalar AVG subquery + anti join. Customers with
    above-average account balance and no RECENT orders (every customer
    has some order in this dataset; the 1999+ window keeps the anti
    join selective at every sf), counted per nation."""
    cust = load_table(spark, sf, "customer")
    orders = load_table(spark, sf, "orders").where(
        F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp")
    ).select("o_custkey")
    nation = load_table(spark, sf, "nation")

    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        davg(F.col("c_acctbal")).alias("avg_bal")
    )
    return (
        cust.join(F.broadcast(avg_bal))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(orders, cust["c_custkey"] == orders["o_custkey"], "left_anti")
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.count("*").alias("numcust"),
            dsum(F.col("c_acctbal")).alias("totacctbal"),
        )
        .orderBy("n_name")
    )


Q22_SQL = """
SELECT n_name, COUNT(*) AS numcust,
       CAST(SUM(CAST(c_acctbal AS DECIMAL(38,6))) AS DOUBLE) AS totacctbal
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_acctbal > (
    SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(38,6))) AS DOUBLE) / COUNT(c2.c_acctbal)
    FROM customer c2 WHERE c2.c_acctbal > 0.0
  )
  AND NOT EXISTS (SELECT 1 FROM orders
                  WHERE o_custkey = c_custkey
                    AND o_orderdate >= TIMESTAMP '1999-01-01 00:00:00')
GROUP BY n_name
ORDER BY n_name
"""


# ------------------------------------------------------- full outer join


def q_full_outer(spark: SparkSession, sf: str) -> DataFrame:
    """FULL OUTER join of two per-nation aggregates (customer count vs
    supplier count) with COALESCE over both null sides — the join type
    the other registry queries don't exercise. Both sides pre-aggregate
    to nation cardinality, so the join is trivially broadcast-able."""
    cust = load_table(spark, sf, "customer")
    supp = load_table(spark, sf, "supplier")
    by_c = cust.groupBy(F.col("c_nationkey").alias("c_nk")).agg(
        F.count("*").alias("n_customers")
    )
    by_s = supp.groupBy(F.col("s_nationkey").alias("s_nk")).agg(
        F.count("*").alias("n_suppliers")
    )
    return (
        by_c.join(by_s, by_c["c_nk"] == by_s["s_nk"], "full_outer")
        .select(
            F.coalesce("c_nk", "s_nk").alias("nationkey"),
            F.coalesce("n_customers", F.lit(0)).alias("n_customers"),
            F.coalesce("n_suppliers", F.lit(0)).alias("n_suppliers"),
        )
        .orderBy("nationkey")
    )


Q_FULL_OUTER_SQL = """
SELECT COALESCE(c_nk, s_nk) AS nationkey,
       COALESCE(n_customers, 0) AS n_customers,
       COALESCE(n_suppliers, 0) AS n_suppliers
FROM (SELECT c_nationkey AS c_nk, COUNT(*) AS n_customers FROM customer GROUP BY c_nationkey) c
FULL OUTER JOIN
     (SELECT s_nationkey AS s_nk, COUNT(*) AS n_suppliers FROM supplier GROUP BY s_nationkey) s
ON c_nk = s_nk
ORDER BY nationkey
"""


# ------------------------------------------------------- ranking family


def q_rank_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """The full ranking-function family over one deterministic ordering:
    rank, dense_rank, percent_rank, cume_dist, ntile(4). Supplier
    account balances per nation — small enough to eyeball, exercises
    every ranking physical mode in one window."""
    from pyspark.sql.window import Window

    supp = load_table(spark, sf, "supplier")
    w = Window.partitionBy("s_nationkey").orderBy(F.desc("s_acctbal"), F.asc("s_suppkey"))
    return supp.select(
        "s_nationkey",
        "s_suppkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.percent_rank().over(w).alias("prnk"),
        F.cume_dist().over(w).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    ).orderBy("s_nationkey", "s_suppkey")


Q_RANK_FUNCS_SQL = """
SELECT s_nationkey, s_suppkey,
       CAST(RANK()         OVER w AS INTEGER) AS rnk,
       CAST(DENSE_RANK()   OVER w AS INTEGER) AS drnk,
       PERCENT_RANK()      OVER w AS prnk,
       CUME_DIST()         OVER w AS cdist,
       CAST(NTILE(4)       OVER w AS INTEGER) AS quartile
FROM supplier
WINDOW w AS (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, s_suppkey ASC)
ORDER BY s_nationkey, s_suppkey
"""


# ------------------------------------------------- deterministic sampling


def q_hash_sample(spark: SparkSession, sf: str) -> DataFrame:
    """Deterministic hash sampling (~1/8 of rows by md5 prefix of the
    business key) + aggregate over the sample. ``df.sample`` uses
    engine-local RNG and can never oracle-match; key-hash sampling is
    the reproducible form used for experiment subsets at 100 TB — same
    rows every run, on any engine, no coordination. The filter is
    JVM-side codegen and pipelines into the scan."""
    li = load_table(spark, sf, "lineitem")
    bucket = F.substring(
        F.md5(F.concat_ws("-", F.col("l_orderkey"), F.col("l_linenumber"))), 1, 1
    )
    revenue = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.where(bucket.isin("0", "1"))
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("sample_rows"),
            dsum(revenue).alias("sample_revenue"),
        )
        .orderBy("l_returnflag")
    )


Q_HASH_SAMPLE_SQL = """
SELECT l_returnflag,
       COUNT(*) AS sample_rows,
       CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE)
         AS sample_revenue
FROM lineitem
WHERE substring(md5(CAST(l_orderkey AS VARCHAR) || '-' || CAST(l_linenumber AS VARCHAR)), 1, 1)
      IN ('0', '1')
GROUP BY l_returnflag
ORDER BY l_returnflag
"""


# ------------------------------------------------------- array surface


def q_array_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """ArrayType surface: collect_set/sort_array/size/contains/slice plus
    the transform & filter higher-order functions (all JVM-side codegen —
    no Python in the loop). Sorted int arrays keep every result
    order-deterministic on both engines.

    Array outputs are serialized to comma-joined strings AFTER the HOF
    pipeline (array_join ↔ DuckDB array_to_string) so the driver's pandas
    canonicalizer — which cannot sort list-typed cells — can hash the
    rows; the HOFs themselves still run on real ArrayType columns."""
    li = load_table(spark, sf, "lineitem")
    statuses = F.sort_array(F.collect_set("l_linestatus"))
    linenos = F.sort_array(F.collect_set("l_linenumber"))

    def join_ints(col):
        return F.array_join(F.transform(col, lambda x: x.cast("string")), ",")

    return (
        li.groupBy("l_returnflag")
        .agg(statuses.alias("statuses"), linenos.alias("linenos"))
        .select(
            "l_returnflag",
            F.array_join("statuses", ",").alias("statuses_csv"),
            F.size("statuses").alias("n_statuses"),
            F.array_contains("statuses", "O").alias("has_open"),
            join_ints(F.slice("linenos", 1, 3)).alias("first_linenos"),
            join_ints(F.transform("linenos", lambda x: x * 2)).alias("doubled"),
            join_ints(F.filter("linenos", lambda x: x % 2 == 0)).alias("evens"),
        )
        .orderBy("l_returnflag")
    )


Q_ARRAY_FUNCS_SQL = """
SELECT l_returnflag,
       array_to_string(statuses, ',') AS statuses_csv,
       CAST(len(statuses) AS INTEGER) AS n_statuses,
       list_contains(statuses, 'O') AS has_open,
       array_to_string(linenos[1:3], ',') AS first_linenos,
       array_to_string(list_transform(linenos, x -> x * 2), ',') AS doubled,
       array_to_string(list_filter(linenos, x -> x % 2 = 0), ',') AS evens
FROM (
  SELECT l_returnflag,
         list_sort(list(DISTINCT l_linestatus)) AS statuses,
         list_sort(list(DISTINCT l_linenumber)) AS linenos
  FROM lineitem GROUP BY l_returnflag
)
ORDER BY l_returnflag
"""


# ------------------------------------------------ map higher-order fns


def q_map_funcs(spark: SparkSession, sf: str) -> DataFrame:
    """Map-typed higher-order functions: per-user event-type counts
    packed into a map (map_from_entries ∘ collect_list), doubled with
    transform_values, pruned with map_filter, exploded back to rows.
    The oracle computes the equivalent relational GROUP BY + HAVING —
    equality proves the map pipeline preserves multiset semantics
    (collect_list order never leaks: maps are unordered and the output
    re-sorts)."""
    ev = load_table(spark, sf, "events")
    counts = ev.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    m = counts.groupBy("user_id").agg(
        F.map_from_entries(F.collect_list(F.struct("event_type", "n"))).alias("m")
    )
    m2 = m.select(
        "user_id",
        F.map_filter(
            F.transform_values("m", lambda k, v: v * 2), lambda k, v: v >= 4
        ).alias("m"),
    )
    return (
        m2.select("user_id", F.explode("m").alias("event_type", "n2"))
        .orderBy("user_id", "event_type")
    )


Q_MAP_FUNCS_SQL = """
SELECT user_id, event_type, COUNT(*) * 2 AS n2
FROM events
GROUP BY user_id, event_type
HAVING COUNT(*) * 2 >= 4
ORDER BY user_id, event_type
"""


# ---------------------------------------------------- unpivot / melt


def q_unpivot(spark: SparkSession, sf: str) -> DataFrame:
    """Wide→long reshaping (`DataFrame.unpivot`, the inverse of
    q_pivot): per-flag measure columns melt into (flag, measure, value)
    rows — the Expand-based plan that keeps reshaping one pass with no
    join or union of scans. Oracle is the portable UNION ALL form."""
    li = load_table(spark, sf, "lineitem")
    dec_sum = lambda c: F.sum(F.col(c).cast("decimal(38,6)")).cast("double")  # noqa: E731
    wide = li.groupBy("l_returnflag").agg(
        dec_sum("l_quantity").alias("sum_qty"),
        dec_sum("l_extendedprice").alias("sum_price"),
        dec_sum("l_discount").alias("sum_disc"),
    )
    return wide.unpivot(
        ["l_returnflag"], ["sum_qty", "sum_price", "sum_disc"], "measure", "value"
    ).orderBy("l_returnflag", "measure")


Q_UNPIVOT_SQL = """
WITH wide AS (
  SELECT l_returnflag,
         CAST(SUM(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
         CAST(SUM(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_price,
         CAST(SUM(CAST(l_discount AS DECIMAL(38,6))) AS DOUBLE) AS sum_disc
  FROM lineitem GROUP BY l_returnflag
)
SELECT l_returnflag, 'sum_qty' AS measure, sum_qty AS value FROM wide
UNION ALL
SELECT l_returnflag, 'sum_price', sum_price FROM wide
UNION ALL
SELECT l_returnflag, 'sum_disc', sum_disc FROM wide
ORDER BY l_returnflag, measure
"""


# ----------------------------------------------------- 2-D skyline


def q_pareto_front(spark: SparkSession, sf: str) -> DataFrame:
    """Pareto-optimal parts: minimize retail price, maximize size.

    Within one price, only max-size rows can be undominated (equal
    price + strictly larger size dominates); across prices the
    survivors are the strictly-increasing frontier of per-price max
    size in price order. So: per-price max (hash agg, massive key
    compression), then ONE ordered window over the distinct-price
    table (rows ≤ |price domain|, not |parts| — the single-partition
    window rides a table the groupBy already shrank), then a
    broadcast-able semi-join back. The O(n²) dominance join is the
    oracle's job, not the plan's.
    """
    part = load_table(spark, sf, "part")
    per_price = part.groupBy("p_retailprice").agg(
        F.max("p_size").alias("msize")
    )
    wprev = (
        Window.orderBy("p_retailprice")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    front = (
        per_price.withColumn("prev_max", F.max("msize").over(wprev))
        .where(F.col("prev_max").isNull() | (F.col("msize") > F.col("prev_max")))
        .select(
            F.col("p_retailprice").alias("f_price"), F.col("msize").alias("f_size")
        )
    )
    return (
        part.join(
            F.broadcast(front),
            (F.col("p_retailprice") == F.col("f_price"))
            & (F.col("p_size") == F.col("f_size")),
        )
        .select("p_partkey", "p_retailprice", "p_size")
        .orderBy("p_partkey")
    )


Q_PARETO_FRONT_SQL = """
SELECT p_partkey, p_retailprice, p_size
FROM part p
WHERE NOT EXISTS (
  SELECT 1 FROM part q
  WHERE q.p_retailprice <= p.p_retailprice AND q.p_size >= p.p_size
    AND (q.p_retailprice < p.p_retailprice OR q.p_size > p.p_size))
ORDER BY p_partkey
"""


REGISTRY = {
    "q01_pricing_summary": (q01_pricing_summary, Q01_SQL),
    "q02_filter_pushdown": (q02_filter_pushdown, Q02_SQL),
    "q03_segment_top_orders": (q03_segment_top_orders, Q03_SQL),
    "q05_region_revenue": (q05_region_revenue, Q05_SQL),
    "q06_forecast_revenue": (q06_forecast_revenue, Q06_SQL),
    "q_semi_join": (q_semi_join, Q_SEMI_SQL),
    "q_anti_join": (q_anti_join, Q_ANTI_SQL),
    "q_topk_per_group": (q_topk_per_group, Q_TOPK_GROUP_SQL),
    "q_window_delta": (q_window_delta, Q_WINDOW_DELTA_SQL),
    "q_moving_avg": (q_moving_avg, Q_MOVING_AVG_SQL),
    "q_rollup": (q_rollup, Q_ROLLUP_SQL),
    "q_cube": (q_cube, Q_CUBE_SQL),
    "q_setops": (q_setops, Q_SETOPS_SQL),
    "q_pivot": (q_pivot, Q_PIVOT_SQL),
    "q_agg_distinct": (q_agg_distinct, Q_AGG_DISTINCT_SQL),
    "q_above_brand_avg": (q_above_brand_avg, Q_ABOVE_AVG_SQL),
    "q_band_join": (q_band_join, Q_BAND_JOIN_SQL),
    "q_asof_join": (q_asof_join, Q_ASOF_SQL),
    "q_asof_forward": (q_asof_forward, Q_ASOF_FORWARD_SQL),
    "q_asof_nearest": (q_asof_nearest, Q_ASOF_NEAREST_SQL),
    "q04_order_priority": (q04_order_priority, Q04_SQL),
    "q07_nation_volume": (q07_nation_volume, Q07_SQL),
    "q_grouping_sets": (q_grouping_sets, Q_GROUPING_SETS_SQL),
    "q_string_funcs": (q_string_funcs, Q_STRING_FUNCS_SQL),
    "q_case_null": (q_case_null, Q_CASE_NULL_SQL),
    "q_union_by_name": (q_union_by_name, Q_UNION_BY_NAME_SQL),
    "q_range_frame": (q_range_frame, Q_RANGE_FRAME_SQL),
    "q_first_last": (q_first_last, Q_FIRST_LAST_SQL),
    "q_date_funcs": (q_date_funcs, Q_DATE_FUNCS_SQL),
    "q_json_extract": (q_json_extract, Q_JSON_EXTRACT_SQL),
    "q10_returned_items": (q10_returned_items, Q10_SQL),
    "q12_priority_by_status": (q12_priority_by_status, Q12_SQL),
    "q14_promo_share": (q14_promo_share, Q14_SQL),
    "q18_large_orders": (q18_large_orders, Q18_SQL),
    "q19_multi_predicate": (q19_multi_predicate, Q19_SQL),
    "q_math_funcs": (q_math_funcs, Q_MATH_SQL),
    "q_full_outer": (q_full_outer, Q_FULL_OUTER_SQL),
    "q_rank_funcs": (q_rank_funcs, Q_RANK_FUNCS_SQL),
    "q_hash_sample": (q_hash_sample, Q_HASH_SAMPLE_SQL),
    "q_array_funcs": (q_array_funcs, Q_ARRAY_FUNCS_SQL),
    "q02_min_cost_supplier": (q02_min_cost_supplier, Q02_MIN_COST_SQL),
    "q08_market_share": (q08_market_share, Q08_SQL),
    "q09_nation_profit": (q09_nation_profit, Q09_SQL),
    "q11_important_stock": (q11_important_stock, Q11_SQL),
    "q13_customer_distribution": (q13_customer_distribution, Q13_SQL),
    "q15_top_supplier": (q15_top_supplier, Q15_SQL),
    "q16_supplier_cnt": (q16_supplier_cnt, Q16_SQL),
    "q17_small_quantity": (q17_small_quantity, Q17_SQL),
    "q20_part_shippers": (q20_part_shippers, Q20_SQL),
    "q21_waiting_supplier": (q21_waiting_supplier, Q21_SQL),
    "q22_idle_customers": (q22_idle_customers, Q22_SQL),
    "q_map_funcs": (q_map_funcs, Q_MAP_FUNCS_SQL),
    "q_unpivot": (q_unpivot, Q_UNPIVOT_SQL),
    "q_pareto_front": (q_pareto_front, Q_PARETO_FRONT_SQL),
}
