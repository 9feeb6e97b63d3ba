"""TPC-H Q1-Q22 + the extended relational surface (SURVEY.md section 2.6):
joins / sorts / top-k / set ops / distinct / rollup / analytic windows on
the TPC-H-ish star schema, and the planner-stress shapes (decorrelated
scalar subqueries, multi semi/anti self-joins).  The fixture has no
partsupp/l_commitdate, so Q2 derives a partsupp analog from lineitem and
Q21 defines "late" as shipping >60 days after the order date.

Queries register on import through ``registry_core.register``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry_core import davg, dsum, register
from .sources.readers import load_table
from .operators.joins import anti_join, join_dim, join_fact, semi_join


@register(
    "q1_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS sum_disc_price,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))
                    * (1 + CAST(l_tax AS DECIMAL(8,4)))) AS DOUBLE) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: scan-heavy filtered multi-aggregate — the canonical
    pricing summary.  Sums routed through DECIMAL for cross-engine
    exactness."""
    li = load_table(spark, sf_dir, "lineitem")
    dp = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    )
    charge = dp * (F.lit(1) + F.col("l_tax").cast("decimal(8,4)"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dsum("l_quantity", "sum_qty"),
            dsum("l_extendedprice", "sum_base_price"),
            F.sum(dp).cast("double").alias("sum_disc_price"),
            F.sum(charge).cast("double").alias("sum_charge"),
            davg("l_quantity", "avg_qty"),
            davg("l_extendedprice", "avg_price"),
            davg("l_discount", "avg_disc", prec="decimal(8,4)"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


@register(
    "top_orders",
    """
    SELECT o_orderkey, o_custkey, o_totalprice, o_orderdate
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 25
    """,
)
def top_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global top-k with deterministic tiebreak — plans as
    TakeOrderedAndProject (per-partition heaps, driver merge of P*k rows),
    not a full sort."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(25)
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
    )


@register(
    "customer_order_revenue",
    """
    SELECT c_custkey, c_name,
           COUNT(*) AS order_cnt,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total_spent
    FROM customer JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    """,
)
def customer_order_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Key-equi join + aggregate: revenue per customer.  orders shuffles on
    o_custkey once and the aggregate reuses that partitioning."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey", "c_name")
    o = load_table(spark, sf_dir, "orders")
    joined = join_fact(o, c, o.o_custkey == c.c_custkey)
    return joined.groupBy("c_custkey", "c_name").agg(
        F.count(F.lit(1)).alias("order_cnt"),
        dsum("o_totalprice", "total_spent"),
    )


@register(
    "region_customer_count",
    """
    SELECT r_name, COUNT(*) AS customer_cnt,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS total_acctbal
    FROM region
    JOIN nation   ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    GROUP BY r_name
    """,
)
def region_customer_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dimension-chain join (region->nation->customer) with both dims
    broadcast: the fact side never shuffles for the join; only the final
    5-group aggregate exchanges data."""
    r = load_table(spark, sf_dir, "region")
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    dim = join_dim(n, r, n.n_regionkey == r.r_regionkey).select("n_nationkey", "r_name")
    joined = join_dim(c, dim, c.c_nationkey == F.col("n_nationkey"))
    return joined.groupBy("r_name").agg(
        F.count(F.lit(1)).alias("customer_cnt"),
        dsum("c_acctbal", "total_acctbal"),
    )


@register(
    "semi_join_customers",
    """
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'F')
    """,
)
def semi_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS): customers with at least one finished order.
    The right side reduces to its join key before the shuffle."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    return semi_join(c, o, c.c_custkey == o.o_custkey).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "anti_join_customers",
    """
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'P')
    """,
)
def anti_join_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no pending orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "P")
    return anti_join(c, o, c.c_custkey == o.o_custkey).select("c_custkey", "c_name")


@register(
    "left_join_order_counts",
    """
    SELECT c_custkey, COUNT(o_orderkey) AS order_cnt
    FROM customer LEFT JOIN orders ON o_custkey = c_custkey
    GROUP BY c_custkey
    """,
)
def left_join_order_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left outer join preserving zero-order customers; COUNT(col) ignores
    the NULLs the outer side introduces."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey")
    joined = join_fact(c, o, c.c_custkey == o.o_custkey, "left")
    return joined.groupBy("c_custkey").agg(F.count("o_orderkey").alias("order_cnt"))


@register(
    "distinct_nations_per_segment",
    """
    SELECT c_mktsegment,
           COUNT(DISTINCT c_nationkey) AS n_nations,
           COUNT(*) AS n_customers
    FROM customer
    GROUP BY c_mktsegment
    """,
)
def distinct_nations_per_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate alongside a plain count (two-phase distinct
    expansion handled by Catalyst)."""
    c = load_table(spark, sf_dir, "customer")
    return c.groupBy("c_mktsegment").agg(
        F.countDistinct("c_nationkey").alias("n_nations"),
        F.count(F.lit(1)).alias("n_customers"),
    )


@register(
    "rollup_order_totals",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_value,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value,
           MIN(o_totalprice) AS min_value,
           MAX(o_totalprice) AS max_value,
           COUNT(*) AS count_rows
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def rollup_order_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical ROLLUP aggregate (grouping sets) — extended aggregate
    surface (SURVEY.md section 2.4 note).  Sums go through DECIMAL inside
    the aggregate — float-sum-then-cast leaks the float error into the
    4th decimal once totals reach 1e10 (caught at sf0.1)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        dsum("o_totalprice", "sum_value"),
        davg("o_totalprice", "avg_value"),
        F.min("o_totalprice").alias("min_value"),
        F.max("o_totalprice").alias("max_value"),
        F.count(F.lit(1)).alias("count_rows"),
    )


@register(
    "cube_status_priority",
    """
    SELECT o_orderstatus, o_orderpriority, COUNT(*) AS count_rows
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
)
def cube_status_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two keys — all 4 grouping sets in one pass."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("count_rows")
    )


@register(
    "rank_orders_per_customer",
    """
    SELECT o_custkey, o_orderkey, o_totalprice
    FROM orders
    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
                               ORDER BY o_totalprice DESC, o_orderkey) = 1
    """,
)
def rank_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic ROW_NUMBER: each customer's single largest order
    (deterministic tiebreak).  Partitioned window — one shuffle on
    o_custkey, per-partition sort."""
    from pyspark.sql import Window

    o = load_table(spark, sf_dir, "orders")
    spec = Window.partitionBy("o_custkey").orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(spec))
        .filter(F.col("rn") == 1)
        .select("o_custkey", "o_orderkey", "o_totalprice")
    )


@register(
    "lag_delta_per_user",
    """
    SELECT event_id, user_id, ts, value,
           ROUND(value - LAG(value) OVER (PARTITION BY user_id
                                          ORDER BY ts, event_id), 6) AS delta
    FROM events
    """,
)
def lag_delta_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic LAG: per-user consecutive reading delta (the change-detection
    primitive for sensor streams).  Unique (ts, event_id) ordering keeps it
    deterministic."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    spec = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.round(F.col("value") - F.lag("value").over(spec), 6).alias("delta"),
    )


@register(
    "moving_avg_per_user",
    """
    SELECT event_id, user_id, ts,
           ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS mov_avg
    FROM events
    """,
)
def moving_avg_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rows-frame moving average (4-reading smoothing window per user)."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    spec = (
        Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        F.round(F.avg("value").over(spec), 6).alias("mov_avg"),
    )


@register(
    "set_intersect_buyers",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
    INTERSECT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    """,
)
def set_intersect_buyers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT: BUILDING-segment customers who have finished orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    left = c.filter(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    right = (
        o.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return left.intersect(right)


@register(
    "set_except_inactive",
    """
    SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
    EXCEPT
    SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'P'
    """,
)
def set_except_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT: MACHINERY-segment customers with no pending orders."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    left = c.filter(F.col("c_mktsegment") == "MACHINERY").select("c_custkey")
    right = (
        o.filter(F.col("o_orderstatus") == "P")
        .select(F.col("o_custkey").alias("c_custkey"))
    )
    return left.exceptAll(right).distinct()


@register(
    "union_high_value_parties",
    """
    SELECT * FROM (
      SELECT 'customer' AS kind, c_custkey AS key, c_acctbal AS bal
      FROM customer WHERE c_acctbal > 9000
      UNION ALL
      SELECT 'supplier' AS kind, s_suppkey AS key, s_acctbal AS bal
      FROM supplier WHERE s_acctbal > 9000
    )
    """,
)
def union_high_value_parties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNION ALL of two heterogeneous scans normalized to a common shape."""
    c = load_table(spark, sf_dir, "customer")
    s = load_table(spark, sf_dir, "supplier")
    left = c.filter(F.col("c_acctbal") > 9000).select(
        F.lit("customer").alias("kind"),
        F.col("c_custkey").alias("key"),
        F.col("c_acctbal").alias("bal"),
    )
    right = s.filter(F.col("s_acctbal") > 9000).select(
        F.lit("supplier").alias("kind"),
        F.col("s_suppkey").alias("key"),
        F.col("s_acctbal").alias("bal"),
    )
    return left.unionAll(right)


@register(
    "order_lineitem_join_agg",
    """
    SELECT o_orderpriority,
           COUNT(DISTINCT o.o_orderkey) AS order_cnt,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY o_orderpriority
    """,
)
def order_lineitem_join_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-fact join (orders x lineitem) with a pushed-down date filter —
    the shuffle-join workhorse; the orderdate predicate prunes before the
    exchange, AQE right-sizes the post-shuffle partitions."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    )
    joined = join_fact(li, o, F.col("l_orderkey") == F.col("o_orderkey"))
    return joined.groupBy("o_orderpriority").agg(
        F.countDistinct("o_orderkey").alias("order_cnt"),
        F.sum(rev).cast("double").alias("revenue"),
    )


@register(
    "q3_shipping_priority",
    """
    SELECT l_orderkey,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, o_orderdate, l_orderkey
    LIMIT 10
    """,
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: 3-way join, selective filters on both fact tables,
    grouped revenue, deterministic top-10.  At scale: customer filter is a
    broadcast-able semi-join reducer on orders; both date predicates push
    to parquet scans."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    cutoff = "1998-01-01"
    return (
        customer.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders.filter(F.col("o_orderdate") < F.lit(cutoff).cast("timestamp")),
              F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem.filter(F.col("l_shipdate") > F.lit(cutoff).cast("timestamp")),
              F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.desc("revenue"), "o_orderdate", "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@register(
    "q5_local_supplier_volume",
    """
    SELECT n_name,
           CAST(SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS DOUBLE)
             AS revenue
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
    JOIN nation   ON s_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01'
      AND o_orderdate <  TIMESTAMP '1997-01-01'
    GROUP BY n_name
    """,
)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape: 6-way snowflake join with the local-supplier
    correlation (c_nationkey = s_nationkey).  supplier/nation/region are
    broadcast; the only big shuffle is orders><lineitem on orderkey."""
    customer = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    supplier = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    return (
        customer.join(o, F.col("c_custkey") == F.col("o_custkey"))
        .join(lineitem, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            F.broadcast(supplier),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(nation), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(region), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(F.col("r_name") == "ASIA")
        .groupBy("n_name")
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .cast("double")
            .alias("revenue")
        )
    )


@register(
    "q4_order_priority_checking",
    """
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate < TIMESTAMP '1996-04-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem l
                  WHERE l.l_orderkey = o.o_orderkey
                    AND l.l_shipdate > o.o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q4_order_priority_checking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape: EXISTS correlated subquery as a LEFT SEMI join
    with a non-equi residual (l_shipdate > o_orderdate).  The date
    filter prunes the probe side before the shuffle."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o = orders.filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    )
    late = o.join(
        li,
        (o.o_orderkey == li.l_orderkey) & (li.l_shipdate > o.o_orderdate),
        "left_semi",
    )
    return late.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("order_count")
    )


@register(
    "q12_priority_by_ship_month",
    """
    SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS ship_month,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 0 ELSE 1 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY 1
    """,
)
def q12_priority_by_ship_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: join + conditional aggregation (CASE inside SUM)
    bucketed by ship month.  The ship-date range reaches the lineitem
    parquet scan as a pushed filter before the join."""
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderpriority")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(F.date_trunc("month", "l_shipdate").cast("date").alias("ship_month"))
        .agg(
            F.sum(high).alias("high_line_count"),
            F.sum(F.lit(1) - high).alias("low_line_count"),
        )
    )


@register(
    "q14_promo_revenue",
    """
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type = 'PROMO'
                       THEN CAST(l_extendedprice AS DECIMAL(18,4))
                            * (1 - CAST(l_discount AS DECIMAL(8,4)))
                       ELSE CAST(0 AS DECIMAL(28,8)) END) AS DOUBLE)
             / CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                        * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE),
             6) AS promo_revenue_pct
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate < TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: ratio of conditional DECIMAL sums over a
    broadcast-joined dimension (part is small at every SF — Spark's
    AQE/size stats pick broadcast; the month filter prunes lineitem at
    the scan)."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_type")
    dp = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    )
    promo = F.when(F.col("p_type") == "PROMO", dp).otherwise(
        F.lit(0).cast("decimal(28,8)")
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(promo).cast("double")
                / F.sum(dp).cast("double"),
                6,
            ).alias("promo_revenue_pct")
        )
    )


@register(
    "q18_large_volume_customers",
    """
    SELECT c_custkey, o_orderkey, o_totalprice,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM customer JOIN orders ON o_custkey = c_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE o_orderkey IN (SELECT l_orderkey FROM lineitem
                         GROUP BY l_orderkey
                         HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 250)
    GROUP BY c_custkey, o_orderkey, o_totalprice
    """,
)
def q18_large_volume_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a HAVING aggregate (large
    orders), re-joined to customer/orders/lineitem.  The qualifying-keys
    relation is tiny after the HAVING cut — broadcast semi join; the big
    lineitem aggregate happens once per side, keyed by l_orderkey."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    qdec = F.col("l_quantity").cast("decimal(18,4)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qdec).alias("q"))
        .filter(F.col("q") > 250)
        .select("l_orderkey")
    )
    return (
        li.join(F.broadcast(big), "l_orderkey", "left_semi")
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "o_orderkey", "o_totalprice")
        .agg(F.sum(qdec).cast("double").alias("sum_qty"))
    )


@register(
    "q19_disjunctive_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#12' AND p_size BETWEEN 1 AND 15
           AND l_quantity BETWEEN 1 AND 11)
       OR (p_brand = 'Brand#20' AND p_size BETWEEN 1 AND 25
           AND l_quantity BETWEEN 10 AND 20)
       OR (p_brand = 'Brand#24' AND p_size BETWEEN 1 AND 35
           AND l_quantity BETWEEN 20 AND 30)
    """,
)
def q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19 shape: disjunction of conjunctive predicates spanning
    both join sides.  Catalyst extracts the common join key and pushes
    the per-side residuals (brand/size to the part scan, quantity to
    lineitem) below the join where possible."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    j = li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
    q = F.col("l_quantity")
    cond = (
        ((F.col("p_brand") == "Brand#12") & F.col("p_size").between(1, 15) & q.between(1, 11))
        | ((F.col("p_brand") == "Brand#20") & F.col("p_size").between(1, 25) & q.between(10, 20))
        | ((F.col("p_brand") == "Brand#24") & F.col("p_size").between(1, 35) & q.between(20, 30))
    )
    dp = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    )
    return j.filter(cond).agg(F.sum(dp).cast("double").alias("revenue"))


@register(
    "q2_min_cost_supplier",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS cost
      FROM lineitem GROUP BY 1, 2
    ), eu AS (
      SELECT s_suppkey, s_name, s_acctbal, n_name
      FROM supplier JOIN nation ON s_nationkey = n_nationkey
                    JOIN region ON n_regionkey = r_regionkey
      WHERE r_name = 'EUROPE'
    )
    SELECT s.s_acctbal, s.s_name, s.n_name, p.p_partkey, p.p_brand, ps.cost
    FROM part p
    JOIN ps ON ps.l_partkey = p.p_partkey
    JOIN eu s ON s.s_suppkey = ps.l_suppkey
    WHERE p.p_size = 15 AND p.p_type = 'SMALL'
      AND ps.cost = (SELECT MIN(ps2.cost)
                     FROM ps ps2 JOIN eu s2 ON s2.s_suppkey = ps2.l_suppkey
                     WHERE ps2.l_partkey = p.p_partkey)
    ORDER BY s.s_acctbal DESC, s.n_name, s.s_name, p.p_partkey
    LIMIT 100
    """,
)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated scalar-min subquery, hand-decorrelated
    the way Catalyst would — compute min(cost) per part ONCE as an
    aggregate, join back, filter equality.  The region-filtered supplier
    dim broadcasts (100 rows x any SF); the partsupp analog aggregates
    lineitem BEFORE any join so the big table shuffles once, keyed by
    (part, supplier).  Deterministic total order before LIMIT."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice"
    )
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_size") == 15) & (F.col("p_type") == "SMALL")
    ).select("p_partkey", "p_brand")

    eu = (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(F.broadcast(region.filter(F.col("r_name") == "EUROPE")),
              F.col("n_regionkey") == F.col("r_regionkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_name")
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min("l_extendedprice").alias("cost")
    )
    eligible = ps.join(F.broadcast(eu), ps.l_suppkey == eu.s_suppkey)
    min_cost = eligible.groupBy("l_partkey").agg(F.min("cost").alias("min_cost"))
    return (
        eligible.join(min_cost, "l_partkey")
        .filter(F.col("cost") == F.col("min_cost"))
        .join(part, F.col("l_partkey") == part.p_partkey)
        .select("s_acctbal", "s_name", "n_name", "p_partkey", "p_brand", "cost")
        .orderBy(F.desc("s_acctbal"), "n_name", "s_name", "p_partkey")
        .limit(100)
    )


@register(
    "q21_waiting_suppliers",
    """
    WITH l AS (
      SELECT l_orderkey, l_suppkey, l_shipdate, o_orderdate
      FROM lineitem JOIN orders ON o_orderkey = l_orderkey
      WHERE o_orderstatus = 'F'
    )
    SELECT s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM (SELECT DISTINCT l1.l_orderkey, l1.l_suppkey
          FROM l l1
          WHERE l1.l_shipdate > l1.o_orderdate + INTERVAL 60 DAY
            AND EXISTS (SELECT 1 FROM l l2
                        WHERE l2.l_orderkey = l1.l_orderkey
                          AND l2.l_suppkey <> l1.l_suppkey)
            AND NOT EXISTS (SELECT 1 FROM l l3
                            WHERE l3.l_orderkey = l1.l_orderkey
                              AND l3.l_suppkey <> l1.l_suppkey
                              AND l3.l_shipdate > l3.o_orderdate + INTERVAL 60 DAY)
         ) w
    JOIN supplier ON s_suppkey = w.l_suppkey
    GROUP BY s_name
    """,
)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: EXISTS + NOT EXISTS lineitem self-joins — the
    sole-late-supplier-per-multi-supplier-order query.  Both the semi and
    the anti join are equi on l_orderkey with a suppkey-inequality
    residual, so all three lineitem subtrees shuffle on the SAME key and
    co-partition; no cartesian anywhere.  supplier (100 rows) broadcasts
    into the final count."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderstatus") == "F"
    ).select("o_orderkey", "o_orderdate")
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")

    l = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        "l_orderkey", "l_suppkey", "l_shipdate", "o_orderdate"
    )
    is_late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")
    late = l.filter(is_late)
    w = late.select("l_orderkey", "l_suppkey").distinct().alias("w")
    other = l.select("l_orderkey", "l_suppkey").alias("x")
    other_late = late.select("l_orderkey", "l_suppkey").alias("y")
    sole_late = (
        w.join(
            other,
            (F.col("w.l_orderkey") == F.col("x.l_orderkey"))
            & (F.col("w.l_suppkey") != F.col("x.l_suppkey")),
            "left_semi",
        )
        .join(
            other_late,
            (F.col("w.l_orderkey") == F.col("y.l_orderkey"))
            & (F.col("w.l_suppkey") != F.col("y.l_suppkey")),
            "left_anti",
        )
    )
    return (
        sole_late.join(F.broadcast(supp), F.col("l_suppkey") == supp.s_suppkey)
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).alias("numwait"))
    )


@register(
    "q10_returned_item_customers",
    """
    SELECT c_custkey, c_name, n_name,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS DOUBLE) AS revenue,
           c_acctbal
    FROM customer
    JOIN orders   ON o_custkey = c_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1996-10-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, n_name, c_acctbal
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def q10_returned_item_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by lost revenue on returned items in a
    quarter.  Both selective predicates (quarter on orders, returnflag on
    lineitem) push to their scans BEFORE the fact-fact join; nation
    broadcasts; final top-k is TakeOrderedAndProject (no global sort).
    Deterministic tiebreak on c_custkey."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey", "c_acctbal"
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-10-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_returnflag") == "R"
    ).select("l_orderkey", "l_extendedprice", "l_discount")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .groupBy("c_custkey", "c_name", "n_name", "c_acctbal")
        .agg(F.sum(rev).cast("double").alias("revenue"))
        .select("c_custkey", "c_name", "n_name", "revenue", "c_acctbal")
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
    )


@register(
    "q7_two_nation_volume",
    """
    SELECT supp_nation, cust_nation, l_year,
           CAST(SUM(volume) AS DOUBLE) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(year(l_shipdate) AS BIGINT) AS l_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(8,4))) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def q7_two_nation_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: shipping volume between two nations by year.  The nation
    pair predicate is a disjunction ACROSS the two dimension legs, so it
    can't push below either nation join alone — it applies right after
    both broadcasts; the date range pushes to the lineitem scan.  One
    shuffle per fact-fact join (lineitem-orders, then -customer), then a
    9ish-group aggregate."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("l_suppkey", "l_orderkey", "l_shipdate", "l_extendedprice", "l_discount")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    n1 = nation.select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = nation.select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    volume = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    )
    return (
        li.join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(n2), cust.c_nationkey == F.col("n2_key"))
        .filter(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("long").alias("l_year"),
        )
        .agg(F.sum(volume).cast("double").alias("revenue"))
    )


@register(
    "q6_forecast_revenue",
    """
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(8,4))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure scan-filter-aggregate — the query where pushdown is
    everything: all three predicates reach the parquet scan, no join, no
    shuffle beyond the single-row final agg."""
    li = load_table(spark, sf_dir, "lineitem")
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * F.col("l_discount").cast(
        "decimal(8,4)"
    )
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.sum(rev).cast("double").alias("revenue"))
    )


@register(
    "q13_customer_order_distribution",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c_custkey, COUNT(o_orderkey) AS c_count
      FROM customer LEFT JOIN orders
        ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
      GROUP BY c_custkey
    ) c_orders
    GROUP BY c_count
    """,
)
def q13_customer_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: LEFT OUTER join with the residual predicate in the JOIN
    CONDITION (not WHERE — a WHERE would silently turn the join inner and
    drop zero-order customers), then a two-level aggregate: count orders
    per customer, then the distribution of those counts."""
    cust = load_table(spark, sf_dir, "customer").select("c_custkey")
    orders = load_table(spark, sf_dir, "orders").select("o_custkey", "o_orderkey", "o_orderpriority")
    per_cust = (
        cust.join(
            orders,
            (cust.c_custkey == orders.o_custkey)
            & (orders.o_orderpriority != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q15_top_supplier",
    """
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                 * (1 - CAST(l_discount AS DECIMAL(8,4)))) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
      GROUP BY 1
    )
    SELECT s_suppkey, s_name, CAST(total_revenue AS DOUBLE) AS total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: scalar MAX subquery over a derived view.  The revenue
    view is computed ONCE; its single-row max broadcasts back as a cross
    join (scalar parameter, not a shuffle).  The equality compares exact
    DECIMALS — a double-sum here could make the 'max' row engine-dependent
    on ties/low bits."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    rev = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * (F.lit(1) - F.col("l_discount").cast("decimal(8,4)"))
            ).alias("total_revenue")
        )
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    return (
        rev.join(F.broadcast(mx))
        .filter(F.col("total_revenue") == F.col("mx"))
        .join(F.broadcast(supp), F.col("supplier_no") == F.col("s_suppkey"))
        .select("s_suppkey", "s_name", F.col("total_revenue").cast("double").alias("total_revenue"))
    )


@register(
    "q17_small_quantity_revenue",
    """
    WITH stats AS (
      SELECT l_partkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
             COUNT(*) AS cnt
      FROM lineitem GROUP BY 1
    )
    SELECT CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / 7.0
           AS avg_yearly
    FROM lineitem l
    JOIN part   ON p_partkey = l.l_partkey
    JOIN stats  ON stats.l_partkey = l.l_partkey
    WHERE p_brand = 'Brand#23'
      AND 5 * l.l_quantity * cnt < sum_qty
    """,
)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated AVG subquery (orders below 20% of the part's
    mean quantity), decorrelated to a per-part aggregate + join-back.  The
    threshold test is integer-exact: '5*qty*cnt < sum_qty' avoids the
    double-precision avg whose low bits are partition-order-dependent —
    a boundary row could otherwise flip between engines."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand") == "Brand#23"
    ).select("p_partkey")
    stats = li.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
    )
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(stats, "l_partkey")
        .filter(F.lit(5) * F.col("l_quantity") * F.col("cnt") < F.col("sum_qty"))
        .agg(
            (F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double") / 7.0)
            .alias("avg_yearly")
        )
    )


@register(
    "q22_idle_balance_customers",
    """
    WITH pool AS (
      SELECT c_custkey, c_nationkey, CAST(c_acctbal AS DECIMAL(18,4)) AS bal
      FROM customer WHERE c_nationkey IN (1, 2, 3, 4, 5)
    ), stats AS (
      SELECT SUM(bal) AS s, COUNT(*) AS n FROM pool WHERE bal > 0
    )
    SELECT c_nationkey, CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(bal) AS DOUBLE) AS totacctbal
    FROM pool, stats
    WHERE bal * n > s
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderpriority = '1-URGENT')
    GROUP BY c_nationkey
    """,
)
def q22_idle_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22 shape: scalar-AVG subquery + NOT EXISTS anti join —
    above-average-balance customers with no urgent orders (every fixture
    customer has SOME order, so the classic no-orders form would be
    vacuously empty).  The average test is exact decimal cross-multiply
    ('bal*n > s'), sidestepping double-avg low bits; the 1-row stats
    aggregate broadcasts; the anti join shuffles on custkey."""
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_nationkey").isin(1, 2, 3, 4, 5)
    ).select(
        "c_custkey", "c_nationkey", F.col("c_acctbal").cast("decimal(18,4)").alias("bal")
    )
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).select("o_custkey")
    stats = cust.filter(F.col("bal") > 0).agg(
        F.sum("bal").alias("s"), F.count(F.lit(1)).alias("n")
    )
    return (
        cust.join(F.broadcast(stats))
        .filter(F.col("bal") * F.col("n") > F.col("s"))
        .join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.sum("bal").cast("double").alias("totacctbal"),
        )
    )


@register(
    "q8_market_share",
    """
    WITH base AS (
      SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(8,4))) AS volume,
             n2.n_name AS supp_nation
      FROM part
      JOIN lineitem ON p_partkey = l_partkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region   ON n1.n_regionkey = r_regionkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
        AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    )
    SELECT o_year,
           ROUND(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN volume
                               ELSE CAST(0 AS DECIMAL(28,8)) END) AS DOUBLE)
                 / CAST(SUM(volume) AS DOUBLE), 6) AS mkt_share
    FROM base GROUP BY o_year
    """,
)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of a region's part-type market by
    year — the widest dim chain in the suite (part, customer-side
    nation->region, supplier-side nation all broadcast; lineitem-orders is
    the only fact-fact shuffle).  Share is a ratio of conditional DECIMAL
    sums cast to double at the end."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation")
    region = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cust_nat = cust.join(
        F.broadcast(
            nation.join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
            .select("n_nationkey")
        ),
        cust.c_nationkey == F.col("n_nationkey"),
    ).select("c_custkey")
    supp_nat = supp.join(
        F.broadcast(nation.select("n_nationkey", F.col("n_name").alias("supp_nation"))),
        supp.s_nationkey == F.col("n_nationkey"),
    ).select("s_suppkey", "supp_nation")
    volume = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    )
    base = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust_nat), orders.o_custkey == cust_nat.c_custkey, "left_semi")
        .join(F.broadcast(supp_nat), li.l_suppkey == supp_nat.s_suppkey)
        .select(
            F.year("o_orderdate").cast("long").alias("o_year"),
            volume.alias("volume"),
            "supp_nation",
        )
    )
    nation_vol = F.when(F.col("supp_nation") == "NATION_3", F.col("volume")).otherwise(
        F.lit(0).cast("decimal(28,8)")
    )
    return base.groupBy("o_year").agg(
        F.round(
            F.sum(nation_vol).cast("double") / F.sum("volume").cast("double"), 6
        ).alias("mkt_share")
    )


@register(
    "q9_product_type_profit",
    """
    SELECT supp_nation, o_year, CAST(SUM(profit) AS DOUBLE) AS total_profit
    FROM (
      SELECT n_name AS supp_nation,
             CAST(year(o_orderdate) AS BIGINT) AS o_year,
             CAST(l_extendedprice AS DECIMAL(18,4))
               * (1 - CAST(l_discount AS DECIMAL(8,4)))
             - CAST(p_retailprice AS DECIMAL(18,4))
               * CAST(l_quantity AS DECIMAL(18,4))
               * CAST(0.1 AS DECIMAL(4,2)) AS profit
      FROM lineitem
      JOIN part     ON p_partkey = l_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      JOIN orders   ON o_orderkey = l_orderkey
      WHERE p_name LIKE '%widget%'
    ) profit
    GROUP BY supp_nation, o_year
    """,
)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier nation per year over a
    part-name pattern.  The fixture has no partsupp, so supply cost is
    p_retailprice x quantity x 0.1 — same join graph and aggregate, all
    cost arithmetic in exact decimals.  The LIKE predicate pushes to the
    part scan; part/supplier/nation broadcast; lineitem-orders is the
    single fact-fact shuffle."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_orderkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("%widget%")
    ).select("p_partkey", "p_retailprice")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    profit = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1) - F.col("l_discount").cast("decimal(8,4)")
    ) - F.col("p_retailprice").cast("decimal(18,4)") * F.col("l_quantity").cast(
        "decimal(18,4)"
    ) * F.lit(0.1).cast("decimal(4,2)")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("n_name").alias("supp_nation"),
            F.year("o_orderdate").cast("long").alias("o_year"),
            profit.alias("profit"),
        )
        .groupBy("supp_nation", "o_year")
        .agg(F.sum("profit").cast("double").alias("total_profit"))
    )


@register(
    "q11_important_stock",
    """
    WITH ps AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty
      FROM lineitem GROUP BY 1, 2
    ), nat AS (
      SELECT s_suppkey FROM supplier JOIN nation ON s_nationkey = n_nationkey
      WHERE n_name = 'NATION_12'
    ), held AS (
      SELECT ps.l_partkey, ps.qty
      FROM ps JOIN nat ON ps.l_suppkey = nat.s_suppkey
    )
    SELECT l_partkey, CAST(SUM(qty) AS DOUBLE) AS part_value
    FROM held
    GROUP BY l_partkey
    HAVING SUM(qty) * 10000 > (SELECT SUM(qty) FROM held)
    """,
)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: per-part aggregate HAVING > fraction-of-global-
    total — a scalar subquery over the SAME relation as the group-by.
    The nation-filtered holdings relation feeds both aggregates; the
    1-row global total broadcasts into the HAVING.  Exact-decimal
    cross-multiply (sum*10000 > total) instead of a double fraction.
    partsupp analog: lineitem quantity per (part, supplier)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity"
    )
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_12"
    ).select("n_nationkey")
    nat = supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey).select(
        "s_suppkey"
    )
    ps = li.groupBy("l_partkey", "l_suppkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("qty")
    )
    held = ps.join(F.broadcast(nat), ps.l_suppkey == nat.s_suppkey).select(
        "l_partkey", "qty"
    )
    total = held.agg(F.sum("qty").alias("grand_total"))
    return (
        held.groupBy("l_partkey")
        .agg(F.sum("qty").alias("pv"))
        .join(F.broadcast(total))
        .filter(F.col("pv") * 10000 > F.col("grand_total"))
        .select("l_partkey", F.col("pv").cast("double").alias("part_value"))
    )


@register(
    "q16_supplier_part_counts",
    """
    WITH bad AS (
      SELECT s_suppkey FROM supplier WHERE s_acctbal < 0
    ), pairs AS (
      SELECT DISTINCT l.l_partkey, l.l_suppkey
      FROM lineitem l
      WHERE l.l_suppkey NOT IN (SELECT s_suppkey FROM bad)
    )
    SELECT p_brand, p_type, p_size,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM pairs JOIN part ON p_partkey = l_partkey
    WHERE p_brand <> 'Brand#5' AND p_size IN (1, 4, 9, 14, 19, 23)
    GROUP BY p_brand, p_type, p_size
    """,
)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute with a
    NOT IN exclusion subquery — an anti join against the excluded
    supplier set (negative balance stands in for the complaints LIKE;
    fixture has no s_comment) before the distinct aggregation.
    partsupp analog: distinct (part, supplier) pairs from lineitem."""
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    bad = load_table(spark, sf_dir, "supplier").filter(
        F.col("s_acctbal") < 0
    ).select("s_suppkey")
    part = load_table(spark, sf_dir, "part").filter(
        (F.col("p_brand") != "Brand#5") & F.col("p_size").isin(1, 4, 9, 14, 19, 23)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    pairs = (
        li.join(F.broadcast(bad), li.l_suppkey == bad.s_suppkey, "left_anti")
        .distinct()
    )
    return (
        pairs.join(F.broadcast(part), pairs.l_partkey == part.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )


@register(
    "q20_excess_stock_suppliers",
    """
    WITH shipped AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS total_qty
      FROM lineitem
      GROUP BY 1, 2
    ), y97 AS (
      SELECT l_partkey, l_suppkey,
             SUM(CAST(l_quantity AS DECIMAL(18,4))) AS qty97
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      GROUP BY 1, 2
    ), qualifying AS (
      SELECT s.l_suppkey
      FROM shipped s
      JOIN y97 ON y97.l_partkey = s.l_partkey AND y97.l_suppkey = s.l_suppkey
      JOIN part p ON p.p_partkey = s.l_partkey
      WHERE p.p_name LIKE 'small%'
        AND s.total_qty * 2 > y97.qty97 * 5
      GROUP BY s.l_suppkey
    )
    SELECT s_suppkey, s_name
    FROM supplier JOIN nation ON s_nationkey = n_nationkey
    WHERE n_name = 'NATION_13'
      AND s_suppkey IN (SELECT l_suppkey FROM qualifying)
    """,
)
def q20_excess_stock_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested IN chains (suppliers -> qualifying
    part-supplier holdings -> part name pattern) collapsed to aggregates
    + semi joins.  'Stock' analog: total shipped quantity per
    (part, supplier); the excess test (stock > 0.5x of 1997 demand x5,
    i.e. 2*total > 5*qty97) is an exact-decimal cross-multiply.  Both
    aggregates shuffle lineitem on the SAME (part, supplier) key —
    one exchange reused."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_quantity", "l_shipdate"
    )
    part = load_table(spark, sf_dir, "part").filter(
        F.col("p_name").like("small%")
    ).select("p_partkey")
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_name", "s_nationkey"
    )
    nation = load_table(spark, sf_dir, "nation").filter(
        F.col("n_name") == "NATION_13"
    ).select("n_nationkey")
    qdec = F.col("l_quantity").cast("decimal(18,4)")
    shipped = li.groupBy("l_partkey", "l_suppkey").agg(F.sum(qdec).alias("total_qty"))
    y97 = (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.sum(qdec).alias("qty97"))
    )
    qualifying = (
        shipped.join(y97, ["l_partkey", "l_suppkey"])
        .join(F.broadcast(part), F.col("l_partkey") == part.p_partkey, "left_semi")
        .filter(F.col("total_qty") * 2 > F.col("qty97") * 5)
        .select("l_suppkey")
        .distinct()
    )
    return (
        supp.join(F.broadcast(nation), supp.s_nationkey == nation.n_nationkey)
        .join(qualifying, supp.s_suppkey == qualifying.l_suppkey, "left_semi")
        .select("s_suppkey", "s_name")
    )
