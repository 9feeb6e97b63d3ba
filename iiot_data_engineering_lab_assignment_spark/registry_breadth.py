"""SQL-breadth surface: string/null/conditional/subquery/ranking/
math/date functions and analytic-window shapes — the everyday-SQL
capabilities a user of the reference's DB layer expects.

Queries register on import through ``registry_core.register``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry_core import davg, register
from .sources.readers import load_table
from .functions.scalars import json_field
from .sources.readers import register_views


@register(
    "string_functions",
    """
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           substring(c_name, 1, 8) AS name_prefix,
           length(c_name) AS name_len,
           concat(c_mktsegment, '#', CAST(c_nationkey AS VARCHAR)) AS seg_nation,
           replace(lower(c_mktsegment), 'e', '3') AS leeted
    FROM customer
    """,
)
def string_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar string surface: case, substring, length, concat, replace —
    all codegen'd JVM expressions."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.length("c_name").alias("name_len"),
        F.concat_ws("#", "c_mktsegment", F.col("c_nationkey").cast("string")).alias(
            "seg_nation"
        ),
        F.replace(F.lower("c_mktsegment"), F.lit("e"), F.lit("3")).alias("leeted"),
    )


@register(
    "null_handling",
    """
    SELECT event_id,
           COALESCE(json_extract_string(props, '$.missing'), 'absent') AS with_default,
           NULLIF(event_type, 'view') AS non_view,
           (CASE WHEN value > 50 THEN 'high'
                 WHEN value > 10 THEN 'mid'
                 ELSE 'low' END) AS bucket3
    FROM events
    """,
)
def null_handling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COALESCE / NULLIF / CASE — the null-semantics surface."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.coalesce(json_field("props", "missing"), F.lit("absent")).alias("with_default"),
        F.nullif("event_type", F.lit("view")).alias("non_view"),
        F.when(F.col("value") > 50, "high")
        .when(F.col("value") > 10, "mid")
        .otherwise("low")
        .alias("bucket3"),
    )


@register(
    "conditional_aggregates",
    """
    SELECT user_id,
           COUNT(*) FILTER (WHERE event_type = 'error') AS n_errors,
           COUNT(*) FILTER (WHERE event_type = 'purchase') AS n_purchases,
           CAST(SUM(CAST(value AS DECIMAL(18,4)))
                FILTER (WHERE event_type = 'purchase') AS DOUBLE) AS purchase_value,
           COUNT(*) AS n_total
    FROM events
    GROUP BY user_id
    """,
)
def conditional_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FILTER-ed aggregates (conditional aggregation) — one pass, no self-joins."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "error", 1)).alias("n_errors"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("n_purchases"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("value").cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("purchase_value"),
        F.count(F.lit(1)).alias("n_total"),
    )


@register(
    "having_clause",
    """
    SELECT user_id, COUNT(*) AS n
    FROM events
    GROUP BY user_id
    HAVING COUNT(*) > 60
    """,
)
def having_clause(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HAVING: post-aggregation predicate (planned as filter above the agg)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).filter(F.col("n") > 60)


@register(
    "daily_activity",
    """
    SELECT CAST(ts AS DATE) AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_value
    FROM events
    GROUP BY 1
    """,
)
def daily_activity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date-grained grouping (to_date cast) — the daily-rollup shape."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(F.col("ts").cast("date").alias("day")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("n_users"),
        davg("value", "avg_value"),
    )


@register(
    "correlated_scalar_subquery",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders o
    WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice)
                              FROM orders o2
                              WHERE o2.o_custkey = o.o_custkey)
    """,
)
def correlated_scalar_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (decorrelated by Catalyst into an
    aggregate + join): orders more than twice their customer's average."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders o
        WHERE o_totalprice > 2 * (SELECT AVG(o2.o_totalprice)
                                  FROM orders o2
                                  WHERE o2.o_custkey = o.o_custkey)
        """
    )


@register(
    "dense_rank_ntile",
    """
    SELECT c_custkey, c_mktsegment, c_acctbal,
           DENSE_RANK() OVER (PARTITION BY c_mktsegment
                              ORDER BY c_acctbal DESC, c_custkey) AS bal_rank,
           NTILE(4) OVER (PARTITION BY c_mktsegment
                          ORDER BY c_acctbal DESC, c_custkey) AS quartile
    FROM customer
    """,
)
def dense_rank_ntile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DENSE_RANK + NTILE analytic functions with deterministic ordering."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    spec = Window.partitionBy("c_mktsegment").orderBy(F.desc("c_acctbal"), F.asc("c_custkey"))
    return c.select(
        "c_custkey",
        "c_mktsegment",
        "c_acctbal",
        F.dense_rank().over(spec).alias("bal_rank"),
        F.ntile(4).over(spec).alias("quartile"),
    )


@register(
    "array_functions",
    """
    SELECT vec_id,
           len(embedding) AS dim,
           ROUND(embedding[1], 6) AS first_component,
           ROUND(list_aggregate(CAST(embedding[1:8] AS DOUBLE[]), 'sum'), 6) AS head_sum,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_positive
    FROM embeddings
    """,
)
def array_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface over the embedding column: size, indexing, slice-sum,
    lambda filter — all JVM higher-order functions."""
    emb = load_table(spark, sf_dir, "embeddings")
    head = F.slice(F.transform("embedding", lambda x: x.cast("double")), 1, 8)
    return emb.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.round(F.element_at("embedding", 1).cast("double"), 6).alias("first_component"),
        F.round(
            F.aggregate(head, F.lit(0.0), lambda acc, x: acc + x), 6
        ).alias("head_sum"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_positive"),
    )


@register(
    "regex_extract_docs",
    """
    SELECT doc_id,
           regexp_extract(text, '([a-z]+) (join|scan|merge)', 1) AS verb_subject,
           CAST(regexp_matches(text, 'window') AS BOOLEAN) AS mentions_window
    FROM documents
    """,
)
def regex_extract_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex surface: group extraction + match predicate (codegen'd)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.regexp_extract("text", r"([a-z]+) (join|scan|merge)", 1).alias("verb_subject"),
        F.col("text").rlike("window").alias("mentions_window"),
    )


@register(
    "date_math_orders",
    """
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS order_day,
           CAST(o_orderdate + INTERVAL '90 days' AS DATE) AS due_day,
           CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month,
           CAST(last_day(CAST(o_orderdate AS DATE)) AS DATE) AS month_end,
           datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS days_to_epoch_end,
           CAST(dayofweek(o_orderdate) AS INTEGER) AS dow
    FROM orders
    """,
)
def date_math_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Date arithmetic surface: interval add, trunc, last_day, datediff,
    day-of-week.  (DuckDB dayofweek: 0=Sunday; Spark dayofweek: 1=Sunday —
    normalized here to DuckDB's numbering via -1.)"""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("order_day"),
        F.date_add(F.col("o_orderdate").cast("date"), 90).alias("due_day"),
        F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"),
        F.last_day("o_orderdate").alias("month_end"),
        F.datediff(F.lit("2002-01-01").cast("date"), F.col("o_orderdate").cast("date")).alias(
            "days_to_epoch_end"
        ),
        (F.dayofweek("o_orderdate") - 1).cast("int").alias("dow"),
    )


@register(
    "stats_moments",
    """
    SELECT l_returnflag,
           ROUND(stddev_samp(l_extendedprice), 4) AS std_price,
           ROUND(var_samp(l_quantity), 6) AS var_qty,
           ROUND(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           ROUND(covar_samp(l_discount, l_tax), 8) AS covar_disc_tax
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical-moment aggregates: sample stddev/variance, Pearson
    correlation, sample covariance (the data-profiling surface).  Both
    engines use numerically-stable one-pass updates; results are rounded
    coarsely enough (4-8dp vs ~1e-10 relative noise) to hash stably."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.stddev_samp("l_extendedprice"), 4).alias("std_price"),
        F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
        F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
        F.round(F.covar_samp("l_discount", "l_tax"), 8).alias("covar_disc_tax"),
    )


@register(
    "math_functions",
    """
    SELECT event_id,
           ROUND(abs(value - 50.0), 6) AS dist_from_mid,
           CAST(ceil(value) AS BIGINT) AS value_ceil,
           CAST(floor(value) AS BIGINT) AS value_floor,
           ROUND(sqrt(abs(value)), 6) AS value_sqrt,
           ROUND(power(value, 2), 4) AS value_sq,
           GREATEST(value, 50.0) AS at_least_mid,
           LEAST(value, 50.0) AS at_most_mid,
           CAST(sign(value - 50.0) AS DOUBLE) AS side
    FROM events
    """,
)
def math_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Math scalar surface: abs/ceil/floor/sqrt/power/greatest/least/sign."""
    ev = load_table(spark, sf_dir, "events")
    v = F.col("value")
    return ev.select(
        "event_id",
        F.round(F.abs(v - 50.0), 6).alias("dist_from_mid"),
        F.ceil(v).cast("long").alias("value_ceil"),
        F.floor(v).cast("long").alias("value_floor"),
        F.round(F.sqrt(F.abs(v)), 6).alias("value_sqrt"),
        F.round(F.pow(v, 2), 4).alias("value_sq"),
        F.greatest(v, F.lit(50.0)).alias("at_least_mid"),
        F.least(v, F.lit(50.0)).alias("at_most_mid"),
        F.signum(v - 50.0).alias("side"),
    )


@register(
    "in_subquery",
    """
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      AND o_orderstatus = 'O'
    """,
)
def in_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery (planned as a left-semi join by Catalyst) through the
    SQL surface."""
    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT o_orderkey, o_custkey, o_totalprice
        FROM orders
        WHERE o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
          AND o_orderstatus = 'O'
        """
    )


@register(
    "first_last_window",
    """
    SELECT event_id, user_id, ts, value,
           FIRST_VALUE(value) OVER w AS day_first,
           LAST_VALUE(value) OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                   ORDER BY ts, event_id
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                        AND UNBOUNDED FOLLOWING) AS day_last
    FROM events
    WINDOW w AS (PARTITION BY user_id, CAST(ts AS DATE) ORDER BY ts, event_id)
    """,
)
def first_last_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FIRST_VALUE / LAST_VALUE analytic functions per (user, day) — the
    session-open/close reading pattern; LAST_VALUE needs the explicit
    unbounded frame in both engines."""
    from pyspark.sql import Window

    ev = load_table(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    ordered = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    full = ordered.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        "value",
        F.first("value").over(ordered).alias("day_first"),
        F.last("value").over(full).alias("day_last"),
    )


@register(
    "percent_rank_cume_dist",
    """
    SELECT c_custkey, c_mktsegment,
           ROUND(PERCENT_RANK() OVER w, 6) AS pct_rank,
           ROUND(CUME_DIST() OVER w, 6) AS cume,
           NTILE(10) OVER w AS decile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def percent_rank_cume_dist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENT_RANK / CUME_DIST / NTILE — the distribution-rank family."""
    from pyspark.sql import Window

    c = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.ntile(10).over(w).alias("decile"),
    )


@register(
    "grouping_indicator",
    """
    SELECT o_orderstatus, o_orderpriority,
           CAST(GROUPING(o_orderstatus) AS INTEGER) AS g_status,
           CAST(GROUPING(o_orderpriority) AS INTEGER) AS g_priority,
           COUNT(*) AS n
    FROM orders
    GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """,
)
def grouping_indicator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING() indicators distinguish real NULL keys from rollup
    subtotal rows — the correct way to consume grouping-set output."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderstatus", "o_orderpriority").agg(
        F.grouping("o_orderstatus").cast("int").alias("g_status"),
        F.grouping("o_orderpriority").cast("int").alias("g_priority"),
        F.count(F.lit(1)).alias("n"),
    ).select("o_orderstatus", "o_orderpriority", "g_status", "g_priority", "n")
