"""Time-series operator family (TimescaleDB-analog surface):
latest-per-key, gap detection, gapfill+LOCF, z-score anomalies,
time-weighted average.  Reference context: the hypertable query
patterns anticipated by `infrastructure setup/init-db.sql:16-44`."""

from pyspark.sql import functions as F

from iiot_data_engineering_lab_assignment_spark.registry import QUERIES

SF_DIR = "/root/testdata/sf0.001"


def test_latest_reading_is_max_ts(spark, events):
    out = QUERIES["latest_reading_per_sensor"].fn(spark, SF_DIR)
    # one row per (user, type), and last_ts equals the group max(ts)
    groups = events.groupBy("user_id", "event_type").agg(F.max("ts").alias("max_ts"))
    joined = out.join(groups, ["user_id", "event_type"])
    assert joined.count() == groups.count()
    assert joined.filter(F.col("last_ts") != F.col("max_ts")).count() == 0


def test_gap_report_bounds(spark):
    out = QUERIES["sensor_gap_report"].fn(spark, SF_DIR)
    # every reported gap exceeds the 6h threshold and ends after it starts
    bad = out.filter(
        (F.col("gap_us") <= 21600000000) | (F.col("gap_end") <= F.col("gap_start"))
    ).count()
    assert bad == 0


def test_gapfill_locf_semantics(spark, events):
    out = QUERIES["gapfill_locf_daily"].fn(spark, SF_DIR).cache()
    n_users = events.select("user_id").distinct().count()
    n_days = (
        events.agg(
            F.datediff(
                F.max(F.date_trunc("day", "ts")), F.min(F.date_trunc("day", "ts"))
            )
        ).head()[0]
        + 1
    )
    # dense spine: every (user, day) cell exists
    assert out.count() == n_users * n_days
    # LOCF never fills before a user's first observation; after it, no NULLs
    first_obs = events.groupBy("user_id").agg(
        F.min(F.date_trunc("day", "ts")).cast("date").alias("first_day")
    )
    j = out.join(first_obs, "user_id")
    assert j.filter((F.col("day") >= F.col("first_day")) & F.col("locf_value").isNull()).count() == 0
    assert j.filter((F.col("day") < F.col("first_day")) & F.col("locf_value").isNotNull()).count() == 0
    out.unpersist()


def test_zscore_partition_independent(spark, events):
    """DECIMAL-summed moments: identical output under different input
    partitionings (the float formula would flip low bits)."""
    # the query lives in the time-series family module
    from iiot_data_engineering_lab_assignment_spark.registry_timeseries import (
        zscore_anomalies,
    )

    a = zscore_anomalies(spark, SF_DIR).collect()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        b = zscore_anomalies(spark, SF_DIR).collect()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_time_weighted_avg_within_minmax(spark, events):
    """TWA is a convex combination of observed values: min <= twa <= max
    per (user, type) over the averaged (non-last) readings."""
    out = QUERIES["time_weighted_avg"].fn(spark, SF_DIR)
    bounds = events.groupBy("user_id", "event_type").agg(
        F.min("value").alias("lo"), F.max("value").alias("hi")
    )
    j = out.join(bounds, ["user_id", "event_type"])
    assert j.filter((F.col("twa") < F.col("lo") - 1e-6) | (F.col("twa") > F.col("hi") + 1e-6)).count() == 0


def test_ewma_segmented_matches_direct_fold(spark, events):
    """The tree-aggregable EWMA (per-segment affine maps composed in
    segment order) must agree with the direct zero-seeded sequential
    fold to float re-association noise, for ANY segmentation — daily
    segments and a coarse 3-way hash segmentation give the same answer."""
    from iiot_data_engineering_lab_assignment_spark.operators.aggregates import (
        ewma_state_segmented,
    )

    alpha = 0.3
    # direct zero-seeded fold per user over (ts, value) order
    rows = events.select("user_id", "ts", "value").collect()
    series = {}
    for r in sorted(rows, key=lambda r: (r["user_id"], r["ts"])):
        series.setdefault(r["user_id"], []).append(r["value"])
    want = {
        u: __import__("functools").reduce(
            lambda acc, x: alpha * x + (1 - alpha) * acc, xs, 0.0
        )
        for u, xs in series.items()
    }
    got = {
        r["user_id"]: r["ewma"]
        for r in ewma_state_segmented(
            events, ["user_id"], "ts", "value", alpha=alpha
        ).collect()
    }
    assert set(got) == set(want)
    for u in want:
        assert abs(got[u] - want[u]) <= 1e-9 * max(1.0, abs(want[u])), u
    # segmentation-invariance: month segments instead of days
    got2 = {
        r["user_id"]: r["ewma"]
        for r in ewma_state_segmented(
            events.withColumn("_m", F.trunc("ts", "mm")),
            ["user_id"], "ts", "value", alpha=alpha, segment_col="_m",
        ).collect()
    }
    for u in want:
        assert abs(got2[u] - want[u]) <= 1e-9 * max(1.0, abs(want[u])), u
