"""Sketch family: HLL distinct merge, approximate distincts, the
heavy-hitters envelope, Count-Min, KMV set algebra (+ streaming
KMV store), and the mergeable histogram quantile sketch.

Queries register on import through ``registry_core.register``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .registry_core import register
from .sources.readers import load_table


@register(
    "hll_distinct_merge",
    """
    SELECT event_type,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS merge_consistent
    FROM events
    GROUP BY 1
    """,
)
def hll_distinct_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r6 (claim corrected r7): INCREMENTAL DISTINCT COUNTING — the
    sketch companion to incremental_rollup_merge.  COUNT(DISTINCT) is
    the one core aggregate with no algebraic partial state (a per-day
    distinct count cannot be summed), so a 100 TB pipeline persists
    per-day HLL SKETCHES (Datasketches binary, `hll_sketch_agg`) and
    answers all-time distinct queries by register-wise-max union
    (`hll_union_agg`) — never re-scanning history, mergeable across any
    slicing.

    The oracle-checked claim (corrected at sf0.1, r7): while sketches
    remain in exact coupon mode the merged and direct estimates are
    bit-identical, but once a sketch promotes to dense HLL the direct
    streaming path uses the HIP estimator while a union must fall back
    to the composite estimator (public Apache Datasketches behavior) —
    so estimate EQUALITY does not survive scale.  The sound cross-scale
    property, asserted TRUE per group by the oracle, is that the
    merged-from-daily estimate agrees with BOTH the direct estimate and
    the exact count within a 5% envelope (~3x the lgK=12 rsd of 1.6%),
    alongside the exact distinct count both engines compute.  The
    estimate VALUE stays engine-internal (Datasketches impl detail) —
    accuracy vs exact is additionally covered by approx_distinct_users'
    rsd-bound test."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.withColumn("day", F.to_date("ts"))
        .groupBy("event_type", "day")
        .agg(F.expr("hll_sketch_agg(user_id)").alias("sk"))
    )
    merged = daily.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_union_agg(sk))").alias("merged_est")
    )
    direct = ev.groupBy("event_type").agg(
        F.expr("hll_sketch_estimate(hll_sketch_agg(user_id))").alias("direct_est"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    tol = 0.05
    consistent = (
        (
            F.abs(F.col("merged_est") - F.col("direct_est"))
            <= F.lit(tol) * F.col("exact_users")
        )
        & (
            F.abs(F.col("merged_est") - F.col("exact_users"))
            <= F.lit(tol) * F.col("exact_users")
        )
    )
    return (
        direct.join(merged, "event_type")
        .select(
            "event_type",
            "exact_users",
            consistent.alias("merge_consistent"),
        )
    )


@register(
    "approx_distinct_users",
    """
    SELECT event_type,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS exact_users,
           TRUE AS within_envelope
    FROM events
    GROUP BY 1
    """,
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (the count-distinct you actually
    run at 100 TB).  The estimate VALUE is engine-internal (HLL++ vs
    DuckDB's HLL differ by design), so the oracle-checked claim — the r7
    hll_distinct_merge pattern, upgraded from rows-only r8 — is the
    published accuracy contract itself: the rsd=0.02 estimate lands
    within a 6% envelope (3x rsd) of the exact count, asserted as a
    boolean the oracle emits as TRUE.  The 3x multiple is
    FIXTURE-CALIBRATED (rsd is a standard deviation, not a hard bound;
    3 sigma makes an excursion vanishingly rare, not impossible), so an
    envelope flip on a regenerated fixture should be read as
    recalibrate-first, engine-bug-second (r8 advice).  A regression
    that broke the estimator (or silently fell back to exact=0) still
    flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    tol = 0.06  # 3x the configured rsd
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.countDistinct("user_id").alias("exact_users"),
        (
            F.abs(
                F.approx_count_distinct("user_id", rsd=0.02)
                - F.countDistinct("user_id")
            )
            <= F.lit(tol) * F.countDistinct("user_id")
        ).alias("within_envelope"),
    )


@register(
    "heavy_hitters_envelope",
    """
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(LEAST(5, COUNT(DISTINCT user_id)) AS BIGINT) AS k_returned,
           TRUE AS within_envelope
    FROM events
    GROUP BY 1
    """,
)
def heavy_hitters_envelope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r8: approximate heavy hitters per event type
    (`approx_top_k`, the DataSketches frequent-items aggregate — the
    top-k-users query you actually run at 100 TB, where an exact
    (type, user) aggregate is another full shuffle).  The returned item
    SET is sketch-internal (engine-specific tie handling), so — the
    approx_distinct_users / hll_distinct_merge pattern — the
    oracle-checked claim is the accuracy contract itself: every
    estimate the sketch returns is within 1% of N of that item's exact
    count (the frequent-items guarantee is ~3.5/mapSize = 0.35% of N;
    1% is the conservative envelope and — like approx_distinct_users'
    3x-rsd bar — FIXTURE-CALIBRATED: a published-error-bound multiple,
    not a hard sketch guarantee, chosen wide enough that only a broken
    sketch plausibly exits it), asserted per type as a boolean the
    oracle emits as TRUE, alongside k_returned = least(5, exact
    distinct users) so a sparse type cannot read as an engine
    regression (r8 advice).  A regression that broke the sketch (or
    silently returned garbage items that join nowhere, shrinking
    k_returned) flips the hash."""
    ev = load_table(spark, sf_dir, "events")
    exact = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("c"))
    n = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_events"))
    tk = ev.groupBy("event_type").agg(F.expr("approx_top_k(user_id, 5)").alias("tk"))
    items = tk.select("event_type", F.explode("tk").alias("e")).select(
        "event_type",
        F.col("e.item").alias("user_id"),
        F.col("e.count").alias("est"),
    )
    j = items.join(exact, ["event_type", "user_id"]).join(
        F.broadcast(n), "event_type"
    )
    return j.groupBy("event_type").agg(
        F.first("n_events").alias("n_events"),
        F.count(F.lit(1)).alias("k_returned"),
        F.bool_and(
            F.abs(F.col("est") - F.col("c")) <= 0.01 * F.col("n_events")
        ).alias("within_envelope"),
    )


@register(
    "countmin_heavy_users",
    """
    WITH js AS (
      SELECT unnest(generate_series(0, 3)) AS j
    ), tagged AS (
      SELECT j,
             CAST(('0x' || substr(md5('cms' || CAST(j AS VARCHAR) || ':'
                                       || CAST(user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 64 AS b
      FROM events CROSS JOIN js
    ), counters AS (
      SELECT j, b, CAST(COUNT(*) AS BIGINT) AS c FROM tagged GROUP BY 1, 2
    ), exact AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS exact_count
      FROM events GROUP BY 1
    ), probes AS (
      SELECT e.user_id, js.j,
             CAST(('0x' || substr(md5('cms' || CAST(js.j AS VARCHAR) || ':'
                                       || CAST(e.user_id AS VARCHAR)), 1, 8))
                  AS BIGINT) % 64 AS b
      FROM exact e CROSS JOIN js WHERE e.user_id < 20
    ), est AS (
      SELECT p.user_id, MIN(c.c) AS cms_est
      FROM probes p JOIN counters c USING (j, b) GROUP BY 1
    )
    SELECT e.user_id, e.exact_count, est.cms_est,
           est.cms_est >= e.exact_count AS never_underestimates
    FROM exact e JOIN est USING (user_id)
    WHERE e.user_id < 20
    """,
)
def countmin_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r9: Count-Min sketch (Cormode & Muthukrishnan 2005) built
    Spark-native — the fixed-memory frequency sketch you stream 100 TB
    through when even a (key, count) aggregate is too wide: d=4 md5-seeded
    hash rows x w=64 buckets = 256 counters regardless of key cardinality.
    Build = one explode(4 bucket tags) + one tiny groupBy; point queries
    = min over the d counters a key hashes to.  Every hash is md5-derived
    (the repo's deterministic-randomness convention), so the oracle
    rebuilds the SAME sketch and the estimates value-hash exactly —
    alongside the CMS THEOREM the sketch must satisfy: estimates never
    underestimate (emitted as a boolean).  Probed on the 20 lowest user
    ids against their exact counts."""
    from .streaming.jobs import cms_bucket_tags

    ev = load_table(spark, sf_dir, "events")
    # the SAME tag expression maintains the streaming counter store
    # (streaming/jobs.py:run_stream_countmin) — additivity makes the
    # stream-merged sketch bit-equal to this batch build (test-pinned)
    tags = cms_bucket_tags(F.col("user_id"), d=4, w=64)
    counters = (
        ev.select(F.explode(tags).alias("h"))
        .groupBy(F.col("h.j").alias("j"), F.col("h.b").alias("b"))
        .agg(F.count(F.lit(1)).alias("c"))
    )
    exact = (
        ev.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("exact_count"))
        .filter(F.col("user_id") < 20)
    )
    probes = exact.select("user_id", F.explode(tags).alias("h")).select(
        "user_id", F.col("h.j").alias("j"), F.col("h.b").alias("b")
    )
    est = (
        probes.join(F.broadcast(counters), ["j", "b"])
        .groupBy("user_id")
        .agg(F.min("c").alias("cms_est"))
    )
    return exact.join(est, "user_id").select(
        "user_id",
        "exact_count",
        "cms_est",
        (F.col("cms_est") >= F.col("exact_count")).alias("never_underestimates"),
    )


#: DuckDB mirror of operators.aggregates.kmv_hash52 — the md5 family is
#: the cross-engine-checkable tier (the production tier would swap in
#: xxhash64, exactly as minhash_lsh_pairs_md5 vs the xxhash64 path).
_KMV_SQL_HASH = (
    "list_reduce(list_transform(range(1, 14), i -> CAST(strpos('0123456789abcdef', "
    "substr(md5(CAST(user_id AS VARCHAR)), i, 1)) - 1 AS BIGINT)), (a, b) -> a * 16 + b)"
)


@register(
    "kmv_user_overlap_event_types",
    f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), h AS (
      SELECT event_type, {_KMV_SQL_HASH} AS hv FROM du
    ), n AS (
      SELECT event_type, COUNT(*) AS n FROM du GROUP BY 1
    ), f AS (
      SELECT DISTINCT h.event_type, hv FROM h JOIN n USING (event_type)
      WHERE CAST(hv AS DOUBLE) / 4503599627370496.0
            < LEAST(1.0, 2048.0 / n.n)
    ), sk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM f QUALIFY rn <= 256
    ), tstats AS (
      SELECT event_type, COUNT(*) AS n_sk, MAX(hv) AS theta_int
      FROM sk GROUP BY 1
    ), test AS (
      SELECT event_type,
             CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE)
                  ELSE 255.0 / (CAST(theta_int AS DOUBLE) / 4503599627370496.0)
             END AS est
      FROM tstats
    ), pr AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b
      FROM n a JOIN n b ON a.event_type < b.event_type
    ), m AS (
      SELECT pr.type_a, pr.type_b, sk.hv,
             MAX(CASE WHEN sk.event_type = pr.type_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN sk.event_type = pr.type_b THEN 1 ELSE 0 END) AS in_b
      FROM pr JOIN sk ON sk.event_type IN (pr.type_a, pr.type_b)
      GROUP BY 1, 2, 3
    ), u AS (
      SELECT type_a, type_b, hv, in_a, in_b,
             row_number() OVER (PARTITION BY type_a, type_b ORDER BY hv) AS rn
      FROM m QUALIFY rn <= 256
    ), pest AS (
      SELECT type_a, type_b,
             COUNT(*) AS m_used,
             CAST(SUM(in_a * in_b) AS BIGINT) AS matches,
             MAX(hv) AS theta_int
      FROM u GROUP BY 1, 2
    ), ex AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             COUNT(*) AS inter
      FROM du a JOIN du b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      GROUP BY 1, 2
    )
    SELECT p.type_a, p.type_b,
           ea.est AS est_distinct_a,
           eb.est AS est_distinct_b,
           CASE WHEN p.m_used < 256 THEN CAST(p.m_used AS DOUBLE)
                ELSE 255.0 / (CAST(p.theta_int AS DOUBLE) / 4503599627370496.0)
           END AS est_union,
           CAST(p.matches AS DOUBLE) / p.m_used AS est_jaccard,
           CAST(COALESCE(ex.inter, 0) AS DOUBLE)
             / (na.n + nb.n - COALESCE(ex.inter, 0)) AS exact_jaccard
    FROM pest p
    JOIN test ea ON ea.event_type = p.type_a
    JOIN test eb ON eb.event_type = p.type_b
    JOIN n na ON na.event_type = p.type_a
    JOIN n nb ON nb.event_type = p.type_b
    LEFT JOIN ex ON ex.type_a = p.type_a AND ex.type_b = p.type_b
    """,
)
def kmv_user_overlap_event_types_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values) sketch set algebra over per-event-type user
    sets: estimated distinct users per type, estimated UNION size, and
    estimated JACCARD for every type pair — the set operation family HLL
    sketches cannot provide (HLL unions but never intersects; KMV's
    bottom-k sample supports both, Beyer et al. SIGMOD'07).

    Spark-first scale shape: the k smallest hashes per group are found
    WITHOUT a per-group total sort — a deterministic pre-filter keeps
    only hashes below 8k/n (n = the group's exact distinct count, one
    cheap count aggregate broadcast back), so the subsequent per-group
    ranking sorts ~2048 survivors instead of n.  P(k-th min > 8k/n) <
    exp(-k(8-1)^2/16) ~ e^-784 — and because the ORACLE applies the SAME
    filter, even that event could not flip the value hash.  All sketch
    state is INTEGER (52-bit md5-prefix folds — the dyadic fraction is
    double-exact on both engines), so every emitted double is
    bit-identical across engines and needs no rounding.  The estimator:
    distinct ~ (k-1)/theta_k (theta_k = normalized k-th smallest hash),
    Jaccard ~ |K(A u B) n sk(A) n sk(B)| / k, union ~ (k-1)/theta of the
    merged sketch; exact_jaccard rides along as ground truth (the
    fixture's user sets overlap heavily, so estimates are near 1).  At
    100 TB the sketches are ~k values per group — the merge is a
    broadcast-size object, the same shape as hll_distinct_merge's
    partial-sketch store."""
    from pyspark.sql import Window

    from .operators.aggregates import kmv_hash52

    K = 256
    two52 = 4503599627370496.0
    ev = load_table(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    h = du.select("event_type", kmv_hash52("user_id").alias("hv"))
    n = du.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    f = h.join(F.broadcast(n), "event_type").filter(
        (F.col("hv").cast("double") / two52)
        < F.least(F.lit(1.0), F.lit(8.0 * K) / F.col("n"))
    )
    wt = Window.partitionBy("event_type").orderBy("hv")
    # r12 (r11 ADVICE): dedup hash VALUES before the bottom-k so a 52-bit
    # collision cannot make this row's est_distinct disagree with
    # stream_kmv_distinct_store's (which dedups), and duplicate hv values
    # never waste sketch slots; distinct-after-filter equals
    # filter-after-distinct because the predicate depends only on (type, hv)
    sk = (
        f.select("event_type", "hv")
        .distinct()
        .withColumn("rn", F.row_number().over(wt))
        .filter(F.col("rn") <= K)
    )
    tstats = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("hv").alias("theta_int")
    )
    test = tstats.select(
        "event_type",
        F.when(F.col("n_sk") < K, F.col("n_sk").cast("double"))
        .otherwise(F.lit(float(K - 1)) / (F.col("theta_int").cast("double") / two52))
        .alias("est"),
    )
    na, nb = n.alias("na"), n.alias("nb")
    pr = na.join(
        nb, F.col("na.event_type") < F.col("nb.event_type")
    ).select(
        F.col("na.event_type").alias("type_a"),
        F.col("nb.event_type").alias("type_b"),
        F.col("na.n").alias("n_a"),
        F.col("nb.n").alias("n_b"),
    )
    skr = sk.select(F.col("event_type").alias("sk_type"), "hv")
    m = (
        F.broadcast(pr)
        .join(
            skr,
            (F.col("sk_type") == F.col("type_a"))
            | (F.col("sk_type") == F.col("type_b")),
        )
        .groupBy("type_a", "type_b", "hv")
        .agg(
            F.max((F.col("sk_type") == F.col("type_a")).cast("int")).alias("in_a"),
            F.max((F.col("sk_type") == F.col("type_b")).cast("int")).alias("in_b"),
        )
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("hv")
    u = m.withColumn("rn", F.row_number().over(wu)).filter(F.col("rn") <= K)
    pest = u.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).alias("m_used"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("matches"),
        F.max("hv").alias("theta_int"),
    )
    dua, dub = du.alias("dua"), du.alias("dub")
    ex = (
        dua.join(
            dub,
            (F.col("dua.user_id") == F.col("dub.user_id"))
            & (F.col("dua.event_type") < F.col("dub.event_type")),
        )
        .groupBy(
            F.col("dua.event_type").alias("type_a"),
            F.col("dub.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ests = test
    return (
        pest.join(F.broadcast(pr.select("type_a", "type_b", "n_a", "n_b")), ["type_a", "type_b"])
        .join(
            F.broadcast(ests.select(F.col("event_type").alias("type_a"), F.col("est").alias("est_distinct_a"))),
            "type_a",
        )
        .join(
            F.broadcast(ests.select(F.col("event_type").alias("type_b"), F.col("est").alias("est_distinct_b"))),
            "type_b",
        )
        .join(F.broadcast(ex), ["type_a", "type_b"], "left")
        .select(
            "type_a",
            "type_b",
            "est_distinct_a",
            "est_distinct_b",
            F.when(F.col("m_used") < K, F.col("m_used").cast("double"))
            .otherwise(
                F.lit(float(K - 1)) / (F.col("theta_int").cast("double") / two52)
            )
            .alias("est_union"),
            (F.col("matches").cast("double") / F.col("m_used")).alias("est_jaccard"),
            (
                F.coalesce(F.col("inter"), F.lit(0)).cast("double")
                / (F.col("n_a") + F.col("n_b") - F.coalesce(F.col("inter"), F.lit(0)))
            ).alias("exact_jaccard"),
        )
    )


@register(
    "stream_kmv_distinct_store",
    f"""
    WITH du AS (
      SELECT DISTINCT event_type, user_id FROM events
    ), h AS (
      SELECT DISTINCT event_type, {_KMV_SQL_HASH} AS hv FROM du
    ), sk AS (
      SELECT event_type, hv,
             row_number() OVER (PARTITION BY event_type ORDER BY hv) AS rn
      FROM h QUALIFY rn <= 256
    ), t AS (
      SELECT event_type, COUNT(*) AS n_sk, MAX(hv) AS theta_int
      FROM sk GROUP BY 1
    )
    SELECT event_type,
           CASE WHEN n_sk < 256 THEN CAST(n_sk AS DOUBLE)
                ELSE 255.0 / (CAST(theta_int AS DOUBLE) / 4503599627370496.0)
           END AS est_distinct
    FROM t
    """,
)
def stream_kmv_distinct_store_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r11: the STREAMING form of the KMV sketch — a file-replay
    stream maintains per-batch bottom-k partials in a batch_id-keyed
    store (the ``run_stream_countmin`` discipline: retried batches
    replace their own partition, exactly-once without transactions);
    read-time merge = union -> dedup hash values -> keep k smallest.
    Bottom-k over distinct hashes is a semilattice, so the merged sketch
    is BIT-EQUAL to the batch-built one regardless of stream slicing —
    an identity, not an approximation — which is why this row carries a
    full value-hash oracle (the batch KMV estimate SQL) rather than an
    envelope.  tests/test_r9_ops.py asserts the multi-batch merge equals
    the single-batch sketch exactly."""
    from .session import scratch_dir
    from .streaming.jobs import read_kmv_estimates, run_stream_kmv_store

    store = scratch_dir("kmv_store_") + "/sk"
    run_stream_kmv_store(spark, sf_dir, store)
    return read_kmv_estimates(spark, store)


@register(
    "histogram_quantile_sketch",
    """
    WITH ev AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ), b AS (
      SELECT event_type,
             CAST(LEAST(GREATEST(FLOOR(value / 0.5), 0), 1023) AS BIGINT)
               AS bin
      FROM ev
    ), m AS (
      SELECT event_type, bin, COUNT(*) AS c FROM b GROUP BY 1, 2
    ), cum AS (
      SELECT event_type, bin, c,
             SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
             SUM(c) OVER (PARTITION BY event_type) AS total
      FROM m
    ), qs AS (
      SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q
    ), j AS (
      SELECT c.event_type, qs.q, c.bin, c.c, c.cum, c.total,
             row_number() OVER (PARTITION BY c.event_type, qs.q ORDER BY c.bin)
               AS rn
      FROM cum c JOIN qs ON CAST(c.cum AS DOUBLE) >= qs.q * c.total
    ), est AS (
      SELECT event_type, q,
             bin * 0.5
               + 0.5 * ((q * total - (cum - c)) / c) AS est_value
      FROM j WHERE rn = 1
    ), ex AS (
      SELECT event_type, CAST(0.5 AS DOUBLE) AS q,
             ROUND(quantile_cont(value, 0.5), 4) AS exact_value
      FROM ev GROUP BY 1
      UNION ALL
      SELECT event_type, CAST(0.95 AS DOUBLE), ROUND(quantile_cont(value, 0.95), 4)
      FROM ev GROUP BY 1
      UNION ALL
      SELECT event_type, CAST(0.99 AS DOUBLE), ROUND(quantile_cont(value, 0.99), 4)
      FROM ev GROUP BY 1
    )
    SELECT e.event_type, e.q, e.est_value, x.exact_value
    FROM est e JOIN ex x ON e.event_type = x.event_type AND e.q = x.q
    """,
)
def histogram_quantile_sketch_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NEW r11: MERGEABLE fixed-bin histogram quantiles — the
    partial-aggregation path to percentiles at 100 TB.  Exact
    ``percentile`` needs the full sorted multiset per group (one giant
    shuffle + sort, and no incremental maintenance); a 1024-bin
    fixed-domain histogram is an algebraic partial (per-day / per-batch
    bin counts SUM associatively — the ``rollup_partials`` /
    ``incremental_rollup_merge`` store shape), so a nightly pipeline
    keeps O(groups x 1024) integers and answers any quantile with one
    scan of the SKETCH, error bounded by the bin width (0.5 here —
    domain [0, 512) sized to cover the fixture's heavy tail, max ~560
    at sf0.1 with p99.9 ~ 342; values beyond the domain clamp into the
    edge bins, the documented saturation tradeoff of any fixed-domain
    histogram — production would log-scale or widen the domain).
    Estimation: first bin whose cumulative count reaches q*total,
    linearly interpolated within the bin; ``exact_value`` (Spark
    ``percentile`` == DuckDB ``quantile_cont``, the
    ``percentile_order_value`` pattern) rides along as ground truth.
    The bin width 0.5 is an exact dyadic, every intermediate is integer
    or a deterministic double expression, so est_value is bit-identical
    across engines with no rounding."""
    from pyspark.sql import Window

    W_BIN = 0.5  # domain [0, 512) over 1024 bins — exact dyadic width
    NB = 1024
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    b = ev.select(
        "event_type",
        F.least(
            F.greatest(F.floor(F.col("value") / W_BIN), F.lit(0)),
            F.lit(NB - 1),
        )
        .cast("long")
        .alias("bin"),
    )
    m = b.groupBy("event_type", "bin").agg(F.count(F.lit(1)).alias("c"))
    wcum = Window.partitionBy("event_type").orderBy("bin")
    wtot = Window.partitionBy("event_type")
    cum = m.select(
        "event_type",
        "bin",
        "c",
        F.sum("c").over(wcum).alias("cum"),
        F.sum("c").over(wtot).alias("total"),
    )
    qs = spark.createDataFrame([(0.5,), (0.95,), (0.99,)], "q double")
    j = cum.crossJoin(F.broadcast(qs)).filter(
        F.col("cum").cast("double") >= F.col("q") * F.col("total")
    )
    wrn = Window.partitionBy("event_type", "q").orderBy("bin")
    est = (
        j.withColumn("rn", F.row_number().over(wrn))
        .filter(F.col("rn") == 1)
        .select(
            "event_type",
            "q",
            (
                F.col("bin") * W_BIN
                + W_BIN
                * (
                    (F.col("q") * F.col("total") - (F.col("cum") - F.col("c")))
                    / F.col("c")
                )
            ).alias("est_value"),
        )
    )
    exact = ev.groupBy("event_type").agg(
        F.expr("percentile(value, array(0.5D, 0.95D, 0.99D))").alias("ps")
    )
    exact = exact.select(
        "event_type",
        F.explode(
            F.arrays_zip(
                F.array(F.lit(0.5), F.lit(0.95), F.lit(0.99)).alias("q"),
                F.col("ps").alias("v"),
            )
        ).alias("z"),
    ).select(
        "event_type",
        F.col("z.q").alias("q"),
        F.round(F.col("z.v"), 4).alias("exact_value"),
    )
    return est.join(exact, ["event_type", "q"]).select(
        "event_type", "q", "est_value", "exact_value"
    )
