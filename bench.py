"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

    {"metric": "headline_total", "value": <sec>, "unit": "sec",
     "queries": {"<name>": <sec>, ...}, "sf": <sf>}

Each query is fully materialized via a noop-format write — unlike a
count() action, the noop sink forces EVERY output column to be computed
(count() lets Catalyst prune the payload of map-only plans, which would
make map-heavy timings measure a row count instead of the work).
"""

from __future__ import annotations

import json
import math
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from iiot_data_engineering_lab_assignment_spark import registry  # noqa: E402
from iiot_data_engineering_lab_assignment_spark.session import (  # noqa: E402
    codegen_counters,
    get_spark,
)


def _minhash_pairs_only(spark, sf_dir):
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import (
        minhash_lsh_pairs,
    )
    from iiot_data_engineering_lab_assignment_spark.sources.readers import load_table

    docs = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(docs, num_hashes=32, bands=8, n=3, threshold=0.4)


def _cosine_blocked_pairs_only(spark, sf_dir):
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        cosine_dup_pairs_blocked,
    )
    from iiot_data_engineering_lab_assignment_spark.sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    return cosine_dup_pairs_blocked(emb, threshold=0.4)


#: Headline comparability across rounds (r11 verdict ask #2): two
#: headline entries gained correctness-envelope accounting joins /
#: column changes in r11, which made their BENCH rows time different
#: WORK than the r8-r10 records.  The headline therefore times the
#: OPERATOR-ONLY form — exactly the DataFrame the r8-r10 registered
#: queries built: the verified (doc_a, doc_b, jaccard) pair set for
#: minhash_lsh_pairs, the (id_a, id_b, cosine) pair set for
#: cosine_dup_pairs_blocked.  The registered envelope forms stay the
#: correctness surface (driver gate + extended coverage); this mapping
#: affects TIMING only.
BENCH_FORMS = {
    "minhash_lsh_pairs": _minhash_pairs_only,
    "cosine_dup_pairs_blocked": _cosine_blocked_pairs_only,
}

#: The headline set: the flagship IIoT rollups plus the heaviest
#: representative of each operator family (scan-agg, join, window,
#: dedup, similarity, text, streaming).
HEADLINE = [
    "sensor_rollup_1m",
    "sliding_rollup_1m_30s",
    "session_rollup_5m",
    "q1_pricing_summary",
    "customer_order_revenue",
    "order_lineitem_join_agg",
    "rank_orders_per_customer",
    "dedup_exact_fingerprint",
    "minhash_lsh_pairs",
    "cosine_topk",
    "cosine_dup_pairs_blocked",
    "asof_join_purchase_click",
    "tfidf_top_terms",
    "text_stats_per_doc",
    "stream_tumbling_1m",
    "stream_session_5m",
    "gapfill_locf_daily",
    "zscore_anomalies",
    "q18_large_volume_customers",
]

#: Round-4 operators, bench-tracked from round 5 on (r4 verdict ask #4)
#: in a SECOND section so the 19-query core set above stays comparable
#: across rounds: deterministic sampling, containment dedup, robust
#: anomalies, linear-interp gapfill, and the LSH ANN serving path.
EXTENDED = [
    "train_val_test_split",
    "containment_pairs",
    "mad_anomalies",
    "gapfill_interpolate_daily",
    "lsh_topk",
    # round-5 similarity additions
    "cosine_topk_int8",
    "knn_join_bulk",
    # round-5 curation additions
    "fuzzy_match_documents",
    "dedup_keep_best",
    # round-6 additions: Gopher top-n-gram rule, SCD2 history build,
    # incremental partial-agg merge, HLL sketch-store merge
    "top_ngram_coverage",
    "scd2_priority_history",
    "incremental_rollup_merge",
    "hll_distinct_merge",
    "snapshot_diff_orders",
    "dedup_keep_best_lsh",
    "rollup_cascade_hourly",
    "dq_rule_violations",
    "asof_join_tolerance",
    # late-r6 curation additions: cross-doc duplicated-span coverage,
    # component-keyed split, per-source quantile pruning
    "dup_span_coverage",
    "leakage_safe_split",
    "quality_prune_by_source",
    "incremental_dedup_new_docs",
    # round-7 additions: stream-static broadcast enrichment, fixed-seed
    # k-means twin, embedding-space incremental dedup, epoch shuffle,
    # length-bucket packing
    "stream_static_enrich",
    "kmeans_assignments_fixed",
    "incremental_semantic_dedup_fixed",
    "epoch_shuffle_order",
    "length_bucket_packing",
    # round-7 wave 2: bitemporal point-in-time join, EWMA smoothing,
    # BM25 ranked retrieval
    "scd2_point_in_time_join",
    "ewma_sensor_state",
    "bm25_search",
    # round-8: watermarked stream-stream LEFT OUTER interval join
    "stream_left_join_purchase_click",
    # round-8: sampling / retrieval / curation additions
    "weighted_sample_by_length",
    "hybrid_search_rrf",
    "winsorize_event_values",
    "dsir_importance_weights",
    "unigram_logprob_score",
    "token_entropy_per_doc",
    "tfidf_doc_similarity",
    "embedding_dim_stats",
    "heavy_hitters_envelope",
    # round-8 analytics wave: trend fit, CUSUM drift, sessionization,
    # attribution, basket pairs, Gini, Zipf, Pareto ABC
    "linear_trend_per_type",
    "cusum_drift_per_user",
    "gap_sessionization",
    "last_touch_attribution",
    "basket_part_pairs",
    "gini_revenue_by_nation",
    "zipf_term_slope",
    "pareto_abc_parts",
    # round-8 closing wave: distribution drift, segmentation, rules,
    # interval backlog
    "wasserstein_value_drift",
    "rfm_segmentation",
    "association_rules_parts",
    "open_order_backlog_daily",
    # round-9: the scale-safe rewrites (interval-sweep rolling uniques,
    # segmented-LAG autocorr, src-pinned PageRank) and the repaired
    # canonicalizer-safe multimodal feature unpivot
    "rolling_distinct_users",
    "autocorr_lag1_per_type",
    "pagerank_supplier_customer",
    "multimodal_features",
    # round-9 additions: the IVF-PQ ANN stack, Count-Min sketch,
    # recursive alert debounce, prefix-filtered similarity join, MMR
    # re-rank, OOV accounting, soft-dedup weights
    "pq_codes_fixed",
    "ivf_pq_topk",
    "countmin_heavy_users",
    "debounce_alerts",
    "jaccard_pairs_prefix",
    "mmr_diversified_topk",
    "vocab_oov_rate_by_source",
    "dup_aware_sample_weights",
    # registered after the r9 local bench record (BENCH_local_r09.json
    # lacks these two rows; first tracked in the driver's BENCH_r09)
    "bloom_semijoin_vip_events",
    "decayed_popularity_by_type",
    "sax_words_daily",
    "kcore_peeling_rounds",
    "quantile_normalize_by_source",
    "seasonal_naive_mase_by_type",
    "pq_codes_gemm",
    "bigram_logprob_score",
    "knn_label_eval",
    "rolling_slope_24h_per_user",
    "source_epoch_allocation",
    # round-11 additions: the stored-index IVF-PQ serving path, the
    # Arrow/GEMM ADC tier, KMV sketch set algebra, and the chained
    # (window-on-window) streaming rollup
    "ivf_pq_topk_stored",
    "pq_adc_topk_gemm",
    "kmv_user_overlap_event_types",
    "stream_cascade_1m_to_5m",
    "histogram_quantile_sketch",
    "stream_kmv_distinct_store",
    "collapse_repeated_runs",
    "cdc_apply_orders",
    # round-12 additions: the exact-substring span dedup pair, the
    # IVF-PQ incremental upsert serving path, and the pinned-Lloyd
    # centroid-matrix twin
    "exact_substring_spans",
    "exact_substring_dedup",
    "ivf_pq_topk_upsert",
    "kmeans_centroids_fixed",
    # round-12 wave 2: the trained-PQ family and the temperature-mixture
    # sampler
    "pq_codebook_trained",
    "pq_codes_trained",
    "pq_adc_topk_trained",
    "mixture_temperature_sample",
    # registered after the r12 local anchor record's first runs
    # (BENCH_local_r12.json's merged extended section lacks these four;
    # first cross-round-tracked in the driver's BENCH_r12)
    "pq_adc_knn_trained",
    "pq_recall_trained_vs_exact",
    "label_propagation_communities",
    "profile_documents",
    "profile_documents_approx",
    "triangle_counts_copurchase",
    # round-13 additions: the GEMM-tier trainer at the config the fold
    # tier cannot plan, the planted-partition LPA quality envelope, and
    # the span-removal-first curation pipeline
    "pq_codebook_trained_gemm",
    "lpa_planted_quality",
    "corpus_curation_pipeline_spans",
    "bpe_merge_pair_counts",
    "bpe_learned_merges",
    "bpe_segment_counts",
    "inverted_index_gaps",
    "event_key_skew_profile",
    "dynamic_gap_sessions",
    # registered after the r13 local anchor record's three runs
    # (BENCH_local_r13.json lacks these rows; first cross-round-tracked
    # in the driver's BENCH_r13)
    "stream_dynamic_sessions",
    "bpe_compression_by_source",
    "changepoint_by_type",
    "kmeans_inertia_fixed",
    # round-14 additions: the profile-driven salted join, depth-2
    # segmentation, the sharded index build, the 16-merge BPE trainer,
    # and the planted PageRank quality envelope
    "profile_salted_join_revenue",
    "changepoint2_by_type",
    "pagerank_planted_quality",
    "inverted_index_sharded",
    "bpe_learned_merges16",
    # round-15 additions: the profile-driven salted AGGREGATION, the
    # right-outer adaptive-join dual, the 64-merge BPE trainer, and the
    # six-stage composed curation pipeline.  stream_late_drop_count is
    # deliberately NOT bench-tracked: its cost is harness-dominated
    # (three staged epoch writes + a live query driven batch-by-batch
    # with processAllAvailable — ~25 s of fixed scheduling per run at
    # any SF), so timing it would measure the replay fixture, not the
    # engine; its correctness lives in the driver gate + pytest.
    "profile_salted_rollup_by_user",
    "profile_salted_join_right_events",
    "bpe_learned_merges64",
    "curation_e2e_composed",
]

#: Extended-set TIERING (r14 verdict ask #6): the extended set had grown
#: to 213 s per driver run (+~7 s/round), which would eventually re-clip
#: reps and re-create the r13 streaming-noise class.  Tier 1 — queries
#: touched this round (below) plus the TOP_COST_N most expensive rows by
#: committed-floor cost — runs on EVERY invocation; the full set runs
#: when SPARK_GRAFT_BENCH_FULL=1 (the round-close idle-box anchor), so
#: every row's cross-round floor stays fresh while the per-round driver
#: cost holds flat.  Deferred rows are logged to stderr and counted in
#: the record (no silent caps).
EXTENDED_TOUCHED = [
    # r16 OPTIMIZATION round: rows whose code paths changed (results
    # identical, driver-gated) — the triangle/CC explode-not-union
    # rewrites, the duplicate_spans k-gram pin, the PQ/kmeans/minhash
    # single-parse expression construction, and the CC loop's fused
    # checkpoint+convergence action.  (The NTZ-at-the-scan change
    # touches every events consumer; those live in the headline set.)
    "triangle_counts_copurchase",
    "curation_e2e_composed",
    "corpus_curation_pipeline_spans",
    "exact_substring_spans",
    "exact_substring_dedup",
    "dup_span_coverage",
    "dedup_keep_best",
    "dedup_keep_best_lsh",
    "leakage_safe_split",
    "dup_aware_sample_weights",
    "incremental_dedup_new_docs",
    "incremental_semantic_dedup_fixed",
    "fuzzy_match_documents",
    "lsh_topk",
    "pq_codes_fixed",
    "pq_codes_trained",
    "pq_adc_topk_trained",
    "pq_adc_knn_trained",
    "pq_recall_trained_vs_exact",
    "ivf_pq_topk",
    "ivf_pq_topk_stored",
    "kmeans_assignments_fixed",
    "kmeans_centroids_fixed",
    "kmeans_inertia_fixed",
    "debounce_alerts",
]
TOP_COST_N = 20


def _fixture_fingerprint(sf_dir: str) -> str:
    """Content fingerprint of the fixture generation under ``sf_dir``
    (r15 verdict ask #2): the driver REGENERATES /root/testdata between
    rounds and the physical layout can change (the events.ts column has
    shipped as both TIMESTAMP(NANOS) and TIMESTAMP(MICROS)), which made
    committed per-query floors recorded on one layout fire regression
    flags against runs on another.  Each BENCH record now carries this
    fingerprint and the floor/latest/normalized comparisons only use
    SAME-GENERATION records; tier selection (a relative cost ranking)
    still uses every record.  The hash covers each parquet file's name,
    size and trailing 64 KiB (the footer: schema, row-group metadata and
    column statistics), so a byte-identical regeneration keeps the same
    fingerprint (mtime alone would not) while any layout or content
    change rolls it.  Flags reproduce only for real code regressions."""
    import glob as _glob
    import hashlib

    h = hashlib.sha256()
    for p in sorted(_glob.glob(os.path.join(sf_dir, "*.parquet"))):
        try:
            size = os.path.getsize(p)
            with open(p, "rb") as f:
                f.seek(max(0, size - 65536))
                tail = f.read()
        except OSError:
            continue
        h.update(os.path.basename(p).encode())
        h.update(str(size).encode())
        h.update(tail)
    return h.hexdigest()[:16]


def _materialize(df) -> None:
    """Execute the full plan with every output column computed: the noop
    sink consumes all columns, so Catalyst cannot prune the payload the
    way it can under count()."""
    df.write.format("noop").mode("overwrite").save()


def _calibration_probe(spark) -> float:
    """Session-speed calibration (r12 verdict ask #2): three consecutive
    rounds measured +-25-70% WHOLE-SESSION multipliers on untouched code
    (r10 -8%, r11 +24%, r12 +28% — r12's driver headline 18.09 s vs the
    same-code idle floor 10.72 s), which made every cross-round driver
    comparison an adjudication exercise.  This probe times a FIXED
    workload — a hash-aggregate scan over 20M rows of parquet whose
    bytes are a pure function of row id (written once per machine, the
    write untimed) — so its seconds measure the session's effective
    speed, not the engine's code.  min-of-5 passes; the summary JSON
    carries the value and `regressions_normalized` rescales committed
    per-query floors by (cal_now / cal_record) before flagging, so a
    uniformly-slow session no longer reads as N code regressions."""
    import tempfile

    from pyspark.sql import functions as F

    # Cache validation (r13 ADVICE #2): _SUCCESS-existence alone let a
    # concurrent bench run or a torn/corrupted dir silently skew the value
    # every normalized floor is rescaled by.  The path carries the euid so
    # two users can't race each other's cache, and the row count is
    # verified after read — a mismatch (partial overwrite, wrong content
    # under a stale _SUCCESS) triggers a rebuild instead of a bad number.
    n_cal = 20_000_000
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bench_cal_v2_u{os.geteuid()}"
    )

    def _write_cal() -> None:
        (
            spark.range(0, n_cal)
            .select(
                "id",
                (F.col("id") % 9973).alias("k"),
                ((F.col("id") * 2654435761) % 1000003).cast("double").alias("v"),
            )
            .repartition(32)
            .write.mode("overwrite")
            .parquet(path)
        )

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _write_cal()
    try:
        ok = spark.read.parquet(path).count() == n_cal
    except Exception:
        ok = False
    if not ok:
        _write_cal()
    best = float("inf")
    for _ in range(5):
        t0 = time.time()
        _materialize(
            spark.read.parquet(path)
            .groupBy("k")
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("c"))
        )
        best = min(best, time.time() - t0)
    return round(best, 4)


def _calibration_probe_streaming(spark) -> float:
    """STREAMING session-speed calibration (r13 verdict ask #3): the
    stream_* bench rows time micro-batch machinery (state store,
    watermark advance, per-batch planning) whose per-session overhead
    moves independently of scan speed, so the scan calibration could not
    de-noise them — r13's normalized flags on stream rows were all
    session noise.  This probe runs a FIXED availableNow job — 5M rows
    of frozen parquet (1 ms cadence, written once per machine, validated
    by row count) through a watermarked 1-minute tumbling window
    aggregate to a noop sink — i.e. the same shape as the stream_*
    headline rows with the engine's code held constant.  min-of-3; the
    record carries it as `calibration_streaming`, and stream_* floors
    normalize by THIS value where both records have one."""
    import shutil
    import tempfile

    from pyspark.sql import functions as F

    n_cal = 5_000_000
    path = os.path.join(
        tempfile.gettempdir(), f"spark_graft_bench_scal_v1_u{os.geteuid()}"
    )

    def _write_cal() -> None:
        (
            spark.range(0, n_cal)
            .select(
                F.timestamp_micros(
                    F.lit(1_704_067_200_000_000) + F.col("id") * 1000
                ).alias("ts"),
                (F.col("id") % 997).alias("k"),
                ((F.col("id") * 2654435761) % 1000003).cast("double").alias("v"),
            )
            .repartition(16)
            .write.mode("overwrite")
            .parquet(path)
        )

    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        _write_cal()
    try:
        ok = spark.read.parquet(path).count() == n_cal
    except Exception:
        ok = False
    if not ok:
        _write_cal()
    schema = spark.read.parquet(path).schema
    best = float("inf")
    for _ in range(3):
        ckpt = tempfile.mkdtemp(prefix="spark_graft_scal_ckpt_")
        t0 = time.time()
        q = (
            spark.readStream.schema(schema)
            .parquet(path)
            .withWatermark("ts", "5 seconds")
            .groupBy(F.window("ts", "1 minute"), "k")
            .agg(F.sum("v").alias("sv"), F.count(F.lit(1)).alias("c"))
            .writeStream.format("noop")
            .outputMode("append")
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        best = min(best, time.time() - t0)
        shutil.rmtree(ckpt, ignore_errors=True)
    return round(best, 4)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = float(sf_dir.rstrip("/").split("sf")[-1]) if "sf" in sf_dir else -1.0
    # Truncation-proofing (r6: the driver's tail capture lost the summary
    # JSON under a flood of Spark console-progress control lines): no
    # progress bar, minimal log noise — the summary line must be the only
    # thing this process prints on stdout.
    spark = get_spark("bench", extra_conf={"spark.ui.showConsoleProgress": "false"})
    spark.sparkContext.setLogLevel("ERROR")

    # Warm the three execution paths once so per-query numbers measure the
    # engine at steady state, not first-call class loading: JVM codegen,
    # the Python (Arrow/pandas) worker pool, and the streaming machinery.
    _materialize(registry.QUERIES["events_passthrough"].fn(spark, sf_dir))
    _materialize(
        spark.createDataFrame([(0, 1.0)], "k long, v double").groupBy("k").applyInPandas(
            lambda pdf: pdf, "k long, v double"
        )
    )
    _materialize(registry.QUERIES["stream_tumbling_1m"].fn(spark, "/root/testdata/sf0.001"))

    # Noise-proofing (round-2 verdict ask #2): sub-second timings in this
    # shared sandbox swing +-3x run to run, so (1) a calibration run sizes
    # an inner repeat count that makes every measured pass >= ~2 s of
    # cumulative work (repeat the materialization N times, divide by N),
    # and (2) the reported number is the min of 3 such passes — the
    # standard steady-state estimator, now applied to a quantity large
    # enough to carry signal.  Each repetition rebuilds the DataFrame from
    # scratch (spec.fn inside the timed region), so Spark cannot skip
    # shuffle map stages across repetitions via same-RDD stage reuse.
    target_s = 2.0
    max_reps = 8
    # Floor of 2 reps even for queries already past target_s on their own
    # (r5 verdict ask #4: the multi-second dedup rows were the only
    # 1-rep entries; two repetitions per pass removes single-execution
    # jitter from the slowest, most variance-prone rows too).
    # stream_* rows get a HIGHER floor (r13 verdict ask #3): micro-batch
    # scheduling noise dominates their 2-rep minima — 4 reps for the
    # headline stream rows, 3 for the extended ones (bounding added cost).
    min_reps = 2

    def _min_reps_for(name: str) -> int:
        if not name.startswith("stream_"):
            return min_reps
        return 4 if name in HEADLINE else 3

    def measure(names: list[str]) -> tuple[dict[str, float], dict[str, int]]:
        timings: dict[str, float] = {}
        reps_used: dict[str, int] = {}
        for name in names:
            spec = registry.QUERIES[name]
            fn = BENCH_FORMS.get(name, spec.fn)
            floor_reps = _min_reps_for(name)
            t0 = time.time()
            _materialize(fn(spark, sf_dir))
            t_cal = time.time() - t0
            reps = min(
                max_reps, max(floor_reps, math.ceil(target_s / max(t_cal, 0.05)))
            )
            # Measure min-of-3 at the chosen rep count; if the steady-state
            # minimum drifts below the noise floor the calibration targeted
            # (cold calibration pass >> warm passes — seen round 3 on
            # minhash_lsh_pairs: 2.3 s cold, 1.5 s warm, reps stuck at 1),
            # re-derive reps from the best pass observed and restart the
            # measurement, so every reported number rests on >= target_s of
            # cumulative timed work (or reps == max_reps).
            best = float("inf")
            passes = 0
            while passes < 3:
                t0 = time.time()
                for _ in range(reps):
                    _materialize(fn(spark, sf_dir))
                best = min(best, (time.time() - t0) / reps)
                passes += 1
                needed = min(
                    max_reps,
                    max(floor_reps, math.ceil(target_s / max(best, 0.05))),
                )
                if needed > reps:
                    reps = needed
                    best = float("inf")
                    passes = 0
            timings[name] = round(best, 3)
            reps_used[name] = reps
        return timings, reps_used

    calibration = _calibration_probe(spark)
    calibration_streaming = _calibration_probe_streaming(spark)

    # Local-iteration subset (debug only — the driver never sets this):
    # SPARK_GRAFT_BENCH_ONLY="q1_pricing_summary,minhash_lsh_pairs" times
    # just those entries so a harness change can be validated end-to-end
    # without a full 150-query recording.
    only = {
        n.strip()
        for n in os.environ.get("SPARK_GRAFT_BENCH_ONLY", "").split(",")
        if n.strip()
    }

    def _subset(names: list[str]) -> list[str]:
        return [n for n in names if n in only] if only else names

    # Committed-record floors load BEFORE measurement (r15): the tier-1
    # extended selection needs per-query committed costs, and the
    # regression guard after measurement reuses the same floors.
    # Floor semantics (r8 verdict ask #9; floor form r11 verdict ask #3):
    # the reference is the per-query MIN across ALL committed same-machine
    # records (BENCH_local_r*.json) — the cross-round floor — never just
    # the latest record, because a slow-session anchor would silently
    # raise the absolute regression ceiling.  Cross-SESSION sandbox noise
    # is a documented +-25-50% band, so the floor flag fires at >1.75x
    # while a second 1.25x check against the LATEST record catches
    # same-session drift.  The calibration-NORMALIZED floor (r12 ask #2)
    # rescales each record's per-query time by (cal_now / cal_rec);
    # stream_* rows normalize by the STREAMING probe where both records
    # carry one (r13 ask #3).  Override the record set with
    # SPARK_GRAFT_BENCH_BASELINE (a single record path).
    here = os.path.dirname(os.path.abspath(__file__))
    override = os.environ.get("SPARK_GRAFT_BENCH_BASELINE")
    if override:
        record_paths = [override]
    else:
        import glob as _glob

        record_paths = sorted(_glob.glob(os.path.join(here, "BENCH_local_r*.json")))
    # Fixture-generation keying (r15 verdict ask #2): regression flags
    # (vs_floor / vs_latest / normalized) compare ONLY against records of
    # the SAME fixture generation — cross-generation floors were the
    # r12-r15 whipsaw (a regenerated layout flagging untouched queries).
    # cost_q (the tier-selection ranking) keeps using every record:
    # relative expensiveness is robust across generations, and a fresh
    # generation must not collapse tier-1 to the touched set alone.
    fixture_fp = _fixture_fingerprint(sf_dir)
    cost_q: dict[str, float] = {}
    floor_q: dict[str, float] = {}
    latest_q: dict[str, float] = {}
    norm_floor_q: dict[str, float] = {}
    n_same_gen = 0
    for rp in record_paths:
        try:
            with open(rp) as f:
                rec = json.load(f)
                rec_q = dict(rec.get("queries", {}), **rec.get("extended", {}))
                rec_cal = rec.get("calibration")
                rec_scal = rec.get("calibration_streaming")
        except (OSError, ValueError):
            continue
        same_gen = rec.get("fixture_fingerprint") == fixture_fp
        n_same_gen += 1 if same_gen else 0
        scale = (
            calibration / float(rec_cal)
            if isinstance(rec_cal, (int, float)) and rec_cal > 0
            else None
        )
        scale_stream = (
            calibration_streaming / float(rec_scal)
            if isinstance(rec_scal, (int, float)) and rec_scal > 0
            else scale
        )
        for name, b in rec_q.items():
            if isinstance(b, (int, float)) and b > 0:
                cost_q[name] = min(cost_q.get(name, float("inf")), float(b))
                if not same_gen:
                    continue
                floor_q[name] = min(floor_q.get(name, float("inf")), float(b))
                latest_q[name] = float(b)  # paths sorted: last wins
                s = scale_stream if name.startswith("stream_") else scale
                if s is not None:
                    norm_floor_q[name] = min(
                        norm_floor_q.get(name, float("inf")), float(b) * s
                    )
    if not n_same_gen:
        print(
            f"BENCH FLOORS: no committed record matches fixture generation "
            f"{fixture_fp} ({len(record_paths)} records are cross-generation); "
            f"regression flags disabled for this run — commit a "
            f"same-generation anchor to re-arm them",
            file=sys.stderr,
            flush=True,
        )

    # Extended-set tier selection (r14 verdict ask #6).
    full_ext = os.environ.get("SPARK_GRAFT_BENCH_FULL") == "1"
    if full_ext or only:
        ext_names = EXTENDED
        ext_tier = "full"
        ext_deferred: list[str] = []
    else:
        top = set(
            sorted(
                (n for n in EXTENDED if n in cost_q),
                key=lambda n: -cost_q[n],
            )[:TOP_COST_N]
        )
        keep = top | set(EXTENDED_TOUCHED)
        ext_names = [n for n in EXTENDED if n in keep]
        ext_deferred = [n for n in EXTENDED if n not in keep]
        ext_tier = f"touched+top{TOP_COST_N}"
        print(
            f"BENCH TIER: extended tier-1 = {len(ext_names)} queries "
            f"(touched {len(EXTENDED_TOUCHED)} + top-{TOP_COST_N} by committed "
            f"floor); {len(ext_deferred)} rows deferred to the "
            f"SPARK_GRAFT_BENCH_FULL=1 anchor: {ext_deferred}",
            file=sys.stderr,
            flush=True,
        )

    # Generated-code cache misses over the timed region: each row's
    # calibration run compiles its classes once; its timed repetitions
    # should add next to none (they reuse the cached classes).
    cg_n0, cg_ms0 = codegen_counters(spark)
    timings, reps_used = measure(_subset(HEADLINE))
    ext_timings, ext_reps = measure(_subset(ext_names))
    cg_n1, cg_ms1 = codegen_counters(spark)

    total = round(sum(timings.values()), 3)

    regressions: dict[str, dict[str, float]] = {}
    regressions_norm: dict[str, float] = {}
    for name, t in timings.items():
        flag: dict[str, float] = {}
        fl = floor_q.get(name)
        if fl and t > 1.75 * fl:
            flag["vs_floor"] = round(t / fl, 2)
        lt = latest_q.get(name)
        if lt and t > 1.25 * lt:
            flag["vs_latest"] = round(t / lt, 2)
        if flag:
            regressions[name] = flag
        nf = norm_floor_q.get(name)
        # Normalized times carry no session multiplier, so the flag bar
        # is the same-session drift bar (1.25x), not the raw floor's
        # 1.75x cross-session noise allowance.
        if nf and t > 1.25 * nf:
            regressions_norm[name] = round(t / nf, 2)
    if regressions:
        print(
            f"BENCH GUARD: {len(regressions)} headline quer"
            f"{'y' if len(regressions) == 1 else 'ies'} over the committed "
            f"floor (>1.75x min of {len(record_paths)} records) or latest "
            f"(>1.25x): {regressions}",
            file=sys.stderr,
            flush=True,
        )
    summary = json.dumps(
        {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "reps": reps_used,
            "extended": ext_timings,
            "extended_reps": ext_reps,
            "extended_total": round(sum(ext_timings.values()), 3),
            "extended_tier": ext_tier,
            "extended_deferred": ext_deferred,
            "regressions_vs_baseline": regressions,
            "calibration": calibration,
            "calibration_streaming": calibration_streaming,
            "regressions_normalized": regressions_norm,
            "fixture_fingerprint": fixture_fp,
            "n_same_generation_records": n_same_gen,
            # Explicit armed state: with no same-generation record the
            # regression fields above are empty because nothing was
            # compared, not because nothing regressed.
            "flags_armed": n_same_gen > 0,
            "codegen_compiles": cg_n1 - cg_n0,
            "codegen_compile_ms": round(cg_ms1 - cg_ms0, 1),
            # Effective parallelism next to what was asked for, so a
            # record whose timings ignore $SPARK_GRAFT_CPUS says so itself.
            "master": spark.sparkContext.master,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "cpus_requested": int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or None,
            "sf": sf,
        }
    )
    # Belt and braces against capture truncation (r7: the driver's tail
    # window clipped the HEAD of the one long line, losing
    # headline_total even with the sidecar): the FULL record prints
    # first and goes to the sidecar; the LAST stdout line is a compact
    # summary holding only the driver-contract fields (metric / value /
    # unit / queries / sf, ~1 KB) so no tail window can clip it.
    print(summary, flush=True)
    compact = json.dumps(
        {
            "metric": "headline_total",
            "value": total,
            "unit": "sec",
            "queries": timings,
            "extended_total": round(sum(ext_timings.values()), 3),
            "sf": sf,
        }
    )
    print(compact, flush=True)
    try:
        with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                               "BENCH_last.json"), "w") as f:
            f.write(summary + "\n")
    except OSError:
        pass  # read-only checkout: stdout copy still carries the record
    spark.stop()


if __name__ == "__main__":
    main()
