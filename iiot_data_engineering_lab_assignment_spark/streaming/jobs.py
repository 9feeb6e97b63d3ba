"""Structured Streaming jobs (SURVEY.md sections 2.5, 2.8, 3.1).

The reference's streaming job (flink-jobs/sensor_aggregation.py) is:
Kafka -> lenient JSON -> event_time + 5s watermark -> (a) raw passthrough
sink, (b) 1-min tumbling AVG/MIN/MAX/COUNT sink — one source feeding two
sinks (create_statement_set, :73-98).

Spark-native equivalents here:

* ``streaming_rollup`` — withWatermark, then operators.windows' own
  rollups: the SAME window expression drives batch and stream, so
  batch/streaming parity (PDF Task 4.2) holds by construction.
* ``fan_out_two_sinks`` — the K4 multi-sink shape via one foreachBatch
  that persists the micro-batch and writes it twice (single-read
  semantics), the Spark analogue of Flink's statement set.
* File-source replay with availableNow trigger stands in for Kafka in the
  test environment (same exactly-once + watermark semantics; the Kafka
  reader in sources.readers swaps in transparently).  Every replay runs
  through ``_run_query``, the one bounded runner: it starts the query,
  waits at most ``REPLAY_TIMEOUT_S``, stops it and restores the session
  confs.

State scale note: the windowed aggregation keeps one state row per open
(window x keys) group — bounded by watermark eviction.  At production
volumes use the RocksDB state store provider; the logic is unchanged.
"""

from __future__ import annotations

import uuid
from datetime import timedelta
from pathlib import Path

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.windows import session_rollup, tumbling_rollup, windowed_rollup
from ..session import scratch_dir
from ..sources.readers import _ensure_session_confs, _table_schema

__all__ = [
    "events_file_stream",
    "streaming_rollup",
    "streaming_enrich_dim",
    "dim_refresh_enrich_writer",
    "streaming_dedup",
    "run_stream_dedup_doubled",
    "run_events_stream_rollup",
    "run_events_stream_enriched_rollup",
    "fan_out_two_sinks",
    "wap_batch_writer",
    "stream_stream_left_range_join",
    "incremental_dedup_stream_writer",
    "cms_bucket_tags",
    "run_stream_countmin",
    "read_countmin_estimates",
    "cascade_1m_to_5m",
    "run_stream_cascade_rollup",
    "kmv_batch_bottomk",
    "run_stream_kmv_store",
    "run_stream_ivfpq_upsert",
    "read_kmv_estimates",
]


def events_file_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming scan of the events fixture (file-source replay, T3's
    earliest-offset reprocessing analogue).  Schema comes from the batch
    footer read; the TIMESTAMP(NANOS) column arrives as int64 and is
    converted exactly like the batch reader."""
    _ensure_session_confs(spark)
    path = f"{sf_dir}/events.parquet"
    # Memoized footer read (r16: the batch reader's (path, mtime_ns)
    # schema memo, extended to the stream source) — every stream_* bench
    # rep paid a fresh driver-side inference here.
    schema = _table_schema(spark, path)
    # The file-stream source needs a directory to monitor; the fixture is a
    # single file, so stage a symlink under a temp dir (zero copy).
    stage = Path(scratch_dir("events_stream_"))
    link = stage / "events.parquet"
    if not link.exists():
        link.symlink_to(Path(path).resolve())
    stream = spark.readStream.schema(schema).parquet(str(stage))
    ts_type = dict(stream.dtypes).get("ts")
    if ts_type == "bigint":
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif ts_type == "timestamp_ntz":
        # Watermarks require TimestampType ([EVENT_TIME_IS_NOT_ON_TIMESTAMP_
        # TYPE]); value-identical cast under the UTC session timezone.
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def streaming_rollup(
    stream: DataFrame,
    time_col: str = "ts",
    duration: str = "1 minute",
    watermark: str = "5 seconds",
    group_cols: list[str] | None = None,
    value_col: str = "value",
    slide: str | None = None,
    session_gap: str | Column | None = None,
) -> DataFrame:
    """W1/W2+W3 streaming form: watermarked tumbling (with ``slide``, HOP;
    with ``session_gap``, session-window — a Column gap expression gives
    DYNAMIC per-event gaps, the stream_dynamic_sessions form) rollup.

    The 5-second watermark mirrors the reference's out-of-order bound
    (sensor_aggregation.py:23); events later than watermark are dropped
    from closed windows (T2).
    """
    group_cols = group_cols or []
    watermarked = stream.withWatermark(time_col, watermark)
    if session_gap is not None:
        return session_rollup(watermarked, time_col, session_gap, group_cols, value_col)
    return windowed_rollup(watermarked, time_col, duration, slide, group_cols, value_col)


def streaming_enrich_dim(
    stream: DataFrame,
    dim: DataFrame,
    on: str | list[str],
    how: str = "inner",
) -> DataFrame:
    """Stream-static dimension enrichment — the single most common
    production streaming pattern, and the one the reference's data model
    carries latently but never executes: its machine metadata (type,
    location — ingestion/ingest_data.py:19-24) is generated into every
    message instead of being joined from a dimension table.

    The static side is explicitly ``broadcast()``: the stream side never
    shuffles (a map-side hash join runs inside each micro-batch task),
    which is the only shape that survives a 100 TB/day stream — a
    shuffled stream-static join would re-partition every micro-batch.
    Stateless (no watermark interaction): each micro-batch joins against
    the dimension as of that batch; swap the dim by restarting the query
    or reading it per-batch in foreachBatch for slowly-changing dims."""
    return stream.join(F.broadcast(dim), on, how)


def dim_refresh_enrich_writer(
    dim_path: str,
    out_dir: str,
    on: str | list[str],
    how: str = "inner",
):
    """foreachBatch writer for SLOWLY-CHANGING dimension enrichment: the
    dimension table is RE-READ from ``dim_path`` at every micro-batch,
    so an updated dim (overwritten between batches by a nightly refresh,
    an SCD2 build, or a WAP publish) takes effect on the next batch
    without restarting the streaming query — the complement of
    :func:`streaming_enrich_dim`, which pins the dim for the query's
    lifetime.

    The join inside the batch is still an explicit broadcast (the stream
    side never shuffles); output is overwrite-per-batch_id partitions,
    so a checkpoint retry reproduces its own batch idempotently.  Point
    ``dim_path`` at a WAP table's published version for atomic dim swaps
    (a half-written dim overwrite is otherwise observable mid-read)."""

    def write(df: DataFrame, batch_id: int) -> None:
        spark = df.sparkSession
        dim = spark.read.parquet(dim_path)
        df.join(F.broadcast(dim), on, how).write.mode("overwrite").parquet(
            f"{out_dir}/batch_id={batch_id}"
        )

    return write


def run_events_stream_enriched_rollup(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 minute",
) -> DataFrame:
    """Stream-static enrichment end-to-end on the events fixture: the
    events stream joins a broadcast user dimension (customer segment +
    nation name — the star-schema analogue of the reference's machine
    type/location metadata), then rolls up per 1-minute tumbling window
    x (segment, nation, event_type).  availableNow replay, complete
    mode, in-memory sink: the result equals the batch twin exactly, so
    the DuckDB oracle is the batch SQL (same parity argument as
    run_events_stream_rollup)."""
    from ..sources.readers import load_table

    stream = events_file_stream(spark, sf_dir)
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dim = (
        customer.join(
            F.broadcast(nation),
            customer["c_nationkey"] == nation["n_nationkey"],
        )
        .select(
            F.col("c_custkey").alias("user_id"),
            F.col("c_mktsegment").alias("segment"),
            F.col("n_name").alias("nation"),
        )
    )
    enriched = streaming_enrich_dim(stream, dim, "user_id")
    agg = streaming_rollup(
        enriched, "ts", duration, "5 seconds", ["segment", "nation", "event_type"]
    )
    return _run_to_memory(agg, "stream_enrich", output_mode="complete")


def streaming_dedup(
    stream: DataFrame,
    keys: list[str],
    time_col: str = "ts",
    watermark: str = "10 seconds",
    bounded_state: bool = True,
) -> DataFrame:
    """In-flight duplicate removal (at-least-once upstream -> effectively-
    once downstream): drop events whose `keys` were already seen.

    ``bounded_state=True`` uses dropDuplicatesWithinWatermark — the key
    state is EVICTED once the watermark passes it, so state size is
    (event rate x watermark horizon), not all keys ever seen.  That is
    the only viable form for an unbounded 100 TB/day stream; the
    tradeoff is that a duplicate arriving later than the watermark
    horizon is re-emitted (upstream redelivery windows are short —
    Kafka producer retries land within seconds).  ``bounded_state=False``
    keeps every key forever (exact, for short replays only).

    The event-time column must be among the state keys' carried columns;
    Spark requires a watermark BEFORE this operator in either form.
    """
    s = stream.withWatermark(time_col, watermark)
    if bounded_state:
        return s.dropDuplicatesWithinWatermark(keys)
    return s.dropDuplicates(keys)


REPLAY_TIMEOUT_S = 300


def _run_query(
    spark: SparkSession,
    writer,
    checkpoint: str,
    shuffle_partitions: int | None = None,
    feed=None,
) -> None:
    """The one place this module starts a query (``fan_out_two_sinks``
    returns its running query by design and starts its own).

    ``writer`` is a configured, unstarted ``DataStreamWriter``.  With
    ``feed=None`` the query is an availableNow replay: the wait is
    bounded by ``REPLAY_TIMEOUT_S``, and a replay that does not finish
    in time is stopped and raises ``TimeoutError`` — a caller must never
    read a partial sink as the result.  Otherwise the query runs on the
    default trigger and ``feed(query)`` drives it — the live epoch loop
    of :func:`run_stream_late_drop_accounting`.  A query failure raises,
    as awaitTermination does.

    ``shuffle_partitions`` sets the state-store partition count for the
    run (each state partition carries per-batch commit-file overhead;
    32 partitions cost 8.4 s vs 1.5 s at 4 for the same sf0.1 replay).
    Either way the query is stopped and the caller's
    ``spark.sql.shuffle.partitions`` is restored on return."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    if shuffle_partitions is not None:
        spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        writer = writer.option("checkpointLocation", checkpoint)
        if feed is None:
            writer = writer.trigger(availableNow=True)
        q = writer.start()
        try:
            if feed is not None:
                feed(q)
            elif not q.awaitTermination(REPLAY_TIMEOUT_S):
                raise TimeoutError(
                    f"streaming replay {q.name or q.id} did not finish in "
                    f"{REPLAY_TIMEOUT_S}s"
                )
        finally:
            q.stop()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def _run_to_memory(
    df: DataFrame,
    prefix: str,
    output_mode: str = "append",
) -> DataFrame:
    """Replay an unstarted streaming DataFrame into a fresh in-memory
    table through :func:`_run_query` (8 state partitions, fixed into the
    fresh checkpoint at the first batch) and return the materialized
    result — the sink of every replay-to-batch parity query."""
    spark = df.sparkSession
    name = f"{prefix}_{uuid.uuid4().hex[:8]}"
    writer = df.writeStream.format("memory").queryName(name).outputMode(output_mode)
    _run_query(spark, writer, scratch_dir(f"{prefix}_ckpt_"), shuffle_partitions=8)
    return spark.table(name)


def run_stream_dedup_doubled(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "10 seconds",
) -> DataFrame:
    """Replay the events fixture TWICE (two independent file-stream
    sources unioned — every event delivered exactly two times, the
    at-least-once upstream worst case) through
    :func:`streaming_dedup`'s bounded-state form and return the
    materialized result: it must equal the pristine table row-for-row.

    Duplicates here arrive in the same micro-batch (distance 0, inside
    any watermark horizon), so bounded-state eviction can never
    re-admit one — the parity with ``SELECT * FROM events`` is exact,
    not probabilistic.  dropDuplicatesWithinWatermark keeps the
    first-seen copy; the copies are bit-identical so "which copy" is
    unobservable."""
    s1 = events_file_stream(spark, sf_dir)
    s2 = events_file_stream(spark, sf_dir)
    cols = ["event_id", "ts", "user_id", "event_type", "value", "props"]
    dd = streaming_dedup(
        s1.unionByName(s2), ["event_id"], "ts", watermark=watermark
    ).select(*cols)
    return _run_to_memory(dd, "sdedup")


def run_events_stream_rollup(
    spark: SparkSession,
    sf_dir: str,
    duration: str = "1 minute",
    group_cols: list[str] | None = None,
    output_mode: str = "complete",
    slide: str | None = None,
    session_gap: str | Column | None = None,
) -> DataFrame:
    """Run the full streaming rollup over the events fixture with an
    availableNow trigger and an in-memory sink; returns the materialized
    result.  Complete mode emits every window (open + closed), so the
    result equals the batch rollup exactly — the parity oracle.

    The replay runs on 8 state partitions (see :func:`_run_query`); the
    count is fixed into the checkpoint at first batch (fresh here per
    call); long-running production jobs size it to state volume instead.
    """
    group_cols = group_cols if group_cols is not None else ["user_id", "event_type"]
    stream = events_file_stream(spark, sf_dir)
    agg = streaming_rollup(
        stream, "ts", duration, "5 seconds", group_cols, slide=slide, session_gap=session_gap
    )
    return _run_to_memory(agg, "stream_rollup", output_mode=output_mode)


def run_stream_late_drop_accounting(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "5 seconds",
    duration: str = "5 minutes",
) -> DataFrame:
    """Watermark late-drop OBSERVABILITY (r14 verdict ask #9): replay the
    events fixture as three ordered micro-batches — (1) every on-time
    event, (2) a deterministic planted LATE cohort (``event_id % 100 <
    3`` AND at least one hour older than the fixture maximum, so every
    injected row sits far below the epoch-1 watermark = max(ts) -
    ``watermark``), (3) a sentinel one hour past the maximum that drags
    the watermark over every real window's end — through the
    watermarked tumbling rollup in APPEND mode, then COUNT what the
    watermark actually dropped as a queryable fact (5-minute windows
    keep the replay's state volume ~5x smaller than the 1-minute form
    while every planted row's window still ends >= 55 minutes below
    the watermark): production
    pipelines alarm on late-drop rates, and until this row the engine
    proved drops happen (pytest) but never surfaced the number.

    Returns one row: ``n_total`` (fixture rows), ``n_late_injected``
    (the planted cohort), ``n_absorbed`` (sum of emitted
    ``count_readings`` — i.e. rows that made it INTO the aggregation,
    read back from the materialized streaming result, not recomputed in
    batch), ``n_dropped`` (= total - absorbed).  The 1-hour margin
    makes the oracle exact without pinning Spark's watermark boundary
    semantics: every late row is unambiguously below the watermark, so
    absorbed == on-time count — any failure to drop (or over-drop)
    breaks the driver hash loudly.

    Execution-model landmine this runner pins (empirically, r15): an
    ``availableNow`` + ``maxFilesPerTrigger=1`` replay reports the
    advancing watermark in its progress lines but does NOT apply
    late-row filtering between its planned batches (all 300 planted
    rows were absorbed); a LIVE query fed epoch-by-epoch with
    ``processAllAvailable`` applies it exactly (297 post-partial-agg
    group rows dropped, absorbed == on-time to the row).  So this
    runner drives a continuous query per epoch through
    :func:`_run_query`'s ``feed`` form (4 state partitions) — the same
    harness shape as tests/test_streaming.py::_run_micro_batches — not
    the availableNow replay."""
    from ..sources.readers import load_table

    ev = load_table(spark, sf_dir, "events")
    max_ts = ev.agg(F.max("ts")).first()[0]
    late_pred = (F.col("event_id") % 100 < 3) & (
        F.col("ts") < F.lit(max_ts) - F.expr("INTERVAL 1 HOUR")
    )
    late = ev.filter(late_pred)
    ontime = ev.filter(~late_pred)
    sentinel = spark.createDataFrame(
        [(-1, max_ts + timedelta(hours=1), -1, "__sentinel__", 0.0, None)],
        ev.schema,
    )

    src = scratch_dir("latedrop_src_")
    stream = spark.readStream.schema(ev.schema).parquet(src)
    agg = streaming_rollup(
        stream, "ts", duration, watermark, ["event_type"]
    )
    name = f"latedrop_{uuid.uuid4().hex[:8]}"

    def feed(q) -> None:
        for epoch in (ontime, late, sentinel):
            epoch.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()

    _run_query(
        spark,
        agg.writeStream.format("memory").queryName(name).outputMode("append"),
        scratch_dir("latedrop_ckpt_"),
        shuffle_partitions=4,
        feed=feed,
    )
    emitted = spark.table(name).filter(F.col("event_type") != "__sentinel__")
    totals = ev.agg(
        F.count(F.lit(1)).alias("n_total"),
        F.sum(late_pred.cast("long")).alias("n_late_injected"),
    )
    absorbed = emitted.agg(
        F.coalesce(F.sum("count_readings"), F.lit(0))
        .cast("long")
        .alias("n_absorbed")
    )
    return totals.crossJoin(absorbed).select(
        "n_total",
        "n_late_injected",
        "n_absorbed",
        (F.col("n_total") - F.col("n_absorbed")).cast("long").alias("n_dropped"),
    )


def cascade_1m_to_5m(src: DataFrame) -> DataFrame:
    """The chained window-on-window plan itself (shared by the fixture
    runner and the multi-batch replay test): watermarked input ->
    1-minute mergeable partials (decimal sum / min / max / count) ->
    5-minute finals via window_time, average derived LAST from the
    exact merged decimal total.  ``src`` must already carry its
    watermark."""
    minute = src.groupBy(
        F.window("ts", "1 minute").alias("w1"), "event_type"
    ).agg(
        F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        F.min("value").alias("min_value"),
        F.max("value").alias("max_value"),
        F.count(F.lit(1)).alias("count_readings"),
    )
    return (
        minute.groupBy(
            F.window(F.window_time("w1"), "5 minutes").alias("w"), "event_type"
        )
        .agg(
            F.sum("sum_value").alias("sum_value"),
            F.min("min_value").alias("min_value"),
            F.max("max_value").alias("max_value"),
            F.sum("count_readings").alias("count_readings"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "event_type",
            (F.col("sum_value").cast("double") / F.col("count_readings")).alias(
                "avg_value"
            ),
            "min_value",
            "max_value",
            F.col("count_readings").cast("long").alias("count_readings"),
        )
    )


def run_stream_cascade_rollup(
    spark: SparkSession,
    sf_dir: str,
    watermark: str = "5 seconds",
) -> DataFrame:
    """Chained streaming windowed aggregation (window-on-window): a
    watermarked 1-minute partial rollup whose OUTPUT is re-aggregated
    into 5-minute finals inside the SAME streaming query — two stateful
    operators in one plan (Spark 3.4+ multiple-stateful-operator
    support via ``window_time``).  This is the streaming form of
    ``rollup_cascade_hourly``: at 100 TB/day the 1-minute stage holds
    per-(window, key) PARTIAL state (decimal sum / min / max / count —
    mergeable algebra, the ``rollup_partials`` shape), so the 5-minute
    stage aggregates ~1/60th the rows and the raw stream is touched
    exactly once.

    Chained aggregations require APPEND mode: a 5-minute window emits
    only once the watermark passes its end.  A replay would therefore
    hold back the final (still-open) windows, so the fixture stream is
    unioned with a single SENTINEL event one hour past the fixture
    maximum — it drags the watermark past every real window's end,
    closing them all, and is filtered from the result.  The emitted
    rows then equal the direct batch 5-minute rollup exactly: decimal
    partial sums re-sum associatively, min/max/count compose, and the
    average is derived LAST from the exact merged decimal total."""
    stream = events_file_stream(spark, sf_dir)

    from ..sources.readers import load_table

    max_ts = load_table(spark, sf_dir, "events").agg(F.max("ts")).first()[0]
    sentinel_dir = scratch_dir("cascade_sentinel_")
    sentinel = spark.createDataFrame(
        [(-1, max_ts + timedelta(hours=1), -1, "__sentinel__", 0.0, None)],
        stream.schema,
    )
    sentinel.write.mode("overwrite").parquet(sentinel_dir)
    s2 = spark.readStream.schema(stream.schema).parquet(sentinel_dir)

    src = stream.unionByName(s2).withWatermark("ts", watermark)
    out = _run_to_memory(
        cascade_1m_to_5m(src), "cascade", output_mode="append"
    )
    # The sentinel exclusion must happen on the MATERIALIZED batch, not
    # inside the streaming plan: Catalyst pushes an event_type predicate
    # through both aggregations down BELOW the watermark operator, so the
    # sentinel would never advance the watermark and the final real
    # window would never close (debugged empirically: 986/987 rows, the
    # missing row exactly the window containing max(ts)).  The filter is
    # belt-and-braces anyway — the sentinel's own windows always end
    # after the watermark it defines, so append mode never emits them.
    return out.filter(F.col("event_type") != "__sentinel__")


def _purchase_click_legs(
    spark: SparkSession, sf_dir: str, watermark: str
) -> tuple[DataFrame, DataFrame]:
    """The two watermarked legs of the events stream that every
    stream-stream join runner joins: purchases ``(purchase_id, user_id,
    purchase_ts)`` and clicks ``(click_id, c_user_id, click_ts)``."""
    stream = events_file_stream(spark, sf_dir)
    p = (
        stream.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            "user_id",
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    c = (
        stream.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("c_user_id"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    return p, c


def _click_within(interval: str) -> Column:
    """Join condition of every purchase/click range join: same user, click
    within ``interval`` before the purchase."""
    return (
        (F.col("user_id") == F.col("c_user_id"))
        & (F.col("click_ts") >= F.col("purchase_ts") - F.expr(f"INTERVAL {interval}"))
        & (F.col("click_ts") < F.col("purchase_ts"))
    )


def _closed_cutoff(spark: SparkSession, sf_dir: str, closed_margin: str):
    """``least(max purchase ts, max click ts) - closed_margin`` over the
    batch events table: the boundary below which the outer-join runners'
    null rows are provably flushed (see
    :func:`run_stream_stream_left_join`)."""
    from ..sources.readers import load_table

    return (
        load_table(spark, sf_dir, "events")
        .agg(
            (
                F.least(
                    F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))),
                    F.max(F.when(F.col("event_type") == "click", F.col("ts"))),
                )
                - F.expr(f"INTERVAL {closed_margin}")
            ).alias("c")
        )
        .collect()[0]["c"]
    )


def run_stream_stream_range_join(
    spark: SparkSession,
    sf_dir: str,
    interval: str = "30 minutes",
    watermark: str = "5 seconds",
) -> DataFrame:
    """Stream-stream interval join (Structured Streaming's hardest
    operator): two watermarked legs of the events stream — purchases and
    clicks — joined on user + an event-time range (click within
    ``interval`` before the purchase).

    Both sides carry watermarks, so Spark bounds the join STATE by the
    watermark + range arithmetic: a buffered click can be evicted once
    the purchase-side watermark passes click_ts + interval — state is
    (rate x horizon), not the whole stream, which is what makes the
    operator viable on an unbounded feed.  Inner-join matches emit as
    soon as both rows arrive (append mode); the fixture replay is a
    single availableNow batch, so the result equals the batch range join
    exactly — that parity is the oracle.
    """
    p, c = _purchase_click_legs(spark, sf_dir, watermark)
    joined = p.join(c, _click_within(interval)).select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"
    )
    return _run_to_memory(joined, "ssjoin")


def run_stream_stream_left_join(
    spark: SparkSession,
    sf_dir: str,
    interval: str = "6 hours",
    watermark: str = "5 seconds",
    closed_margin: str = "7 hours",
) -> DataFrame:
    """LEFT OUTER stream-stream interval join over the events fixture,
    restricted to CLOSED purchases so the append-mode result is exactly
    batch-left-join parity (the oracle-checkable form of
    :func:`stream_stream_left_range_join`).

    Append mode can only emit a purchase's NULL row once the watermark
    PROVES no qualifying click can still arrive — Structured Streaming
    delays outer nulls by up to (watermark delay + range span), so the
    stream's raw output withholds nulls for purchases near the stream
    tail.  Both the stream result and the batch oracle therefore filter
    to purchases older than
    ``least(max purchase_ts, max click_ts) - closed_margin`` (margin >
    range span + watermark delay): null flushing is governed by the
    GLOBAL watermark — the MIN over both streams' event-time maxima
    (multipleWatermarkPolicy=min) — so the cutoff must anchor on the
    SLOWER stream, exactly as the FULL OUTER form does (r8 advice: the
    earlier ``max(ts)``-over-all-events anchor only held because the
    fixture's click stream happens to end well before its purchase
    stream; clicks ending later would have left sub-cutoff purchases
    with unflushed NULL rows).  Below the least()-anchored boundary
    every null is provable and flushed by availableNow's final no-data
    micro-batch, so the two sides agree row-for-row.  Matched rows emit
    immediately and carry no such subtlety; the same filter applies to
    both sides symmetrically.
    """
    p, c = _purchase_click_legs(spark, sf_dir, watermark)
    joined = stream_stream_left_range_join(p, c, interval=interval)
    result = _run_to_memory(joined, "ssleft")
    cutoff = _closed_cutoff(spark, sf_dir, closed_margin)
    return result.filter(F.col("purchase_ts") < F.lit(cutoff))


def stream_stream_left_range_join(
    purchases: DataFrame,
    clicks: DataFrame,
    interval: str = "30 minutes",
):
    """LEFT OUTER stream-stream interval join — the semantics the inner
    form (run_stream_stream_range_join) cannot give: a purchase with NO
    qualifying click must still be emitted, with NULL click columns,
    and it may only be emitted once the watermark PROVES no future click
    can match (click_ts range fully below the click-side watermark).
    Until that proof, the row waits in state; after it, the state is
    evicted — same (rate x horizon) state bound as the inner join, plus
    the delayed null emission.

    Both inputs must already carry event-time columns named
    ``purchase_ts`` / ``click_ts`` with watermarks applied; returns the
    unstarted joined stream so callers choose the sink/trigger.  The
    test drives it with explicit micro-batches: nulls appear only after
    a later batch advances the watermark past the match horizon —
    single-batch availableNow replay does NOT flush tail nulls, which is
    correct (absence is only provable watermark-forward), and why this
    operator is pytest-verified rather than batch-parity-oracled.
    """
    return purchases.join(clicks, _click_within(interval), "leftOuter").select(
        "purchase_id", "click_id", "user_id", "purchase_ts", "click_ts"
    )


def stream_stream_full_outer_range_join(
    purchases: DataFrame,
    clicks: DataFrame,
    interval: str = "30 minutes",
):
    """FULL OUTER stream-stream interval join — both unmatched legs
    survive: a purchase with no qualifying click (NULL click columns)
    AND a click that led to no purchase within the horizon (NULL
    purchase columns).  Each null leg is withheld until the OPPOSITE
    side's watermark proves absence, then emitted exactly once and its
    state evicted — the same (rate x horizon) state bound as the
    inner/left forms, with delayed nulls on both sides.

    Inputs must carry watermarked ``purchase_ts`` / ``click_ts`` event
    times; returns the unstarted joined stream.  ``user_id`` is
    coalesced across sides so null legs still identify their key."""
    return purchases.join(clicks, _click_within(interval), "fullOuter").select(
        "purchase_id",
        "click_id",
        F.coalesce(F.col("user_id"), F.col("c_user_id")).alias("user_id"),
        "purchase_ts",
        "click_ts",
    )


def run_stream_stream_full_outer_join(
    spark: SparkSession,
    sf_dir: str,
    interval: str = "6 hours",
    watermark: str = "5 seconds",
    closed_margin: str = "7 hours",
) -> DataFrame:
    """FULL OUTER stream-stream interval join over the events fixture,
    restricted to CLOSED rows on BOTH sides so append-mode output is
    exactly batch-full-join parity (the oracle-checkable form of
    :func:`stream_stream_full_outer_range_join`).

    The closure boundary applies to ``coalesce(purchase_ts, click_ts)``
    against ``least(max(purchase_ts), max(click_ts)) - closed_margin``:
    Spark's GLOBAL watermark is the MIN over both sides' event-time
    maxima (multipleWatermarkPolicy=min), so a click-null row only
    closes once that min passes click_ts + span (every purchase that
    could still claim it — purchase_ts in (click_ts, click_ts + span] —
    is provably absent), and a purchase-null once it passes purchase_ts.
    ``closed_margin`` > span + watermark delay covers BOTH legs under
    the single least()-anchored cutoff; using the one-sided
    ``max(ts)`` anchor (as the LEFT join validly does) over-includes
    click-nulls whose closure the slower stream has not proven — the
    fixture's click stream ends 4 h before its purchase stream, which
    is exactly the row the first draft lost."""
    p, c = _purchase_click_legs(spark, sf_dir, watermark)
    joined = stream_stream_full_outer_range_join(p, c, interval=interval)
    result = _run_to_memory(joined, "ssfull")
    cutoff = _closed_cutoff(spark, sf_dir, closed_margin)
    return result.filter(
        F.coalesce(F.col("purchase_ts"), F.col("click_ts")) < F.lit(cutoff)
    )


def idempotent_batch_writer(base_path: str):
    """T4 exactly-once sink for foreachBatch: each micro-batch writes to a
    directory keyed by its batch_id with OVERWRITE mode, so a retried
    batch (failure between write and checkpoint commit) replaces its own
    partial output instead of appending duplicates.  Combined with the
    checkpointed source offsets this yields effectively-exactly-once
    delivery on any file-based sink — the parquet analogue of an
    idempotent/transactional Delta append.

    Read the sink with ``spark.read.parquet(f"{base_path}/batch_id=*")``
    or as a partitioned table rooted at base_path.
    """

    def write(df: DataFrame, batch_id: int) -> None:
        df.write.mode("overwrite").parquet(f"{base_path}/batch_id={batch_id}")

    return write


def wap_batch_writer(table_dir: str, audit=None):
    """T4/K2 streaming sink with write-audit-publish visibility: each
    micro-batch is staged, audited, then atomically added to the epoch
    manifest (plans.lifecycle.publish_epoch) — readers of the sink table
    (plans.lifecycle.read_published_epochs) can NEVER observe a partial
    or unaudited batch, and a retried batch publishes exactly once.

    Plugs into ``writeStream.foreachBatch(...)`` directly, or into
    ``fan_out_two_sinks`` as either writer (the fan-out forwards
    batch_id to two-argument writers) — giving the reference's
    at-least-once JDBC sinks (sensor_aggregation.py:37-54) crash-safe
    exactly-once-visible semantics without Delta.

    ``audit``: optional callable on the staged batch read-back; return
    False or raise to abort the batch BEFORE it becomes visible (the
    streaming query fails; the checkpoint will retry the same offsets).
    """
    from ..plans.lifecycle import publish_epoch

    def write(df: DataFrame, batch_id: int) -> None:
        publish_epoch(df, table_dir, batch_id, audit=audit)

    return write


def incremental_dedup_stream_writer(
    history_dir: str,
    dups_dir: str,
    threshold: float = 0.4,
    text_col: str = "text",
    id_col: str = "doc_id",
    store_dir: str | None = None,
    num_hashes: int = 16,
    bands: int = 4,
    n: int = 3,
    bucketed_store_prefix: str | None = None,
    store_buckets: int = 16,
):
    """STREAMING corpus ingestion with history-aware dedup: a foreachBatch
    writer where each micro-batch of documents is checked against the
    accumulated history table (operators.dedup.incremental_dedup — exact
    fingerprint tier, then MinHash-LSH cross join, never history x
    history), duplicated docs are routed to a side sink with their match
    and tier, and only clean docs append to history.  The streaming form
    of the daily-increment pipeline: history grows monotonically and is
    never re-paired with itself.

    Exactly-once contract (the subtlety): history is written to
    ``batch_id=N`` partition dirs with OVERWRITE, and each batch dedups
    against history EXCLUDING ITS OWN partition — so a retried batch
    (crash between write and checkpoint commit) neither matches the
    copy it wrote on the failed attempt (which would flag every doc as
    its own duplicate and wipe the partition) nor appends twice; the
    rerun reproduces the original result bit-for-bit.  The exclusion
    enumerates sibling partition dirs driver-side and reads them with
    the batch's explicit schema — the crashed attempt's own dir (which
    may hold a footer-less partial file) is never listed, touched by
    schema inference, or scanned.

    Within-batch exact duplicates collapse to the lowest id first and are
    ALSO routed to the dups sink as ``tier='exact-intra'`` (ADVICE r6:
    dropping them unrecorded made the dups table under-report);
    ``matched_doc`` always names a doc that actually SURVIVES — when the
    batch's lowest-id copy is itself flagged against history, the
    collapsed copies are redirected to that history match (review
    finding r7), so resolving matched_doc against history + this batch's
    clean set never dangles.  NULL-``text`` documents cannot match
    anything (SQL NULL never equals NULL): they pass through to history
    as non-duplicates rather than vanishing unrecorded (review finding
    r7) — run a DQ quarantine upstream to keep them out entirely (see
    tools/nightly_flow_probe.py).  Near-dup pairs WITHIN one micro-batch
    remain out of scope, matching incremental_dedup's contract — run the
    batch pair operators over history for a full retro-pass.

    ``store_dir`` (r7): the at-scale mode.  Without it, every batch
    re-reads and RE-HASHES all historical text — O(history) per batch,
    fine for tests, wrong for a long-lived stream.  With it, the writer
    MAINTAINS the history signature store incrementally (fingerprints /
    shingle postings / band buckets as per-batch partitions, same
    overwrite-own-partition retry contract as history), and each batch
    dedups against the STORE — per-batch cost O(batch + store read),
    historical text never touched again.  The store is bound to
    (num_hashes, bands, n); changing them requires a rebuild via
    operators.dedup.build_history_signature_store over history.

    Store-mode crash safety: the history and store writes for one batch
    are separate, so each completed batch stamps
    ``<store_dir>/_complete/batch_id=N`` LAST; the next invocation
    rebuilds any unstamped prior batch's store partitions from its
    history partition before deduping.  Under Structured Streaming the
    checkpoint retry already re-runs the whole batch; the marker makes
    DIRECT callers (tools/stream_store_probe.py, tests) equally safe.

    ``bucketed_store_prefix`` (r8): the store as BUCKETED catalog tables
    (``<prefix>_fp/_post/_buck``, hash-clustered on each join's key with
    ``store_buckets`` buckets, partitioned by batch_id) instead of loose
    per-batch parquet.  The dedup joins then read the big store side
    pre-clustered — no store-side exchange, only the small batch
    shuffles — which removes the unbucketed store's per-batch
    O(store-shuffle) cost that made it LOSE to text mode below ~400k
    docs of history (SCALE.md r7 crossover).  Appends use
    insertInto with dynamic partition overwrite, so a retried batch
    replaces its own partition (same contract as the parquet store);
    the ``_complete`` stamp lives under
    ``<history_dir>/_store_complete``.  Requires a session catalog.
    Mutually exclusive with ``store_dir``.
    """
    from ..operators.dedup import build_history_signature_store, incremental_dedup

    if store_dir is not None and bucketed_store_prefix is not None:
        raise ValueError("store_dir and bucketed_store_prefix are mutually exclusive")
    bucketed_names = {
        "fingerprints": (f"{bucketed_store_prefix}_fp", "fp"),
        "postings": (f"{bucketed_store_prefix}_post", "shingle"),
        "buckets": (f"{bucketed_store_prefix}_buck", "bucket"),
    }

    def _write_bucketed_store_batch(spark: SparkSession, add, batch_id: int) -> None:
        """Append one batch's signatures to the bucketed catalog tables —
        insertInto + dynamic partition overwrite replaces only this
        batch's own partition on retry."""
        prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        try:
            for part, (table, key) in bucketed_names.items():
                df_b = add[part].withColumn("batch_id", F.lit(batch_id))
                if spark.catalog.tableExists(table):
                    df_b.write.mode("overwrite").insertInto(table)
                else:
                    (
                        df_b.write.mode("overwrite")
                        .format("parquet")
                        .partitionBy("batch_id")
                        .bucketBy(store_buckets, key)
                        .saveAsTable(table)
                    )
        finally:
            spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)

    def _heal_signature_store(
        spark: SparkSession,
        schema,
        batch_id: int,
        marker_dir: Path,
        write_fn,
        legacy_complete_fn=None,
    ) -> None:
        """Shared crash repair for both store layouts (ADVICE r7; unified
        r8 — the two hand-copied twins had already started to drift): the
        history partition and the signature-store partitions for one
        batch are separate non-atomic writes.  Structured Streaming's
        batch retry heals a crash between them, but DIRECT callers
        (tools, tests) have no retry — a batch whose history landed but
        whose store writes did not would silently miss every future
        duplicate of those docs.  Each completed batch stamps
        ``<marker_dir>/batch_id=N``; here any prior history partition
        missing its stamp gets its store partitions rebuilt from that
        partition's text via ``write_fn``, then stamped.

        ``legacy_complete_fn(bid)`` (review r8): a store maintained by
        the pre-stamp r7 code has NO markers at all — without this check
        the first run after upgrading would re-read and re-hash the
        ENTIRE history inside one batch.  When it returns True (the
        batch's store partitions all exist with their _SUCCESS commit
        markers), the partition is stamped as a completed legacy write
        instead of rebuilt — the `_wap_migrate_markers` precedent."""
        hist_root = Path(history_dir)
        if not hist_root.is_dir():
            return
        for p in sorted(hist_root.iterdir()):
            if not p.name.startswith("batch_id=") or p.name == f"batch_id={batch_id}":
                continue
            if (marker_dir / p.name).exists():
                continue
            bid = int(p.name.split("=")[1])
            if legacy_complete_fn is None or not legacy_complete_fn(bid):
                hist = (
                    spark.read.schema(schema)
                    .parquet(str(p))
                    .filter(F.col(text_col).isNotNull())
                )
                rebuilt = build_history_signature_store(
                    hist, num_hashes, bands, n, text_col, id_col
                )
                write_fn(rebuilt, bid)
            marker_dir.mkdir(parents=True, exist_ok=True)
            (marker_dir / p.name).touch()

    def _hist_batch_names(batch_id: int) -> set[str]:
        root = Path(history_dir)
        if not root.is_dir():
            return set()
        return {
            p.name
            for p in root.iterdir()
            if p.name.startswith("batch_id=") and p.name != f"batch_id={batch_id}"
        }

    def _check_bucketed_store_consistency(
        spark: SparkSession, batch_id: int
    ) -> bool:
        """Reconcile the catalog tables with history_dir before trusting
        them (review r8).  Two silent failure modes guarded here:

        * **Session restart**: the tables live in the in-memory catalog
          (gone with the old session) while the ``_store_complete``
          stamps live on disk — a new session would see no store AND
          skip the heal (stamps say complete), silently disabling all
          history dedup.  Fix: clear the stale stamps (and any orphaned
          warehouse dirs that would fail saveAsTable with
          LOCATION_ALREADY_EXISTS) so the heal rebuilds every prior
          batch from its history partition.  Returns False (caller must
          not trust a store this batch — heal rebuilds it first).
        * **Prefix reuse across streams**: tables exist but contain
          batch partitions that this ``history_dir`` never wrote — the
          store belongs to a DIFFERENT run and joining against it would
          emit matched_doc ids that exist nowhere in this history.
          Raises, because silently dropping another stream's store is
          as wrong as silently using it."""
        fp_table = bucketed_names["fingerprints"][0]
        marker_dir = Path(history_dir) / "_store_complete"
        stamps = (
            {q.name for q in marker_dir.iterdir()} if marker_dir.is_dir() else set()
        )
        if not spark.catalog.tableExists(fp_table):
            if stamps:
                for name_ in stamps:
                    (marker_dir / name_).unlink(missing_ok=True)
                # r9 (r8 advice): resolve + delete orphaned table dirs via
                # the Hadoop FS API, not string-munging warehouse.dir —
                # correct on hdfs:/s3a:/percent-encoded file URIs — and
                # fail LOUDLY when cleanup is impossible, because the heal
                # that follows would otherwise die on
                # LOCATION_ALREADY_EXISTS with no hint at the cause
                jvm = spark.sparkContext._jvm
                wh = jvm.org.apache.hadoop.fs.Path(
                    spark.conf.get("spark.sql.warehouse.dir")
                )
                fs = wh.getFileSystem(
                    spark.sparkContext._jsc.hadoopConfiguration()
                )
                for _, (table, _key) in bucketed_names.items():
                    db, _, tbl = table.rpartition(".")
                    loc = (
                        jvm.org.apache.hadoop.fs.Path(wh, f"{db}.db/{tbl}")
                        if db
                        else jvm.org.apache.hadoop.fs.Path(wh, tbl)
                    )
                    if fs.exists(loc) and not fs.delete(loc, True):
                        raise RuntimeError(
                            f"orphaned warehouse dir {loc} for catalog-less "
                            f"table {table!r} could not be removed; the "
                            "store heal's saveAsTable would fail with "
                            "LOCATION_ALREADY_EXISTS — remove it manually "
                            "or use a distinct bucketed_store_prefix"
                        )
            return False
        # a store partition is legitimate iff its history partition is on
        # disk — including the CURRENT batch id, but only when a crashed
        # prior attempt actually wrote its history partition (store
        # writes always follow the history write, so a store partition
        # with no history twin cannot be ours)
        hist_names = _hist_batch_names(batch_id)
        if (Path(history_dir) / f"batch_id={batch_id}").is_dir():
            hist_names = hist_names | {f"batch_id={batch_id}"}
        store_names = {
            r[0]
            for r in spark.sql(f"SHOW PARTITIONS {fp_table}").collect()
        }
        orphans = store_names - hist_names
        if orphans:
            raise ValueError(
                f"bucketed signature store {fp_table!r} contains partitions "
                f"{sorted(orphans)[:5]} absent from history_dir "
                f"{history_dir!r} — the store prefix is shared with another "
                "stream; use a distinct bucketed_store_prefix (or drop the "
                "stale tables) before writing"
            )
        return True

    def _prior_parts(root_dir: str, batch_id: int) -> list[str]:
        root = Path(root_dir)
        if not root.is_dir():
            return []
        return [
            str(p)
            for p in sorted(root.iterdir())
            if p.name.startswith("batch_id=") and p.name != f"batch_id={batch_id}"
        ]

    def _write_store_batch(rebuilt, bid: int) -> None:
        for sub in ("fingerprints", "postings", "buckets"):
            rebuilt[sub].write.mode("overwrite").parquet(
                f"{store_dir}/{sub}/batch_id={bid}"
            )

    def _legacy_store_complete(bid: int) -> bool:
        return all(
            (Path(store_dir) / sub / f"batch_id={bid}" / "_SUCCESS").exists()
            for sub in ("fingerprints", "postings", "buckets")
        )

    def _heal_store(spark: SparkSession, schema, batch_id: int) -> None:
        _heal_signature_store(
            spark,
            schema,
            batch_id,
            Path(store_dir) / "_complete",
            _write_store_batch,
            legacy_complete_fn=_legacy_store_complete,
        )

    def _heal_bucketed_store(spark: SparkSession, schema, batch_id: int) -> None:
        # no legacy_complete_fn: the bucketed layout shipped together
        # with the stamps, so an unstamped partition is always a crash
        _heal_signature_store(
            spark,
            schema,
            batch_id,
            Path(history_dir) / "_store_complete",
            lambda rebuilt, bid: _write_bucketed_store_batch(spark, rebuilt, bid),
        )

    def process(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # NULL-text docs: no fingerprint, can't be anyone's duplicate —
        # carried straight through to history (never silently dropped).
        nulls = batch_df.filter(F.col(text_col).isNull())
        non_null = batch_df.filter(F.col(text_col).isNotNull())
        # ONE md5-fingerprint grouping (16-byte shuffle key, text never
        # shuffles) serves both the keep-first collapse and the intra-dup
        # routing — same keying as the incremental exact tier, so the two
        # stages can never disagree on the survivor.
        fp_all = non_null.select(F.col(id_col), F.md5(text_col).alias("fp"))
        survivors = fp_all.groupBy("fp").agg(F.min(id_col).alias("_keep"))
        keep_ids = survivors.select(F.col("_keep").alias(id_col))
        batch = non_null.join(keep_ids, id_col, "left_semi")
        intra = (
            fp_all.join(survivors, "fp")
            .filter(F.col(id_col) != F.col("_keep"))
            .select(
                F.col(id_col),
                F.col("_keep").alias("matched_doc"),
                F.lit("exact-intra").alias("tier"),
                F.lit(1.0).alias("jaccard"),
            )
        )
        if store_dir is not None:
            # signature-store mode: dedup against the maintained store;
            # historical TEXT is never re-read or re-hashed
            _heal_store(spark, batch_df.schema, batch_id)
            id_type = dict(batch_df.dtypes)[id_col]
            fp_parts = _prior_parts(f"{store_dir}/fingerprints", batch_id)
            store = None
            if fp_parts:
                store = {
                    "fingerprints": spark.read.schema(
                        f"fp string, matched_doc {id_type}"
                    ).parquet(*fp_parts),
                    "postings": spark.read.schema(
                        f"{id_col} {id_type}, shingle string"
                    ).parquet(*_prior_parts(f"{store_dir}/postings", batch_id)),
                    "buckets": spark.read.schema(
                        f"{id_col} {id_type}, band int, bucket string"
                    ).parquet(*_prior_parts(f"{store_dir}/buckets", batch_id)),
                }
            prior = None  # text partitions are write-only in store mode
        elif bucketed_store_prefix is not None:
            # bucketed-store mode: the catalog tables ARE the store; the
            # dedup joins read them pre-clustered on each join key (no
            # store-side exchange — only the small batch shuffles).
            # Reconcile catalog vs stamps FIRST (review r8): a session
            # restart loses the in-memory tables but not the stamps —
            # unstamping lets the heal below rebuild them; a prefix
            # shared with another stream's store raises.
            _check_bucketed_store_consistency(spark, batch_id)
            _heal_bucketed_store(spark, batch_df.schema, batch_id)
            store = None
            if spark.catalog.tableExists(bucketed_names["fingerprints"][0]):
                store = {
                    part: spark.table(table)
                    .filter(F.col("batch_id") != batch_id)
                    .drop("batch_id")
                    for part, (table, _) in bucketed_names.items()
                }
            prior = None  # text partitions are write-only in store mode
        else:
            store = None
            prior_paths = _prior_parts(history_dir, batch_id)
            prior = (
                spark.read.schema(batch_df.schema).parquet(*prior_paths)
                if prior_paths
                else None
            )
        if prior is not None or store is not None:
            flagged = incremental_dedup(
                prior,
                batch,
                num_hashes=num_hashes,
                bands=bands,
                n=n,
                threshold=threshold,
                text_col=text_col,
                id_col=id_col,
                history_store=store,
            )
            clean = batch.join(flagged.select(id_col), id_col, "left_anti")
            # Redirect intra dups whose survivor was itself flagged vs
            # history: their identical text makes them duplicates of the
            # SAME history doc, so matched_doc points there instead of at
            # a doc that never reaches history.  The redirected row
            # carries the SURVIVOR's tier/jaccard (ADVICE r7): the dup is
            # text-identical to the survivor, so its similarity to the
            # final matched_doc is exactly the survivor's — keeping
            # tier='exact-intra'/jaccard=1.0 would overstate a NEAR match.
            redirect = flagged.select(
                F.col(id_col).alias("matched_doc"),
                F.col("matched_doc").alias("_final"),
                F.col("tier").alias("_ftier"),
                F.col("jaccard").alias("_fjac"),
            )
            intra = intra.join(redirect, "matched_doc", "left").select(
                F.col(id_col),
                F.coalesce("_final", "matched_doc").alias("matched_doc"),
                F.coalesce("_ftier", "tier").alias("tier"),
                F.coalesce("_fjac", "jaccard").alias("jaccard"),
            )
            dups = flagged.unionByName(intra)
        else:
            clean = batch
            dups = intra
        dups.write.mode("overwrite").parquet(f"{dups_dir}/batch_id={batch_id}")
        clean.unionByName(nulls).write.mode("overwrite").parquet(
            f"{history_dir}/batch_id={batch_id}"
        )
        if store_dir is not None:
            # extend the store with THIS batch's clean docs (nulls carry no
            # signatures); overwrite-own-partition keeps retries idempotent
            add = build_history_signature_store(
                clean, num_hashes, bands, n, text_col, id_col
            )
            for sub in ("fingerprints", "postings", "buckets"):
                add[sub].write.mode("overwrite").parquet(
                    f"{store_dir}/{sub}/batch_id={batch_id}"
                )
            marker_dir = Path(store_dir) / "_complete"
            marker_dir.mkdir(parents=True, exist_ok=True)
            (marker_dir / f"batch_id={batch_id}").touch()
        elif bucketed_store_prefix is not None:
            add = build_history_signature_store(
                clean, num_hashes, bands, n, text_col, id_col
            )
            _write_bucketed_store_batch(spark, add, batch_id)
            marker_dir = Path(history_dir) / "_store_complete"
            marker_dir.mkdir(parents=True, exist_ok=True)
            (marker_dir / f"batch_id={batch_id}").touch()

    return process


def fan_out_two_sinks(
    stream: DataFrame,
    raw_writer,
    agg_writer,
    time_col: str = "ts",
    duration: str = "1 minute",
    watermark: str = "5 seconds",
    group_cols: list[str] | None = None,
    checkpoint_dir: str | None = None,
):
    """K4: ONE source, TWO sinks — the reference's statement-set shape
    (sensor_aggregation.py:73-98): raw passthrough (K3) plus windowed
    aggregate (K2) from a single read.

    ``raw_writer(df)`` / ``agg_writer(df)`` receive each micro-batch as a
    plain batch DataFrame (foreachBatch), so any batch sink — JDBC, Kafka,
    partitioned parquet/Delta — plugs in.  A writer declaring TWO
    parameters is called as ``writer(df, batch_id)`` instead — which is
    how :func:`wap_batch_writer` (epoch-atomic write-audit-publish) and
    :func:`idempotent_batch_writer` slot into the fan-out.  The
    micro-batch is persisted so the two writes share one evaluation.

    Aggregation state cannot live inside foreachBatch across batches, so
    the aggregate leg recomputes per micro-batch over the batch it sees;
    with availableNow single-batch replay this equals the batch rollup.
    For continuous production jobs prefer two writeStream queries sharing
    the source (Spark dedupes the scan per query; Kafka re-serves both).
    """
    group_cols = group_cols if group_cols is not None else ["user_id", "event_type"]
    ckpt = checkpoint_dir or scratch_dir("ckpt_fanout_")

    import inspect

    def _call(writer, df: DataFrame, batch_id: int) -> None:
        # Forward batch_id only to writers that genuinely take it: two
        # REQUIRED positional params, or a second param literally named
        # batch_id.  A one-arg writer with an optional second param
        # (e.g. lambda df, mode="append": ...) must NOT receive batch_id
        # as that param (review finding r6).
        try:
            params = [
                p
                for p in inspect.signature(writer).parameters.values()
                if p.kind
                in (p.POSITIONAL_ONLY, p.POSITIONAL_OR_KEYWORD)
            ]
            two_arg = (
                sum(1 for p in params if p.default is p.empty) >= 2
                or (len(params) >= 2 and params[1].name == "batch_id")
            )
        except (TypeError, ValueError):  # builtins / C callables
            two_arg = False
        writer(df, batch_id) if two_arg else writer(df)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        batch_df.persist()
        try:
            _call(raw_writer, batch_df, batch_id)
            agg = tumbling_rollup(batch_df, time_col, duration, group_cols)
            _call(agg_writer, agg, batch_id)
        finally:
            batch_df.unpersist()

    return (
        stream.writeStream.foreachBatch(process)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )


def cms_bucket_tags(key_col, d: int = 4, w: int = 64, prefix: str = "cms"):
    """The Count-Min hash tags shared by the batch query
    (registry.countmin_heavy_users) and the streaming store: an array of
    (j, b) structs, one per hash row, md5-derived so any engine — and
    the DuckDB oracle — rebuilds the identical sketch."""
    entries = []
    for j in range(d):
        b = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{prefix}{j}:"), key_col.cast("string"))),
                    1,
                    8,
                ),
                16,
                10,
            ).cast("long")
            % w
        )
        entries.append(F.struct(F.lit(j).alias("j"), b.alias("b")))
    return F.array(*entries)


def run_stream_countmin(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    d: int = 4,
    w: int = 64,
) -> None:
    """Streaming Count-Min sketch maintenance — the fixed-memory running
    heavy-hitter counter a 100 TB/day stream actually keeps: each
    micro-batch reduces to its own d x w counter grid (<= 256 rows) and
    lands in a ``batch_id=``-keyed partition (the idempotent_batch_writer
    discipline, so a retried batch REPLACES its own partial output —
    exactly-once additivity without a transactional store).  Because CMS
    counters are ADDITIVE, read-time merge = GROUP BY (j, b) SUM over
    partitions: the merged sketch is bit-equal to the batch-built one,
    which tests/test_r9_ops.py asserts EXACTLY (no envelope needed —
    additivity is an identity, not an approximation).

    Query the store with :func:`read_countmin_estimates`."""
    stream = events_file_stream(spark, sf_dir)

    def write(df: DataFrame, batch_id: int) -> None:
        counters = (
            df.select(F.explode(cms_bucket_tags(F.col("user_id"), d, w)).alias("h"))
            .groupBy(F.col("h.j").alias("j"), F.col("h.b").alias("b"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        counters.write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={batch_id}"
        )

    _run_query(spark, stream.writeStream.foreachBatch(write), f"{store_dir}_ckpt")


def read_countmin_estimates(
    spark: SparkSession,
    store_dir: str,
    keys: DataFrame,
    key_col: str = "user_id",
    d: int = 4,
    w: int = 64,
) -> DataFrame:
    """Point-query the streaming CMS store: merge per-batch counter grids
    (GROUP BY sum — additivity), then estimate each key as the MIN over
    its d bucket counters.  The merged grid is <= d*w rows regardless of
    stream volume, so it broadcasts.

    The probe join is LEFT with a COALESCE-to-0: an empty bucket has no
    stored row, and an inner join would silently drop that probe — a key
    the stream never saw would then estimate as the min of its remaining
    COLLIDING buckets (or vanish from the output entirely) instead of
    the true CMS answer 0 (review catch)."""
    merged = (
        spark.read.parquet(f"{store_dir}/batch_id=*")
        .groupBy("j", "b")
        .agg(F.sum("c").alias("c"))
    )
    probes = keys.select(
        key_col, F.explode(cms_bucket_tags(F.col(key_col), d, w)).alias("h")
    ).select(key_col, F.col("h.j").alias("j"), F.col("h.b").alias("b"))
    return (
        probes.join(F.broadcast(merged), ["j", "b"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0).cast("long"))).alias("cms_est"))
    )


def kmv_batch_bottomk(
    df: DataFrame,
    k: int = 256,
    group_col: str = "event_type",
    key_col: str = "user_id",
) -> DataFrame:
    """One micro-batch's KMV partial: distinct (group, 52-bit hash) pairs
    reduced to the k smallest hashes per group — the unit the streaming
    store persists per batch_id.  Public so the merge identity (bottom-k
    of unioned bottom-ks == bottom-k of the union) is directly testable
    against arbitrary slicings."""
    from pyspark.sql import Window

    from ..operators.aggregates import kmv_hash52

    cand = df.select(group_col, kmv_hash52(key_col).alias("hv")).distinct()
    w = Window.partitionBy(group_col).orderBy("hv")
    return (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def run_stream_kmv_store(
    spark: SparkSession,
    sf_dir: str,
    store_dir: str,
    k: int = 256,
) -> None:
    """Streaming KMV (bottom-k) distinct sketch maintenance — the
    fixed-memory running DISTINCT counter for an unbounded stream, the
    set-cardinality sibling of :func:`run_stream_countmin`: each
    micro-batch reduces to its own per-group bottom-k hash sample
    (<= k x groups rows) and lands in a ``batch_id=``-keyed partition
    (idempotent_batch_writer discipline — a retried batch REPLACES its
    own partial, exactly-once without a transactional store).  Bottom-k
    over distinct hash values is a SEMILATTICE (idempotent, commutative,
    associative merge: union then keep the k smallest), so the read-time
    merge is bit-equal to the batch-built sketch no matter how the
    stream was sliced — an identity, not an approximation, which is why
    the registry row carries a full value-hash oracle rather than an
    envelope.

    At 100 TB/day this is the difference between answering "how many
    distinct users this quarter" with one scan of O(k x groups x days)
    integers and re-scanning a quarter of raw events; the same store
    supports union/intersection estimates across groups
    (``kmv_user_overlap_event_types``) because bottom-k samples compose.
    """
    stream = events_file_stream(spark, sf_dir)

    def write(df: DataFrame, batch_id: int) -> None:
        kmv_batch_bottomk(df, k).write.mode("overwrite").parquet(
            f"{store_dir}/batch_id={batch_id}"
        )

    _run_query(spark, stream.writeStream.foreachBatch(write), f"{store_dir}_ckpt")


def read_kmv_estimates(
    spark: SparkSession,
    store_dir: str,
    k: int = 256,
) -> DataFrame:
    """Merge the per-batch bottom-k partials and estimate distinct counts:
    union -> dedup hash values -> keep the k smallest per group ->
    (k-1)/theta_k (exact count when fewer than k values survive).  The
    merged sample is <= k rows per group regardless of stream volume, so
    every step after the store scan is broadcast-sized."""
    from pyspark.sql import Window

    merged = (
        spark.read.parquet(f"{store_dir}/batch_id=*")
        .select("event_type", "hv")
        .distinct()
    )
    w = Window.partitionBy("event_type").orderBy("hv")
    sk = (
        merged.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
    )
    two52 = 4503599627370496.0
    t = sk.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_sk"), F.max("hv").alias("theta_int")
    )
    return t.select(
        "event_type",
        F.when(F.col("n_sk") < k, F.col("n_sk").cast("double"))
        .otherwise(
            F.lit(float(k - 1)) / (F.col("theta_int").cast("double") / two52)
        )
        .alias("est_distinct"),
    )


def run_stream_ivfpq_upsert(
    spark: SparkSession,
    sf_dir: str,
    store_path: str,
    base_max_id: int,
    n_cells: int = 8,
    m: int = 4,
    n_files: int = 3,
    delta_root: str | None = None,
) -> None:
    """STREAMING index maintenance for the stored IVF-PQ serving path
    (r11 verdict ask #5): vectors with id >= ``base_max_id`` arrive as a
    file-replay stream (``maxFilesPerTrigger=1`` over ``n_files`` staged
    slices, so the run exercises MULTIPLE micro-batches) and each
    micro-batch is encoded against the FIXED quantizer — captured once
    here, before the stream starts, exactly like a production trainer
    freezing its codebook at deploy — and appended to the index's delta
    root by :func:`operators.similarity.ivfpq_store_upsert` (overwrite-
    own-``batch_id`` partition, exactly-once under checkpoint retry).

    After the replay, ``ivf_pq_topk_upsert`` over base + delta is
    value-identical to a full offline rebuild of the grown corpus: the
    quantizer is fixed, encoding is per-vector deterministic, and the
    union of cell partitions is the rebuild's content."""
    from ..operators.similarity import (
        _pinned_seeds,
        ivfpq_store_upsert,
        pq_codebook,
    )
    from ..sources.readers import load_table

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _pinned_seeds(emb, n_cells, "vec_id", "embedding")
    book = pq_codebook(emb, n_codes=n_cells, m=m, seeds=cents)

    stage = scratch_dir("ivfpq_delta_in_")
    delta = emb.filter(F.col("vec_id") >= base_max_id)
    delta.repartitionByRange(n_files, "vec_id").write.mode("overwrite").parquet(
        stage
    )
    schema = spark.read.parquet(stage).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(stage)
    )

    def write(df: DataFrame, batch_id: int) -> None:
        ivfpq_store_upsert(
            df, store_path, cents, book, batch_id, delta_root=delta_root
        )

    _run_query(
        spark, stream.writeStream.foreachBatch(write), scratch_dir("ivfpq_upsert_ckpt_")
    )
