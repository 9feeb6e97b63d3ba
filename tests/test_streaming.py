"""Streaming semantics (SURVEY.md sections 2.5, 2.8, 5.2.2): watermark
late-data behavior, batch/streaming parity, multi-sink fan-out."""

import tempfile
from datetime import datetime, timedelta

import pytest
from pyspark.sql import functions as F

from iiot_data_engineering_lab_assignment_spark.operators.windows import tumbling_rollup
from iiot_data_engineering_lab_assignment_spark.streaming import jobs
from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
    events_file_stream,
    fan_out_two_sinks,
    run_events_stream_rollup,
    streaming_rollup,
)

from conftest import SF_DIR


def test_stream_batch_parity(spark, events):
    """PDF Task 4.2: the streaming rollup (complete mode, availableNow)
    equals the batch rollup over the same input."""
    stream_out = run_events_stream_rollup(spark, SF_DIR)
    batch_out = tumbling_rollup(events, "ts", "1 minute", ["user_id", "event_type"]).withColumn(
        "avg_value", F.round("avg_value", 6)
    )
    s = {tuple(r) for r in stream_out.withColumn("avg_value", F.round("avg_value", 6)).collect()}
    b = {tuple(r) for r in batch_out.collect()}
    assert s == b


def _run_micro_batches(spark, batches, watermark="5 seconds", duration="1 minute"):
    """Feed timed micro-batches through a watermarked windowed agg in
    APPEND mode via a file source; returns emitted (closed-window) rows."""
    import uuid

    src = tempfile.mkdtemp(prefix="late_src_")
    name = f"late_{uuid.uuid4().hex[:8]}"
    schema = "ts timestamp, k string, value double"
    stream = spark.readStream.schema(schema).parquet(src)
    agg = streaming_rollup(stream, "ts", duration, watermark, ["k"])
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="late_ckpt_"))
        .start()
    )
    try:
        for i, batch in enumerate(batches):
            df = spark.createDataFrame(batch, schema)
            df.coalesce(1).write.mode("append").parquet(src)
            q.processAllAvailable()
    finally:
        q.stop()
    return spark.table(name).collect()


def test_watermark_drops_late_data(spark):
    """T2: an event older than (max event time - watermark) arriving after
    its window closed is dropped — the reference's 5 s out-of-order bound
    (sensor_aggregation.py:23)."""
    base = datetime(2024, 3, 1, 10, 0, 0)
    batches = [
        # window [10:00, 10:01): two readings
        [(base + timedelta(seconds=10), "m1", 1.0), (base + timedelta(seconds=20), "m1", 3.0)],
        # advance event time far past the window + watermark -> closes it
        [(base + timedelta(minutes=5), "m1", 5.0)],
        # LATE: belongs to the closed [10:00, 10:01) window -> must be dropped
        [(base + timedelta(seconds=30), "m1", 100.0)],
        # advance again so any (incorrect) re-emission would flush
        [(base + timedelta(minutes=10), "m1", 7.0)],
    ]
    rows = _run_micro_batches(spark, batches)
    first = [r for r in rows if r["window_start"] == base]
    assert len(first) == 1
    assert first[0]["count_readings"] == 2  # late 100.0 excluded
    assert first[0]["max_value"] == 3.0


def test_in_order_late_within_watermark_included(spark):
    """An out-of-order event still within the watermark bound IS included
    (arrives before the window closes)."""
    base = datetime(2024, 3, 1, 10, 0, 0)
    batches = [
        [(base + timedelta(seconds=30), "m1", 1.0)],
        # out-of-order (earlier than max seen) but window still open
        [(base + timedelta(seconds=5), "m1", 9.0)],
        # close the window
        [(base + timedelta(minutes=5), "m1", 2.0)],
    ]
    rows = _run_micro_batches(spark, batches)
    first = [r for r in rows if r["window_start"] == base]
    assert len(first) == 1
    assert first[0]["count_readings"] == 2
    assert first[0]["max_value"] == 9.0


def test_fan_out_two_sinks(spark, tmp_path):
    """K4: one source drives a raw sink and an aggregate sink in a single
    job (the reference statement-set shape, sensor_aggregation.py:73-98)."""
    raw_dir = str(tmp_path / "raw")
    agg_dir = str(tmp_path / "agg")
    stream = events_file_stream(spark, SF_DIR)
    q = fan_out_two_sinks(
        stream,
        raw_writer=lambda df: df.write.mode("append").parquet(raw_dir),
        agg_writer=lambda df: df.write.mode("append").parquet(agg_dir),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    raw = spark.read.parquet(raw_dir)
    agg = spark.read.parquet(agg_dir)
    assert raw.count() == 1000  # passthrough preserves every event (K3)
    assert agg.count() > 0
    # aggregate leg equals the batch rollup (availableNow => one batch)
    batch = tumbling_rollup(
        spark.read.parquet(raw_dir), "ts", "1 minute", ["user_id", "event_type"]
    )
    assert agg.count() == batch.count()
    total = agg.agg(F.sum("count_readings")).head()[0]
    assert total == 1000


def test_wap_epoch_publish_crash_and_retry_semantics(spark, tmp_path):
    """r5 verdict ask #5: streaming write-audit-publish.  A crash at ANY
    point mid-batch must leave readers on the previous epoch set (never a
    partial epoch), a retry must publish exactly once, and a failed audit
    must keep the batch invisible."""
    from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import (
        publish_epoch,
        read_published_epochs,
    )

    table = str(tmp_path / "wap_stream")
    b0 = spark.range(0, 100).withColumn("v", F.col("id") * 2)
    assert publish_epoch(b0, table, 0) is True
    assert read_published_epochs(spark, table).count() == 100

    # crash mid-batch 1: files written (some or all) but manifest never
    # swapped -> readers still see exactly epoch 0
    import os

    crashed = os.path.join(table, "_epochs", "batch-00000001")
    spark.range(0, 7).write.parquet(crashed)
    assert read_published_epochs(spark, table).count() == 100

    # the checkpoint retries batch 1: overwrite-stage replaces the partial
    # files, then the manifest swap makes the WHOLE epoch visible at once
    assert publish_epoch(spark.range(0, 50), table, 1) is True
    assert read_published_epochs(spark, table).count() == 150

    # a second retry of an already-published batch is a no-op (the
    # at-least-once -> exactly-once upgrade): no duplicate rows
    assert publish_epoch(spark.range(0, 50), table, 1) is False
    assert read_published_epochs(spark, table).count() == 150

    # failed audit: batch 2 never becomes visible, query fails loudly
    with pytest.raises(ValueError, match="audit rejected"):
        publish_epoch(spark.range(0, 9), table, 2, audit=lambda d: False)
    assert read_published_epochs(spark, table).count() == 150


def test_wap_epoch_compaction_preserves_data_atomically(spark, tmp_path):
    """compact_epochs folds old epochs into one dir without changing the
    readable rows; the epoch count shrinks; a pre-swap crash leftover
    (unreferenced merged dir) stays invisible."""
    import os

    from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import (
        compact_epochs,
        publish_epoch,
        read_published_epochs,
    )

    table = str(tmp_path / "wap_compact")
    for b in range(6):
        publish_epoch(spark.range(b * 10, b * 10 + 10), table, b)
    before = {r["id"] for r in read_published_epochs(spark, table).collect()}
    assert len(before) == 60

    folded = compact_epochs(spark, table, keep_last=2)
    assert folded == 4
    after = {r["id"] for r in read_published_epochs(spark, table).collect()}
    assert after == before  # same rows, fewer manifest entries
    # superseded dirs retained for in-flight readers until VACUUM
    dirs = sorted(os.listdir(os.path.join(table, "_epochs")))
    assert len(dirs) == 7  # 1 merged + 2 recent + 4 superseded
    from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import vacuum_epochs

    assert vacuum_epochs(table) == 4
    dirs = sorted(os.listdir(os.path.join(table, "_epochs")))
    assert len(dirs) == 3  # 1 merged + 2 recent
    assert any(d.startswith("compact-") for d in dirs)
    assert {r["id"] for r in read_published_epochs(spark, table).collect()} == before

    # appending continues seamlessly after compaction
    publish_epoch(spark.range(100, 105), table, 6)
    assert read_published_epochs(spark, table).count() == 65
    # nothing left to fold when fewer than 2 old epochs exist
    assert compact_epochs(spark, table, keep_last=10) == 0

    # review finding r6: a replay of a FOLDED batch (restart from an old
    # checkpoint) must still skip — the _COMPACTED ledger remembers the
    # batch ids the manifest no longer lists individually
    assert publish_epoch(spark.range(0, 10), table, 0) is False
    assert publish_epoch(spark.range(30, 40), table, 3) is False
    assert read_published_epochs(spark, table).count() == 65  # no dupes
    # and a re-compaction folds the compact dir + newer epochs cleanly
    publish_epoch(spark.range(200, 203), table, 7)
    # manifest: [compact-0-3, batch-4, batch-5, batch-6, batch-7]
    assert compact_epochs(spark, table, keep_last=1) == 4
    assert read_published_epochs(spark, table).count() == 68
    assert publish_epoch(spark.range(100, 105), table, 6) is False  # still skips


def test_wap_fan_out_streaming(spark, tmp_path):
    """The K4 fan-out with BOTH sinks in write-audit-publish mode: the
    raw and aggregate legs each publish atomically per epoch, and the
    published state equals the plain-sink run (same data, now crash-safe)."""
    from iiot_data_engineering_lab_assignment_spark.plans.lifecycle import read_published_epochs
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import wap_batch_writer

    raw_dir = str(tmp_path / "raw_wap")
    agg_dir = str(tmp_path / "agg_wap")
    stream = events_file_stream(spark, SF_DIR)
    q = fan_out_two_sinks(
        stream,
        raw_writer=wap_batch_writer(raw_dir, audit=lambda d: d.count() > 0),
        agg_writer=wap_batch_writer(agg_dir, audit=lambda d: "window_start" in d.columns),
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    q.awaitTermination(120)
    raw = read_published_epochs(spark, raw_dir)
    agg = read_published_epochs(spark, agg_dir)
    assert raw.count() == 1000  # K3 passthrough, all events published
    batch = tumbling_rollup(raw, "ts", "1 minute", ["user_id", "event_type"])
    assert agg.count() == batch.count()
    assert agg.agg(F.sum("count_readings")).head()[0] == 1000


def test_update_mode_emits_changed_windows(spark):
    """Update output mode: each micro-batch emits only windows whose
    aggregate CHANGED (Flink-style early firing) — the third output-mode
    semantics alongside append (tested above) and complete (parity
    queries)."""
    import uuid

    src = tempfile.mkdtemp(prefix="upd_src_")
    name = f"upd_{uuid.uuid4().hex[:8]}"
    schema = "ts timestamp, k string, value double"
    base = datetime(2024, 4, 1, 12, 0, 0)
    stream = spark.readStream.schema(schema).parquet(src)
    agg = streaming_rollup(stream, "ts", "1 minute", "5 seconds", ["k"])
    q = (
        agg.writeStream.format("memory")
        .queryName(name)
        .outputMode("update")
        .option("checkpointLocation", tempfile.mkdtemp(prefix="upd_ckpt_"))
        .start()
    )
    try:
        spark.createDataFrame(
            [(base, "m1", 2.0)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        after_b1 = len(spark.table(name).collect())
        # same window updated -> re-emitted with the new aggregate
        spark.createDataFrame(
            [(base + timedelta(seconds=10), "m1", 4.0)], schema
        ).coalesce(1).write.mode("append").parquet(src)
        q.processAllAvailable()
        rows = spark.table(name).collect()
    finally:
        q.stop()
    assert after_b1 == 1
    assert len(rows) == 2  # the window appears twice: v1 then updated v2
    latest = max(rows, key=lambda r: r["count_readings"])
    assert latest["count_readings"] == 2 and latest["avg_value"] == 3.0


def test_idempotent_batch_writer_retry_safe(spark, tmp_path):
    """T4: re-running a micro-batch (simulated retry after a failure
    between write and checkpoint commit) leaves no duplicates."""
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import idempotent_batch_writer

    sink = str(tmp_path / "sink")
    write = idempotent_batch_writer(sink)
    batch = spark.range(100).withColumnRenamed("id", "v")
    write(batch, 0)
    write(batch, 0)  # retry of the SAME batch id
    write(batch.withColumn("v", F.col("v") + 100), 1)
    out = spark.read.parquet(f"{sink}/batch_id=*")
    assert out.count() == 200  # 100 per distinct batch, retry absorbed


def test_incremental_dedup_stream_writer(spark, tmp_path):
    """Streaming history-aware dedup: micro-batches append only clean
    docs to history, duplicates of PRIOR batches route to the dups sink
    with match + tier, within-batch exact copies collapse to the lowest
    id, and a retried batch (crash between write and checkpoint commit)
    reproduces its original output instead of matching the copy it wrote
    on the failed attempt."""
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    hist = str(tmp_path / "hist")
    dups = str(tmp_path / "dups")
    write = incremental_dedup_stream_writer(hist, dups)
    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x0 x1"

    write(spark.createDataFrame(
        [(1, base), (2, " ".join(f"u{i}" for i in range(40)))], schema), 0)
    assert {r["doc_id"] for r in spark.read.parquet(hist).collect()} == {1, 2}

    b1 = spark.createDataFrame(
        [(10, base), (11, near), (12, " ".join(f"v{i}" for i in range(40)))],
        schema,
    )
    write(b1, 1)
    hist_ids = {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert hist_ids == {1, 2, 12}
    flagged = {
        r["doc_id"]: (r["matched_doc"], r["tier"])
        for r in spark.read.parquet(dups).collect()
    }
    assert flagged == {10: (1, "exact"), 11: (1, "near")}

    # Retry of batch 1: identical history and dups — the rerun must not
    # see batch 1's own partition as "history".
    write(b1, 1)
    assert {r["doc_id"] for r in spark.read.parquet(hist).collect()} == {1, 2, 12}
    assert {
        r["doc_id"]: (r["matched_doc"], r["tier"])
        for r in spark.read.parquet(dups).collect()
    } == {10: (1, "exact"), 11: (1, "near")}

    # Within-batch exact copies collapse (lowest id survives) AND the
    # collapsed copy is routed to the dups sink as tier='exact-intra'
    # with matched_doc = the survivor (ADVICE r6: previously dropped
    # unrecorded, under-reporting the dups table).
    t = " ".join(f"z{i}" for i in range(40))
    write(spark.createDataFrame([(20, t), (21, t)], schema), 2)
    assert {r["doc_id"] for r in spark.read.parquet(hist).collect()} == {1, 2, 12, 20}
    assert {
        r["doc_id"]: (r["matched_doc"], r["tier"])
        for r in spark.read.parquet(dups).collect()
    } == {10: (1, "exact"), 11: (1, "near"), 21: (20, "exact-intra")}
    # Retry of batch 2 reproduces the same dups rows exactly once.
    write(spark.createDataFrame([(20, t), (21, t)], schema), 2)
    assert {
        r["doc_id"]
        for r in spark.read.parquet(dups).collect()
        if r["tier"] == "exact-intra"
    } == {21}

    # Review finding r7: when the batch's surviving copy is ITSELF
    # flagged against history, the collapsed copies redirect to the
    # history match — matched_doc never dangles on a non-survivor.
    # ADVICE r7: the redirected row carries the SURVIVOR's tier/jaccard
    # (the dup is text-identical to the survivor, so its relationship to
    # the final matched_doc is exactly the survivor's).
    write(spark.createDataFrame([(30, base), (31, base)], schema), 3)
    hist_ids = {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert 30 not in hist_ids and 31 not in hist_ids  # both are dups of 1
    b3 = {
        r["doc_id"]: (r["matched_doc"], r["tier"], r["jaccard"])
        for r in spark.read.parquet(f"{dups}/batch_id=3").collect()
    }
    assert b3[30] == (1, "exact", 1.0)
    assert b3[31] == (1, "exact", 1.0)  # redirected past removed doc 30

    # NEAR-tier survivor: the redirected copy must NOT claim jaccard=1.0
    # against the history doc it only nearly matches.
    write(spark.createDataFrame([(35, near), (36, near)], schema), 5)
    b5 = {
        r["doc_id"]: (r["matched_doc"], r["tier"])
        for r in spark.read.parquet(f"{dups}/batch_id=5").collect()
    }
    assert b5[35] == (1, "near")
    assert b5[36] == (1, "near")  # survivor's tier carried through
    jac5 = {
        r["doc_id"]: r["jaccard"]
        for r in spark.read.parquet(f"{dups}/batch_id=5").collect()
    }
    assert jac5[36] == jac5[35] < 1.0

    # Review finding r7: NULL-text docs can't match anything — they pass
    # through to history instead of vanishing unrecorded.
    write(spark.createDataFrame([(40, None)], schema), 4)
    assert 40 in {r["doc_id"] for r in spark.read.parquet(hist).collect()}
    assert spark.read.parquet(f"{dups}/batch_id=4").count() == 0


def test_incremental_dedup_stream_survives_crashed_partial(spark, tmp_path):
    """A crash can leave a footer-less partial parquet file in the
    batch's own partition dir; the retry must neither crash on schema
    inference nor scan it — the own dir is excluded driver-side and then
    overwritten."""
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    hist = str(tmp_path / "hist")
    write = incremental_dedup_stream_writer(hist, str(tmp_path / "dups"))
    schema = "doc_id long, text string"
    write(spark.createDataFrame(
        [(1, " ".join(f"a{i}" for i in range(40)))], schema), 0)
    crashed = tmp_path / "hist" / "batch_id=1"
    crashed.mkdir()
    (crashed / "part-00000.parquet").write_bytes(b"PAR1 truncated garbage")
    write(spark.createDataFrame(
        [(2, " ".join(f"b{i}" for i in range(40)))], schema), 1)
    assert {r["doc_id"] for r in spark.read.parquet(hist).collect()} == {1, 2}


def test_stream_static_enrich_parity_and_broadcast(spark):
    """NEW r7: stream-static dimension enrichment.  (1) The streaming
    run (availableNow, complete mode) equals the batch twin exactly —
    the parity property that makes the DuckDB oracle valid.  (2) The
    join is a broadcast hash join: the fact/stream side must never
    shuffle for the enrichment — the only shape that survives a
    100 TB/day stream."""
    from iiot_data_engineering_lab_assignment_spark.operators.aggregates import ROLLUP_AGGS
    from iiot_data_engineering_lab_assignment_spark.sources.readers import load_table
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        run_events_stream_enriched_rollup,
        streaming_enrich_dim,
    )

    sf_dir = "/root/testdata/sf0.001"
    got = run_events_stream_enriched_rollup(spark, sf_dir)

    ev = load_table(spark, sf_dir, "events")
    customer = load_table(spark, sf_dir, "customer")
    nation = load_table(spark, sf_dir, "nation")
    dim = customer.join(
        F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"]
    ).select(
        F.col("c_custkey").alias("user_id"),
        F.col("c_mktsegment").alias("segment"),
        F.col("n_name").alias("nation"),
    )
    enriched = streaming_enrich_dim(ev, dim, "user_id")  # batch DF: same code path
    w = F.window("ts", "1 minute")
    want = (
        enriched.groupBy(w.alias("window"), "segment", "nation", "event_type")
        .agg(*ROLLUP_AGGS("value"))
        .select(
            F.col("window.start").alias("window_start"),
            F.col("window.end").alias("window_end"),
            "segment",
            "nation",
            "event_type",
            "avg_value",
            "min_value",
            "max_value",
            "count_readings",
        )
    )
    key = ["window_start", "segment", "nation", "event_type"]
    assert sorted(map(tuple, got.collect()), key=lambda r: tuple(map(str, r))) == sorted(
        map(tuple, want.collect()), key=lambda r: tuple(map(str, r))
    )
    # Plan shape: broadcast hash join, and no Exchange between the events
    # scan and the join (the stream side must not shuffle to be enriched).
    plan = enriched._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # The fact (stream) leg prints between the outer join node and the dim
    # side's BroadcastExchange: the events scan must be in it, with no
    # Exchange of its own.
    fact_leg = plan.split("BroadcastHashJoin", 1)[1].split("BroadcastExchange", 1)[0]
    assert "events.parquet" in fact_leg
    assert "Exchange" not in fact_leg


def test_dim_refresh_enrich_writer_picks_up_dim_change(spark, tmp_path):
    """NEW r7: slowly-changing dimension enrichment — the foreachBatch
    writer re-reads the dim per micro-batch, so a dim overwrite between
    batches is reflected in the next batch's output without restarting
    the query (streaming_enrich_dim's complement for non-static dims)."""
    import uuid

    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        dim_refresh_enrich_writer,
    )

    src = tmp_path / "src"
    src.mkdir()
    dim_path = str(tmp_path / "dim")
    out_dir = str(tmp_path / "out")
    schema = "k long, v double"
    spark.createDataFrame([(1, "alpha")], "k long, site string").write.parquet(dim_path)

    stream = spark.readStream.schema(schema).parquet(str(src))
    write = dim_refresh_enrich_writer(dim_path, out_dir, "k")
    q = (
        stream.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .queryName(f"dimref_{uuid.uuid4().hex[:8]}")
        .start()
    )
    try:
        spark.createDataFrame([(1, 10.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
        # dim refresh between batches
        spark.createDataFrame([(1, "beta")], "k long, site string").write.mode(
            "overwrite"
        ).parquet(dim_path)
        spark.createDataFrame([(1, 20.0)], schema).coalesce(1).write.mode(
            "append"
        ).parquet(str(src))
        q.processAllAvailable()
    finally:
        q.stop()
    rows = {r["v"]: r["site"] for r in spark.read.parquet(out_dir).collect()}
    assert rows == {10.0: "alpha", 20.0: "beta"}


def test_incremental_dedup_stream_store_mode_equivalent(spark, tmp_path):
    """r7: signature-store mode — the writer maintains per-batch
    fingerprint/posting/bucket partitions and dedups against the STORE
    (historical text never re-hashed).  Same micro-batch sequence
    through both modes must produce identical history and dups tables,
    and a store-mode retry must be idempotent (own store partition
    excluded, like history)."""
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x0 x1"
    batches = [
        [(1, base), (2, " ".join(f"u{i}" for i in range(40)))],
        [(10, base), (11, near), (12, " ".join(f"v{i}" for i in range(40)))],
        [(20, base), (21, base)],  # intra pair whose survivor is a dup of 1
    ]
    results = {}
    for mode in ("text", "store"):
        hist = str(tmp_path / f"hist_{mode}")
        dups = str(tmp_path / f"dups_{mode}")
        kw = {"store_dir": str(tmp_path / "store")} if mode == "store" else {}
        write = incremental_dedup_stream_writer(hist, dups, **kw)
        for b, rows in enumerate(batches):
            write(spark.createDataFrame(rows, schema), b)
        if mode == "store":  # retry the last batch: must be a no-op
            write(spark.createDataFrame(batches[-1], schema), len(batches) - 1)
        results[mode] = (
            {r["doc_id"] for r in spark.read.parquet(hist).collect()},
            {
                (r["doc_id"], r["matched_doc"], r["tier"])
                for r in spark.read.parquet(dups).collect()
            },
        )
    assert results["text"] == results["store"]
    hist_ids, dup_rows = results["store"]
    assert hist_ids == {1, 2, 12}
    assert dup_rows == {
        (10, 1, "exact"),
        (11, 1, "near"),
        (20, 1, "exact"),
        (21, 1, "exact"),  # redirected copy carries survivor's tier (ADVICE r7)
    }
    import os

    for sub in ("fingerprints", "postings", "buckets"):
        parts = sorted(os.listdir(tmp_path / "store" / sub))
        assert parts == ["batch_id=0", "batch_id=1", "batch_id=2"]
    # every completed batch is stamped (ADVICE r7 crash-safety marker)
    assert sorted(os.listdir(tmp_path / "store" / "_complete")) == [
        "batch_id=0",
        "batch_id=1",
        "batch_id=2",
    ]


def test_incremental_dedup_store_heals_unstamped_batch(spark, tmp_path):
    """ADVICE r7: store-mode writes history then the three store
    partitions non-atomically.  A crash after the history write but
    before the store writes leaves an unstamped batch whose docs would
    silently never match future duplicates for DIRECT callers (no
    Structured Streaming retry).  The next invocation must detect the
    missing ``_complete`` stamp and rebuild that batch's store
    partitions from its history partition."""
    import shutil

    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    store = tmp_path / "store"
    write = incremental_dedup_stream_writer(
        str(tmp_path / "hist"), str(tmp_path / "dups"), store_dir=str(store)
    )
    write(spark.createDataFrame([(1, base)], schema), 0)
    # simulate the crash: history partition for batch 0 exists, but the
    # store partitions and stamp are gone
    for sub in ("fingerprints", "postings", "buckets"):
        shutil.rmtree(store / sub / "batch_id=0")
    (store / "_complete" / "batch_id=0").unlink()
    # next batch must heal the store first, then still flag the dup of 1
    write(spark.createDataFrame([(10, base)], schema), 1)
    dup_rows = {
        (r["doc_id"], r["matched_doc"], r["tier"])
        for r in spark.read.parquet(str(tmp_path / "dups")).collect()
    }
    assert dup_rows == {(10, 1, "exact")}
    import os

    assert sorted(os.listdir(store / "_complete")) == ["batch_id=0", "batch_id=1"]
    for sub in ("fingerprints", "postings", "buckets"):
        assert (store / sub / "batch_id=0").is_dir()  # rebuilt from history


def test_incremental_dedup_bucketed_store_mode(spark, tmp_path):
    """r8: bucketed-store mode — the writer maintains the signature store
    as batch_id-partitioned BUCKETED catalog tables and dedups against
    them.  Must produce the same history/dups as text mode, retry
    idempotently (insertInto dynamic overwrite replaces only the own
    partition), keep the store side exchange-free in the exact-tier
    join, and heal an unstamped batch like the parquet store."""
    import os
    import uuid as _uuid

    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    near = " ".join(f"w{i}" for i in range(38)) + " x0 x1"
    batches = [
        [(1, base), (2, " ".join(f"u{i}" for i in range(40)))],
        [(10, base), (11, near), (12, " ".join(f"v{i}" for i in range(40)))],
        [(20, base), (21, base)],
    ]
    prefix = f"bstore_{_uuid.uuid4().hex[:8]}"
    results = {}
    for mode in ("text", "bucketed"):
        hist = str(tmp_path / f"hist_{mode}")
        dups = str(tmp_path / f"dups_{mode}")
        kw = (
            {"bucketed_store_prefix": prefix, "store_buckets": 4}
            if mode == "bucketed"
            else {}
        )
        write = incremental_dedup_stream_writer(hist, dups, **kw)
        for b, rows in enumerate(batches):
            write(spark.createDataFrame(rows, schema), b)
        if mode == "bucketed":  # retry the last batch: must be a no-op
            write(spark.createDataFrame(batches[-1], schema), len(batches) - 1)
        results[mode] = (
            {r["doc_id"] for r in spark.read.parquet(hist).collect()},
            {
                (r["doc_id"], r["matched_doc"], r["tier"])
                for r in spark.read.parquet(dups).collect()
            },
        )
    assert results["text"] == results["bucketed"]
    assert results["bucketed"][0] == {1, 2, 12}
    # the catalog store holds exactly one partition per batch, bucketed
    fp_table = f"{prefix}_fp"
    parts = {
        r["batch_id"] for r in spark.table(fp_table).select("batch_id").collect()
    }
    # batch 2's docs were ALL dups -> clean set empty -> no partition
    assert parts == {0, 1}
    # store side joins pre-clustered: a join against the store reads the
    # bucketed layout with NO store-side exchange (bucketed scans only
    # activate when a join can exploit them)
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = spark.createDataFrame([("00",)], "fp string").join(
            spark.table(fp_table).drop("batch_id"), "fp"
        )
        plan = probe._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    assert "Bucketed: true" in plan
    # heal: drop batch 1's store partition + stamp, next write rebuilds it
    hist_dir = tmp_path / "hist_bucketed"
    (hist_dir / "_store_complete" / "batch_id=1").unlink()
    spark.sql(f"ALTER TABLE {fp_table} DROP PARTITION (batch_id=1)")
    write = incremental_dedup_stream_writer(
        str(hist_dir), str(tmp_path / "dups_bucketed"),
        bucketed_store_prefix=prefix, store_buckets=4,
    )
    write(
        spark.createDataFrame(
            [(30, " ".join(f"v{i}" for i in range(40)))], schema  # dup of 12
        ),
        3,
    )
    d3 = {
        (r["doc_id"], r["matched_doc"], r["tier"])
        for r in spark.read.parquet(
            str(tmp_path / "dups_bucketed") + "/batch_id=3"
        ).collect()
    }
    assert d3 == {(30, 12, "exact")}  # only findable if batch 1 was healed
    assert sorted(os.listdir(hist_dir / "_store_complete")) == [
        "batch_id=0", "batch_id=1", "batch_id=2", "batch_id=3",
    ]
    for part in ("fp", "post", "buck"):
        spark.sql(f"DROP TABLE IF EXISTS {prefix}_{part}")


def test_bucketed_store_survives_session_restart_metadata_loss(spark, tmp_path):
    """Review r8: the bucketed store lives in the in-memory catalog (dies
    with the session) while the _store_complete stamps live on disk.  A
    new session must NOT silently skip history dedup (tableExists=false
    + stamps-say-complete): the writer clears the stale stamps, removes
    the orphaned warehouse dirs, and the heal rebuilds the store from
    the history partitions — the duplicate is still caught."""
    import shutil
    import uuid as _uuid

    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    prefix = f"rstore_{_uuid.uuid4().hex[:8]}"
    hist, dups = str(tmp_path / "hist"), str(tmp_path / "dups")
    write = incremental_dedup_stream_writer(
        hist, dups, bucketed_store_prefix=prefix, store_buckets=4
    )
    write(spark.createDataFrame([(1, base)], schema), 0)
    # simulate the restart: catalog metadata gone, warehouse dirs AND
    # stamps survive (DROP TABLE would delete the managed dir, so move
    # the dirs aside, drop, and move them back)
    wh = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    import os

    for part in ("fp", "post", "buck"):
        t = f"{prefix}_{part}"
        if os.path.isdir(os.path.join(wh, t)):
            shutil.move(os.path.join(wh, t), os.path.join(wh, t + "_aside"))
        spark.sql(f"DROP TABLE IF EXISTS {t}")
        shutil.move(os.path.join(wh, t + "_aside"), os.path.join(wh, t))
    assert not spark.catalog.tableExists(f"{prefix}_fp")
    assert (tmp_path / "hist" / "_store_complete" / "batch_id=0").exists()
    # "new session": a fresh writer must rebuild and still catch the dup
    write2 = incremental_dedup_stream_writer(
        hist, dups, bucketed_store_prefix=prefix, store_buckets=4
    )
    write2(spark.createDataFrame([(10, base)], schema), 1)
    dup_rows = {
        (r["doc_id"], r["matched_doc"], r["tier"])
        for r in spark.read.parquet(dups).collect()
    }
    assert dup_rows == {(10, 1, "exact")}


def test_bucketed_store_prefix_reuse_across_streams_raises(spark, tmp_path):
    """Review r8: a writer pointed at a FRESH history_dir but an existing
    store prefix would silently dedup against another stream's
    signatures (matched_doc ids absent from its own history).  It must
    raise instead."""
    import uuid as _uuid

    import pytest as _pytest

    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    prefix = f"shared_{_uuid.uuid4().hex[:8]}"
    write_a = incremental_dedup_stream_writer(
        str(tmp_path / "hist_a"), str(tmp_path / "dups_a"),
        bucketed_store_prefix=prefix, store_buckets=4,
    )
    write_a(spark.createDataFrame([(1, base)], schema), 0)
    write_b = incremental_dedup_stream_writer(
        str(tmp_path / "hist_b"), str(tmp_path / "dups_b"),
        bucketed_store_prefix=prefix, store_buckets=4,
    )
    with _pytest.raises(ValueError, match="shared with another stream"):
        write_b(spark.createDataFrame([(99, base)], schema), 0)


def test_legacy_prestamp_store_is_stamped_not_rebuilt(spark, tmp_path):
    """Review r8: a store_dir maintained by the pre-stamp r7 code has no
    _complete/ markers at all; the first post-upgrade batch must STAMP
    the existing completed partitions (all three sub-dirs present with
    _SUCCESS) instead of re-reading and re-hashing the entire history
    inside one batch."""
    import os
    import shutil

    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        incremental_dedup_stream_writer,
    )

    schema = "doc_id long, text string"
    base = " ".join(f"w{i}" for i in range(40))
    store = tmp_path / "store"
    hist, dups = str(tmp_path / "hist"), str(tmp_path / "dups")
    write = incremental_dedup_stream_writer(hist, dups, store_dir=str(store))
    write(spark.createDataFrame([(1, base)], schema), 0)
    other = " ".join(f"z{i}" for i in range(40))
    write(spark.createDataFrame([(2, other)], schema), 1)
    # simulate the pre-stamp legacy layout: stamps gone, data intact
    shutil.rmtree(store / "_complete")
    mtimes = {
        sub: os.path.getmtime(store / sub / "batch_id=0" / "_SUCCESS")
        for sub in ("fingerprints", "postings", "buckets")
    }
    write(spark.createDataFrame([(10, base)], schema), 2)
    # stamps migrated for both legacy batches, data NOT rewritten
    assert sorted(os.listdir(store / "_complete")) == [
        "batch_id=0", "batch_id=1", "batch_id=2",
    ]
    for sub, mt in mtimes.items():
        assert os.path.getmtime(store / sub / "batch_id=0" / "_SUCCESS") == mt
    dup_rows = {
        (r["doc_id"], r["matched_doc"], r["tier"])
        for r in spark.read.parquet(dups).collect()
    }
    assert dup_rows == {(10, 1, "exact")}


def _ivfpq_upsert_into_fresh_store(spark, tmp_path):
    from iiot_data_engineering_lab_assignment_spark.operators.similarity import (
        build_ivfpq_store,
    )
    from iiot_data_engineering_lab_assignment_spark.sources.readers import load_table

    emb = load_table(spark, SF_DIR, "embeddings")
    cut = emb.count() // 2
    base = str(tmp_path / "base")
    build_ivfpq_store(emb.filter(F.col("vec_id") < cut), base, n_cells=8, m=4)
    jobs.run_stream_ivfpq_upsert(spark, SF_DIR, base, cut, n_cells=8, m=4, n_files=3)


@pytest.mark.parametrize(
    "entry",
    [
        lambda spark, tmp_path: jobs.run_events_stream_rollup(spark, SF_DIR),
        lambda spark, tmp_path: jobs.run_events_stream_enriched_rollup(spark, SF_DIR),
        lambda spark, tmp_path: jobs.run_stream_countmin(
            spark, SF_DIR, str(tmp_path / "store")
        ),
        lambda spark, tmp_path: jobs.run_stream_kmv_store(
            spark, SF_DIR, str(tmp_path / "store")
        ),
        _ivfpq_upsert_into_fresh_store,
    ],
    ids=["rollup", "enriched_rollup", "countmin", "kmv_store", "ivfpq_upsert"],
)
def test_replay_timeout_raises_stops_and_restores_conf(
    spark, tmp_path, monkeypatch, entry
):
    """A replay whose bounded wait runs out must raise, not hand back a
    partial result: the query is stopped and the caller's shuffle
    partition count is restored."""
    from pyspark.sql.streaming.query import StreamingQuery

    assert spark.streams.active == []
    monkeypatch.setattr(
        StreamingQuery, "awaitTermination", lambda self, timeout=None: False
    )
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "3")
    try:
        with pytest.raises(TimeoutError):
            entry(spark, tmp_path)
        assert spark.streams.active == []
        assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    finally:
        for q in spark.streams.active:
            q.stop()
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_jobs_start_every_query_in_one_place():
    """streaming/jobs.py starts queries in exactly two places — the
    bounded runner ``_run_query`` and ``fan_out_two_sinks``, which
    returns its running query — and never waits without a bound."""
    import ast
    import inspect

    starts, unbounded = [], []
    for top in ast.parse(inspect.getsource(jobs)).body:
        for node in ast.walk(top):
            if not (
                isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
            ):
                continue
            where = getattr(top, "name", "<module>")
            no_args = not (node.args or node.keywords)
            if node.func.attr == "start" and no_args:
                starts.append(where)
            if node.func.attr == "awaitTermination" and no_args:
                unbounded.append(where)
    assert sorted(starts) == ["_run_query", "fan_out_two_sinks"]
    assert unbounded == []
