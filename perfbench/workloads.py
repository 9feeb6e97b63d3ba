"""The benchmark's two workloads.  Each one drives the engine only
through its public functions and times the calls into them from here.

* ``query_mix``: one closed-loop client re-running the 19 headline
  registry rows in a seed-shuffled order.  The planning path in the
  Spark JVM (py4j DataFrame construction, Catalyst, job scheduling)
  dominates; reads only.  Its traced run adds one stage-hooked
  ``curation_e2e`` call (outside the measured passes) for the per-stage
  curation layers.
* ``iiot_pipeline``: the reference IIoT pipeline: (a) an ``availableNow``
  replay of a staged backlog through a raw WAP sink and a watermarked
  1-minute rollup, (b) an open-loop live phase fed by a generator thread,
  (c) the nightly ETL, ``ETL_RUNS`` times (WAP flow, date-partitioned
  rollup, incremental refresh, retention, compaction, DQ audit).  The
  only workload that runs
  ``streaming.*`` and the lake writes of ``plans.*``.

Each workload sets up three times and reports the median as ``setup_s``,
runs one warm-up that also checks outputs, then measures: ``query_mix``
whole passes over the rows until ``--seconds`` have passed (at least
``MIN_PASSES``), ``iiot_pipeline`` one pipeline run whose live phase lasts
``--seconds`` minus ``REPLAY_ETL_S``.  Output checks run outside the
timed region.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import threading
import time
import traceback
from contextlib import contextmanager
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.compute  # noqa: F401 - pa.compute
import pyarrow.parquet as pq

import fixtures
from harness import (
    Run,
    catalyst_phases_ms,
    fixture_fingerprint,
    start_session,
    stream_progress_totals,
    value_hash,
)

#: Fixture scale of ``query_mix``: 60,000 lineitem rows, 10,000 events,
#: 500 documents.  At scale 0.1 one run on a 4-core box took 116 s
#: (70 s warm-up, 24 s per pass), too long for the 48 runs of a benchmark
#: check to fit its time budget.
SCALE = 0.01
SETUP_REPEATS = 3
#: Measured passes of ``query_mix`` at the least.  A row's latency is its
#: best over the passes.  Every pass Janino-compiles ~250 fresh classes,
#: and on a 4-core box the JIT compiler threads burn 12-27 CPU-s a pass
#: compiling them and Spark's own code; with the shared host's speed
#: drifting as well, one pass after the warm-up measured mostly those
#: (10 runs spread 0.22-0.26 of their median), and the best of two 0.17.
MIN_PASSES = 3

#: bench.py's 19 headline rows, each with the operator module it exercises.
HEADLINE = {
    "sensor_rollup_1m": "operators.windows",
    "sliding_rollup_1m_30s": "operators.windows",
    "session_rollup_5m": "operators.windows",
    "q1_pricing_summary": "operators.aggregates",
    "customer_order_revenue": "operators.joins",
    "order_lineitem_join_agg": "operators.joins",
    "rank_orders_per_customer": "operators.windows",
    "dedup_exact_fingerprint": "operators.dedup",
    "minhash_lsh_pairs": "operators.dedup",
    "cosine_topk": "operators.similarity",
    "cosine_dup_pairs_blocked": "operators.similarity",
    "asof_join_purchase_click": "operators.joins",
    "tfidf_top_terms": "operators.text",
    "text_stats_per_doc": "operators.text",
    "stream_tumbling_1m": "streaming.jobs",
    "stream_session_5m": "streaming.jobs",
    "gapfill_locf_daily": "operators.windows",
    "zscore_anomalies": "operators.aggregates",
    "q18_large_volume_customers": "operators.aggregates",
}
QUERY_LAYERS = sorted(set(HEADLINE.values()))


def _setup(run: Run, prepare):
    """Start a session and make the inputs ``SETUP_REPEATS`` times (the
    first start also launches the JVM); ``setup_s`` is the median."""
    times, spark, state = [], None, None
    for i in range(SETUP_REPEATS):
        if spark is not None:
            spark.stop()
        inputs = os.path.join(run.scratch, f"inputs{i}")
        t0 = time.perf_counter()
        with run.tracer.span("setup"):
            spark = start_session(run.scratch, run.trace)
            state = prepare(spark, inputs)
        times.append(time.perf_counter() - t0)
        if i:
            shutil.rmtree(os.path.join(run.scratch, f"inputs{i - 1}"))
    run.metrics["setup_s"] = float(np.median(times))
    run.info["setup_s_each"] = [round(t, 4) for t in times]
    return spark, state


def _shuffled(names: list[str], seed: int, k: int) -> list[str]:
    rng = np.random.default_rng([seed, k])
    return [names[i] for i in rng.permutation(len(names))]


def _duck(inputs: str):
    import duckdb

    con = duckdb.connect()
    for t in fixtures.TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}.parquet'")
    return con


def _oracle_check(run: Run, name: str, con, sql: str, cols: list[str], rows: list[tuple]):
    """Spark's collected output against the DuckDB oracle: same column
    set and the same order-insensitive value hash."""
    res = con.sql(sql)
    want_cols = [c.lower() for c in res.columns]
    want, got = value_hash(want_cols, res.fetchall()), value_hash(cols, rows)
    run.check(
        f"oracle:{name}",
        got == want and sorted(c.lower() for c in cols) == sorted(want_cols),
        f"spark {got} oracle {want} ({len(rows)} rows)",
    )


def _latency_metrics(run: Run, lat_ms: list[float]) -> None:
    """p50 and p90 of every latency sample, as per-layer figures: over a
    run's few dozen samples they move too much from run to run to bound."""
    run.samples["latency"] = len(lat_ms)
    if lat_ms:
        p50, p90 = np.percentile(lat_ms, [50, 90])
        run.layers["latency_p50_ms"], run.layers["latency_p90_ms"] = float(p50), float(p90)


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def query_mix(run: Run):
    from iiot_data_engineering_lab_assignment_spark import registry
    from iiot_data_engineering_lab_assignment_spark.sources.readers import load_table

    def prepare(spark, inputs):
        fixtures.write_tables(inputs, run.seed, SCALE)
        for t in fixtures.TABLES:
            load_table(spark, inputs, t)
        return inputs

    spark, inputs = _setup(run, prepare)
    run.info["fixture_fingerprint"] = fixture_fingerprint(inputs)
    names = list(HEADLINE)

    # Warm-up pass: every row once, its collected output hashed against
    # its DuckDB oracle over the same files.
    con = _duck(inputs)
    t_warm, oracle_s = time.perf_counter(), 0.0
    with run.tracer.span("warmup"):
        for name in _shuffled(names, run.seed, 0):
            spec = registry.QUERIES[name]
            try:
                df = spec.fn(spark, inputs)
                cols, rows = df.columns, [tuple(r) for r in df.collect()]
            except Exception:  # noqa: BLE001 - a failing row is a counted failure
                run.check(f"oracle:{name}", False, traceback.format_exc())
                continue
            t_o = time.perf_counter()
            _oracle_check(run, name, con, spec.oracle, cols, rows)
            oracle_s += time.perf_counter() - t_o
    con.close()
    run.info["warmup_s"] = time.perf_counter() - t_warm
    run.info["warmup_oracle_s"] = oracle_s

    lat_ms: list[float] = []
    per_query: dict[str, list[tuple[float, float]]] = {n: [] for n in names}
    build_ms = 0.0
    exec_ms = dict.fromkeys(QUERY_LAYERS, 0.0)
    phases = {"analysis": 0.0, "optimization": 0.0, "planning": 0.0}
    passes, pass_s, pass_lat = 0, [], []
    t_start = time.time()
    with run.tracer.span("measure"):
        while True:
            t_pass = time.perf_counter()
            pass_lat.append({})
            with run.tracer.span("query_mix.pass"):
                for name in _shuffled(names, run.seed, passes + 1):
                    layer = HEADLINE[name]
                    t0 = time.perf_counter()
                    try:
                        with run.tracer.span("registry.build", query=name):
                            df = registry.QUERIES[name].fn(spark, inputs)
                        t1 = time.perf_counter()
                        if run.trace:
                            with run.tracer.span("plan", query=name):
                                for k, v in catalyst_phases_ms(df).items():
                                    phases[k] += v
                        t2 = time.perf_counter()
                        with run.tracer.span(layer, query=name):
                            df.write.format("noop").mode("overwrite").save()
                        t3 = time.perf_counter()
                    except Exception:  # noqa: BLE001
                        run.op(False)
                        run.info.setdefault("errors", []).append(traceback.format_exc()[-2000:])
                        continue
                    run.op(True)
                    build_ms += (t1 - t0) * 1000
                    exec_ms[layer] += (t3 - t2) * 1000
                    lat_ms.append(((t1 - t0) + (t3 - t2)) * 1000)
                    per_query[name].append(((t1 - t0) * 1000, (t3 - t2) * 1000))
                    pass_lat[-1][name] = round(((t1 - t0) + (t3 - t2)) * 1000, 2)
            passes += 1
            pass_s.append(time.perf_counter() - t_pass)
            if passes >= MIN_PASSES and time.time() - t_start >= run.seconds:
                break
    t_end = time.time()
    run.window = (t_start, t_end)
    run.info["per_query_build_exec_ms"] = {
        n: [round(float(np.median([b for b, _ in v])), 2),
            round(float(np.median([e for _, e in v])), 2)]
        for n, v in per_query.items() if v
    }
    run.info["pass_s"] = [round(x, 3) for x in pass_s]
    run.info["pass_latency_ms"] = pass_lat
    run.info["unit"] = f"pass of the {len(names)} rows"
    run.info["units"] = passes
    run.info["unit_wall_s"] = (t_end - t_start) / passes
    _latency_metrics(run, lat_ms)
    # Each row's best warm latency over the passes, averaged over the rows
    # (bench.py also times a row by its warm best-of-N).  One closed-loop
    # client has one query in flight, so its throughput is the reciprocal
    # of that mean.
    best = {n: min(b + e for b, e in v) for n, v in per_query.items() if v}
    run.info["best_latency_ms"] = {n: round(v, 2) for n, v in best.items()}
    if len(best) == len(names):
        run.metrics["latency_mean_ms"] = float(np.mean(list(best.values())))
        run.metrics["throughput_per_s"] = 1000.0 * len(best) / sum(best.values())
    run.info["throughput_unit"] = "queries/s of one closed-loop client at its best latencies"
    run.layers["registry.build_ms"] = build_ms / passes
    run.layers.update({f"{k}_ms": v / passes for k, v in exec_ms.items()})
    if run.trace:
        run.layers.update({f"plan.{k}_ms": v / passes for k, v in phases.items()})
        _curation_stages(run, spark, inputs)
    return spark


#: The stages curation_e2e's default hook pins with localCheckpoint
#: (operators/dedup.py); the tracing hook pins the same three so the
#: traced plan is the production plan.
PINNED_STAGES = ("fingerprint_dedup", "lsh_keep_best", "leakage_safe_split")
CURATION_LAST_STAGE = "token_budget_shards"


def _curation_stages(run: Run, spark, inputs: str) -> None:
    """Traced run only, after the measured passes: one ``curation_e2e``
    call whose stage hook counts the output at each boundary it times,
    giving that segment's wall time (from the previous timed boundary) and
    its output rows.  Its output is checked against the
    ``curation_e2e_composed`` oracle.

    The hook pins only the production plan's boundaries and counts only
    at them (and at the last stage).  Counting span_removal or
    quality_gate, which are not pinned, would make the next count run
    them again, so their time is inside ``curation.fingerprint_dedup_ms``,
    the segment up to the first pinned boundary; their row counts are
    taken after the timed call."""
    from iiot_data_engineering_lab_assignment_spark import registry
    from iiot_data_engineering_lab_assignment_spark.operators.dedup import curation_e2e
    from iiot_data_engineering_lab_assignment_spark.sources.readers import load_table

    last, skipped = [time.time()], {}

    def hook(name, df):
        if name not in PINNED_STAGES and name != CURATION_LAST_STAGE:
            skipped[name] = df
            return df
        if name in PINNED_STAGES:
            df = df.localCheckpoint(eager=False)
        n = df.count()
        now = time.time()
        run.tracer.add(f"curation.{name}", last[0], now, covers=list(skipped))
        run.layers[f"curation.{name}_ms"] = (now - last[0]) * 1000
        run.layers[f"curation.{name}_rows"] = n
        last[0] = now
        return df

    with run.tracer.span("curation.stages"):
        df = curation_e2e(load_table(spark, inputs, "documents"), stage_hook=hook)
        rows = [tuple(r) for r in df.collect()]
    for name, sdf in skipped.items():
        run.layers[f"curation.{name}_rows"] = sdf.count()
        run.unavailable[f"curation.{name}_ms"] = (
            "not a pinned boundary of the production plan; its time is inside "
            "curation.fingerprint_dedup_ms, the segment up to the first pinned boundary"
        )
    con = _duck(inputs)
    _oracle_check(run, "curation_e2e_composed", con,
                  registry.QUERIES["curation_e2e_composed"].oracle, df.columns, rows)
    con.close()


# ---------------------------------------------------------------------------
# iiot_pipeline
# ---------------------------------------------------------------------------

STREAM_END = datetime(2024, 3, 1, tzinfo=timezone.utc)
#: 1 s ticks x 16 (machine, sensor) readings: 1,600 readings per file.
FILE_TICKS = 100
READINGS_PER_TICK = 16
REPLAY_FILES = 24
REPLAY_FILES_PER_BATCH = 8
#: Open-loop arrival rate of the live phase, files per second.
LIVE_RATE = 4.0
#: About what the replay and the nightly ETL take together on a 4-core
#: box; the live phase lasts ``--seconds`` minus this (at least 1 s), so
#: a run measures about ``--seconds`` plus the last live batches' drain.
REPLAY_ETL_S = 6.0
#: Nightly ETL runs in the measured region, each into a fresh lake; the
#: fastest counts.  On a 4-core box the first run, which pays the JIT's
#: compiles of the ETL's code paths, took 5.0-7.0 s and the second
#: 2.8-4.2 s; a single run swung 4.4-7.3 s over ten runs.
ETL_RUNS = 2
#: Processing-time trigger of both live queries, seconds.  Spark fires it
#: at multiples of the interval since the epoch, so the two queries'
#: batches always start together, and the live schedule starts on that
#: grid too.  With free-running triggers their relative phase was random
#: per run: one seed's mean latency read 0.92 s in one run and 1.41 s in
#: another.  With a schedule started at a random point of the interval,
#: the wait for the next firing made the mean over 24 files spread
#: 0.12-0.13 of its median over ten runs.
LIVE_TRIGGER_S = 2
#: Readings from a file's last LATE_TICKS ticks that arrive one file late;
#: they trail the newest event time by under 5 s, the rollup's watermark.
LATE_TICKS = 3
LATE_SHARE = 0.25
ETL_END = datetime(2024, 1, 8, tzinfo=timezone.utc)
ETL_DAYS = 7
ETL_STEP_S = 60
RETENTION_NOW = "2024-01-09"
RETENTION_KEEP_DAYS = 3
GROUP = ["machine_id", "sensor_type"]
READING_SCHEMA = "event_time TIMESTAMP, machine_id STRING, sensor_type STRING, value DOUBLE"


def _split_files(rows: pa.Table, n_files: int, seed: int) -> list[pa.Table]:
    """Cut the time-sorted readings into files of FILE_TICKS ticks and
    delay a seeded share of each file's last LATE_TICKS ticks into the
    next file (out of order, but inside the watermark)."""
    per = FILE_TICKS * READINGS_PER_TICK
    late = LATE_TICKS * READINGS_PER_TICK
    rng = np.random.default_rng([seed, 1])
    out, carry = [], None
    for i in range(n_files):
        t = rows.slice(i * per, per)
        if i < n_files - 1:
            move = np.zeros(per, dtype=bool)
            move[per - late:] = rng.random(late) < LATE_SHARE
            keep_t, moved = t.filter(pa.array(~move)), t.filter(pa.array(move))
        else:
            keep_t, moved = t, None
        out.append(keep_t if carry is None else pa.concat_tables([keep_t, carry]))
        carry = moved
    return out


class RollupSink:
    """foreachBatch sink of the update-mode rollup: keeps the latest
    emitted row per (window, machine, sensor)."""

    def __init__(self):
        self.rows: dict[tuple, tuple] = {}
        self.columns: list[str] = []

    def __call__(self, df, batch_id):
        self.columns = df.columns
        for r in df.collect():
            self.rows[(r["window_start"], r["machine_id"], r["sensor_type"])] = tuple(r)


def _source_log(checkpoint: str) -> dict[str, int]:
    """File name -> log offset, from the file source's metadata log."""
    out = {}
    logdir = os.path.join(checkpoint, "sources", "0")
    for name in os.listdir(logdir):
        if name.startswith("."):
            continue
        with open(os.path.join(logdir, name)) as f:
            for line in f:
                if line.startswith("{"):
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = e["batchId"]
    return out


def _progress(q) -> list[dict]:
    return [json.loads(p.json) for p in q.recentProgress]


def _executed_batches(progress: list[dict]) -> list[tuple[int, int, float, float]]:
    """(first log offset, last log offset, start, end) of every executed
    batch that read files; times are epoch seconds."""
    out = []
    for p in progress:
        src = p["sources"][0]
        if "addBatch" not in p["durationMs"] or not src.get("endOffset"):
            continue
        first = (src.get("startOffset") or {"logOffset": -1})["logOffset"] + 1
        start = datetime.fromisoformat(p["timestamp"]).timestamp()
        end = start + p["durationMs"]["triggerExecution"] / 1000.0
        out.append((first, src["endOffset"]["logOffset"], start, end))
    return out


def _new_files(root: str, seen: set) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            p = os.path.join(d, f)
            if p not in seen and not f.startswith((".", "_")):
                seen.add(p)
                n += 1
                size += os.path.getsize(p)
    return n, size


@contextmanager
def _traced_calls(run: Run, targets):
    """In a traced run, wrap module functions so each call is a span."""
    if not run.trace:
        yield
        return
    saved = []
    for mod, attr, name in targets:
        fn = getattr(mod, attr)

        def wrapper(*a, _fn=fn, _name=name, **k):
            with run.tracer.span(_name):
                return _fn(*a, **k)

        setattr(mod, attr, wrapper)
        saved.append((mod, attr, fn))
    try:
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)


def _nightly_etl(run: Run, spark, st: dict, etl_root: str) -> dict:
    """Phase (c): the WAP nightly flow over the raw table, its 1-minute
    rollup written date-partitioned, an incremental refresh with one new
    day, retention, compaction and a DQ audit, each step timed."""
    from iiot_data_engineering_lab_assignment_spark.operators.windows import tumbling_rollup
    from iiot_data_engineering_lab_assignment_spark.plans import lifecycle, orchestrator
    from iiot_data_engineering_lab_assignment_spark.plans.quality import (
        in_range,
        in_set,
        not_null,
        row_rule_counts,
    )
    from iiot_data_engineering_lab_assignment_spark.sources.generator import SENSOR_ROWS

    wap_dir, rollup_dir = os.path.join(etl_root, "raw"), os.path.join(etl_root, "rollup")
    flow = orchestrator.NightlyFlow(max_retries=1)
    out = {"flow": flow, "steps": {}, "files_written": 0, "bytes_written": 0}
    seen: set = set()

    @contextmanager
    def step(name: str, span: str):
        with run.tracer.span(span):
            s0 = time.perf_counter()
            yield
            out["steps"][name] = time.perf_counter() - s0
        n, b = _new_files(etl_root, seen)
        out["files_written"] += n
        out["bytes_written"] += b

    with step("flow", "orchestrator.flow"):
        out["flow_ok"] = orchestrator.run_nightly_etl_wap(
            spark, spark.read.parquet(st["etl"]), wap_dir, ts_col="event_time", flow=flow
        )
    published = lifecycle.read_published(spark, wap_dir)
    with step("rollup_write", "lifecycle.rollup_write"):
        lifecycle.write_partitioned_by_date(
            tumbling_rollup(published, "event_time", "1 minute", GROUP), rollup_dir, "window_start"
        )
    with step("rollup_refresh", "lifecycle.rollup_refresh"):
        lifecycle.incremental_rollup_refresh(
            spark, rollup_dir, spark.read.parquet(st["new_day"]), "event_time", "1 minute", GROUP
        )
    with step("retention", "lifecycle.retention"):
        lifecycle.apply_retention(
            spark, rollup_dir, "window_start", RETENTION_KEEP_DAYS, now=RETENTION_NOW
        )
    with step("compact", "lifecycle.compact"):
        lifecycle.compact(spark, rollup_dir)
    rules = [
        not_null("machine_id"),
        in_set("sensor_type", [s[0] for s in SENSOR_ROWS]),
        in_range("value", -1e5, 1e5),
    ]
    with step("dq_audit", "quality.dq_audit"):
        out["violations"] = {
            r["rule"]: r["violations"] for r in row_rule_counts(published, rules).collect()
        }
    return out


def iiot_pipeline(run: Run):
    from pyspark.errors import StreamingQueryException

    from iiot_data_engineering_lab_assignment_spark.operators.windows import tumbling_rollup
    from iiot_data_engineering_lab_assignment_spark.plans import lifecycle
    from iiot_data_engineering_lab_assignment_spark.sources.generator import generate_backfill
    from iiot_data_engineering_lab_assignment_spark.streaming.jobs import (
        streaming_rollup,
        wap_batch_writer,
    )

    # one priming file plus the scheduled ones
    n_live = 1 + max(1, math.ceil(LIVE_RATE * max(1.0, run.seconds - REPLAY_ETL_S)))
    n_files = REPLAY_FILES + n_live

    def prepare(spark, inputs):
        land = os.path.join(inputs, "land")
        os.makedirs(land)
        rows = generate_backfill(
            spark, end=STREAM_END, days=n_files * FILE_TICKS / 86400, step_seconds=1, seed=run.seed
        ).toArrow()
        rows = rows.sort_by([("event_time", "ascending"), ("machine_id", "ascending"),
                             ("sensor_type", "ascending")])
        files = _split_files(rows, n_files, run.seed)
        base = time.time() - 10 * REPLAY_FILES
        for i, t in enumerate(files[:REPLAY_FILES]):
            p = os.path.join(land, f"f{i:05d}.parquet")
            pq.write_table(t, p)
            os.utime(p, (base + 5 * i, base + 5 * i))  # replay order = file order
        # Eight days of minute ticks: the first seven are the nightly
        # source, the eighth is the day the incremental refresh adds.
        etl = generate_backfill(spark, end=ETL_END + timedelta(days=1), days=ETL_DAYS + 1,
                                step_seconds=ETL_STEP_S, seed=run.seed).toArrow()
        first_new = pa.scalar(ETL_END, pa.timestamp("us", tz="UTC"))
        is_new = pa.compute.greater_equal(etl["event_time"], first_new)
        for name, part in (("etl_source", etl.filter(pa.compute.invert(is_new))),
                           ("etl_new_day", etl.filter(is_new))):
            os.makedirs(os.path.join(inputs, name))
            pq.write_table(part, os.path.join(inputs, name, "part-0.parquet"))
        return {"land": land, "live": files[REPLAY_FILES:], "stream_rows": rows.num_rows,
                "etl_rows": etl.num_rows, "etl": os.path.join(inputs, "etl_source"),
                "new_day": os.path.join(inputs, "etl_new_day"), "inputs": inputs}

    spark, st = _setup(run, prepare)
    run.info["fixture_fingerprint"] = fixture_fingerprint(st["land"])
    work = os.path.join(run.scratch, "lake")
    raw_dir, ck_raw, ck_roll = (os.path.join(work, x) for x in ("raw", "ck_raw", "ck_roll"))
    sink = RollupSink()

    def start(trigger_now: bool, land: str, raw: str, ck: tuple[str, str], rollup_sink):
        """The raw WAP sink and the update-mode rollup, two queries on
        one landing dir: ``availableNow`` in batches of
        REPLAY_FILES_PER_BATCH files, or else the live trigger."""
        src = spark.readStream.schema(READING_SCHEMA)
        if trigger_now:
            src = src.option("maxFilesPerTrigger", REPLAY_FILES_PER_BATCH)
        src = src.parquet(land)
        raw_q = src.writeStream.foreachBatch(wap_batch_writer(raw)).option(
            "checkpointLocation", ck[0]
        )
        roll_q = (
            streaming_rollup(src, time_col="event_time", group_cols=GROUP)
            .writeStream.outputMode("update")
            .foreachBatch(rollup_sink)
            .option("checkpointLocation", ck[1])
        )
        trigger = ({"availableNow": True} if trigger_now
                   else {"processingTime": f"{LIVE_TRIGGER_S} seconds"})
        return raw_q.trigger(**trigger).start(), roll_q.trigger(**trigger).start()

    # Warm-up, outside the timed phases: the expected final rollup is a
    # batch tumbling_rollup over every generated reading, and one backlog
    # batch replays through both queries into throwaway sinks.
    all_files = os.path.join(st["inputs"], "all")
    warm = os.path.join(work, "warm")
    os.makedirs(all_files)
    t_warm = time.perf_counter()
    with run.tracer.span("warmup"):
        for i, t in enumerate(st["live"]):
            pq.write_table(t, os.path.join(all_files, f"live{i:05d}.parquet"))
        every = spark.read.schema(READING_SCHEMA).parquet(st["land"], all_files)
        expected = tumbling_rollup(every, "event_time", "1 minute", GROUP)
        exp_cols, exp_rows = expected.columns, [tuple(r) for r in expected.collect()]
        os.makedirs(os.path.join(warm, "land"))
        for i in range(REPLAY_FILES_PER_BATCH):
            name = f"f{i:05d}.parquet"
            shutil.copy(os.path.join(st["land"], name), os.path.join(warm, "land", name))
        for q in start(True, os.path.join(warm, "land"), os.path.join(warm, "raw"),
                       (os.path.join(warm, "ck_raw"), os.path.join(warm, "ck_roll")),
                       RollupSink()):
            q.awaitTermination()
    run.info["warmup_s"] = time.perf_counter() - t_warm

    def drain(queries, wait):
        """Wait for each query; a failed one is counted by ``finish``."""
        for q in queries:
            try:
                wait(q)
            except StreamingQueryException:
                pass

    def finish(queries, progress):
        for q in queries:
            progress.extend(_progress(q))
            exc = q.exception()
            run.op(exc is None)
            if exc is not None:
                run.info.setdefault("errors", []).append(str(exc)[-2000:])

    progress: list[dict] = []
    t_start = time.time()
    with run.tracer.span("measure"), _traced_calls(
        run, [(lifecycle, "publish_epoch", "lifecycle.publish_epoch"),
              (lifecycle, "write_audit_publish", "lifecycle.wap_publish")]
    ):
        # (a) replay of the staged backlog
        with run.tracer.span("iiot.replay") as sid:
            run.tracer.adopt = sid
            t0 = time.perf_counter()
            queries = start(True, st["land"], raw_dir, (ck_raw, ck_roll), sink)
            drain(queries, lambda q: q.awaitTermination())
            replay_s = time.perf_counter() - t0
        finish(queries, progress)
        replay_rows = st["stream_rows"] - sum(t.num_rows for t in st["live"])

        # (b) live: file 0 primes the restarted queries (their first batch
        # reloads the rollup state and plans afresh, 0.5-1.5 s) and is not
        # timed.  Then the generator lands file i at a seeded random point
        # of its own 1/LIVE_RATE slot, a schedule that does not slow when
        # the engine slows; the jitter keeps arrivals from locking in phase
        # with the batch cadence.
        due, landed = [0.0] * n_live, [0.0] * n_live
        jitter = np.random.default_rng([run.seed, 2]).random(n_live)

        def land(i):
            tmp = os.path.join(st["land"], f".live{i:05d}.tmp")
            pq.write_table(st["live"][i], tmp)
            os.replace(tmp, os.path.join(st["land"], f"live{i:05d}.parquet"))
            landed[i] = time.time()

        def generator(t0):
            for i in range(1, n_live):
                due[i] = t0 + (i - 1 + jitter[i]) / LIVE_RATE
                pause = due[i] - time.time()
                if pause > 0:
                    time.sleep(pause)
                land(i)

        with run.tracer.span("iiot.live") as sid:
            run.tracer.adopt = sid
            queries = start(False, st["land"], raw_dir, (ck_raw, ck_roll), sink)
            land(0)
            drain(queries, lambda q: q.processAllAvailable())
            t0 = math.ceil(time.time() / LIVE_TRIGGER_S) * LIVE_TRIGGER_S
            gen = threading.Thread(target=generator, args=(t0,), daemon=True)
            gen.start()
            gen.join()
            drain(queries, lambda q: q.processAllAvailable())
            for q in queries:
                q.stop()
        live_progress = _progress(queries[1])
        finish(queries, progress)
        run.tracer.adopt = None

        # (c) nightly ETL
        etls = []
        for k in range(ETL_RUNS):
            with run.tracer.span("iiot.etl"):
                t0 = time.perf_counter()
                etl = _nightly_etl(run, spark, st, os.path.join(work, f"etl{k}"))
                etls.append((time.perf_counter() - t0, etl))
    t_end = time.time()
    etl_s, etl = min(etls, key=lambda e: e[0])
    etl_rows = st["etl_rows"]

    # --- checks, outside the timed phases -----------------------------------
    got_rows = list(sink.rows.values())
    run.check(
        "rollup_equals_batch_tumbling_rollup",
        value_hash(sink.columns, got_rows) == value_hash(exp_cols, exp_rows),
        f"stream {len(got_rows)} rows, batch {len(exp_rows)} rows",
    )
    raw_count = lifecycle.read_published_epochs(spark, raw_dir).count()
    run.check("raw_sink_rows_equal_generated", raw_count == st["stream_rows"],
              f"raw sink {raw_count}, generated {st['stream_rows']}")
    for _, e in etls:
        for r in e["flow"].results:
            run.check(f"flow:{r.name}", r.ok and r.attempts == 1,
                      f"attempts={r.attempts} {r.detail}")
        run.check("nightly_flow_verified", e["flow_ok"], "run_nightly_etl_wap returned False")
        run.check("dq_audit_clean", sum(e["violations"].values()) == 0,
                  json.dumps(e["violations"]))
    flow = etl["flow"]
    totals = stream_progress_totals(progress)
    run.check("no_rows_dropped_by_watermark", totals["stream.rows_dropped_by_watermark"] == 0,
              str(totals["stream.rows_dropped_by_watermark"]))

    # --- live latency: due time -> end of the batch that emitted the
    # file's rollup rows
    offset_of = _source_log(ck_roll)
    batches = _executed_batches(live_progress)
    lat_ms, missing, backlog = [], [], 0
    batch_start = {}
    for i in range(1, n_live):
        off = offset_of.get(f"live{i:05d}.parquet")
        hit = [b for b in batches if off is not None and b[0] <= off <= b[1]]
        if not hit:
            missing.append(i)
            continue
        batch_start[i] = hit[0][2]
        lat_ms.append((hit[0][3] - due[i]) * 1000)
    run.check("every_live_file_emitted", not missing, f"live files in no batch: {missing}")
    for _, _, b_start, _ in batches:
        # files landed before this batch started that it or a later one read
        waiting = sum(1 for i, s in batch_start.items() if landed[i] <= b_start <= s)
        backlog = max(backlog, waiting)

    run.window = (t_start, t_end)
    run.info.update(
        live_batch_ms=[round((end - begin) * 1000) for _, _, begin, end in batches],
        live_latency_ms=[round(x) for x in lat_ms],
        unit="pipeline run (replay + live + nightly ETL)",
        units=1,
        unit_wall_s=t_end - t_start,
        throughput_unit="rows/s over the replay and the fastest ETL run",
        replay_rows=replay_rows,
        live_files=n_live,
        etl_rows=etl_rows,
        replay_s=replay_s,
        etl_s=etl_s,
        etl_s_each=[round(t, 4) for t, _ in etls],
        # the live phase lasts a fixed time whatever the engine does
        engine_bound_wall_s=replay_s + sum(t for t, _ in etls),
        etl_steps_s={k: round(v, 4) for k, v in etl["steps"].items()},
    )
    _latency_metrics(run, lat_ms)
    if lat_ms:
        run.metrics["latency_mean_ms"] = float(np.mean(lat_ms))
    run.metrics["throughput_per_s"] = (replay_rows + etl_rows) / (replay_s + etl_s)
    run.layers.update(totals)
    run.layers["stream.backlog_files_max"] = backlog
    run.layers["stream.generator_lag_ms"] = max(
        (l - d) * 1000 for l, d in zip(landed[1:], due[1:])
    )
    run.layers["stream_replay_rows_per_s"] = replay_rows / replay_s
    run.layers["etl_rows_per_s"] = etl_rows / etl_s
    by_step = {r.name: r for r in flow.results}
    for name in ("check_source", "check_lake", "run_spark_job", "verify_counts"):
        r = by_step.get(name)
        run.layers[f"orchestrator.{name}_ms"] = r.elapsed_s * 1000 if r else 0.0
    attempts = sum(r.attempts for r in flow.results)
    run.layers["orchestrator.attempts_per_step"] = (
        sum(r.ok for r in flow.results) / attempts if attempts else 0.0
    )
    for name in ("rollup_refresh", "retention", "compact"):
        run.layers[f"lifecycle.{name}_ms"] = etl["steps"][name] * 1000
    run.layers["lifecycle.files_written"] = etl["files_written"]
    run.layers["lifecycle.bytes_written"] = etl["bytes_written"]
    run.layers["quality.dq_audit_ms"] = etl["steps"]["dq_audit"] * 1000
    if run.trace:
        run.layers["lifecycle.wap_publish_ms"] = (
            run.tracer.total_ms("lifecycle.wap_publish") / ETL_RUNS
        )
        run.layers["lifecycle.publish_epoch_ms"] = run.tracer.total_ms("lifecycle.publish_epoch")
    return spark


WORKLOADS = {"query_mix": query_mix, "iiot_pipeline": iiot_pipeline}
