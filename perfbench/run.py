"""Benchmark of the engine, driven through its public functions.

Run from the root of a checkout:

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 10 --trace 0

``--trace 0`` measures the end-to-end metrics of BENCHMARK.json;
``--trace 1`` is the separate traced run that reports the per-layer
metrics.  The run prints its full record (run context, sample counts,
check results, every metric, and in a traced run the per-layer self
times and tracing overhead) as one JSON line, then, as the last line,
``{"correct", "attempted", "failed", "metrics"}`` with the metrics the
mode names in BENCHMARK.json.

Inputs are generated from ``--seed`` (default 1; seed 1009 is held out
for checking a later claim on a seed it was not tuned on) inside
``.perfbench/`` at the checkout root.  Scratch files and the Spark event
log live there too and are removed at exit.  Records and span traces
stay in ``.perfbench/records/``, so a traced run can report its overhead
against the untraced run of the same workload, seed and length.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _confine(scratch: str, cpus: int) -> None:
    """Keep every temporary file of Python, the JVMs and Spark inside
    the checkout, and size the engine's defaults for local[cpus]."""
    os.environ["TMPDIR"] = scratch
    tempfile.tempdir = scratch
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(scratch, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={scratch}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)


def _stop_jvm(spark) -> None:
    """Stop Spark, then the py4j gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    gw.shutdown()
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = SparkContext._jvm = None


def _overhead(records: str, run) -> dict:
    """Traced wall per unit of work minus the untraced run's, read from
    the untraced record of the same workload, seed and length.  Only the
    part of a unit whose length depends on the engine counts
    (``engine_bound_wall_s`` where a workload sets it)."""
    path = os.path.join(records, f"{run.workload}-seed{run.seed}-s{run.seconds:g}-trace0.json")
    if not os.path.exists(path):
        return {"unavailable": "no untraced record of this workload, seed and length"}
    key = "engine_bound_wall_s" if "engine_bound_wall_s" in run.info else "unit_wall_s"
    with open(path) as f:
        base = json.load(f)["info"][key]
    traced = run.info[key]
    return {"basis": key, "traced_s": traced, "untraced_s": base,
            "overhead_s": traced - base, "overhead_pct": 100.0 * (traced - base) / base}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    # The engine comes from the checkout this file sits in.  Where there
    # is none, this import fails and the run exits non-zero, no result.
    sys.path.insert(0, ROOT)
    import iiot_data_engineering_lab_assignment_spark  # noqa: F401

    sys.path.insert(0, HERE)
    import harness
    import workloads

    if args.workload not in workloads.WORKLOADS:
        ap.error(f"unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
    work = os.path.join(ROOT, ".perfbench")
    records = os.path.join(work, "records")
    os.makedirs(records, exist_ok=True)
    scratch = tempfile.mkdtemp(prefix="run-", dir=work)
    _confine(scratch, harness.CPUS)
    run_id = f"{args.workload}-{args.seed}-{int(time.time() * 1000)}"
    run = harness.Run(
        workload=args.workload,
        seed=args.seed,
        seconds=args.seconds,
        trace=bool(args.trace),
        scratch=scratch,
        tracer=harness.Tracer(bool(args.trace), run_id),
    )
    run.info["loadavg_start"] = harness.loadavg()
    spark = None
    try:
        with run.tracer.span("run"):
            spark = workloads.WORKLOADS[args.workload](run)
        run.info.update(harness.run_context(spark, args.seed))
        run.layers["peak_rss_mb"] = harness.peak_rss_mb(spark)
        _stop_jvm(spark)
        spark = None
        if run.trace:
            run.layers.update(
                harness.parse_event_log(os.path.join(scratch, "eventlog"), *run.window)
            )
            units = run.info["units"] or 1
            for k in harness.EXEC_KEYS:
                run.layers[k] /= units
    finally:
        if spark is not None:
            _stop_jvm(spark)
        shutil.rmtree(scratch, ignore_errors=True)
    run.info["loadavg_end"] = harness.loadavg()
    run.layers["ops_failed_ratio"] = run.failed / max(1, run.attempted)

    names = [m["name"] for m in spec["per_layer" if run.trace else "end_to_end"]]
    units = {m["name"]: m["unit"] for m in spec["per_layer"] + spec["end_to_end"]}
    source = run.layers if run.trace else run.metrics
    for n in names:
        if n not in source:
            source[n] = 0.0
            run.unavailable.setdefault(n, f"not exercised by {run.workload}")
    record = {
        "run_id": run_id,
        "workload": run.workload,
        "trace": run.trace,
        "seconds": run.seconds,
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": run.metrics,
        "layers": run.layers,
        "unavailable": run.unavailable,
        "samples": run.samples,
        "checks": run.checks,
        "info": run.info,
    }
    if run.trace:
        record["self_ms"] = run.tracer.self_times_ms()
        record["tracing_overhead"] = _overhead(records, run)
    stem = f"{run.workload}-seed{run.seed}-s{run.seconds:g}-trace{int(run.trace)}"
    with open(os.path.join(records, stem + ".json"), "w") as f:
        json.dump(record, f, indent=1, default=str)
    if run.trace:
        with open(os.path.join(records, stem + ".spans.json"), "w") as f:
            json.dump(run.tracer.spans, f, default=str)
    print(json.dumps(record, default=str))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {n: {"value": float(source[n]), "unit": units[n]} for n in names},
    }
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
