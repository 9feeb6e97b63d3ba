"""Tests of the benchmark itself: every workload runs end to end at the
shortest length and prints every metric BENCHMARK.json names, and a
corrupted engine output is caught by the output checks.

    python3 -m pytest perfbench -q

Each Spark-backed test is one benchmark process (about 30-60 s).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]

#: Per-layer metrics each workload must move off zero in a traced run.
EXERCISED = {
    "query_mix": ["registry.build_ms", "operators.windows_ms", "operators.dedup_ms",
                  "streaming.jobs_ms", "plan.optimization_ms", "exec.jobs", "exec.tasks",
                  "exec.executor_run_ms", "curation.lsh_keep_best_ms",
                  "curation.token_budget_shards_rows", "peak_rss_mb"],
    "iiot_pipeline": ["stream.batches", "stream.add_batch_ms", "stream.state_rows",
                      "stream_replay_rows_per_s", "etl_rows_per_s",
                      "orchestrator.run_spark_job_ms", "orchestrator.attempts_per_step",
                      "lifecycle.wap_publish_ms", "lifecycle.publish_epoch_ms",
                      "lifecycle.compact_ms", "lifecycle.files_written",
                      "quality.dq_audit_ms", "exec.shuffle_write_bytes"],
}


def _bench(workload: str, trace: int, prelude: str = "", cwd: str = ROOT):
    """One benchmark process, 1 s long; ``prelude`` runs before main()."""
    code = (
        f"import sys; sys.path.insert(0, {HERE!r})\n{prelude}\n"
        "import run\n"
        f"raise SystemExit(run.main(['--workload', {workload!r}, '--seed', '5',"
        f" '--seconds', '1', '--trace', '{trace}']))\n"
    )
    p = subprocess.run([sys.executable, "-c", code], cwd=cwd, capture_output=True,
                       text=True, timeout=600)
    assert p.returncode == 0, p.stderr[-4000:]
    lines = p.stdout.strip().splitlines()
    return json.loads(lines[-1]), json.loads(lines[-2])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_is_correct_and_prints_every_end_to_end_metric(workload):
    result, record = _bench(workload, 0)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0, record["checks"]
    assert result["attempted"] >= 1
    assert list(result["metrics"]) == [m["name"] for m in SPEC["end_to_end"]]
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0, m["name"]
    for key in ("seed", "master", "default_parallelism", "cpus_requested", "pyspark",
                "java", "loadavg_start", "loadavg_end", "fixture_fingerprint"):
        assert key in record["info"], key


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_prints_every_per_layer_metric(workload):
    result, record = _bench(workload, 1)
    assert result["correct"], record["checks"]
    assert list(result["metrics"]) == [m["name"] for m in SPEC["per_layer"]]
    for name in EXERCISED[workload]:
        assert result["metrics"][name]["value"] > 0, name
    assert set(record["unavailable"]).isdisjoint(EXERCISED[workload])
    assert record["self_ms"] and "tracing_overhead" in record
    if workload == "iiot_pipeline":
        assert result["metrics"]["stream.rows_dropped_by_watermark"]["value"] == 0
        assert record["tracing_overhead"].get("basis") in (None, "engine_bound_wall_s")
    else:
        # unpinned stages are timed inside the fingerprint_dedup segment
        assert {"curation.span_removal_ms", "curation.quality_gate_ms"} <= set(record["unavailable"])
        assert result["metrics"]["curation.quality_gate_rows"]["value"] > 0


def test_dropped_rollup_row_is_caught():
    prelude = (
        "import workloads\n"
        "_orig = workloads.RollupSink.__call__\n"
        "def _drop_one(self, df, batch_id):\n"
        "    _orig(self, df, batch_id)\n"
        "    if batch_id == 0:\n"
        "        self.rows.pop(next(iter(self.rows)))\n"
        "workloads.RollupSink.__call__ = _drop_one\n"
    )
    result, record = _bench("iiot_pipeline", 0, prelude)
    assert not result["correct"] and result["failed"] >= 1
    failed = {c["name"] for c in record["checks"] if not c["ok"]}
    assert failed == {"rollup_equals_batch_tumbling_rollup"}


def test_wrong_query_output_is_caught():
    prelude = (
        f"sys.path.insert(0, {ROOT!r})\n"
        "from iiot_data_engineering_lab_assignment_spark import registry\n"
        "_spec = registry.QUERIES['q1_pricing_summary']\n"
        "registry.QUERIES['q1_pricing_summary'] = type(_spec)(\n"
        "    lambda spark, d: _spec.fn(spark, d).limit(5), _spec.oracle)\n"
    )
    result, record = _bench("query_mix", 0, prelude)
    assert not result["correct"]
    failed = {c["name"] for c in record["checks"] if not c["ok"]}
    assert failed == {"oracle:q1_pricing_summary"}


def test_without_the_engine_it_fails_without_a_result(tmp_path):
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_self_time_excludes_children():
    import harness

    t = harness.Tracer(True, "r")
    t.spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "b", "parent": 0, "start": 3.0, "end": 6.0},
        {"id": 3, "name": "c", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert t.self_times_ms() == {"a": 5000.0, "b": 5000.0, "c": 1000.0}
