"""Measurement plumbing shared by the workloads: spans, the run record,
the Spark session the benchmark owns, and the readers that turn Spark's
own accounting (event log, streaming progress, Catalyst phase tracker)
into per-layer counters."""

from __future__ import annotations

import glob
import hashlib
import json
import math
import os
import resource
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

#: One client process on a 4-core box: local[4].
CPUS = 4


class Tracer:
    """In-memory spans: (id, name, start, end, parent, run).  Disabled, it
    records nothing and ``span`` costs one context-manager entry.

    Each thread keeps its own stack of open spans.  A span opened on a
    thread with an empty stack (a streaming ``foreachBatch`` callback)
    hangs under ``adopt``, the phase span the main thread has open, so
    the phase's self time excludes the work done on callback threads."""

    def __init__(self, enabled: bool, run_id: str):
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self.adopt: int | None = None
        self._local = threading.local()
        self._lock = threading.Lock()

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        stack = self._local.__dict__.setdefault("stack", [])
        parent = stack[-1] if stack else self.adopt
        with self._lock:
            sid = len(self.spans)
            self.spans.append(
                {"id": sid, "name": name, "parent": parent, "run": self.run_id,
                 "start": time.time(), "end": None, **attrs}
            )
        stack.append(sid)
        try:
            yield sid
        finally:
            stack.pop()
            self.spans[sid]["end"] = time.time()

    def add(self, name: str, start: float, end: float, **attrs) -> None:
        """Record an already-finished interval (a stage whose boundaries
        are only seen from a callback) under the calling thread's span."""
        if not self.enabled:
            return
        stack = self._local.__dict__.get("stack") or []
        parent = stack[-1] if stack else self.adopt
        with self._lock:
            self.spans.append(
                {"id": len(self.spans), "name": name, "parent": parent,
                 "run": self.run_id, "start": start, "end": end, **attrs}
            )

    def self_times_ms(self) -> dict[str, float]:
        """Per span name: summed duration minus the part of each span's
        interval that its children cover."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None and s["end"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            if s["end"] is None:
                continue
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s["id"], []), key=lambda c: c["start"]):
                lo, hi = max(c["start"], s["start"]), min(c["end"], s["end"])
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            own = (s["end"] - s["start"] - covered) * 1000.0
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return {k: round(v, 3) for k, v in sorted(out.items())}

    def total_ms(self, name: str) -> float:
        return sum(
            (s["end"] - s["start"]) * 1000.0
            for s in self.spans
            if s["name"] == name and s["end"] is not None
        )


@dataclass
class Run:
    """Everything one benchmark invocation measures and checks."""

    workload: str
    seed: int
    seconds: float
    trace: bool
    scratch: str
    tracer: Tracer
    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    unavailable: dict[str, str] = field(default_factory=dict)
    samples: dict[str, int] = field(default_factory=dict)
    checks: list[dict] = field(default_factory=list)
    info: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    window: tuple[float, float] | None = None  # measured region, epoch s

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        """Record one correctness check; a failed one counts as a failed op."""
        self.op(ok)
        self.checks.append({"name": name, "ok": bool(ok), "detail": detail[:500]})

    def op(self, ok: bool) -> None:
        self.attempted += 1
        self.failed += 0 if ok else 1


# ---------------------------------------------------------------------------
# Session
# ---------------------------------------------------------------------------


def start_session(scratch: str, trace: bool):
    """The engine's own session (``session.get_spark``) on local[4] with a
    2 GiB JVM heap and every streaming progress update kept; a traced
    run also writes an uncompressed, non-rolling event log to scratch."""
    from iiot_data_engineering_lab_assignment_spark.session import get_spark

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.memory": "2g",
        "spark.sql.streaming.numRecentProgressUpdates": "10000",
    }
    if trace:
        logdir = os.path.join(scratch, "eventlog")
        os.makedirs(logdir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + logdir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    return get_spark("perfbench", master=f"local[{CPUS}]", extra_conf=conf)


def run_context(spark, seed: int) -> dict:
    import pyspark

    sc = spark.sparkContext
    return {
        "seed": seed,
        "master": sc.master,
        "default_parallelism": sc.defaultParallelism,
        "cpus_requested": CPUS,
        "pyspark": pyspark.__version__,
        "java": spark._jvm.System.getProperty("java.version"),
    }


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(x) for x in f.read().split()[:3]]


def peak_rss_mb(spark) -> float:
    """Peak resident set of the Spark JVM plus this Python process."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    pid = spark._jvm.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024.0


# ---------------------------------------------------------------------------
# Statistics and output hashing
# ---------------------------------------------------------------------------


def norm_cell(v) -> str:
    """Cell normalisation of the repo's oracle gate (tools/check_oracles.py)."""
    if v is None:
        return "NULL"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return f"{v:.6f}" if abs(v) < 1e15 else repr(v)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return str(v)


def frame_signature(cols, rows) -> list[str]:
    """Order-insensitive frame signature, as in tools/check_oracles.py:
    columns in name order, rows sorted."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(",".join(norm_cell(r[i]) for i in order) for r in rows)


def value_hash(cols, rows) -> str:
    h = hashlib.sha256()
    for line in frame_signature([c.lower() for c in cols], rows):
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:16]


def fixture_fingerprint(sf_dir: str) -> str:
    """Fingerprint of a generated input directory, computed exactly as
    bench.py's ``_fixture_fingerprint``: name, size and trailing 64 KiB
    of every parquet file."""
    h = hashlib.sha256()
    for p in sorted(glob.glob(os.path.join(sf_dir, "*.parquet"))):
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


# ---------------------------------------------------------------------------
# Spark's own accounting
# ---------------------------------------------------------------------------


def catalyst_phases_ms(df) -> dict[str, float]:
    """Force the DataFrame's physical plan and read the Catalyst phase
    tracker: analysis, optimization and planning wall ms."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


EXEC_KEYS = (
    "exec.jobs",
    "exec.stages",
    "exec.tasks",
    "exec.shuffle_read_bytes",
    "exec.shuffle_write_bytes",
    "exec.spill_bytes",
    "exec.gc_ms",
    "exec.executor_cpu_ms",
    "exec.executor_run_ms",
)


def parse_event_log(logdir: str, lo: float, hi: float) -> dict[str, float]:
    """Job, stage and task totals from the uncompressed event log(s),
    counting only what started inside [lo, hi] (epoch seconds)."""
    lo_ms, hi_ms = lo * 1000.0, hi * 1000.0
    tot = dict.fromkeys(EXEC_KEYS, 0.0)
    for path in glob.glob(os.path.join(logdir, "*")):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if lo_ms <= ev.get("Submission Time", 0) <= hi_ms:
                        tot["exec.jobs"] += 1
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    if lo_ms <= info.get("Submission Time", 0) <= hi_ms:
                        tot["exec.stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    if not lo_ms <= ev["Task Info"]["Launch Time"] <= hi_ms:
                        continue
                    m = ev.get("Task Metrics") or {}
                    rd = m.get("Shuffle Read Metrics", {})
                    wr = m.get("Shuffle Write Metrics", {})
                    tot["exec.tasks"] += 1
                    tot["exec.shuffle_read_bytes"] += rd.get("Remote Bytes Read", 0) + rd.get(
                        "Local Bytes Read", 0
                    )
                    tot["exec.shuffle_write_bytes"] += wr.get("Shuffle Bytes Written", 0)
                    tot["exec.spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
                    tot["exec.gc_ms"] += m.get("JVM GC Time", 0)
                    tot["exec.executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    tot["exec.executor_run_ms"] += m.get("Executor Run Time", 0)
    return tot


STREAM_DURATIONS = {
    "stream.trigger_ms": "triggerExecution",
    "stream.add_batch_ms": "addBatch",
    "stream.get_batch_ms": "getBatch",
    "stream.query_planning_ms": "queryPlanning",
    "stream.wal_commit_ms": "walCommit",
    "stream.commit_offsets_ms": "commitOffsets",
    "stream.latest_offset_ms": "latestOffset",
}


def stream_progress_totals(progresses: list[dict]) -> dict[str, float]:
    """Per-batch time split and state counters summed over the given
    ``recentProgress`` entries (parsed JSON); state size is the maximum."""
    tot = dict.fromkeys(STREAM_DURATIONS, 0.0)
    tot.update(
        {
            "stream.batches": 0.0,
            "stream.state_rows": 0.0,
            "stream.state_memory_bytes": 0.0,
            "stream.state_commit_ms": 0.0,
            "stream.rows_dropped_by_watermark": 0.0,
        }
    )
    for p in progresses:
        if "addBatch" not in p.get("durationMs", {}):
            continue  # an idle poll, not an executed batch
        tot["stream.batches"] += 1
        for key, src in STREAM_DURATIONS.items():
            tot[key] += p["durationMs"].get(src, 0)
        for op in p.get("stateOperators", []):
            tot["stream.state_rows"] = max(tot["stream.state_rows"], op.get("numRowsTotal", 0))
            tot["stream.state_memory_bytes"] = max(
                tot["stream.state_memory_bytes"], op.get("memoryUsedBytes", 0)
            )
            tot["stream.state_commit_ms"] += op.get("commitTimeMs", 0)
            tot["stream.rows_dropped_by_watermark"] += op.get("numRowsDroppedByWatermark", 0)
    return tot
