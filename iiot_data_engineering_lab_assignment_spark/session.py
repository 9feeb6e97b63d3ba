"""SparkSession factory.

The reference builds its session at spark-jobs/timescale_to_deltalake.py:11-27
(Delta extension + Azure wasb configs). Here the session is tuned for the
engine itself:

* UTC session time zone so event-time semantics are deployment-independent
  (the reference stores TIMESTAMPTZ in Postgres; we normalize at the session).
* AQE on (runtime partition coalescing + skew-join splitting) - this is the
  scale story for 100 TB shuffles; at local[32] it also keeps tiny fixture
  shuffles from fragmenting into 200 empty tasks.
* Arrow on for any pandas-UDF path (extension operators only - the core
  surface is pure JVM expressions).
* ``spark.sql.legacy.parquet.nanosAsLong`` so that if the `events` fixture
  carries TIMESTAMP(NANOS) (one of the two layouts the generator has
  produced; the other is plain TIMESTAMP(MICROS)) Spark's vectorized
  reader accepts it as int64 instead of rejecting the file;
  sources.readers detects the layout at scan time and converts
  ns->microsecond TimestampType when needed, so downstream plans always
  see a plain timestamp column and row-group min/max skipping applies
  on either layout.
* A generated-code cache sized to the engine's working set
  (``spark.sql.codegen.cache.maxEntries`` = 1000).  Spark keeps the
  Janino-compiled classes of whole-stage codegen in an LRU of 100
  entries by default.  One pass over the 19 headline rows needs about
  280 distinct classes, the composed curation pipeline about 250 more,
  and the IIoT stream replay + nightly ETL about 90.  A client cycling
  through a working set larger than an LRU misses on every lookup, so
  every warm re-run compiled all of its classes again and the JIT
  re-warmed each fresh one.  The conf is static: the cache is built once
  per JVM, at its first codegen, so it must be set on the builder and
  cannot be applied to an existing session.

Delta Lake is the intended lake format at deployment (the reference writes
Delta 2.4, timescale_to_deltalake.py:33-37); the runtime here has no
delta-spark package, so the lifecycle layer (plans.lifecycle) targets
partitioned Parquet with the identical API shape and enables Delta
transparently when the package is importable.
"""

from __future__ import annotations

import atexit
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

__all__ = ["get_spark", "stop_spark", "scratch_dir", "codegen_counters"]

_SCRATCH_ROOT: str | None = None


def scratch_dir(prefix: str) -> str:
    """Per-process scratch allocator for streaming checkpoints / stores /
    sentinel dirs: every dir lives under ONE root that is removed at
    interpreter exit, so repeated bench/driver invocations of the
    streaming-replay queries no longer accumulate temp directories
    (r11 ADVICE).  Same contract as ``tempfile.mkdtemp`` — a fresh,
    private directory per call."""
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="spark_graft_scratch_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return tempfile.mkdtemp(prefix=prefix, dir=_SCRATCH_ROOT)


def _delta_available() -> bool:
    try:
        import delta  # noqa: F401

        return True
    except ImportError:
        return False


def get_spark(
    app_name: str = "iiot-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) the engine's SparkSession.

    Parameters default from the environment: ``SPARK_GRAFT_CPUS`` sizes
    local parallelism (driver contract), otherwise ``local[*]``.  On a real
    cluster, pass ``master=None`` with ``spark.master`` preset in the
    environment and these configs ride along unchanged.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if master is None:
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        # One shuffle partition per core locally; a cluster deployment
        # overrides via extra_conf (rule of thumb: 2-3x total cores, or
        # let AQE coalesce from a high initial count).
        shuffle_partitions = int(cpus) if cpus else (os.cpu_count() or 8)

    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Read parquet TIMESTAMP(isAdjustedToUTC=false) as TimestampType
        # (pre-3.4 behavior), not TIMESTAMP_NTZ: the engine normalizes all
        # event time to TimestampType under the UTC session timezone, and
        # inferring NTZ only forced a per-row cast above every events scan
        # (sources.readers applies the same conf defensively for
        # externally-built sessions).
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        # Room for every generated class of the engine's repeated plans
        # (see the module docstring), so warm re-runs reuse their compiled
        # code.  Static conf, read once at the JVM's first codegen: it must
        # go on the builder, and sources.readers._ensure_session_confs
        # cannot apply it to an externally-built session at runtime.
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    if _delta_available():
        b = b.config(
            "spark.sql.extensions", "io.delta.sql.DeltaSparkSessionExtension"
        ).config(
            "spark.sql.catalog.spark_catalog",
            "org.apache.spark.sql.delta.catalog.DeltaCatalog",
        )
    if extra_conf:
        for k, v in extra_conf.items():
            b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_counters(spark: SparkSession) -> tuple[int, float]:
    """JVM-wide generated-code counters since the JVM started: (classes
    Janino-compiled, compile ms).  Each generated-code cache miss compiles
    one class, so the difference of two readings counts a region's
    misses."""
    jvm = spark._jvm
    metrics = jvm.org.apache.spark.metrics.source.CodegenMetrics
    codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
    compiles = metrics.METRIC_COMPILATION_TIME().getCount()
    return int(compiles), codegen.compileTime() / 1e6


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
