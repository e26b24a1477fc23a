"""SparkSession factory.

Reference analog: the spark-submit session setup in
``dags/spark_etl_script.py:41-63`` (master URL + Snowflake jars via env
vars). Here: local[N] for tests/bench, AQE + UTC + Arrow defaults that
hold on a real cluster unchanged.
"""

from __future__ import annotations

import os
import re
import warnings

from pyspark.sql import SparkSession

# A JVM memory size as ``spark.driver.memory`` takes it: 512m, 8g, ...
MEMORY_SIZE = r"\d+[kmgt]"
_POSITIVE_INT = r"0*[1-9]\d*"


def env_override(
    name: str, default: str | None, pattern: str = _POSITIVE_INT
) -> str | None:
    """The value of the environment override ``name`` when it fully
    matches ``pattern`` (default: an integer ≥ 1), else ``default``.
    Unset or blank means ``default``. A malformed value warns, naming
    the variable, and falls back to ``default`` — every package
    override is read through here, so none crashes a session start or
    reaches the JVM unchecked, and none is dropped silently."""
    raw = os.environ.get(name, "").strip()
    if not raw:
        return default
    if re.fullmatch(pattern, raw, re.IGNORECASE):
        return raw
    warnings.warn(
        f"ignoring malformed ${name}={raw!r}; using the default", stacklevel=2
    )
    return default


def get_spark(app_name: str = "end_to_end_data_engineering_job_listings_etl_spark", cpus: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession tuned for this engine.

    Settings are scale-posture defaults, not local hacks:
    - AQE on (runtime shuffle-partition coalescing, skew-join splitting,
      join-strategy switching) — what carries plans from sf0.01 to 100 TB.
    - UTC session timezone — the reference stores TIMESTAMP_NTZ/UTC.
    - Arrow enabled — pandas-interop (mapInPandas/applyInPandas) is
      columnar, not pickled rows.
    """
    if cpus is None:
        cpus = int(env_override("SPARK_GRAFT_CPUS", "32"))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            env_override("SPARK_GRAFT_DRIVER_MEM", "8g", MEMORY_SIZE),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Static conf, read once at JVM start: the default 100-entry
        # generated-class cache thrashes on a surface of 190+ query
        # shapes (each several codegen'd stages), recompiling ~1-3 s
        # expression families per eviction. A long-lived cluster
        # serving many plan shapes wants the same headroom.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # JIT code cache: the JVM default (240 MB) fills on a 90+-shape
        # whole-stage-codegen surface run in one process — once full,
        # HotSpot stops compiling and late queries run partially
        # interpreted (measured: the same 68-query subset is ~19%
        # slower inside a 95-query run than alone; restricted runs
        # match round-3 timings exactly). 512 MB restores headroom;
        # harmless when unused. Driver-only conf is enough: local mode
        # executors share the driver JVM.
        # GCLockerRetryAllocationCount: the JDK default (2) turns an
        # allocation that races a JNI critical section (Arrow/netty
        # buffers) under GC pressure into a SPURIOUS OutOfMemoryError
        # ("Retried waiting for GCLocker too often") — the exact
        # INTERNAL_ERROR that killed r9's long single-process sf10
        # runs with gigabytes of heap still free. 32 retries makes the
        # allocation wait out the critical section instead (JDK-8192647
        # mitigation; diagnostic flag, hence the unlock).
        .config(
            "spark.driver.extraJavaOptions",
            "-XX:ReservedCodeCacheSize=512m "
            "-XX:+UnlockDiagnosticVMOptions "
            "-XX:GCLockerRetryAllocationCount=32",
        )
        # Cached frames here are small dims / landing cuts (≪ heap);
        # skip columnar-cache compression to trade a little memory for
        # materially faster cache builds. Revisit if a deployment caches
        # frames near executor-memory scale.
        .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
        .config("spark.sql.inMemoryColumnarStorage.batchSize", "50000")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # Session-stop eviction: closing the session clears every memo
    # cache it pinned (cachereg module docstring has the lifecycle).
    from . import cachereg

    cachereg.hook_session(spark)
    return spark


def ship_package(spark: SparkSession) -> None:
    """Make this package importable on executor Python workers.

    Any operator that runs Python on executors (mapInPandas,
    applyInPandasWithState) pickles functions BY MODULE REFERENCE, so
    workers must be able to ``import end_to_end_data_engineering_job_listings_etl_spark`` — true neither
    for an arbitrary driver cwd in local mode nor for a real cluster.
    Zip the package once per session and ``addPyFile`` it (the same
    mechanism that ships it to 1000 executors)."""
    sc = spark.sparkContext
    if getattr(sc, "_end_to_end_data_engineering_job_listings_etl_spark_shipped", False):
        return
    import shutil
    import tempfile
    from pathlib import Path

    pkg_dir = Path(__file__).resolve().parent
    staging = Path(tempfile.mkdtemp(prefix="end_to_end_data_engineering_job_listings_etl_spark_pkg_"))
    shutil.copytree(pkg_dir, staging / pkg_dir.name)
    zip_path = shutil.make_archive(str(staging / "end_to_end_data_engineering_job_listings_etl_spark_pkg"), "zip", staging)
    sc.addPyFile(zip_path)
    sc._end_to_end_data_engineering_job_listings_etl_spark_shipped = True
