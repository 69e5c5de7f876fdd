"""SparkSession factory.

Scale posture: these configs are the single place where execution knobs
live. On a real cluster the same builder is used via ``spark-submit
--py-files``; only master/parallelism change. Rationale per knob:

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting;
  at 100 TB the static partition count is always wrong for some stage.
- Arrow on: every pandas UDF moves data as Arrow batches, not pickled rows.
- shuffle.partitions: sized to cores locally; on a cluster this should be
  ~2-3x total cores (AQE coalesces down, it cannot split an under-
  partitioned stage except for skew).
- maxPartitionBytes 128m: keeps scan tasks balanced for wide parquet.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def default_driver_memory() -> str:
    """16g, capped at half the host's physical memory: a fixed 16g heap
    on a 15 GiB host lets the local-mode JVM grow until the kernel kills
    it."""
    try:
        host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    except (AttributeError, ValueError, OSError):  # no sysconf (Windows)
        return "16g"
    return f"{min(16 * 1024, host_mb // 2)}m"


def get_spark(
    app_name: str = "smh_to_jsonld_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32)
    in the sandbox; under spark-submit pass ``master=None`` and let the
    cluster manager decide.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SMHKG_SHUFFLE_PARTITIONS", str(max(cpus, DEFAULT_SHUFFLE_PARTITIONS)))
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.session.timeZone", "UTC")
        # local-mode heap: the driver JVM hosts ALL executor threads, so
        # its heap must cover cores x per-task working set. 8g at 32
        # threads over the sf1.0 tables ran GC-bound (measured r6: the
        # full bench session inflated small queries ~2x vs isolated runs;
        # 16g restores isolated-run latencies), capped at half the host's
        # memory. Env-overridable; on a real cluster executor memory
        # comes from the cluster manager and this setting only sizes the
        # (thin) driver.
        .config(
            "spark.driver.memory",
            os.environ.get("SMHKG_DRIVER_MEM") or default_driver_memory(),
        )
        # local-mode JVM flags (e.g. GC choice) — at 32 threads in ONE JVM
        # the collector is a shared resource a real per-executor-JVM
        # cluster doesn't contend on; see BENCH/BASELINE.md
        .config(
            "spark.driver.extraJavaOptions",
            os.environ.get("SMHKG_DRIVER_JAVA_OPTS", ""),
        )
        .config("spark.local.dir", os.environ.get("SMHKG_LOCAL_DIR", "/tmp"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.jsonGenerator.ignoreNullFields", "true")
        # call-site capture for error context costs 3 extra py4j
        # round-trips per DataFrame API call (~1ms each here) — measured
        # ~40% of plan-BUILD time on the deep emit trees. Debug sessions
        # can re-enable via extra_conf.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, str(v))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
