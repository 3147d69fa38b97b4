"""SparkSession factory with scale-oriented defaults.

Local-mode testing stands in for a multi-executor cluster; every config
here is one that also applies on a 1000-executor deployment (AQE, skew
join splitting, Arrow batching). Parallelism is parameterized so the
bench harness can run the identical job at local[N] and local[4N] to
evidence the two-cluster-size scaling criterion.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized from the machine; SPARK_GRAFT_CPUS / SPARK_GRAFT_DRIVER_MEM override.
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def _default_driver_mem() -> str:
    """A quarter of MemTotal, capped at 20g: the heap is pre-touched
    (-Xms = -Xmx, AlwaysPreTouch), so it must fit beside the Python
    workers and everything else on the host."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{min(total_kb // 4096, 20 * 1024)}m"


def get_spark(
    app_name: str = "ner_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    AQE is on: it coalesces small shuffle partitions and splits skewed
    ones at runtime — the mechanism that keeps the giant-repo skew
    (FIXTURES.md F4: one repo owns ~50% of rows) from serializing a
    stage on a real cluster.
    """
    cpus = cpus or DEFAULT_CPUS
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    b = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # large `content` strings: keep Arrow batches bounded so the
        # Python workers never hold more than ~batch rows of file text
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", driver_mem)
        .config("spark.ui.enabled", "false")
        # Fixed, pre-touched heap: without it, G1 grows the heap under
        # load and every young GC triggers kernel page-commit storms
        # (observed Sys >> User in GC logs, ~4 s pauses at 32 threads).
        # Pre-touching commits all pages once at startup instead.
        # -Xms defaults to the SAME value as spark.driver.memory so a
        # user lowering SPARK_GRAFT_DRIVER_MEM can never end up with
        # Xms > Xmx (opaque JVM launcher failure).
        .config(
            "spark.driver.extraJavaOptions",
            "-Dio.netty.tryReflectionSetAccessible=true "
            + os.environ.get("SPARK_GRAFT_XMS", "-Xms" + driver_mem)
            + " -XX:+AlwaysPreTouch",
        )
        .config("spark.python.worker.faulthandler.enabled", "true")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark
