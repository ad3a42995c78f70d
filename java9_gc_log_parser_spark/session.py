"""SparkSession factory tuned for this pipeline.

Local-mode defaults mirror what we would set on a real cluster: AQE on (runtime
skew-join handling + partition coalescing), Arrow enabled for the pandas-UDF
stages, shuffle partitions sized to cores rather than the 200 default.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def _default_driver_memory() -> str:
    """Conservative default sized to the host: a quarter of physical RAM,
    clamped to [2g, 24g]. Bench/production set SPARK_DRIVER_MEMORY explicitly
    (a fixed 24g default fails JVM launch or swaps on smaller hosts)."""
    try:
        phys_gb = (
            os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
        ) // (1 << 30)
    except (ValueError, OSError):  # pragma: no cover
        phys_gb = 8
    return f"{min(24, max(2, phys_gb // 4))}g"


def get_spark(
    app_name: str = "gclp-pipeline",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    master defaults to ``local[$SPARK_GRAFT_CPUS]``, or to one worker thread
    per CPU this process may run on when the env var is unset. On a real
    cluster this is left unset and spark-submit provides it.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        if cpus is None:
            cpus = len(os.sched_getaffinity(0))
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = DEFAULT_SHUFFLE_PARTITIONS

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Constraint propagation is O(n^2) over the constraint set and blows
        # up on filters above the staged parse cascade (48 s of pure driver
        # optimization for the assembly plan; 0.4 s with it off). The only
        # thing it buys is inferred IsNotNull/join filters -- all our joins
        # are broadcast dim lookups, so the trade is strictly good here.
        .config("spark.sql.constraintPropagation.enabled", "false")
        # Scan-split sizing. The 128 MB default packs this sandbox's small
        # snappy-parquet files (5-10 MB each) into a handful of splits — a
        # 445 MB input becomes 6 scan tasks, idling most cores through the
        # scan-heavy parse stage (measured: the parse phase is ~80% of
        # pipeline wall). 16 MB splits + 8 MB open-cost keep roughly one
        # file per task, giving every parallelism level multiple waves of
        # work. At real 100 TB scale the 128 MB default is already ~800k
        # tasks, so a cluster deployment overrides these via extra_conf /
        # spark-submit --conf; they only matter when total input is small
        # relative to cores x split size.
        .config("spark.sql.files.maxPartitionBytes", "16m")
        .config("spark.sql.files.openCostInBytes", "8m")
        # Align Spark's codegen fallback with HotSpot's actual JIT ceiling:
        # the JVM refuses to compile methods over 8000 bytecodes
        # (DontCompileHugeMethods), so a whole-stage-codegen method past that
        # runs as INTERPRETED BYTECODE. The wide parse projection generates
        # one such method; with the default limit (65535) Spark keeps it and
        # the full parse takes 58 s for 15M turns at 8 cores — with fallback
        # to interpreted expression eval it takes 13.3 s (4.3x). Only stages
        # whose generated code the JVM wouldn't JIT anyway are affected.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
