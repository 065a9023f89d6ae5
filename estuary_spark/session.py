"""SparkSession factory tuned for the CDC merge-apply workload.

Local-mode testing (``local[N]``) with settings that also make sense on a
multi-executor cluster: AQE on (runtime coalesce + skew-join splitting),
Arrow transport for pandas UDFs, UTC session time zone for deterministic
timestamp semantics.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """16g, or half the machine's physical memory if that is less — a
    local-mode driver holds the executors too, and a heap larger than
    the machine gets the JVM killed under memory pressure instead of
    spilling. ``ESTUARY_DRIVER_MEM`` overrides it."""
    try:
        half_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // (2 * 1024 * 1024)
    except (ValueError, OSError, AttributeError):
        return "16g"
    return f"{min(16 * 1024, half_mb)}m"


def get_spark(
    app_name: str = "estuary_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` or all local cores. On a
    real cluster the ``master`` is supplied by spark-submit and the
    ``local[N]`` default is ignored.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        # one shuffle partition per core locally; on a cluster this should
        # be ~2-3x total executor cores (set via extra_conf / submit conf)
        shuffle_partitions = cores

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("ESTUARY_DRIVER_MEM") or _default_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.parquet.compression.codec", "snappy")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
