"""SparkSession factory with scale-aware defaults.

Local sandbox testing runs on local[N]; on a real cluster the same
builder is driven by spark-submit (--master/--num-executors), and the
config here only sets the knobs that matter at both scales: AQE on
(runtime re-plan + skew-join splitting complements our explicit
salting), shuffle partitions sized to the parallelism level, Arrow
enabled for the pandas-UDF paths, UTC timezone pinned so results are
comparable against the DuckDB oracle.  The driver heap defaults to half
of physical memory (a fixed large default lets the JVM grow past what
the machine has and be OOM-killed); SPARK_DRIVER_MEM overrides it.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    phys = os.sysconf("SC_PHYS_PAGES") * os.sysconf("SC_PAGE_SIZE")
    return f"{phys // 2 >> 20}m"


def get_spark(
    app: str = "storm-focused-crawler-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    # parse parallelism from local[N] for shuffle sizing; cluster masters
    # fall back to a cores-based default that spark-submit can override.
    if shuffle_partitions is None:
        if master.startswith("local[") and master[6:-1].isdigit():
            shuffle_partitions = max(int(master[6:-1]), 4)
        else:
            shuffle_partitions = cpus
    b = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.mergeSchema", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM") or _default_driver_mem())
    )
    for k, v in (extra or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
