"""SparkSession factory with scale-aware defaults.

Local testing runs on ``local[N]``; the same config block is what we would ship
to a 1000-executor cluster (AQE on, skew-join handling, partition-size targets)
— only ``master`` / memory sizing are deployment-specific.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from jp_qcew_spark.io import ENGINE_CONFS


def get_spark(
    app_name: str = "jp_qcew_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine's SparkSession.

    Defaults are chosen for correctness-at-scale, not just local runs:

    - AQE on: runtime shuffle-partition coalescing, skew-join splitting, and
      dynamic broadcast conversion — the 100 TB skew story (SURVEY.md §4).
    - Arrow enabled: vectorized pandas interchange for the pandas-UDF tier.
    - ``io.ENGINE_CONFS``: ANSI off, UTC, nanosAsLong and the rest of the
      confs the engine's semantics depend on (the same table
      ``io.ensure_session_confs`` pins on a caller's session).
    - shuffle partitions sized to cores locally; on a real cluster AQE coalesces
      from a deliberately high initial number instead.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(os.cpu_count() or 4)
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**ENGINE_CONFS, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
