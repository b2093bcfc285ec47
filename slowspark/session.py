"""SparkSession factory with scale-appropriate defaults.

Local runs use local[SPARK_GRAFT_CPUS] (default: all cores) in one JVM; the
same config block is what we'd ship to a multi-executor cluster via
spark-submit --py-files (the partition sizing knobs are per-executor, so
they transfer).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app: str = "slowspark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        # one shuffle partition per core locally; a real cluster would use
        # 2-3x total cores and let AQE coalesce
        n = master.split("[")[-1].rstrip("]*")
        shuffle_partitions = int(n) if n.isdigit() else (os.cpu_count() or 8)
    builder = (
        SparkSession.builder.master(master)
        .appName(app)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bound Python-worker memory: the parse UDF is O(batch) not O(file)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.driver.memory", os.environ.get("SLOWSPARK_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
    )
    # straggler mitigation for noisy hosts/clusters; opt-in via env so the
    # scaling bench can turn it on for high-parallelism levels (BENCH.md)
    if os.environ.get("SLOWSPARK_SPECULATION", "").lower() in ("1", "true"):
        builder = (
            builder.config("spark.speculation", "true")
            .config("spark.speculation.multiplier", "2")
            .config("spark.speculation.quantile", "0.9")
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
