"""SparkSession factory with scale-oriented defaults.

The reference runs single-node row-at-a-time Python with pandarallel
(/root/reference/geoparser/ranking.py:253-255); here parallelism is
Spark's job. These defaults are what we would ship on a 1000-executor
cluster: AQE on (runtime re-plan, skew-join splitting, partition
coalescing), Arrow transport for every pandas UDF, explicit shuffle
partitioning (the north rule requires explicit shuffle tuning).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "t_res_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (or ``local[*]``)
    in the sandbox; on a real cluster the caller passes nothing and
    spark-submit supplies the master.
    """
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS")
        master = f"local[{cpus}]" if cpus else "local[*]"
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("TRES_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
        )

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # Explicit shuffle sizing; AQE coalesces down at runtime when small.
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Adaptive execution: runtime re-plan, skew-join splitting,
        # small-partition coalescing — all on for this engine.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow everywhere: pandas UDFs are the only Python in the hot path.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # Deterministic timestamps in fixtures regardless of host TZ.
        .config("spark.sql.session.timeZone", "UTC")
        # Quieter driver in the sandbox.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("TRES_DRIVER_MEM", "8g"))
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def warm_python_workers(spark: SparkSession, n_tasks: int | None = None) -> None:
    """Spin up the Arrow/pandas worker pool before timing-sensitive work.

    Each executor slot pays a one-off Python interpreter + pandas/numpy
    import cost (~1-2 s) on its first UDF task; on a long-lived cluster
    that amortizes to nothing, but in a benchmark it reads as serial
    overhead. One trivial mapInPandas pass over n_tasks partitions
    forces every slot to initialize."""
    import pandas as pd  # noqa: F401

    if n_tasks is None:
        n_tasks = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def _identity(batches):
        for b in batches:
            yield b

    spark.range(n_tasks * 10).repartition(n_tasks).mapInPandas(
        _identity, schema="id long"
    ).count()
