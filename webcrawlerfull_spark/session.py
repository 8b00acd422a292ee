"""SparkSession factory with the engine's scale-oriented defaults.

All tuning lives here so tests / bench / driver share one profile:
AQE on (runtime coalesce + skew-join), Arrow on (every pandas UDF is
Arrow-batched), shuffle partitions sized to the local core budget.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "webcrawlerfull-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or int(cpus) if str(cpus).isdigit() else 32
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
        # every broadcast hash relation and every sort/hash-aggregate map
        # takes at least one Tungsten page, whatever it holds; Spark sizes
        # pages from heap/cores (16 MB at a 2 GB driver on 4 cores), so a
        # crawl round's small joins pinned 16 MB each, and the overlapped
        # round chains hold several at once. With Spark's minimum page
        # size each holds about what its rows need.
        .config("spark.buffer.pageSize", "1m")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    return builder.getOrCreate()
