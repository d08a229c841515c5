"""The one SparkSession factory (library, tests, benchmark, job) with
the scale-tuned defaults of SURVEY.md §4.

All knobs are set for the 100 TB design point and merely exercised at
sandbox scale:

- AQE on (runtime re-plan, skew-join splitting),
- Arrow on, small ``maxRecordsPerBatch`` (``ARROW_BATCH_ROWS``) —
  extraction batches carry multi-MB binary columns, so batches are
  sized by rows not bytes,
- ``mapKeyDedupPolicy=LAST_WIN`` — the reference's KV fold is
  last-write-wins (``metadata.ts:59-64``), and native
  ``map_from_entries`` must match it,
- master and shuffle partitions: ``SPARK_GRAFT_CPUS=N`` defaults them
  to ``local[N]`` and ``max(N, 8)``, explicit arguments win, and what
  is left unset stays spark-submit's (cluster mode).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

ARROW_BATCH_ROWS = 64


def get_spark(
    app_name: str = "pdf-parser-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS")
    if cpus:
        master = master or f"local[{cpus}]"
        shuffle_partitions = shuffle_partitions or max(int(cpus), 8)
    builder = SparkSession.builder.appName(app_name)
    if master:
        builder = builder.master(master)
    if shuffle_partitions:
        builder = builder.config("spark.sql.shuffle.partitions", str(shuffle_partitions))
    builder = (
        builder.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH_ROWS))
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
        # permissive null-on-failure semantics: the reference treats every
        # malformed value as 0/''/undefined, never as an error (formatters.ts)
        .config("spark.sql.ansi.enabled", "false")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.compression.codec", "zstd")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.ui.enabled", "false")
    )
    return builder.getOrCreate()
