"""Per-partition lineage, metrics, and checkpoint/resume (north rule).

The reference has no persistence beyond per-request logging; the north
rule requires every stage to write per-partition lineage + extraction
metrics (docs, bytes, failures, decode fallbacks) to an audit table so
runs RESUME from the last committed checkpoint.

Design (Iceberg-commit emulation over plain parquet — swap the two
``_write``/``_read`` helpers for an Iceberg catalog in production):

- the input is split into ``n_buckets`` deterministic url-hash buckets
  (``pmod(xxhash64(url), n_buckets)``) — the commit unit. A bucket is
  the batch analog of an Iceberg snapshot: output parquet lands under
  ``out/bucket=K/`` and ONLY THEN the audit rows for that bucket are
  appended. A crash between the two leaves an uncommitted bucket that
  is simply re-done (output overwrite is idempotent per bucket).
- resume = read the audit table, prune committed buckets from the
  input BY BUCKET ID (partition pruning — cheaper than a row-level
  anti-join).
- metrics aggregate map-side (groupBy on the small (run, bucket,
  partition) key) — negligible shuffle at any scale. The handful of
  audit rows is collected once: the driver appends them and sums them
  into the call's returned metrics.
"""

from __future__ import annotations

import datetime
import os
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from .extract import extract_documents

BUCKET_COL = "_bucket"

# explicit schema for the audit table: reads never depend on parquet
# schema inference, so an all-empty (or not-yet-written) table behaves
# like zero rows instead of throwing
AUDIT_SCHEMA = StructType(
    [
        StructField("run_id", StringType()),
        StructField("partition_id", IntegerType()),
        StructField("docs", LongType()),
        StructField("bytes", LongType()),
        StructField("failures", LongType()),
        StructField("decode_fallbacks", LongType()),
        StructField("decrypted_docs", LongType()),
        StructField("pdf_docs", LongType()),
        StructField("html_docs", LongType()),
        StructField("committed_at", TimestampType()),
        StructField("bucket", IntegerType()),
    ]
)


def with_bucket(pages: DataFrame, n_buckets: int) -> DataFrame:
    return pages.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def partition_metrics(extracted: DataFrame, run_id: str) -> DataFrame:
    """AUDIT_SCHEMA rows: one per (bucket, task partition) — lineage of
    which task produced which slice, with the north rule's counters."""
    return (
        extracted.withColumn("_pid", F.spark_partition_id())
        .groupBy(BUCKET_COL, "_pid")
        .agg(
            F.count("*").alias("docs"),
            F.sum("n_bytes").alias("bytes"),
            F.sum(F.col("error_code").isNotNull().cast("long")).alias("failures"),
            F.sum("decode_fallbacks").alias("decode_fallbacks"),
            F.sum(F.coalesce(F.col("decrypted"), F.lit(False)).cast("long")).alias(
                "decrypted_docs"
            ),
            F.sum((F.col("doc_type") == "pdf").cast("long")).alias("pdf_docs"),
            F.sum((F.col("doc_type") == "html").cast("long")).alias("html_docs"),
        )
        .select(
            F.lit(run_id).alias("run_id"),
            F.col("_pid").alias("partition_id"),
            "docs",
            "bytes",
            "failures",
            "decode_fallbacks",
            "decrypted_docs",
            "pdf_docs",
            "html_docs",
            F.current_timestamp().alias("committed_at"),
            F.col(BUCKET_COL).alias("bucket"),
        )
    )


def committed_buckets(spark: SparkSession, audit_path: str) -> List[int]:
    if not os.path.exists(audit_path):
        return []
    audit = spark.read.schema(AUDIT_SCHEMA).parquet(audit_path)
    return [r["bucket"] for r in audit.select("bucket").distinct().collect()]


def _bucket_markers(run_id: str, buckets: List[int]) -> List[tuple]:
    """Zero-row commit markers (partition_id = -1, all counters 0): a
    bucket with NO input rows still has to land in the audit table, or
    every later run would put it back in ``todo`` and re-scan the input
    for it forever. One marker per processed bucket also makes the
    committed set independent of whether data rows existed."""
    now = datetime.datetime.now()
    return [(run_id, -1, 0, 0, 0, 0, 0, 0, 0, now, int(b)) for b in buckets]


_METRICS = ("docs", "failures", "decode_fallbacks", "bytes")


def run_extraction_with_audit(
    spark: SparkSession,
    pages: DataFrame,
    out_dir: str,
    run_id: str,
    n_buckets: int = 8,
    mode: str = "first_valid",
    decrypt: bool = False,
    password: bytes = b"",
    buckets: Optional[List[int]] = None,
) -> dict:
    """Extract every pending bucket in ONE pass, then commit.

    Returns {"processed": [...], "skipped": [...], "metrics": {...}}.
    Already-committed buckets (per the audit table) are pruned BEFORE
    any work — a restart touches only unfinished buckets, and
    ``buckets=[b]`` re-runs just bucket ``b``.

    One job scans the input ONCE (pending buckets only), writes
    ``partitionBy(bucket)`` with dynamic partition overwrite
    (idempotent per partition — a crashed batch simply rewrites its
    pending partitions), then appends ALL audit rows in one pass. The
    round-1 shape — filter(bucket==b) inside a loop — re-scanned the
    unpartitioned input once per bucket plus one driver round-trip per
    bucket: thousands of full scans at the 4096-bucket grain.
    ``metrics`` is the sum of the audit rows this call appended.
    """
    data_path = os.path.join(out_dir, "extracted")
    audit_path = os.path.join(out_dir, "audit")
    done = set(committed_buckets(spark, audit_path))
    todo = [b for b in (buckets or range(n_buckets)) if b not in done]
    if not todo:
        return {"processed": [], "skipped": sorted(done), "metrics": dict.fromkeys(_METRICS, 0)}

    pending = with_bucket(pages, n_buckets).filter(
        F.col(BUCKET_COL).isin([int(b) for b in todo])
    )
    ext = extract_documents(
        pending.select("url", "warc_ts", "html", "text", "lang"), mode=mode,
        decrypt=decrypt,
        password=password,
    ).withColumn("bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int"))
    prev = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        # 1) data commit: one job, one input scan, only pending
        # partitions overwritten (committed buckets untouched)
        ext.write.partitionBy("bucket").mode("overwrite").parquet(data_path)
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev)
    # 2) audit commit for ALL newly-written buckets in one append —
    # partition pruning on the re-read keeps this to the new output.
    # Explicit schema: an all-empty batch writes zero data files, and
    # schema inference over a _SUCCESS-only directory would throw
    reread_schema = ext.drop("bucket").schema.add("bucket", IntegerType())
    reread = (
        spark.read.schema(reread_schema).parquet(data_path)
        .filter(F.col("bucket").isin([int(b) for b in todo]))
        .withColumnRenamed("bucket", BUCKET_COL)
    )
    # real per-partition lineage plus one zero-row marker per bucket —
    # empty buckets must commit too (else they re-run forever); both
    # land in ONE append so the commit stays atomic per batch
    lineage = partition_metrics(reread, run_id).collect()
    markers = _bucket_markers(run_id, todo)
    spark.createDataFrame(lineage + markers, AUDIT_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(audit_path)
    metrics = {k: sum(r[k] or 0 for r in lineage) for k in _METRICS}
    return {"processed": todo, "skipped": sorted(done), "metrics": metrics}
