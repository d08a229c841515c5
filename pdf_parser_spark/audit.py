"""Per-partition lineage, metrics, and checkpoint/resume (north rule).

The reference has no persistence beyond per-request logging; the north
rule requires every stage to write per-partition lineage + extraction
metrics (docs, bytes, failures, decode fallbacks) to an audit table so
runs RESUME from the last committed checkpoint.

Design (Iceberg-commit emulation over plain parquet — ``_append_audit``
is the table's one write and the swap point for an Iceberg append):

- the input is split into ``n_buckets`` deterministic url-hash buckets
  (``pmod(xxhash64(url), n_buckets)``) — the commit unit. A bucket is
  the batch analog of an Iceberg snapshot: output parquet lands under
  ``out/bucket=K/`` and ONLY THEN the audit rows for that bucket are
  appended. A crash between the two leaves an uncommitted bucket that
  is simply re-done (output overwrite is idempotent per bucket).
- lineage: Spark's file writer names each data file
  ``part-<task partition id>-…``, so the re-read of the written output
  takes each row's producing task from ``_metadata.file_name``. An
  audit row's ``partition_id`` is the extraction task that wrote the
  rows, whatever split reads them back; the data schema is unchanged.
- metrics aggregate in one distributed job over that re-read (groupBy
  on the small (bucket, task) key). The handful of audit rows is
  collected once: the driver appends them and sums them into the
  call's returned metrics.
- the append is a driver-side pyarrow write of one parquet file under a
  hidden name, moved into view. Spark and ``committed_buckets`` skip
  names starting with ``.`` or ``_``, so a crash mid-append commits
  nothing. Every row of one append carries one UTC ``committed_at``,
  taken after the data commit.
- the audit table lives in the same store as the data: ``out_dir`` is
  first qualified the way Spark's writer resolves it (a scheme-less
  path lands on Hadoop's default filesystem), and the resulting URI
  opens a ``pyarrow.fs`` filesystem. A store pyarrow cannot open is a
  ``ValueError`` before any work.
- resume = read the ``bucket`` column of the visible audit files with
  pyarrow (no Spark job), prune committed buckets from the input BY
  BUCKET ID (partition pruning — cheaper than a row-level anti-join).
"""

from __future__ import annotations

import datetime
import os
import uuid
from typing import List, Optional

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.fs as pafs
import pyarrow.parquet as pq

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_schema

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
# the same layout for the driver-side append: timestamp[us, tz=UTC],
# int32 ids, int64 counters
_ARROW_SCHEMA = to_arrow_schema(AUDIT_SCHEMA)
_COUNTERS = (
    "docs", "bytes", "failures", "decode_fallbacks", "decrypted_docs", "pdf_docs", "html_docs"
)


def with_bucket(pages: DataFrame, n_buckets: int) -> DataFrame:
    return pages.withColumn(
        BUCKET_COL, F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def partition_metrics(
    extracted: DataFrame, run_id: str, task: Optional[Column] = None
) -> DataFrame:
    """AUDIT_SCHEMA rows without ``committed_at`` (the append stamps it):
    one per (bucket, task) — lineage of which task produced which slice,
    with the north rule's counters. ``task`` defaults to the frame's own
    partition, which is the producing task when ``extracted`` is the
    extraction itself; a re-read of written files passes the writer's
    task instead."""
    return (
        extracted.withColumn("_pid", F.spark_partition_id() if task is None else task)
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
            *_COUNTERS,
            F.col(BUCKET_COL).alias("bucket"),
        )
    )


def _qualified(spark: SparkSession, path: str) -> str:
    """``path`` as the (percent-encoded) URI Spark's writer resolves it
    to: a scheme-less path lands on Hadoop's default filesystem — HDFS
    on a cluster, the local disk in ``local[N]``."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    fs = jpath.getFileSystem(spark._jsc.hadoopConfiguration())
    return fs.makeQualified(jpath).toUri().toString()


def _audit_fs(audit_path: str):
    """(pyarrow filesystem, path inside it) for the audit table. An
    absolute local path or any URI pyarrow knows (``file``, ``s3``,
    ``gs``, ``hdfs``, ``abfs``) opens; anything else is a ValueError."""
    try:
        return pafs.FileSystem.from_uri(audit_path)
    except pa.ArrowInvalid as e:
        raise ValueError(
            f"audit table {audit_path!r}: pyarrow cannot open this filesystem ({e})"
        ) from None


def committed_buckets(audit_path: str) -> List[int]:
    """Buckets with a committed audit row, read from the ``bucket``
    column of the audit files with pyarrow — no Spark job. Hidden
    ``.``/``_`` names (an in-flight append, Spark's ``_SUCCESS``) are
    skipped, as Spark's reader skips them. A missing table is no
    buckets."""
    fs, path = _audit_fs(audit_path)
    files = [
        f.path
        for f in fs.get_file_info(pafs.FileSelector(path, allow_not_found=True))
        if f.type == pafs.FileType.File
        and f.base_name.endswith(".parquet")
        and not f.base_name.startswith((".", "_"))
    ]
    if not files:
        return []
    buckets = pq.read_table(files, columns=["bucket"], filesystem=fs).column("bucket")
    return sorted(pc.unique(buckets).to_pylist())


def _bucket_markers(run_id: str, buckets: List[int]) -> List[dict]:
    """Zero-row commit markers (partition_id = -1, all counters 0): a
    bucket with NO input rows still has to land in the audit table, or
    every later run would put it back in ``todo`` and re-scan the input
    for it forever. One marker per processed bucket also makes the
    committed set independent of whether data rows existed."""
    zero = dict.fromkeys(_COUNTERS, 0)
    return [dict(zero, run_id=run_id, partition_id=-1, bucket=int(b)) for b in buckets]


def _append_audit(audit_path: str, rows: List[dict]) -> None:
    """Append ``rows`` to the audit table as ONE parquet file, every row
    stamped with one UTC ``committed_at``. This is the table's only
    write: an Iceberg append replaces this body and nothing else.

    Written on the driver with pyarrow under a hidden name, then moved
    into view, so readers see all of the rows or none. On a local disk
    or HDFS the move is an atomic rename; on an object store (S3) it is
    a copy and a delete, and a crash between the two leaves only the
    hidden copy, which readers skip. A Spark write of a few driver rows
    would cost a whole job."""
    now = datetime.datetime.now(datetime.timezone.utc)
    table = pa.Table.from_pylist([dict(r, committed_at=now) for r in rows], schema=_ARROW_SCHEMA)
    fs, path = _audit_fs(audit_path)
    fs.create_dir(path, recursive=True)
    name = f"part-{uuid.uuid4().hex}.parquet"
    tmp = f"{path}/.{name}"
    pq.write_table(table, tmp, filesystem=fs, compression="zstd")
    fs.move(tmp, f"{path}/{name}")


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
    pending partitions); one more job aggregates the written output
    into the audit rows, which are appended in one file. The round-1
    shape — filter(bucket==b) inside a loop — re-scanned the
    unpartitioned input once per bucket plus one driver round-trip per
    bucket: thousands of full scans at the 4096-bucket grain.
    ``metrics`` is the sum of the audit rows this call appended.
    """
    data_path = os.path.join(out_dir, "extracted")
    audit_path = _qualified(spark, os.path.join(out_dir, "audit"))
    done = set(committed_buckets(audit_path))
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
    # 1) data commit: one job, one input scan, only pending partitions
    # overwritten (committed buckets untouched); the overwrite mode is
    # this write's option, never the session's
    ext.write.partitionBy("bucket").mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).parquet(data_path)
    # 2) audit rows for ALL newly-written buckets — partition pruning on
    # the re-read keeps this to the new output. Explicit schema: an
    # all-empty batch writes zero data files, and schema inference over
    # a _SUCCESS-only directory would throw
    reread_schema = ext.drop("bucket").schema.add("bucket", IntegerType())
    reread = (
        spark.read.schema(reread_schema).parquet(data_path)
        .filter(F.col("bucket").isin([int(b) for b in todo]))
        .withColumnRenamed("bucket", BUCKET_COL)
    )
    # the writer's task, from the data file's name part-<task id>-…
    writer = F.regexp_extract("_metadata.file_name", r"^part-(\d+)-", 1).cast("int")
    # real per-task lineage plus one zero-row marker per bucket — empty
    # buckets must commit too (else they re-run forever); both land in
    # ONE append so the commit stays atomic per batch
    lineage = [r.asDict() for r in partition_metrics(reread, run_id, writer).collect()]
    _append_audit(audit_path, lineage + _bucket_markers(run_id, todo))
    metrics = {k: sum(r[k] or 0 for r in lineage) for k in _METRICS}
    return {"processed": todo, "skipped": sorted(done), "metrics": metrics}
