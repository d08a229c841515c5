"""audit: commit-per-bucket resume; streaming: native session windows
on a real stream."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from conftest import _jobs_of
from pdf_parser_spark import audit

_METRICS = ("docs", "failures", "decode_fallbacks", "bytes")


@pytest.fixture()
def pages_df(spark, pages_parquet):
    return spark.read.parquet(pages_parquet)


def test_audit_commit_and_resume(spark, pages_df, tmp_path):
    out = str(tmp_path / "out")
    # first run: only buckets 0 and 1
    r1 = audit.run_extraction_with_audit(
        spark, pages_df, out, run_id="r1", n_buckets=4, buckets=[0, 1]
    )
    assert r1["processed"] == [0, 1] and r1["skipped"] == []
    # resume: full range → 0,1 skipped via the audit table, 2,3 done
    r2 = audit.run_extraction_with_audit(spark, pages_df, out, run_id="r2", n_buckets=4)
    assert r2["processed"] == [2, 3]
    assert r2["skipped"] == [0, 1]
    # third run: nothing left
    r3 = audit.run_extraction_with_audit(spark, pages_df, out, run_id="r3", n_buckets=4)
    assert r3["processed"] == []
    # every input row landed exactly once
    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    assert extracted.count() == pages_df.count()
    assert extracted.select("url").distinct().count() == pages_df.count()
    # audit table carries the north-rule counters with real lineage
    adf = spark.read.parquet(os.path.join(out, "audit"))
    tot = adf.agg(
        F.sum("docs").alias("docs"), F.sum("failures").alias("f"), F.sum("bytes").alias("b")
    ).collect()[0]
    assert tot["docs"] == pages_df.count()
    assert tot["f"] > 0  # corpus plants corrupt docs — they must be counted, not thrown
    assert tot["b"] > 0
    assert adf.select("run_id").distinct().count() >= 2


def _run_totals(spark, out, run_id):
    """The audit table's counters summed over one call's rows."""
    adf = spark.read.parquet(os.path.join(out, "audit")).filter(F.col("run_id") == run_id)
    row = adf.agg(*[F.sum(k).alias(k) for k in _METRICS]).collect()[0]
    return {k: row[k] or 0 for k in _METRICS}


def test_audit_one_pass_single_extraction(spark, pages_df, tmp_path, monkeypatch):
    """ONE extraction plan over the input for any number of pending
    buckets (round-1 re-scanned per bucket); the returned metrics are
    the sum of the audit rows the call appended."""
    calls = []
    real = audit.extract_documents

    def counting(df, mode="first_valid", **kw):
        calls.append(1)
        return real(df, mode=mode, **kw)

    monkeypatch.setattr(audit, "extract_documents", counting)
    out = str(tmp_path / "out")
    r = audit.run_extraction_with_audit(spark, pages_df, out, run_id="r1", n_buckets=6)
    assert r["processed"] == list(range(6))
    assert len(calls) == 1  # six buckets, one input scan
    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    assert extracted.count() == pages_df.count()
    assert r["metrics"] == _run_totals(spark, out, "r1")
    assert r["metrics"]["docs"] == pages_df.count()
    assert r["metrics"]["failures"] > 0 and r["metrics"]["bytes"] > 0


def test_audit_mixed_mode_resume(spark, pages_df, tmp_path):
    """A partial commit (``buckets=[1]``, the surgical re-run of one
    bucket) is honored by the full resume that follows; each call's
    metrics cover exactly its own buckets. The dynamic partition
    overwrite that keeps bucket 1 is the write's own option: the
    session's overwrite mode is left as it was."""
    conf = "spark.sql.sources.partitionOverwriteMode"
    spark.conf.set(conf, "static")  # only the write's own option keeps bucket 1
    out = str(tmp_path / "out")
    r1 = audit.run_extraction_with_audit(
        spark, pages_df, out, run_id="r1", n_buckets=4, buckets=[1]
    )
    assert r1["processed"] == [1] and r1["skipped"] == []
    r2 = audit.run_extraction_with_audit(spark, pages_df, out, run_id="r2", n_buckets=4)
    assert r2["processed"] == [0, 2, 3] and r2["skipped"] == [1]
    assert spark.conf.get(conf) == "static"
    extracted = spark.read.parquet(os.path.join(out, "extracted"))
    assert extracted.count() == pages_df.count()
    assert extracted.select("url").distinct().count() == pages_df.count()
    assert r1["metrics"] == _run_totals(spark, out, "r1")
    assert r2["metrics"] == _run_totals(spark, out, "r2")
    assert r1["metrics"]["docs"] == extracted.filter(F.col("bucket") == 1).count()
    assert r1["metrics"]["docs"] + r2["metrics"]["docs"] == pages_df.count()


def test_audit_empty_pending_input(spark, tmp_path):
    """Zero pending rows must commit cleanly (zero metrics), not throw
    on schema inference over a data-less output directory."""
    empty = spark.createDataFrame(
        [],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )
    out = str(tmp_path / "out")
    r = audit.run_extraction_with_audit(spark, empty, out, run_id="r0", n_buckets=4)
    assert r["processed"] == [0, 1, 2, 3]
    assert r["metrics"] == {"docs": 0, "failures": 0, "decode_fallbacks": 0, "bytes": 0}
    assert r["metrics"] == _run_totals(spark, out, "r0")
    # empty buckets COMMIT (zero-row markers): a second run skips them
    # instead of re-scanning the input forever
    r2 = audit.run_extraction_with_audit(spark, empty, out, run_id="r1", n_buckets=4)
    assert r2["processed"] == [] and r2["skipped"] == [0, 1, 2, 3]


@pytest.fixture(scope="module")
def two_file_pages(tmp_path_factory):
    """60 synthesized pages written as two parquet files."""
    from pdf_parser_spark.synth.pages import write_pages_parquet

    d = tmp_path_factory.mktemp("two_file_pages")
    write_pages_parquet(str(d / "a.parquet"), 30)
    write_pages_parquet(str(d / "b.parquet"), 30, start=30)
    return str(d)


def _audit_rows(spark, out):
    return spark.read.schema(audit.AUDIT_SCHEMA).parquet(os.path.join(out, "audit")).collect()


def test_audit_lineage_is_the_writing_task(spark, two_file_pages, tmp_path):
    """Each audit row's ``partition_id`` is the extraction task that
    wrote the rows: the audit's (bucket, partition_id, docs) equal the
    extraction grouped by bucket and ``spark_partition_id()`` on the
    same two-partition input, not the split of a later re-read."""
    from pdf_parser_spark.extract import extract_documents

    pages = spark.read.parquet(two_file_pages)
    assert pages.rdd.getNumPartitions() == 2
    out = str(tmp_path / "out")
    r = audit.run_extraction_with_audit(spark, pages, out, run_id="r1", n_buckets=2)
    assert r["processed"] == [0, 1]
    emitted = (
        audit.with_bucket(extract_documents(pages.select("url", "warc_ts", "html", "text", "lang")), 2)
        .groupBy(audit.BUCKET_COL, F.spark_partition_id().alias("task"))
        .count()
        .collect()
    )
    want = {(e[audit.BUCKET_COL], e["task"], e["count"]) for e in emitted}
    assert len({t for _, t, _ in want}) == 2  # both tasks emitted rows
    got = {(a["bucket"], a["partition_id"], a["docs"]) for a in _audit_rows(spark, out)}
    assert {g for g in got if g[1] >= 0} == want
    assert {g for g in got if g[1] < 0} == {(0, -1, 0), (1, -1, 0)}  # one marker per bucket


def test_audit_one_commit_time_per_append(spark, two_file_pages, tmp_path):
    """Every row of one append — lineage and markers alike — carries the
    same UTC ``committed_at``; a later call's append comes later."""
    pages = spark.read.parquet(two_file_pages)
    out = str(tmp_path / "out")
    audit.run_extraction_with_audit(spark, pages, out, run_id="r1", n_buckets=4, buckets=[0, 1])
    audit.run_extraction_with_audit(spark, pages, out, run_id="r2", n_buckets=4)
    times = {}
    for a in _audit_rows(spark, out):
        times.setdefault(a["run_id"], set()).add(a["committed_at"])
    assert {k: len(v) for k, v in times.items()} == {"r1": 1, "r2": 1}
    assert None not in times["r1"] and times["r1"] != times["r2"]
    assert max(times["r1"]) < min(times["r2"])


def test_audit_hidden_temp_file_is_not_committed(spark, two_file_pages, tmp_path):
    """A crash mid-append leaves only a hidden temp file: neither
    ``committed_buckets`` nor a Spark read of the audit table sees it, so
    its buckets run again."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    pages = spark.read.parquet(two_file_pages)
    out = str(tmp_path / "out")
    audit_path = os.path.join(out, "audit")
    audit.run_extraction_with_audit(spark, pages, out, run_id="r1", n_buckets=2, buckets=[0])
    leftover = pa.Table.from_pylist(audit._bucket_markers("crashed", [1]), schema=audit._ARROW_SCHEMA)
    pq.write_table(leftover, os.path.join(audit_path, ".part-crashed.parquet"))
    assert audit.committed_buckets(audit_path) == [0]
    assert {a["bucket"] for a in _audit_rows(spark, out)} == {0}
    r = audit.run_extraction_with_audit(spark, pages, out, run_id="r2", n_buckets=2)
    assert r["processed"] == [1] and r["skipped"] == [0]
    assert r["metrics"]["docs"] + _run_totals(spark, out, "r1")["docs"] == pages.count()


def test_audit_resumes_a_spark_written_table(spark, two_file_pages, tmp_path):
    """An audit table whose rows were appended by a Spark write (the
    earlier commit path) still resumes, and the mixed table reads in
    Spark both with the explicit schema and with schema inference."""
    import shutil

    pages = spark.read.parquet(two_file_pages)
    out = str(tmp_path / "out")
    audit_path = os.path.join(out, "audit")
    audit.run_extraction_with_audit(spark, pages, out, run_id="r1", n_buckets=2, buckets=[0])
    rows = _audit_rows(spark, out)
    shutil.rmtree(audit_path)
    spark.createDataFrame(rows, audit.AUDIT_SCHEMA).write.parquet(audit_path)
    assert audit.committed_buckets(audit_path) == [0]
    r = audit.run_extraction_with_audit(spark, pages, out, run_id="r2", n_buckets=2)
    assert r["processed"] == [1] and r["skipped"] == [0]
    assert audit.committed_buckets(audit_path) == [0, 1]
    for table in (
        spark.read.schema(audit.AUDIT_SCHEMA).parquet(audit_path),
        spark.read.parquet(audit_path),
    ):
        got = table.groupBy("run_id").agg(
            F.sum("docs").alias("docs"), F.count("committed_at").alias("stamped"), F.count("*").alias("n")
        ).collect()
        assert sum(g["docs"] for g in got) == pages.count()
        assert {g["run_id"] for g in got} == {"r1", "r2"}
        assert all(g["stamped"] == g["n"] for g in got)


def test_audit_lookup_and_append_start_no_spark_job(spark, two_file_pages, tmp_path):
    """The resume lookup and the audit append run on the driver: neither
    starts a Spark job."""
    pages = spark.read.parquet(two_file_pages)
    out = str(tmp_path / "out")
    audit_path = os.path.join(out, "audit")
    audit.run_extraction_with_audit(spark, pages, out, run_id="r1", n_buckets=2, buckets=[0])
    done, n_lookup = _jobs_of(spark, lambda: audit.committed_buckets(audit_path))
    assert done == [0] and n_lookup == 0
    _, n_append = _jobs_of(
        spark, lambda: audit._append_audit(audit_path, audit._bucket_markers("r2", [1]))
    )
    assert n_append == 0
    assert audit.committed_buckets(audit_path) == [0, 1]
    assert audit.committed_buckets(str(tmp_path / "missing")) == []


def test_audit_table_follows_a_uri_out_dir(spark, two_file_pages, tmp_path, monkeypatch):
    """A ``file://`` URI ``out_dir`` (here with a space, which the URI
    percent-encodes) puts the audit table next to the data, where Spark
    wrote it — not in a local directory named after the URI — and the
    next call resumes from it."""
    pages = spark.read.parquet(two_file_pages)
    monkeypatch.chdir(tmp_path)
    local = tmp_path / "out dir"
    out = "file://" + str(local)
    r1 = audit.run_extraction_with_audit(spark, pages, out, run_id="r1", n_buckets=2, buckets=[0])
    assert [p.name for p in tmp_path.iterdir()] == ["out dir"]
    assert [p.suffix for p in (local / "audit").iterdir()] == [".parquet"]
    assert audit.committed_buckets(str(local / "audit")) == [0]
    r2 = audit.run_extraction_with_audit(spark, pages, out, run_id="r2", n_buckets=2)
    assert r2["processed"] == [1] and r2["skipped"] == [0]
    assert r1["metrics"]["docs"] + r2["metrics"]["docs"] == pages.count()
    assert sum(a["docs"] for a in _audit_rows(spark, out)) == pages.count()


def test_audit_store_pyarrow_cannot_open_is_a_clear_error():
    """An audit location pyarrow has no filesystem for fails with a
    ValueError naming it, instead of writing somewhere else."""
    with pytest.raises(ValueError, match="nosuchfs://b/audit"):
        audit.committed_buckets("nosuchfs://b/audit")
    with pytest.raises(ValueError, match="nosuchfs://b/audit"):
        audit._append_audit("nosuchfs://b/audit", audit._bucket_markers("r", [0]))


def test_session_window_streaming_mode(spark, tmp_path):
    """Native session windows on a real stream: gap-separated bursts
    per user; append mode emits only watermark-closed sessions."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq

    from pdf_parser_spark.streaming import session_window_counts

    base = dt.datetime(2024, 1, 1, 0, 0, 0, tzinfo=dt.timezone.utc)
    rows = []
    # user 0: two bursts separated by 2 h; user 1: one burst
    for m in (0, 5, 10, 120, 125):
        rows.append((base + dt.timedelta(minutes=m), 0, 1.0))
    for m in (0, 20):
        rows.append((base + dt.timedelta(minutes=m), 1, 2.0))
    # a late sentinel far in the future advances the watermark so the
    # real sessions close
    rows.append((base + dt.timedelta(hours=12), 9, 0.0))
    src = tmp_path / "sess_stream"
    src.mkdir()
    table = pa.Table.from_pylist(
        [{"ts": r[0], "user_id": r[1], "value": r[2]} for r in rows],
        schema=pa.schema(
            [("ts", pa.timestamp("us", tz="UTC")), ("user_id", pa.int64()), ("value", pa.float64())]
        ),
    )
    pq.write_table(table, src / "e1.parquet")
    stream = spark.readStream.schema("ts timestamp, user_id long, value double").parquet(str(src))
    out = session_window_counts(stream, gap="30 minutes", watermark="1 hour")
    q = (
        out.writeStream.format("memory")
        .queryName("sessagg")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt_sess"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["n_events"]): r
        for r in spark.sql("select * from sessagg").collect()
    }
    # closed sessions: user0 burst1 (3 events), user0 burst2 (2), user1 (2)
    assert (0, 3) in got and (0, 2) in got and (1, 2) in got
    r = got[(0, 3)]
    assert (r["session_end"] - r["session_start"]).total_seconds() == 10 * 60 + 30 * 60
