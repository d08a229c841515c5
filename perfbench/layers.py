"""The traced run: per-layer metrics for one workload.

Every span wraps one call into a layer's public functions, made from
here, never from inside the package. Each layer's input is
materialized (persisted and forced) before its span opens, so a span
covers that layer alone, and each layer is forced with a ``noop``
write. The single-threaded, driver-side ``pdfcore`` / ``htmlcore``
passes over the workload's own documents are the no-Spark baseline that
``extract.efficiency`` divides by.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Dict, List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark import depreciation, textops
from pdf_parser_spark.audit import run_extraction_with_audit, with_bucket
from pdf_parser_spark.extract import extract_documents, salted, sniff_doc_type
from pdf_parser_spark.fields import extract_record
from pdf_parser_spark.htmlcore import extract_main_text
from pdf_parser_spark.pdfcore import parse_pdf
from pdf_parser_spark.validate import with_validation

from tracing import Tracer
from workloads import (
    AUDIT_BUCKETS,
    SIMHASH_BITS,
    AuditedQuotes,
    CrawlMix,
    HtmlDedup,
    Inputs,
    noop,
    price_records,
    quote_book,
)

# (name, unit, better): the per-layer metrics of BENCHMARK.json, in order
PER_LAYER = [
    ("pdfcore.busy_s", "s", "lower"),
    ("pdfcore.ms_per_doc_p50", "ms", "lower"),
    ("pdfcore.ms_per_doc_p99", "ms", "lower"),
    ("pdfcore.pages", "count", "higher"),
    ("pdfcore.items", "count", "higher"),
    ("pdfcore.decode_fallbacks", "count", "lower"),
    ("pdfcore.errors", "count", "lower"),
    ("htmlcore.busy_s", "s", "lower"),
    ("htmlcore.ms_per_doc_p50", "ms", "lower"),
    ("htmlcore.errors", "count", "lower"),
    ("extract.stage_s", "s", "lower"),
    ("extract.parse_only_s", "s", "lower"),
    ("extract.ship_s", "s", "lower"),
    ("extract.efficiency", "ratio", "higher"),
    ("extract.rows_out", "count", "higher"),
    ("extract.text_bytes_out", "bytes", "higher"),
    ("fields.plan_s", "s", "lower"),
    ("fields.stage_s", "s", "lower"),
    ("fields.records", "count", "higher"),
    ("validate.stage_s", "s", "lower"),
    ("validate.valid", "count", "higher"),
    ("validate.invalid", "count", "lower"),
    ("pricing.plan_s", "s", "lower"),
    ("pricing.stage_s", "s", "lower"),
    ("depreciation.plan_s", "s", "lower"),
    ("depreciation.stage_s", "s", "lower"),
    ("depreciation.schedule_rows", "count", "higher"),
    ("audit.commit_s", "s", "lower"),
    ("audit.resume_s", "s", "lower"),
    ("audit.buckets_processed", "count", "higher"),
    ("audit.buckets_skipped", "count", "higher"),
    ("audit.bytes_written", "bytes", "lower"),
    ("audit.files_written", "count", "lower"),
    ("textops.lsh_s", "s", "lower"),
    ("textops.lsh_pairs", "count", "lower"),
    ("textops.simhash_s", "s", "lower"),
    ("textops.simhash_pairs", "count", "lower"),
    ("textops.cc_s", "s", "lower"),
    ("textops.clusters", "count", "lower"),
    ("textops.useful_pair_ratio", "ratio", "higher"),
    ("spark.stages", "count", "lower"),
    ("spark.tasks", "count", "lower"),
    ("spark.tasks_failed", "count", "lower"),
    ("spark.partition_skew", "ratio", "lower"),
    ("trace.overhead_s", "s", "lower"),
    ("trace.spans", "count", "higher"),
]


def materialize(df: DataFrame) -> DataFrame:
    df = df.persist()
    noop(df)
    return df


def _quantile(xs: List[float], q: float) -> float:
    xs = sorted(xs)
    return xs[min(len(xs) - 1, int(q * len(xs)))] if xs else 0.0


def partition_skew(df: DataFrame) -> float:
    """Largest partition's row count over the median partition's."""
    counts = [
        r["count"] for r in df.groupBy(F.spark_partition_id().alias("p")).count().collect()
    ]
    return max(counts) / statistics.median(counts) if counts else 0.0


def stage_stats(spark: SparkSession, group: str) -> Dict[str, float]:
    """Stages, tasks and failed tasks of a job group, from the status tracker."""
    st = spark.sparkContext.statusTracker()
    stages, tasks, failed = 0, 0, 0
    for jid in st.getJobIdsForGroup(group):
        job = st.getJobInfo(jid)
        for sid in job.stageIds if job else []:
            info = st.getStageInfo(sid)
            if info is not None:
                stages += 1
                tasks += info.numTasks
                failed += info.numFailedTasks
    return {"spark.stages": stages, "spark.tasks": tasks, "spark.tasks_failed": failed}


def driver_parse(T: Tracer, inp: Inputs, m: Dict[str, float]) -> None:
    """Single-threaded pdfcore / htmlcore passes over the input blobs."""
    import pyarrow.parquet as pq

    blobs = pq.read_table(inp.path, columns=["html"]).column("html").to_pylist()
    pdf_ms: List[float] = []
    html_ms: List[float] = []
    pages = items = fallbacks = pdf_errors = html_errors = 0
    T.pass_id += 1
    with T.span("pdfcore.driver_pass"):
        for blob in blobs:
            if sniff_doc_type(blob) != "pdf":
                continue
            t = time.perf_counter()
            try:
                doc = parse_pdf(blob)
                pages += doc.num_pages
                items += sum(len(p.items) for p in doc.pages)
                fallbacks += doc.decode_fallbacks
            except Exception:  # noqa: BLE001 — the extract stage turns any parser exception into an error row
                pdf_errors += 1
            pdf_ms.append((time.perf_counter() - t) * 1e3)
    T.pass_id += 1
    with T.span("htmlcore.driver_pass"):
        for blob in blobs:
            if sniff_doc_type(blob) != "html":
                continue
            t = time.perf_counter()
            try:
                extract_main_text(blob.decode("utf-8", errors="replace"))
            except Exception:  # noqa: BLE001 — as above, an error row in the stage
                html_errors += 1
            html_ms.append((time.perf_counter() - t) * 1e3)
    m.update(
        {
            "pdfcore.busy_s": sum(pdf_ms) / 1e3,
            "pdfcore.ms_per_doc_p50": _quantile(pdf_ms, 0.5),
            "pdfcore.ms_per_doc_p99": _quantile(pdf_ms, 0.99),
            "pdfcore.pages": pages,
            "pdfcore.items": items,
            "pdfcore.decode_fallbacks": fallbacks,
            "pdfcore.errors": pdf_errors,
            "htmlcore.busy_s": sum(html_ms) / 1e3,
            "htmlcore.ms_per_doc_p50": _quantile(html_ms, 0.5),
            "htmlcore.errors": html_errors,
        }
    )


def _extract(T: Tracer, pages: DataFrame, m: Dict[str, float]) -> DataFrame:
    with T.span("extract"):
        with T.span("extract.parse_only"):
            noop(extract_documents(pages, output="meta"))
        with T.span("extract.stage"):
            noop(extract_documents(pages))
    ext = materialize(extract_documents(pages))
    agg = ext.agg(F.count("*"), F.sum(F.octet_length("text"))).collect()[0]
    m["extract.rows_out"] = agg[0]
    m["extract.text_bytes_out"] = agg[1] or 0
    return ext


def _records(T: Tracer, ext: DataFrame, m: Dict[str, float]) -> DataFrame:
    """fields → validate → pricing, each on its materialized input."""
    with T.span("fields"):
        with T.span("fields.plan"):
            rec = extract_record(ext, mode="typed")
        with T.span("fields.stage"):
            noop(rec)
    rec = materialize(rec)
    m["fields.records"] = rec.filter(F.col("Name_of_Prospect").isNotNull()).count()
    with T.span("validate.stage"):
        val = with_validation(rec, mode="typed", strict_quirk=False)
        noop(val)
    val = materialize(val)
    counts = {r["is_valid"]: r["count"] for r in val.groupBy("is_valid").count().collect()}
    m["validate.valid"] = counts.get(True, 0)
    m["validate.invalid"] = counts.get(False, 0)
    with T.span("pricing"):
        with T.span("pricing.plan"):
            priced = price_records(val)
        with T.span("pricing.stage"):
            noop(priced)
    return priced


def trace_crawl_mix(spark, w: CrawlMix, inp: Inputs, passdir: str, cores: int,
                    T: Tracer, m: Dict[str, float]) -> None:
    with T.span("spark.scan"):
        pages = materialize(salted(spark.read.parquet(inp.path), parallelism=cores))
    _records(T, _extract(T, pages, m), m)
    m["spark.partition_skew"] = partition_skew(pages)


def trace_html_dedup(spark, w: HtmlDedup, inp: Inputs, passdir: str, cores: int,
                     T: Tracer, m: Dict[str, float]) -> None:
    with T.span("spark.scan"):
        pages = materialize(salted(spark.read.parquet(inp.path), parallelism=cores))
    ext = _extract(T, pages, m).select(F.col("url").alias("doc_id"), "text")
    ext = materialize(ext)
    with T.span("textops.lsh"):
        lsh = textops.lsh_band_pairs(ext)
        noop(lsh)
    lsh = materialize(lsh)
    with T.span("textops.simhash"):
        sims = materialize(textops.simhash(ext, bits=SIMHASH_BITS))
        sim = textops.simhash_pairs(sims, bits=SIMHASH_BITS).select("id_a", "id_b")
        noop(sim)
    sim = materialize(sim)
    with T.span("textops.cc"):
        clusters = textops.dedup_clusters(ext, lsh.unionByName(sim))
        noop(clusters.filter("is_canonical"))
    pairs = lsh.unionByName(sim).distinct().collect()
    source = {u: t["source"] for u, t in inp.truth.items()}
    m["textops.lsh_pairs"] = lsh.count()
    m["textops.simhash_pairs"] = sim.count()
    m["textops.clusters"] = clusters.filter("is_canonical").count()
    m["textops.useful_pair_ratio"] = (
        sum(source.get(a) == source.get(b) for a, b in pairs) / len(pairs) if pairs else 0.0
    )
    m["spark.partition_skew"] = partition_skew(pages)


def _disk_usage(root: str) -> Dict[str, int]:
    size = files = 0
    for d, _, names in os.walk(root):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(d, n))
    return {"audit.bytes_written": size, "audit.files_written": files}


def trace_audited_quotes(spark, w: AuditedQuotes, inp: Inputs, passdir: str, cores: int,
                         T: Tracer, m: Dict[str, float]) -> None:
    with T.span("spark.scan"):
        pages = materialize(spark.read.parquet(inp.path))
    with T.span("audit.commit"):
        first = run_extraction_with_audit(
            spark, pages, passdir, run_id="commit", n_buckets=AUDIT_BUCKETS,
            buckets=w.first_buckets,
        )
    with T.span("audit.resume"):
        second = run_extraction_with_audit(
            spark, pages, passdir, run_id="resume", n_buckets=AUDIT_BUCKETS
        )
    m["audit.buckets_processed"] = len(first["processed"]) + len(second["processed"])
    m["audit.buckets_skipped"] = len(first["skipped"]) + len(second["skipped"])
    m.update(_disk_usage(passdir))
    # the extract layer alone, on the same (unsalted) input
    _extract(T, pages, m).unpersist()
    with T.span("spark.reread"):
        committed = materialize(w.committed(spark, passdir))
    priced = materialize(_records(T, committed, m))
    with T.span("depreciation"):
        with T.span("depreciation.plan"):
            sched = quote_book(priced)
            totals = depreciation.schedule_totals(sched, ["url"])
        with T.span("depreciation.stage"):
            noop(totals)
    m["depreciation.schedule_rows"] = sched.count()
    pending = with_bucket(pages, AUDIT_BUCKETS).filter(F.col("_bucket").isin(w.first_buckets))
    m["spark.partition_skew"] = partition_skew(pending)


TRACERS = {
    "crawl_mix": trace_crawl_mix,
    "html_dedup": trace_html_dedup,
    "audited_quotes": trace_audited_quotes,
}

# span name → per-layer metric holding its summed duration
SPAN_METRICS = {
    "extract.stage": "extract.stage_s",
    "extract.parse_only": "extract.parse_only_s",
    "fields.plan": "fields.plan_s",
    "fields.stage": "fields.stage_s",
    "validate.stage": "validate.stage_s",
    "pricing.plan": "pricing.plan_s",
    "pricing.stage": "pricing.stage_s",
    "depreciation.plan": "depreciation.plan_s",
    "depreciation.stage": "depreciation.stage_s",
    "audit.commit": "audit.commit_s",
    "audit.resume": "audit.resume_s",
    "textops.lsh": "textops.lsh_s",
    "textops.simhash": "textops.simhash_s",
    "textops.cc": "textops.cc_s",
}


def traced_pass(spark: SparkSession, w, inp: Inputs, passdir: str, cores: int,
                T: Tracer) -> Dict[str, float]:
    """One traced pass plus the driver-side baseline passes. Returns the
    per-layer metrics measured here; the caller adds the stage counts and
    the tracing overhead, and reads a bypassed layer's metrics as 0."""
    m: Dict[str, float] = {}
    T.pass_id += 1
    with T.span("pass"):
        TRACERS[w.name](spark, w, inp, passdir, cores, T, m)
    spark.catalog.clearCache()
    driver_parse(T, inp, m)
    for span, metric in SPAN_METRICS.items():
        m[metric] = T.duration(span)
    m["extract.ship_s"] = m["extract.stage_s"] - m["extract.parse_only_s"]
    busy = m["pdfcore.busy_s"] + m["htmlcore.busy_s"]
    m["extract.efficiency"] = busy / (m["extract.parse_only_s"] * cores) if busy else 0.0
    return m
