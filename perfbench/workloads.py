"""The benchmark's three workloads: inputs, pipelines and ground-truth checks.

Each workload turns a seed into a pages parquet (the only thing the
program under test receives), runs one closed-loop *pass* through the
package's public entry points, and checks a pass's outputs against the
generator's ground truth. A pass ends by collecting the outputs that
the check reads, so the warm-up pass and the measured passes run the
same plan and every pass is checked.

- ``crawl_mix``       the canonical ``synth/pages.py`` mix through the
                      ``entry()`` chain;
- ``html_dedup``      HTML-only pages with planted near-duplicate
                      families: extract, LSH + SimHash candidates,
                      connected components, keep canonical;
- ``audited_quotes``  quote PDFs through the audited commit, a resume,
                      and the quote-book (pricing + depreciation) chain
                      over the committed output.

The seed picks an index slot: seed ``s`` generates documents
``[k * size, (k + 1) * size)`` of the index-keyed ``synth`` generators,
with ``k = s mod SEED_SLOTS``.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
import shutil
from dataclasses import dataclass, field
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark import depreciation, pricing, textops
from pdf_parser_spark.audit import AUDIT_SCHEMA, run_extraction_with_audit
from pdf_parser_spark.extract import extract_documents, salted
from pdf_parser_spark.fields import extract_record
from pdf_parser_spark.synth.htmlgen import make_html_page
from pdf_parser_spark.synth.pages import build_pages_rows, row_kind
from pdf_parser_spark.synth.pdfgen import PROPERTY_TYPES, make_quote_pdf
from pdf_parser_spark.validate import with_validation

_EPOCH = dt.datetime(2024, 1, 1)
# SimHash width for html_dedup. At 32 bits two unrelated documents fall
# within hamming 3 with probability ~1.3e-6 per pair, which merges
# unrelated families several times per thousand pages; 64 bits (60
# significant, the word hash is 60-bit) makes that ~3e-14.
SIMHASH_BITS = 64
AUDIT_BUCKETS = 8
AUDIT_INPUT_FILES = 8
# Bounds the document indices a seed reaches. A page's timestamp is its
# index in seconds after 2024-01-01, which passes year 9999 near index
# 2.5e11, and a negative index makes a quote the PDF fonts cannot
# encode; any integer seed maps to a slot below this.
SEED_SLOTS = 10007


def first_index(seed: int, size: int) -> int:
    """Index of the first document of ``seed``'s input of ``size``."""
    return (seed % SEED_SLOTS) * size


def noop(df: DataFrame) -> None:
    """Force full evaluation; ``count()`` would let Catalyst prune."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Inputs:
    """A generated input: the parquet the program reads, its content
    digest, and the ground truth the checks compare against."""

    path: str
    docs: int
    digest: str
    truth: Dict[str, dict] = field(default_factory=dict)
    families: int = 0  # html_dedup: planted families incl. singletons


def write_pages(path: str, rows: List[dict], n_files: int = 1) -> str:
    """Write rows to ``path`` as ``n_files`` parquet files (pages schema)
    and return the sha256 of the rows' content, independent of the
    parquet encoding."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    schema = pa.schema(
        [
            ("url", pa.string()),
            ("warc_ts", pa.timestamp("us")),
            ("html", pa.binary()),
            ("text", pa.string()),
            ("lang", pa.string()),
        ]
    )
    os.makedirs(path, exist_ok=True)
    h = hashlib.sha256()
    for r in rows:
        for v in (r["url"], r["warc_ts"].isoformat(), r["text"], r["lang"]):
            h.update(v.encode("utf-8"))
            h.update(b"\0")
        h.update(len(r["html"]).to_bytes(8, "little"))
        h.update(r["html"])
    per = -(-len(rows) // n_files)
    for k in range(n_files):
        chunk = rows[k * per : (k + 1) * per]
        if chunk:
            pq.write_table(
                pa.Table.from_pylist(chunk, schema=schema),
                os.path.join(path, f"part-{k:03d}.parquet"),
            )
    return h.hexdigest()[:24]


def _page_row(url: str, i: int, blob: bytes, text: str, lang: str = "en") -> dict:
    return {
        "url": url,
        "warc_ts": _EPOCH + dt.timedelta(seconds=i),
        "html": blob,
        "text": text,
        "lang": lang,
    }


def price_records(rec: DataFrame) -> DataFrame:
    """``compute_pricing`` over extracted records, with the column
    mapping of the flagship ``entry()`` chain."""
    # the PDF-embedded payment columns collide case-insensitively with
    # pricing's computed pay_* outputs
    rec = rec.drop("Pay_Upfront", "Pay_Over_Time")
    return pricing.compute_pricing(
        rec.withColumn("_pp", F.coalesce(F.col("Purchase_Price"), F.lit(0.0)))
        .withColumn("_lv", F.coalesce(F.col("Know_Land_Value"), F.lit(0.0)))
        .withColumn("_cx", F.coalesce(F.col("Capital_Improvements_Amount"), F.lit(0.0)))
        .withColumn("_zip", F.coalesce(F.col("Zip_Code").cast("int"), F.lit(85260)))
        .withColumn("_sqft", F.coalesce(F.col("SqFt_Building"), F.lit(0.0)))
        .withColumn("_acres", F.coalesce(F.col("Acres_Land"), F.lit(0.0)))
        .withColumn("_floors", F.lit(1.0))
        .withColumn("_nprop", F.coalesce(F.col("Multiple_Properties_Quote"), F.lit(1.0))),
        purchase_price="_pp",
        land_value="_lv",
        capex="_cx",
        zip_code="_zip",
        property_type="Type_of_Property_Quote",
        sqft_building="_sqft",
        acres_land="_acres",
        floors="_floors",
        num_properties="_nprop",
    )


def records(ext: DataFrame) -> DataFrame:
    return with_validation(extract_record(ext, mode="typed"), mode="typed", strict_quirk=False)


# ----------------------------------------------------------------------
# crawl_mix
# ----------------------------------------------------------------------
class CrawlMix:
    name = "crawl_mix"
    size = 2000  # a multiple of 1000 keeps the jumbo count fixed
    canary = 1000  # the first jumbo row is 999

    def rows(self, seed: int, size: int) -> Tuple[List[dict], Dict[str, dict]]:
        rows, truth = [], {}
        for r in build_pages_rows(size, start=first_index(seed, size)):
            i = int(r["url"].rsplit("/", 1)[1])
            kind = row_kind(i)
            rows.append(r)
            truth[r["url"]] = {
                "kind": kind,
                "text": r["text"],
                "prospect": f"Prospect {i} LLC" if kind in ("pdf", "jumbo") else None,
            }
        return rows, truth

    def generate(self, seed: int, root: str, size: Optional[int] = None) -> Inputs:
        rows, truth = self.rows(seed, size or self.size)
        path = os.path.join(root, "pages")
        return Inputs(path, len(rows), write_pages(path, rows), truth)

    def pipeline(self, spark: SparkSession, inp: Inputs, cores: int) -> DataFrame:
        pages = spark.read.parquet(inp.path)
        return price_records(records(extract_documents(salted(pages, parallelism=cores))))

    def run_pass(self, spark: SparkSession, inp: Inputs, passdir: str, cores: int) -> dict:
        out = self.pipeline(spark, inp, cores).select(
            "url", "text", "error_code", "Name_of_Prospect", "final_bid"
        )
        return {"rows": [r.asDict() for r in out.collect()]}

    def check(self, inp: Inputs, out: dict) -> List[str]:
        """One entry per document that failed its ground-truth check."""
        bad, seen = [], set()
        for r in out["rows"]:
            url = r["url"]
            t = inp.truth.get(url)
            if t is None or url in seen:
                bad.append(f"{url}: unexpected or duplicated row")
                continue
            seen.add(url)
            if t["kind"] == "corrupt":
                # a truncated PDF must yield a typed parse error, not a
                # crash ('internal') and not text
                if r["error_code"] in (None, "internal") or r["text"] is not None:
                    bad.append(f"{url}: corrupt row gave error_code={r['error_code']!r}")
            elif r["text"] != t["text"]:
                bad.append(f"{url}: text differs from golden")
            elif t["prospect"] is not None and (
                r["Name_of_Prospect"] != t["prospect"] or r["final_bid"] is None
            ):
                bad.append(f"{url}: quote record missing or wrong")
        bad += [f"{u}: no output row" for u in inp.truth if u not in seen]
        return bad


# ----------------------------------------------------------------------
# html_dedup
# ----------------------------------------------------------------------
_SYLLABLES = "ka lo mi nu pe ra si to vu ze bi co da fe gu ha ji ke".split()
_VOCAB = [a + b + c for a in _SYLLABLES for b in _SYLLABLES for c in _SYLLABLES]


def dedup_text(g: int) -> List[str]:
    """Main-text paragraphs of source document ``g`` (index-keyed).

    Paragraphs are pre-collapsed (single spaces, >= 10 words, no links)
    so the extractor returns them unchanged."""
    rng = random.Random(g)
    paras = []
    for _ in range(3 + g % 3):
        ws = [rng.choice(_VOCAB) for _ in range(rng.randint(10, 24))]
        paras.append(" ".join(ws).capitalize() + ".")
    return paras


def dedup_page(chrome: int, paras: List[str]) -> Tuple[bytes, str]:
    """The ``synth/htmlgen`` page #``chrome`` (nav, sidebar, scripts,
    link table, footer) with its article paragraphs replaced."""
    html = make_html_page(chrome)[0].decode("utf-8")
    head, rest = html.split("<article>\n", 1)
    _, tail = rest.split("<table>", 1)
    body = "".join(f"<p>{p}</p>\n" for p in paras)
    return f"{head}<article>\n{body}<table>{tail}".encode("utf-8"), "\n".join(paras)


def planted_twins(g: int) -> int:
    """30% of sources get 1-3 near-duplicate twins."""
    return 1 + (g // 10) % 3 if g % 10 < 3 else 0


class HtmlDedup:
    name = "html_dedup"
    size = 3000  # pages, sources plus twins
    canary = 200

    def rows(self, seed: int, size: int) -> Tuple[List[dict], Dict[str, dict], int]:
        rows, truth, families = [], {}, 0
        g = first_index(seed, size)
        while len(rows) < size:
            paras = dedup_text(g)
            src = f"https://site{g % 89}.test/article/{g}"
            blob, text = dedup_page(g, paras)
            rows.append(_page_row(src, g, blob, text))
            truth[src] = {"text": text, "source": src}
            families += 1
            for t in range(planted_twins(g)):
                if len(rows) == size:
                    break
                if t % 2 == 0:
                    # same article under another site's chrome
                    twin = paras
                else:
                    # the last paragraph upper-cased: the text differs, but
                    # the shingling lower-cases it, so the twin is a certain
                    # LSH candidate. A word edit is one only with LSH's
                    # odds, and a missed twin would fail the check.
                    twin = paras[:-1] + [paras[-1].upper()]
                url = f"https://mirror{t}.test/copy/{g}"
                blob, text = dedup_page(g + 7919 * (t + 1), twin)
                rows.append(_page_row(url, g, blob, text))
                truth[url] = {"text": text, "source": src}
            g += 1
        return rows, truth, families

    def generate(self, seed: int, root: str, size: Optional[int] = None) -> Inputs:
        rows, truth, families = self.rows(seed, size or self.size)
        path = os.path.join(root, "pages")
        return Inputs(path, len(rows), write_pages(path, rows), truth, families)

    def extracted(self, spark: SparkSession, inp: Inputs, cores: int) -> DataFrame:
        pages = spark.read.parquet(inp.path)
        return extract_documents(salted(pages, parallelism=cores)).select(
            F.col("url").alias("doc_id"), "text"
        )

    def clusters(self, spark: SparkSession, inp: Inputs, cores: int) -> Tuple[DataFrame, DataFrame]:
        """(extracted text, clusters). The text and the signatures are
        persisted: both candidate generators and the cluster join read
        the text, and ``simhash_pairs`` reads its input eight times (four
        blocks, both join sides)."""
        ext = self.extracted(spark, inp, cores).persist()
        sims = textops.simhash(ext, bits=SIMHASH_BITS).persist()
        lsh = textops.lsh_band_pairs(ext)
        sim = textops.simhash_pairs(sims, bits=SIMHASH_BITS).select("id_a", "id_b")
        return ext, textops.dedup_clusters(ext, lsh.unionByName(sim))

    def run_pass(self, spark: SparkSession, inp: Inputs, passdir: str, cores: int) -> dict:
        ext, clusters = self.clusters(spark, inp, cores)
        return {
            "text": {r["doc_id"]: r["text"] for r in ext.collect()},
            "cluster": {
                r["doc_id"]: (r["cluster_id"], r["is_canonical"]) for r in clusters.collect()
            },
        }

    def check(self, inp: Inputs, out: dict) -> List[str]:
        bad = []
        for url, t in inp.truth.items():
            if out["text"].get(url) != t["text"]:
                bad.append(f"{url}: text differs from golden")
            got, src = out["cluster"].get(url), out["cluster"].get(t["source"])
            if got is None or src is None or got[0] != src[0]:
                bad.append(f"{url}: not in its source's cluster")
        canonical = sum(1 for _, keep in out["cluster"].values() if keep)
        if canonical != inp.families:
            bad.append(f"{canonical} canonical pages for {inp.families} planted families")
        bad += [f"{u}: unexpected row" for u in out["cluster"] if u not in inp.truth]
        return bad


# ----------------------------------------------------------------------
# audited_quotes
# ----------------------------------------------------------------------
def horizon(i: int) -> int:
    """Schedule rows of quote ``i`` under ``full_horizon``: 29 years for
    multi-family (27.5-year class), 41 otherwise (39-year class)."""
    return 29 if PROPERTY_TYPES[i % len(PROPERTY_TYPES)].lower().replace(" ", "-") == "multi-family" else 41


def quote_book(priced: DataFrame) -> DataFrame:
    """Priced records → their depreciation schedule over the full
    horizon (``with_engine_inputs`` → ``with_481a`` → schedule)."""
    staged = depreciation.with_engine_inputs(
        priced.withColumn("_acq", F.to_date("Date_of_Purchase", "MM/dd/yyyy"))
        .withColumn("_css", F.make_date(F.col("Tax_Year").cast("int"), F.lit(12), F.lit(31)))
        .withColumn("_ptype", F.lower(F.regexp_replace("Type_of_Property_Quote", " ", "-")))
        .withColumn("_zero", F.lit(0.0)),
        purchase_price="_pp",
        land_value="_lv",
        capex="_cx",
        pad="_zero",
        deferred_gain="_zero",
        acquisition_date="_acq",
        css_date="_css",
        property_type="_ptype",
        year_built="Year_Built",
    )
    return depreciation.depreciation_schedule(depreciation.with_481a(staged), full_horizon=True)


class AuditedQuotes:
    name = "audited_quotes"
    size = 8000
    canary = 200
    first_buckets = list(range(AUDIT_BUCKETS // 2))

    def rows(self, seed: int, size: int) -> Tuple[List[dict], Dict[str, dict]]:
        rows, truth = [], {}
        start = first_index(seed, size)
        for i in range(start, start + size):
            blob, text, _ = make_quote_pdf(i)
            url = f"https://quotes{i % 97}.test/q/{i}"
            rows.append(_page_row(url, i, blob, text))
            truth[url] = {"text": text, "prospect": f"Prospect {i} LLC", "horizon": horizon(i)}
        return rows, truth

    def generate(self, seed: int, root: str, size: Optional[int] = None) -> Inputs:
        rows, truth = self.rows(seed, size or self.size)
        path = os.path.join(root, "pages")
        return Inputs(path, len(rows), write_pages(path, rows, AUDIT_INPUT_FILES), truth)

    def commit(self, spark: SparkSession, inp: Inputs, passdir: str) -> Tuple[dict, dict]:
        """The audited extraction: commit half the buckets, then resume."""
        shutil.rmtree(passdir, ignore_errors=True)
        pages = spark.read.parquet(inp.path)
        first = run_extraction_with_audit(
            spark, pages, passdir, run_id="commit", n_buckets=AUDIT_BUCKETS,
            buckets=self.first_buckets,
        )
        second = run_extraction_with_audit(
            spark, pages, passdir, run_id="resume", n_buckets=AUDIT_BUCKETS
        )
        return first, second

    @staticmethod
    def committed(spark: SparkSession, passdir: str) -> DataFrame:
        return spark.read.parquet(os.path.join(passdir, "extracted"))

    def schedule(self, spark: SparkSession, passdir: str) -> DataFrame:
        return quote_book(price_records(records(self.committed(spark, passdir))))

    def run_pass(self, spark: SparkSession, inp: Inputs, passdir: str, cores: int,
                 commits: Optional[Tuple[dict, dict]] = None) -> dict:
        """Outputs of a pass. ``commits`` are the two audit calls' return
        values when the caller already ran them into ``passdir``."""
        first, second = commits or self.commit(spark, inp, passdir)
        audit = spark.read.schema(AUDIT_SCHEMA).parquet(os.path.join(passdir, "audit"))
        # every committed row enters the schedule, so one aggregation
        # over it sees each committed url with its text and record
        per_url = (
            self.schedule(spark, passdir)
            .groupBy("url")
            .agg(
                F.count("*").alias("schedule_rows"),
                F.first("Name_of_Prospect").alias("prospect"),
                F.first("text").alias("text"),
            )
            .collect()
        )
        return {
            "first": first,
            "second": second,
            "audit_docs": audit.agg(F.sum("docs")).collect()[0][0] or 0,
            "per_url": {r["url"]: r.asDict() for r in per_url},
        }

    def check(self, inp: Inputs, out: dict) -> List[str]:
        bad = []
        first, second = out["first"], out["second"]
        every = set(range(AUDIT_BUCKETS))
        if set(second["skipped"]) != set(first["processed"]):
            bad.append(f"resume skipped {second['skipped']}, commit processed {first['processed']}")
        if set(first["processed"]) | set(second["processed"]) != every:
            bad.append("the two calls did not cover every bucket")
        if out["audit_docs"] != inp.docs:
            bad.append(f"audit table counts {out['audit_docs']} docs for {inp.docs} rows")
        for url, t in inp.truth.items():
            r = out["per_url"].get(url)
            if r is None or r["text"] != t["text"]:
                bad.append(f"{url}: committed text missing or differs from golden")
            elif r["prospect"] != t["prospect"]:
                bad.append(f"{url}: quote record missing or wrong")
            elif r["schedule_rows"] != t["horizon"]:
                # a url committed twice shows up here too, with twice the rows
                bad.append(f"{url}: {r['schedule_rows']} schedule rows, expected {t['horizon']}")
        return bad


WORKLOADS = {w.name: w for w in (CrawlMix(), HtmlDedup(), AuditedQuotes())}
