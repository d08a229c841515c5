"""Driver contract for the spark-graft builder (PySpark target).

- ``entry(spark)``: the flagship pipeline on sf0.001 — synthesize a
  quote-PDF corpus (one per ``documents`` row), run the full
  read → salt → mapInPandas(from-scratch PDF parse) → native
  white-text record extraction → validation → pricing chain, and
  return per-url results including the byte-identical-text check.
- ``queries()``: one entry per implemented operator from SURVEY.md §2
  plus the north-rule training-data operators (see
  ``pdf_parser_spark/queries_ref.py`` and ``queries_data.py``).
- ``oracle_sql()``: DuckDB equivalents, generated from the SAME literal
  tier/table data the engine uses but via an independent computation
  path (``pdf_parser_spark/sqlgen.py``).
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

# make the package importable regardless of the caller's CWD
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pdf_parser_spark import pricing
from pdf_parser_spark.extract import extract_documents, map_documents, salted
from pdf_parser_spark.fields import extract_record
from pdf_parser_spark.functions.sqltext import lit, with_sql
from pdf_parser_spark.queries_capex import capex_oracle_sql, capex_queries
from pdf_parser_spark.queries_data import data_oracle_sql, data_queries
from pdf_parser_spark.queries_ref import ref_oracle_sql, ref_queries
from pdf_parser_spark.validate import with_validation


def _quote_page(doc_id: int) -> list:
    """One synthesized quote PDF as a ``pages`` row."""
    import datetime

    from pdf_parser_spark.synth.pdfgen import make_quote_pdf

    i = int(doc_id)
    blob, golden_text, _golden_wt = make_quote_pdf(i)
    return [(
        f"https://example{i % 97}.test/doc/{i}",
        datetime.datetime(2024, 1, 1) + datetime.timedelta(seconds=i),
        blob,
        golden_text,
        "en",
    )]


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    pages = map_documents(
        spark.read.parquet("/root/testdata/sf0.001/documents.parquet"), ["doc_id"],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
        _quote_page,
    )
    golden = pages.select("url", F.col("text").alias("golden_text"))
    ext = extract_documents(salted(pages, parallelism=8))
    rec = extract_record(ext, mode="typed")
    rec = with_validation(rec, mode="typed", strict_quirk=False)
    # the PDF-embedded payment columns collide case-insensitively with
    # pricing's computed pay_* outputs under the default resolver
    rec = rec.drop("Pay_Upfront", "Pay_Over_Time")
    priced = pricing.compute_pricing(
        with_sql(rec, [
            ("_pp", f"coalesce(Purchase_Price, {lit(0.0)})"),
            ("_lv", f"coalesce(Know_Land_Value, {lit(0.0)})"),
            ("_cx", f"coalesce(Capital_Improvements_Amount, {lit(0.0)})"),
            ("_zip", f"coalesce(CAST(Zip_Code AS INT), {lit(85260)})"),
            ("_sqft", f"coalesce(SqFt_Building, {lit(0.0)})"),
            ("_acres", f"coalesce(Acres_Land, {lit(0.0)})"),
            ("_floors", lit(1.0)),
            ("_nprop", f"coalesce(Multiple_Properties_Quote, {lit(1.0)})"),
        ]),
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
    out = priced.join(golden, "url")
    return out.select(
        "url",
        "doc_type",
        "n_pages",
        (F.col("text") == F.col("golden_text")).alias("text_byte_identical"),
        "Name_of_Prospect",
        "Type_of_Property_Quote",
        "Purchase_Price",
        "is_valid",
        F.size("validation_errors").alias("n_errors"),
        "final_bid",
        "pay_upfront",
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    q = {}
    q.update(ref_queries())
    q.update(data_queries())
    q.update(capex_queries())
    return q


def oracle_sql() -> dict[str, str]:
    """DuckDB oracle SQL per query — EVERY query has one (round 2: the
    approximate-but-deterministic ANN ops gained generated oracles that
    replay the seeded hyperplane/centroid math in SQL)."""
    s = {}
    s.update(ref_oracle_sql())
    s.update(data_oracle_sql())
    s.update(capex_oracle_sql())
    return s
