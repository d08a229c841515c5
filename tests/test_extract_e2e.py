"""End-to-end: pages parquet → mapInPandas extract → native fields/validate.

The correctness gate of BASELINE.json: byte-identical extracted text
per url, plus field-identical typed records. Expected record values are
re-derived here in pure Python (independent of the Spark expressions).
"""

import re
from decimal import ROUND_HALF_UP, Decimal

import pytest

from pdf_parser_spark.extract import extract_documents, salted
from pdf_parser_spark.fields import extract_record
from pdf_parser_spark.synth.pages import row_kind
from pdf_parser_spark.synth.pdfgen import quote_metadata_string
from pdf_parser_spark.validate import with_validation


# ----------------------------------------------------------------------
# pure-Python re-derivation of metadata.ts:35-95 + formatters.ts
# ----------------------------------------------------------------------
def py_format_number(v, d):
    s = re.sub(r"[^0-9.\-]", "", str(v))
    m = re.match(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?", s)
    if not m:
        return 0.0
    q = Decimal(1).scaleb(-d)
    return float(Decimal(m.group(0)).quantize(q, rounding=ROUND_HALF_UP))


def py_format_zip(v):
    return re.sub(r"\D", "", str(v))[:5].rjust(5, "0")


def py_format_date(v):
    if not v:
        return ""
    if re.match(r"^\d{2}/\d{2}/\d{4}$", v):
        return v
    if re.match(r"^\d{4}-\d{2}-\d{2}$", v):
        y, m, d = v.split("-")
        return f"{m}/{d}/{y}"
    return v


def py_typed_record(meta: str) -> dict:
    from pdf_parser_spark.schema import RECORD_FIELDS

    fields = {}
    for f in meta.split("||"):
        if ":" not in f:
            continue
        parts = f.split(":")
        key, value = parts[0].strip(), parts[1].strip()
        if key:
            fields[key] = value
    out = {}
    for key, kind in RECORD_FIELDS:
        value = fields.get(key, "")
        if kind == "text":
            out[key] = value or None
        elif kind == "zipcode":
            out[key] = py_format_zip(value) or None
        elif kind == "currency":
            out[key] = py_format_number(value, 2) or None
        elif kind == "number":
            out[key] = py_format_number(value, 0) or None
        elif kind == "date":
            out[key] = py_format_date(value) or None
    return out


@pytest.fixture(scope="module")
def extracted(spark, pages_parquet):
    pages = spark.read.parquet(pages_parquet)
    out = extract_documents(salted(pages, 4), mode="first_valid")
    golden = pages.select("url", "text")
    joined = (
        out.alias("e")
        .join(golden.withColumnRenamed("text", "golden_text").alias("g"), "url")
        .cache()
    )
    yield joined
    joined.unpersist()


def test_row_count_preserved(extracted):
    assert extracted.count() == 240


def test_byte_identical_text_all_parseable(extracted):
    from pyspark.sql import functions as F

    ok_rows = extracted.filter(F.col("error_code").isNull())
    mismatches = ok_rows.filter(
        ~(F.col("text").eqNullSafe(F.col("golden_text")))
    ).select("url", "doc_type").collect()
    assert mismatches == [], f"text mismatch for {mismatches[:5]}"
    # pass rate gate: every non-corrupt fixture must parse
    bad = extracted.filter(
        F.col("error_code").isNotNull() & ~F.col("url").isin(
            [f"https://example{i % 97}.test/doc/{i}" for i in range(240) if row_kind(i) == "corrupt"]
        )
    ).count()
    assert bad == 0


def test_corrupt_rows_have_error_codes(extracted):
    from pyspark.sql import functions as F

    corrupt_urls = [
        f"https://example{i % 97}.test/doc/{i}" for i in range(240) if row_kind(i) == "corrupt"
    ]
    rows = extracted.filter(F.col("url").isin(corrupt_urls)).collect()
    assert len(rows) == len(corrupt_urls)
    assert all(r["error_code"] is not None for r in rows)


def test_spans_match_text(extracted):
    from pyspark.sql import functions as F

    rows = extracted.filter(
        (F.col("error_code").isNull()) & (F.size("spans") > 0)
    ).select("text", "spans").limit(30).collect()
    assert rows
    for r in rows:
        sp = r["spans"]
        assert len(sp) % 2 == 0  # packed [s0,e0,s1,e1,...]
        for start, end in zip(sp[0::2], sp[1::2]):
            seg = r["text"][start:end]
            assert seg == seg.strip("\n")  # spans never cross separators


def test_meta_string_byte_identical(spark, extracted):
    from pyspark.sql import functions as F

    recs = extract_record(extracted, mode="typed")
    pdf_urls = {
        f"https://example{i % 97}.test/doc/{i}": i
        for i in range(240)
        if row_kind(i) in ("pdf", "jumbo")
    }
    rows = recs.filter(F.col("meta_string").isNotNull() & (F.col("meta_string") != "")).select(
        "url", "meta_string"
    ).collect()
    got = {r["url"]: r["meta_string"] for r in rows}
    assert set(got) == set(pdf_urls)
    for url, i in pdf_urls.items():
        assert got[url] == quote_metadata_string(i), f"doc {i}"


def test_typed_record_field_identical(spark, extracted):
    from pyspark.sql import functions as F

    from pdf_parser_spark.schema import RECORD_FIELDS

    recs = extract_record(extracted, mode="typed")
    pdf_urls = {
        f"https://example{i % 97}.test/doc/{i}": i
        for i in range(240)
        if row_kind(i) in ("pdf", "jumbo")
    }
    rows = recs.filter(F.col("url").isin(list(pdf_urls))).collect()
    assert len(rows) == len(pdf_urls)
    for r in rows:
        i = pdf_urls[r["url"]]
        expected = py_typed_record(quote_metadata_string(i))
        for key, kind in RECORD_FIELDS:
            got, exp = r[key], expected[key]
            if isinstance(exp, float):
                assert got == pytest.approx(exp, abs=1e-9), f"doc {i} field {key}: {got} != {exp}"
            else:
                assert got == exp, f"doc {i} field {key}: {got!r} != {exp!r}"


def test_validation_strict_quirk_always_fails(spark, extracted):
    from pyspark.sql import functions as F

    recs = with_validation(extract_record(extracted, mode="typed"), strict_quirk=True)
    # validators.ts:12 requires nonexistent 'Type_of_Property' → nothing passes
    assert recs.filter(F.col("is_valid")).count() == 0


def test_validation_practical_mode(spark, extracted):
    from pyspark.sql import functions as F

    recs = with_validation(extract_record(extracted, mode="typed"), strict_quirk=False)
    valid = recs.filter(F.col("is_valid"))
    # docs with capex_date == '' (i % 4 == 0) fail CapEx_Date required;
    # everything else with a PDF record should pass
    expected_valid = [
        i for i in range(240)
        if row_kind(i) in ("pdf", "jumbo") and i % 4 != 0
    ]
    got = sorted(
        int(r["url"].rsplit("/", 1)[1]) for r in valid.select("url").collect()
    )
    assert got == expected_valid


def test_legacy_mode_record(spark, pages_parquet):
    from pyspark.sql import functions as F

    pages = spark.read.parquet(pages_parquet)
    legacy_extracted = extract_documents(pages, mode="legacy")
    recs = extract_record(legacy_extracted, mode="legacy")
    # legacy numerics: parseFloat stops at the first comma → '2,550,000.00' → 2.0
    row = recs.filter(F.col("url").endswith("/doc/1")).collect()[0]
    meta = quote_metadata_string(1)
    import re as _re

    m = _re.search(r"\|\|Purchase_Price: ([^|]+)", meta)
    raw = m.group(1)
    prefix = _re.match(r"^[+-]?(\d+\.?\d*|\.\d+)", raw.strip())
    expected = float(prefix.group(0)) if prefix else 0.0
    assert row["Purchase_Price"] == pytest.approx(expected)
    assert row["Name_of_Prospect"] == "Prospect 1 LLC"


def test_no_python_udf_outside_extract_stage(spark, extracted):
    """fields.py must be pure Catalyst: no BatchEvalPython in its plan."""
    recs = extract_record(extracted, mode="typed")
    plan = recs._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan


def test_meta_output_mode_matches_full(spark, pages_parquet):
    """output='meta' must agree with the full pipeline on every light
    column — identical parse, just no text/spans/meta_string assembly or
    Arrow transfer (Catalyst can't prune through mapInPandas)."""
    from pdf_parser_spark.extract import extract_documents

    pages = spark.read.parquet(pages_parquet)
    light = [
        "url", "doc_type", "n_pages", "n_items",
        "error_code", "decode_fallbacks", "n_bytes",
    ]
    full = {r["url"]: r for r in extract_documents(pages).select(*light).collect()}
    meta = {r["url"]: r for r in extract_documents(pages, output="meta").select(*light).collect()}
    assert set(full) == set(meta)
    for url, fr in full.items():
        mr = meta[url]
        for c in light:
            if c == "n_items" and fr["doc_type"] == "pdf" and fr["error_code"] is None:
                assert mr[c] == fr[c], (url, c)
            elif c != "n_items":
                assert mr[c] == fr[c], (url, c)
    schema_names = {f.name for f in extract_documents(pages, output="meta").schema.fields}
    assert schema_names.isdisjoint({"text", "spans", "meta_string"})


def test_spans_align_across_empty_pages(spark):
    """Round-3 review fix: a degraded/empty page still contributes its
    '\\f' separator to the doc text, so spans after it must account for
    it (the old per-item +1 shifted every later span left by one char
    per empty page)."""
    from pdf_parser_spark.extract import extract_documents
    from pdf_parser_spark.synth.pdfgen import PdfBuilder

    b = PdfBuilder()
    b.new_page().text(72, 720, "first page text")
    b.new_page()  # EMPTY page: no items, but '\f' separators around it
    b.new_page().text(72, 720, "third page text")
    pages = spark.createDataFrame(
        [("u://1", None, b.build(), None, "en")],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )
    row = extract_documents(pages).collect()[0]
    assert row["error_code"] is None and row["n_pages"] == 3
    text, sp = row["text"], row["spans"]
    assert text == "first page text\f\fthird page text"
    assert len(sp) == 4
    for s, e in zip(sp[0::2], sp[1::2]):
        assert text[s:e] in ("first page text", "third page text")
    assert text[sp[2]:sp[3]] == "third page text"


def _one_pdf_pages(spark, blob):
    return spark.createDataFrame(
        [("u://1", None, blob, None, "en")],
        "url string, warc_ts timestamp_ntz, html binary, text string, lang string",
    )


def test_whitespace_only_white_item_is_dropped(spark):
    """The white-text filter keeps only items with a non-whitespace str
    (JS ``trim()``, ``metadata.ts:41``): an item holding just a no-break
    space inside a value is dropped, so 'A' and 'LLC' join directly."""
    from pdf_parser_spark.pdfcore import parse_pdf
    from pdf_parser_spark.synth.pdfgen import PdfBuilder

    b = PdfBuilder()
    pg = b.new_page()
    pg.text(72, 720, "Quote")
    pg.white_text("Name_of_Prospect: A")
    pg.white_text("\xa0")
    pg.white_text("LLC||Zip_Code: 85260||Purchase_Price: 1,000")
    blob = b.build()
    assert [it.str for it in parse_pdf(blob).pages[0].items][2] == "\xa0"
    row = extract_record(extract_documents(_one_pdf_pages(spark, blob)), mode="typed").collect()[0]
    assert row["meta_string"] == "Name_of_Prospect: ALLC||Zip_Code: 85260||Purchase_Price: 1,000"
    assert row["Name_of_Prospect"] == "ALLC"
    assert row["Zip_Code"] == "85260"
    assert row["Purchase_Price"] == 1000.0


def test_record_fold_trims_js_whitespace(spark):
    """Keys and values are trimmed of JS whitespace (``metadata.ts:60-62``,
    legacy text keys ``pdfParser.ts:38-65``, and ``parseFloat``'s leading
    whitespace), no-break spaces included; Spark's one-argument trim
    strips only ' '."""
    from pdf_parser_spark.synth.pdfgen import PdfBuilder

    b = PdfBuilder()
    pg = b.new_page()
    pg.text(72, 720, "Quote")
    pg.white_text("||Name_of_Prospect: \xa0A LLC\xa0||\xa0Zip_Code\xa0: 85260||Purchase_Price:\xa012,500")
    pages = _one_pdf_pages(spark, b.build())
    typed = extract_record(extract_documents(pages), mode="typed").collect()[0]
    assert typed["Name_of_Prospect"] == "A LLC"
    assert typed["Zip_Code"] == "85260"
    assert typed["Purchase_Price"] == 12500.0
    legacy = extract_record(extract_documents(pages, mode="legacy"), mode="legacy").collect()[0]
    assert legacy["Name_of_Prospect"] == "A LLC"
    assert legacy["Purchase_Price"] == 12.0


def test_null_and_untyped_failure_are_one_error_row_each(spark, monkeypatch):
    """The typed-row contract of extract.map_documents through
    extract_documents, both output modes: a NULL blob is one
    ``unknown_type`` row, an untyped exception out of the per-row
    function one ``internal`` row with ``Type: message``, and the good
    row next to them is unchanged."""
    from pdf_parser_spark import extract
    from pdf_parser_spark.synth.pdfgen import make_quote_pdf

    good, _text, _wt = make_quote_pdf(3)
    schema = "url string, warc_ts timestamp, html binary, text string, lang string"
    rows = [("u1", None, good, None, "en"), ("u2", None, None, None, "en"),
            ("u3", None, good + b"BOOM", None, "en")]
    df = spark.createDataFrame(rows, schema)
    want = {out: extract_documents(df.filter("url = 'u1'"), output=out).collect() for out in ("full", "meta")}
    real = extract._extract_one

    def raising_on_boom(blob, *args):  # nested: the stage's pickled closure carries it
        if blob is not None and blob.endswith(b"BOOM"):
            raise RuntimeError("boom")
        return real(blob, *args)

    monkeypatch.setattr(extract, "_extract_one", raising_on_boom)
    for out in ("full", "meta"):
        got = {r["url"]: r for r in extract_documents(df, output=out).collect()}
        assert sorted(got) == ["u1", "u2", "u3"]
        assert [got["u1"]] == want[out] and want[out][0]["error_code"] is None
        null, boom = got["u2"].asDict(), got["u3"].asDict()
        assert (null["doc_type"], null["error_code"], null["error_message"], null["n_bytes"]) == (
            "unknown", "unknown_type", "not a PDF or HTML document", 0)
        assert (boom["doc_type"], boom["error_code"], boom["error_message"], boom["n_bytes"]) == (
            "pdf", "internal", "RuntimeError: boom", len(good) + 4)
        assert boom["n_pages"] == 0 and boom.get("text") is None
