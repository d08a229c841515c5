"""White-text record extraction as native Catalyst expressions.

Operators T2–T4 and scalar functions F1–F4 of SURVEY.md §2 — NO
Python UDFs. Everything here is a Column expression over the
``meta_string`` column of the extraction stage, so Catalyst folds,
prunes, and codegens it. The parser decides that string once
(``extract.py``): the white-text filter and concat (P1/T1,
``PdfPage.whitetext_metadata``) in typed mode, the marker item (P2)
in legacy mode.

Two reference-faithful modes:

- ``typed``  — the current parser (``src/services/pdfParser/
  metadata.ts:35-95`` + ``formatters.ts``): ``||`` split, ``:`` KV
  fold (last-wins, colon-in-value truncated, JS ``trim()``), typed
  formatters, empty/zero → NULL (JS ``|| undefined``).
- ``legacy`` — the parser the app actually calls
  (``src/services/pdfParser.ts:31-70``): no-trim KV fold, JS
  ``parseFloat`` prefix semantics (commas NOT stripped), missing →
  0 / '' defaults.

Quirks preserved on purpose (each cited):
- colon-in-value truncation: ``metadata.ts:60`` / ``pdfParser.ts:36``
  destructure only the first two ``:``-parts;
- ``formatZipCode('') == '00000'`` (``formatters.ts:38-41``);
- numeric 0 → undefined in typed mode (``metadata.ts:85``:
  ``numValue || undefined``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .schema import RECORD_FIELDS

# JS parseFloat: longest valid numeric prefix (after leading whitespace)
_FLOAT_PREFIX = r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?"

# what JS trim() and parseFloat strip (WhiteSpace + LineTerminator);
# Spark's one-argument trim strips only ' '
JS_WHITESPACE = (
    "\t\n\x0b\x0c\r \xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005"
    "\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000\ufeff"
)


def js_trim(value: Column) -> Column:
    """JS ``String.prototype.trim``."""
    return F.trim(value, F.lit(JS_WHITESPACE))


# ----------------------------------------------------------------------
# scalar formatters (F1–F4, formatters.ts:1-46)
# ----------------------------------------------------------------------
def format_number(value: Column, decimals: int = 2) -> Column:
    """F1: strip ``[^0-9.-]``, parseFloat, NaN→0, toFixed(d)."""
    stripped = F.regexp_replace(value.cast("string"), r"[^0-9.\-]", "")
    num = F.regexp_extract(stripped, _FLOAT_PREFIX, 0).try_cast("double")
    return F.round(F.coalesce(num, F.lit(0.0)), decimals)


def format_currency(value: Column) -> Column:
    """F2: F1 with 2 decimals (formatters.ts:43-46)."""
    return format_number(value, 2)


def format_zipcode(value: Column) -> Column:
    """F3: digit-strip, first 5, left-pad '0' (formatters.ts:38-41)."""
    return F.lpad(F.substring(F.regexp_replace(value.cast("string"), r"\D", ""), 1, 5), 5, "0")


def format_date(value: Column) -> Column:
    """F4: MM/DD/YYYY passthrough; ISO rearrange; generic parse; else as-is."""
    iso = F.split(value, "-")
    generic = F.coalesce(
        F.try_to_timestamp(value),
        F.try_to_timestamp(value, F.lit("MM/dd/yyyy")),
        F.try_to_timestamp(value, F.lit("M/d/yyyy")),
        F.try_to_timestamp(value, F.lit("MMMM d, yyyy")),
        F.try_to_timestamp(value, F.lit("MMM d, yyyy")),
    )
    return (
        F.when(value.rlike(r"^\d{2}/\d{2}/\d{4}$"), value)
        .when(
            value.rlike(r"^\d{4}-\d{2}-\d{2}$"),
            F.concat_ws("/", iso.getItem(1), iso.getItem(2), iso.getItem(0)),
        )
        .when(generic.isNotNull(), F.date_format(generic, "MM/dd/yyyy"))
        .otherwise(value)
    )


def js_parsefloat_or_zero(value: Column) -> Column:
    """Legacy numeric: ``parseFloat(value) || 0`` (pdfParser.ts:63) —
    longest numeric prefix, commas terminate the parse, NaN→0."""
    lead_trimmed = F.ltrim(value, F.lit(JS_WHITESPACE))
    num = F.regexp_extract(lead_trimmed, _FLOAT_PREFIX, 0).try_cast("double")
    return F.coalesce(F.nullif(num, F.lit(0.0)), F.lit(0.0))


# ----------------------------------------------------------------------
# T2 + T3: record split and KV fold
# ----------------------------------------------------------------------
def record_map_typed(meta: Column) -> Column:
    """metadata.ts:56-64: split '||', keep ':'-fields, trim both parts,
    last-wins fold (needs spark.sql.mapKeyDedupPolicy=LAST_WIN)."""
    fields = F.filter(F.split(meta, r"\|\|"), lambda f: f.contains(":"))
    entries = F.transform(
        fields,
        lambda f: F.struct(
            js_trim(F.split(f, ":").getItem(0)).alias("key"),
            js_trim(F.coalesce(F.split(f, ":").getItem(1), F.lit(""))).alias("value"),
        ),
    )
    entries = F.filter(entries, lambda e: e["key"] != "")
    return F.map_from_entries(entries)


def record_map_legacy(meta: Column) -> Column:
    """pdfParser.ts:33-37: filter(Boolean), no trim before the key/value
    split, require BOTH key and value truthy (pre-trim)."""
    fields = F.filter(F.split(meta, r"\|\|"), lambda f: f != "")
    entries = F.transform(
        fields,
        lambda f: F.struct(
            F.split(f, ":").getItem(0).alias("key"),
            F.split(f, ":").getItem(1).alias("value"),
        ),
    )
    entries = F.filter(
        entries,
        lambda e: e["key"].isNotNull()
        & (e["key"] != "")
        & e["value"].isNotNull()
        & (e["value"] != ""),
    )
    return F.map_from_entries(entries)


# ----------------------------------------------------------------------
# T4: typed projection
# ----------------------------------------------------------------------
_LEGACY_TEXT_KEYS = {
    "Name_of_Prospect", "Address_of_Property", "Zip_Code", "Date_of_Purchase",
    "Tax_Deadline_Quote", "Type_of_Property_Quote", "CapEx_Date",
}


def typed_field(fmap: Column, key: str, kind: str) -> Column:
    """metadata.ts:72-92 dispatch. ``fields[key] || ''`` then formatter,
    then JS falsy → NULL."""
    value = F.coalesce(F.element_at(fmap, F.lit(key)), F.lit(""))
    if kind == "text":
        return F.nullif(value, F.lit(""))
    if kind == "zipcode":
        return F.nullif(format_zipcode(value), F.lit(""))
    if kind in ("number", "currency"):
        num = format_currency(value) if kind == "currency" else format_number(value, 0)
        return F.nullif(num, F.lit(0.0))
    if kind == "date":
        return F.nullif(format_date(value), F.lit(""))
    raise ValueError(f"unknown field kind {kind}")


def legacy_field(fmap: Column, key: str, kind: str) -> Column:
    """pdfParser.ts:38-65: text keys trimmed, numerics parseFloat||0,
    missing → '' / 0 defaults (the pre-seeded record at :78-101)."""
    value = F.element_at(fmap, F.lit(key))
    if key in _LEGACY_TEXT_KEYS:
        return F.coalesce(js_trim(value), F.lit(""))
    return F.when(value.isNull(), F.lit(0.0)).otherwise(js_parsefloat_or_zero(value))


def extract_record(extracted: DataFrame, mode: str = "typed") -> DataFrame:
    """EXTRACT_SCHEMA rows → + the 22 record columns, folded from the
    ``meta_string`` the extraction stage chose for ``mode``.

    Pure select; no shuffle, no Python.
    """
    meta = F.col("meta_string")
    if mode == "legacy":
        fmap, field = record_map_legacy(meta), legacy_field
    else:
        fmap, field = record_map_typed(meta), typed_field
    cols = [field(F.col("_fmap"), k, kind).alias(k) for k, kind in RECORD_FIELDS]
    return extracted.withColumn("_fmap", fmap).select("*", *cols).drop("_fmap")
