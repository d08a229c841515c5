"""White-text record extraction as native Catalyst expressions.

Operators T2–T4 and scalar functions F1–F4 of SURVEY.md §2 — NO
Python UDFs. Every helper here returns Spark-SQL text over SQL-text
arguments (``functions/sqltext.py``), and :func:`extract_record`
applies the cached text over the ``meta_string`` column of the
extraction stage with one ``selectExpr`` per stage, so Catalyst folds,
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

from functools import lru_cache
from typing import Tuple

from pyspark.sql import DataFrame

from .functions.sqltext import ident, sql_str
from .schema import RECORD_FIELDS

# JS parseFloat: longest valid numeric prefix (after leading whitespace)
_FLOAT_PREFIX = sql_str(r"^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?")

# what JS trim() and parseFloat strip (WhiteSpace + LineTerminator);
# Spark's one-argument trim strips only ' '
JS_WHITESPACE = (
    "\t\n\x0b\x0c\r \xa0\u1680\u2000\u2001\u2002\u2003\u2004\u2005"
    "\u2006\u2007\u2008\u2009\u200a\u2028\u2029\u202f\u205f\u3000\ufeff"
)
_JS_WS = sql_str(JS_WHITESPACE)
_NOT_NUMERIC = sql_str(r"[^0-9.\-]")
_NOT_DIGIT = sql_str(r"\D")
_US_DATE = sql_str(r"^\d{2}/\d{2}/\d{4}$")
_ISO_DATE = sql_str(r"^\d{4}-\d{2}-\d{2}$")
_SPLIT_FIELDS = sql_str(r"\|\|")


def js_trim(value: str) -> str:
    """JS ``String.prototype.trim``."""
    return f"trim(BOTH {_JS_WS} FROM {value})"


# ----------------------------------------------------------------------
# scalar formatters (F1–F4, formatters.ts:1-46)
# ----------------------------------------------------------------------
def format_number(value: str, decimals: int = 2) -> str:
    """F1: strip ``[^0-9.-]``, parseFloat, NaN→0, toFixed(d)."""
    stripped = f"regexp_replace(CAST({value} AS STRING), {_NOT_NUMERIC}, '')"
    num = f"TRY_CAST(regexp_extract({stripped}, {_FLOAT_PREFIX}, 0) AS DOUBLE)"
    return f"round(coalesce({num}, 0.0D), {int(decimals)})"


def format_currency(value: str) -> str:
    """F2: F1 with 2 decimals (formatters.ts:43-46)."""
    return format_number(value, 2)


def format_zipcode(value: str) -> str:
    """F3: digit-strip, first 5, left-pad '0' (formatters.ts:38-41)."""
    digits = f"regexp_replace(CAST({value} AS STRING), {_NOT_DIGIT}, '')"
    return f"lpad(substring({digits}, 1, 5), 5, '0')"


def format_date(value: str) -> str:
    """F4: MM/DD/YYYY passthrough; ISO rearrange; generic parse; else as-is."""
    iso = f"split({value}, '-')"
    generic = "coalesce(" + ", ".join(
        [f"try_to_timestamp({value})"]
        + [
            f"try_to_timestamp({value}, {sql_str(fmt)})"
            for fmt in ("MM/dd/yyyy", "M/d/yyyy", "MMMM d, yyyy", "MMM d, yyyy")
        ]
    ) + ")"
    return (
        f"(CASE WHEN {value} RLIKE {_US_DATE} THEN {value}"
        f" WHEN {value} RLIKE {_ISO_DATE}"
        f" THEN concat_ws('/', {iso}[1], {iso}[2], {iso}[0])"
        f" WHEN {generic} IS NOT NULL THEN date_format({generic}, 'MM/dd/yyyy')"
        f" ELSE {value} END)"
    )


def js_parsefloat_or_zero(value: str) -> str:
    """Legacy numeric: ``parseFloat(value) || 0`` (pdfParser.ts:63) —
    longest numeric prefix, commas terminate the parse, NaN→0."""
    lead_trimmed = f"trim(LEADING {_JS_WS} FROM {value})"
    num = f"TRY_CAST(regexp_extract({lead_trimmed}, {_FLOAT_PREFIX}, 0) AS DOUBLE)"
    return f"coalesce(nullif({num}, 0.0D), 0.0D)"


# ----------------------------------------------------------------------
# T2 + T3: record split and KV fold
# ----------------------------------------------------------------------
def record_map_typed(meta: str) -> str:
    """metadata.ts:56-64: split '||', keep ':'-fields, trim both parts,
    last-wins fold (needs spark.sql.mapKeyDedupPolicy=LAST_WIN)."""
    fields = f"filter(split({meta}, {_SPLIT_FIELDS}), f -> contains(f, ':'))"
    key = js_trim("split(f, ':')[0]")
    value = js_trim("coalesce(split(f, ':')[1], '')")
    entries = f"transform({fields}, f -> named_struct('key', {key}, 'value', {value}))"
    return f"map_from_entries(filter({entries}, e -> e.`key` != ''))"


def record_map_legacy(meta: str) -> str:
    """pdfParser.ts:33-37: filter(Boolean), no trim before the key/value
    split, require BOTH key and value truthy (pre-trim)."""
    fields = f"filter(split({meta}, {_SPLIT_FIELDS}), f -> f != '')"
    entries = (
        f"transform({fields}, f -> named_struct("
        f"'key', split(f, ':')[0], 'value', split(f, ':')[1]))"
    )
    keep = (
        "e -> e.`key` IS NOT NULL AND e.`key` != ''"
        " AND e.`value` IS NOT NULL AND e.`value` != ''"
    )
    return f"map_from_entries(filter({entries}, {keep}))"


# ----------------------------------------------------------------------
# T4: typed projection
# ----------------------------------------------------------------------
_LEGACY_TEXT_KEYS = {
    "Name_of_Prospect", "Address_of_Property", "Zip_Code", "Date_of_Purchase",
    "Tax_Deadline_Quote", "Type_of_Property_Quote", "CapEx_Date",
}


def typed_field(fmap: str, key: str, kind: str) -> str:
    """metadata.ts:72-92 dispatch. ``fields[key] || ''`` then formatter,
    then JS falsy → NULL."""
    value = f"coalesce(element_at({fmap}, {sql_str(key)}), '')"
    if kind == "text":
        return f"nullif({value}, '')"
    if kind == "zipcode":
        return f"nullif({format_zipcode(value)}, '')"
    if kind in ("number", "currency"):
        num = format_currency(value) if kind == "currency" else format_number(value, 0)
        return f"nullif({num}, 0.0D)"
    if kind == "date":
        return f"nullif({format_date(value)}, '')"
    raise ValueError(f"unknown field kind {kind}")


def legacy_field(fmap: str, key: str, kind: str) -> str:
    """pdfParser.ts:38-65: text keys trimmed, numerics parseFloat||0,
    missing → '' / 0 defaults (the pre-seeded record at :78-101)."""
    value = f"element_at({fmap}, {sql_str(key)})"
    if key in _LEGACY_TEXT_KEYS:
        return f"coalesce({js_trim(value)}, '')"
    return f"(CASE WHEN {value} IS NULL THEN 0.0D ELSE {js_parsefloat_or_zero(value)} END)"


@lru_cache(maxsize=None)
def _record_sql(mode: str) -> Tuple[str, Tuple[str, ...]]:
    """The key-value map over ``meta_string`` and the 22 field
    projections over that map, as select-list text."""
    meta = ident("meta_string")
    if mode == "legacy":
        fmap, field = record_map_legacy(meta), legacy_field
    else:
        fmap, field = record_map_typed(meta), typed_field
    return f"{fmap} AS _fmap", tuple(
        f"{field('_fmap', k, kind)} AS {ident(k)}" for k, kind in RECORD_FIELDS
    )


def extract_record(extracted: DataFrame, mode: str = "typed") -> DataFrame:
    """EXTRACT_SCHEMA rows → + the 22 record columns, folded from the
    ``meta_string`` the extraction stage chose for ``mode``.

    Pure select; no shuffle, no Python. The map is its own column, read
    by every field.
    """
    fmap, cols = _record_sql(mode)
    return extracted.selectExpr("*", fmap).selectExpr("*", *cols).drop("_fmap")
