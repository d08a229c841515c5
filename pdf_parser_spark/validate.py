"""Validation battery as native ``CASE WHEN`` predicates (P6/P7, SURVEY §2.2).

Builds an ``errors: array<struct<field,message>>`` column plus an
``is_valid`` flag instead of throwing — the Spark-shaped equivalent of
the reference's throw/continue control flow
(``src/services/pdfParser/index.ts:45-83``).

Reference quirk reproduced behind a flag: ``validators.ts:7-14``
requires a field named ``Type_of_Property`` which does not exist in
the record schema (the real key is ``Type_of_Property_Quote``,
``src/types/index.ts:23``), so the strict validator ALWAYS emits that
error — with ``throwOnMissingFields`` every page fails and parsePDF
default options can never succeed. ``strict_quirk=True`` preserves
this observable behavior; ``False`` checks the real key.

Like ``fields``, the battery is Spark-SQL text, cached per mode.
"""

from __future__ import annotations

from functools import lru_cache

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .fields import format_zipcode
from .functions.sqltext import ident, sql_str

# JS-falsy test per field type: strings '' / null, numbers 0 / null
_REQUIRED_TYPED = [
    "Name_of_Prospect",
    "Address_of_Property",
    "Zip_Code",
    "Purchase_Price",
    # 'Type_of_Property' handled via strict_quirk
    "CapEx_Date",
]

_NUMERIC_FIELDS = [
    "Purchase_Price", "Capital_Improvements_Amount", "Building_Value",
    "Know_Land_Value", "SqFt_Building", "Acres_Land", "Year_Built",
    "Bid_Amount_Original", "Pay_Upfront", "Pay_50_50_Amount",
    "Pay_Over_Time", "Rush_Fee", "Multiple_Properties_Quote",
    "First_Year_Bonus_Quote", "Tax_Year",
]

_REQUIRED_LEGACY = ["Name_of_Prospect", "Address_of_Property", "Purchase_Price"]


_NO_ERRORS = "CAST(array() AS ARRAY<STRUCT<field: STRING, message: STRING>>)"


def _err(field: str, message: str) -> str:
    return f"array(named_struct('field', {sql_str(field)}, 'message', {sql_str(message)}))"


def _check(cond: str, field: str, message: str) -> str:
    """One error when ``cond`` holds, else none."""
    return f"(CASE WHEN {cond} THEN {_err(field, message)} ELSE {_NO_ERRORS} END)"


def _falsy(col: str) -> str:
    # typed-mode fields are already NULL when JS-falsy (fields.py), but
    # accept raw '' / 0 too so this works on any record source
    return f"({col} IS NULL OR CAST({col} AS STRING) = '' OR TRY_CAST({col} AS DOUBLE) = 0.0D)"


@lru_cache(maxsize=None)
def validation_errors(mode: str = "typed", strict_quirk: bool = True) -> str:
    """SQL text: array of validation errors for a record row."""
    errs = []
    if mode == "legacy":
        # pdfParser.ts:127-133
        for f in _REQUIRED_LEGACY:
            errs.append(_check(_falsy(ident(f)), f, f"Required fields missing: {f}"))
    else:
        # validateRequiredFields (validators.ts:5-26)
        for f in _REQUIRED_TYPED:
            errs.append(_check(_falsy(ident(f)), f, f"{f} is required"))
        if strict_quirk:
            # 'Type_of_Property' is not a record key → always required-error
            errs.append(_err("Type_of_Property", "Type_of_Property is required"))
        else:
            errs.append(
                _check(
                    _falsy(ident("Type_of_Property_Quote")),
                    "Type_of_Property_Quote",
                    "Type_of_Property_Quote is required",
                )
            )
        # validateFieldFormats (validators.ts:28-77)
        zip_col = ident("Zip_Code")
        errs.append(
            _check(
                f"{zip_col} IS NOT NULL AND {zip_col} != ''"
                f" AND {format_zipcode(zip_col)} != {zip_col}",
                "Zip_Code",
                "Invalid zip code format",
            )
        )
        for f in _NUMERIC_FIELDS:
            c = ident(f)
            errs.append(_check(f"{c} IS NOT NULL AND {c} < 0", f, f"{f} cannot be negative"))
        capex = ident("CapEx_Date")
        capex_parsed = (
            f"coalesce(try_to_timestamp({capex}, 'MM/dd/yyyy'), try_to_timestamp({capex}))"
        )
        errs.append(
            _check(
                f"{capex} IS NOT NULL AND {capex} != '' AND {capex_parsed} IS NULL",
                "CapEx_Date",
                "Invalid date format for CapEx_Date",
            )
        )
    return f"flatten(array({', '.join(errs)}))"


def with_validation(records: DataFrame, mode: str = "typed", strict_quirk: bool = True) -> DataFrame:
    return records.withColumn(
        "validation_errors", F.expr(validation_errors(mode, strict_quirk))
    ).withColumn("is_valid", F.expr("size(validation_errors) = 0"))
