"""Driver-contract queries covering the reference engine's operators.

Each entry pairs a Spark query (``(spark, sf_dir) -> DataFrame``) with
a DuckDB oracle SQL string over the same tables. Inputs the reference
feeds from PDFs/HTTP are synthesized DETERMINISTICALLY from the
driver's TPC-H-ish tables — the derivation is written twice (Column
expressions here, SQL in the oracle) so the engine under test and the
oracle share only data, never code.

Operator coverage (SURVEY.md §2 ids in brackets):

- extract_pdf_roundtrip  [S1-S3,T5]  flagship byte-identical gate
- extract_html_roundtrip [north-rule webtext path]
- whitetext_record       [T2-T4,F1-F4]
- field_formatters       [F1-F4]
- validation_battery     [P6,P7]
- regex_fields           [P9]
- pricing_v1/v2          [J1,J2,F8-F10,O2 incl. the min-of-bids quirk]
- pricing_adjustments    [F11]
- ladder_range_join      [J1 as broadcast range join]
- bonus_interval_join    [J3]
- macrs_lookup_join      [J4]
- depr_481a              [D1-D6,F5-F7,A2]
- depr_schedule          [W1,W2,W4,D5,D10]
- depr_schedule_totals   [A4]
- sink_row_assembly      [S9,F16,F17]
"""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import depreciation as dep
from . import pricing, sqlgen
from .extract import map_documents
from .fields import format_date, format_number, format_zipcode, record_map_typed, typed_field
from .functions.sqltext import sql_str
from .validate import with_validation

# ----------------------------------------------------------------------
# helpers
# ----------------------------------------------------------------------
def _read(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


_PTYPE_MAP = {
    "1-URGENT": "Multi Family",
    "2-HIGH": "Office",
    "3-MEDIUM": "Retail",
    "4-NOT SPECIFIED": "Warehouse",
}
_PTYPE_DEFAULT = "Medical"


def _ptype_col():
    expr = None
    for k, v in _PTYPE_MAP.items():
        cond = F.col("o_orderpriority") == k
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(F.lit(_PTYPE_DEFAULT))


_PTYPE_SQL = (
    "(CASE "
    + " ".join(f"WHEN o_orderpriority = '{k}' THEN '{v}'" for k, v in _PTYPE_MAP.items())
    + f" ELSE '{_PTYPE_DEFAULT}' END)"
)


# acquisition date: order date shifted +25 years, day capped at 28 so
# Spark and SQL agree without month-end semantics (SURVEY §2.4 J3 input)
def _acq_col(ts="o_orderdate"):
    return F.make_date(
        F.year(ts) + F.lit(25), F.month(ts), F.least(F.dayofmonth(ts), F.lit(28))
    )


_ACQ_SQL = "make_date(year(o_orderdate) + 25, month(o_orderdate), least(day(o_orderdate), 28))"


# ----------------------------------------------------------------------
# flagship: PDF build → parse round-trip (byte-identical text per url)
# ----------------------------------------------------------------------
def _pdf_roundtrip(doc_id: int, text) -> List[tuple]:
    # imports inside: ships to executors via --py-files
    from .pdfcore import parse_pdf
    from .synth.pdfgen import PdfBuilder

    builder = PdfBuilder(compress=(doc_id % 2 == 0), xref_stream=(doc_id % 3 == 0))
    pg = builder.new_page()
    pg.text(72, 720, str(text))
    doc = parse_pdf(builder.build())
    return [(doc_id, "\f".join(p.text() for p in doc.pages), doc.num_pages)]


def q_extract_pdf_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.text → synthesized PDF bytes → from-scratch parse →
    extracted text. Oracle = the input text: the parse must be
    byte-identical (north rule). Exercises classic xref AND xref-stream
    layouts, raw AND FlateDecode streams."""
    return map_documents(
        _read(spark, sf_dir, "documents"), ["doc_id", "text"],
        "doc_id long, extracted_text string, n_pages int", _pdf_roundtrip,
    )


SQL_EXTRACT_PDF_ROUNDTRIP = (
    "SELECT doc_id, text AS extracted_text, 1 AS n_pages FROM documents"
)


def _html_roundtrip(doc_id: int, text) -> List[tuple]:
    from .htmlcore import extract_main_text

    html = (
        "<html><head><title>doc</title><style>p{color:red}</style></head>"
        "<body><nav><a href='/'>Home</a> <a href='/about'>About us</a></nav>"
        "<div id='main'><p>" + str(text) + "</p></div>"
        "<footer><a href='#'>Contact</a> <a href='#'>Terms</a></footer>"
        "</body></html>"
    )
    main, spans = extract_main_text(html)
    return [(doc_id, main, len(spans))]


def q_extract_html_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Boilerplate-strip round-trip: nav/footer/style dropped, the main
    block returned byte-identical."""
    return map_documents(
        _read(spark, sf_dir, "documents"), ["doc_id", "text"],
        "doc_id long, extracted_text string, n_blocks int", _html_roundtrip,
    )


SQL_EXTRACT_HTML_ROUNDTRIP = (
    "SELECT doc_id, text AS extracted_text, 1 AS n_blocks FROM documents"
)


# ----------------------------------------------------------------------
# white-text record extraction (P1/T1-T4) over a synthesized meta string
# ----------------------------------------------------------------------
def q_whitetext_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """'||'-record split + ':' KV fold (last-wins) + typed projection.
    The meta string embeds the reference quirks on purpose: duplicate
    key (Tax_Year: last wins), colon-in-value truncation
    (Tax_Deadline_Quote), zero→NULL currency, zipcode padding."""
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    c = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 4 == 0)
    k = F.col("c_custkey")
    meta = F.concat(
        F.lit("Name_of_Prospect: "), F.col("c_name"),
        F.lit("||Address_of_Property:   12 Main St  "),
        F.lit("||Zip_Code: "), ((k * 37) % 1000000).cast("string"),
        F.lit("||Purchase_Price: $"), ((k % 900) * 1000 + 250).cast("string"), F.lit(".25"),
        F.lit("||Know_Land_Value: "), (k % 100).cast("string"), F.lit(",000"),
        F.lit("||Date_of_Purchase: 2024-0"), (1 + k % 9).cast("string"), F.lit("-15"),
        F.lit("||Tax_Deadline_Quote: Oct: 15"),
        F.lit("||Tax_Year: 2025||Tax_Year: 2026"),
        F.lit("||SqFt_Building: "), (k % 50000).cast("string"),
        F.lit("||no_colon_noise"),
    )
    base = c.select(k.alias("c_custkey"), meta.alias("_meta")).selectExpr(
        "c_custkey", f"{record_map_typed('_meta')} AS _m"
    )
    return base.selectExpr(
        "c_custkey",
        *(
            f"{typed_field('_m', key, kind)} AS {alias}"
            for key, kind, alias in [
                ("Name_of_Prospect", "text", "name_of_prospect"),
                ("Address_of_Property", "text", "address_of_property"),
                ("Zip_Code", "zipcode", "zip_code"),
                ("Purchase_Price", "currency", "purchase_price"),
                ("Know_Land_Value", "currency", "know_land_value"),
                ("Date_of_Purchase", "date", "date_of_purchase"),
                ("Tax_Deadline_Quote", "text", "tax_deadline_quote"),
                ("Tax_Year", "number", "tax_year"),
                ("SqFt_Building", "number", "sqft_building"),
            ]
        ),
    )


SQL_WHITETEXT_RECORD = """
SELECT c_custkey,
       c_name AS name_of_prospect,
       '12 Main St' AS address_of_property,
       lpad(substr(CAST((c_custkey * 37) % 1000000 AS VARCHAR), 1, 5), 5, '0') AS zip_code,
       CAST((c_custkey % 900) * 1000 + 250 AS DOUBLE) + 0.25 AS purchase_price,
       nullif(CAST((c_custkey % 100) * 1000 AS DOUBLE), 0.0) AS know_land_value,
       '0' || CAST(1 + c_custkey % 9 AS VARCHAR) || '/15/2024' AS date_of_purchase,
       'Oct' AS tax_deadline_quote,
       CAST(2026.0 AS DOUBLE) AS tax_year,
       nullif(CAST(c_custkey % 50000 AS DOUBLE), 0.0) AS sqft_building
FROM customer WHERE c_custkey % 4 = 0
"""


# ----------------------------------------------------------------------
# scalar formatters (F1-F4)
# ----------------------------------------------------------------------
def q_field_formatters(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 3 == 0)
    k = F.col("c_custkey")
    zip_raw = F.concat(F.lit("Zip-"), ((k * 7) % 100000000).cast("string"))
    num_raw = F.concat(F.lit("$"), (k % 10000).cast("string"), F.lit(".75 USD"))
    day = (1 + k % 28).cast("int")
    date_raw = (
        F.when(k % 3 == 0, F.concat(F.lit("2024-07-"), F.lpad(day.cast("string"), 2, "0")))
        .when(k % 3 == 1, F.concat(F.lit("07/"), F.lpad(day.cast("string"), 2, "0"), F.lit("/2024")))
        .otherwise(F.concat(F.lit("July "), day.cast("string"), F.lit(", 2024")))
    )
    raw = c.select(
        "c_custkey", zip_raw.alias("zip_raw"), num_raw.alias("num_raw"), date_raw.alias("date_raw")
    )
    return raw.selectExpr(
        "c_custkey",
        f"{format_zipcode('zip_raw')} AS zip_fmt",
        f"{format_number('num_raw', 2)} AS num2_fmt",
        f"{format_number('num_raw', 0)} AS num0_fmt",
        f"{format_date('date_raw')} AS date_fmt",
        f"{format_number(sql_str('not a number'), 2)} AS nan_fmt",
    )


SQL_FIELD_FORMATTERS = """
SELECT c_custkey,
       lpad(substr(CAST((c_custkey * 7) % 100000000 AS VARCHAR), 1, 5), 5, '0') AS zip_fmt,
       CAST(c_custkey % 10000 AS DOUBLE) + 0.75 AS num2_fmt,
       CAST(c_custkey % 10000 AS DOUBLE) + 1.0 AS num0_fmt,
       '07/' || lpad(CAST(1 + c_custkey % 28 AS VARCHAR), 2, '0') || '/2024' AS date_fmt,
       CAST(0.0 AS DOUBLE) AS nan_fmt
FROM customer WHERE c_custkey % 3 = 0
"""


# ----------------------------------------------------------------------
# validation battery (P6/P7)
# ----------------------------------------------------------------------
def q_validation_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Injects one defect class per modulus and checks the native
    validator counts them: missing name (%7=0), negative sqft (%5=0),
    malformed zip (%3=0), unparseable CapEx date (%11=0)."""
    c = _read(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    rec = c.select(
        k.alias("c_custkey"),
        F.when(k % 7 == 0, F.lit(None).cast("string")).otherwise(F.col("c_name")).alias("Name_of_Prospect"),
        F.lit("12 Main St").alias("Address_of_Property"),
        F.when(k % 3 == 0, F.lit("AB-12")).otherwise(F.lit("85260")).alias("Zip_Code"),
        F.lit("Office").alias("Type_of_Property_Quote"),
        F.lit(100000.0).alias("Purchase_Price"),
        F.lit(0.0).alias("Capital_Improvements_Amount"),
        F.lit(80000.0).alias("Building_Value"),
        F.lit(20000.0).alias("Know_Land_Value"),
        F.lit("01/15/2024").alias("Date_of_Purchase"),
        F.when(k % 11 == 0, F.lit("not-a-date")).otherwise(F.lit("02/20/2024")).alias("CapEx_Date"),
        F.when(k % 5 == 0, F.lit(-100.0)).otherwise(F.lit(2500.0)).alias("SqFt_Building"),
        F.lit(1.5).alias("Acres_Land"),
        F.lit(1995.0).alias("Year_Built"),
        F.lit(5000.0).alias("Bid_Amount_Original"),
        F.lit(4550.0).alias("Pay_Upfront"),
        F.lit(2500.0).alias("Pay_50_50_Amount"),
        F.lit(1250.0).alias("Pay_Over_Time"),
        F.lit(0.0).alias("Rush_Fee"),
        F.lit(1.0).alias("Multiple_Properties_Quote"),
        F.lit(0.0).alias("First_Year_Bonus_Quote"),
        F.lit(2025.0).alias("Tax_Year"),
        F.lit("October").alias("Tax_Deadline_Quote"),
    )
    out = with_validation(rec, mode="typed", strict_quirk=False)
    return out.select(
        "c_custkey",
        F.col("is_valid"),
        F.size("validation_errors").alias("n_errors"),
        F.when(F.size("validation_errors") > 0, F.col("validation_errors")[0]["field"]).alias(
            "first_error_field"
        ),
    )


SQL_VALIDATION_BATTERY = """
WITH flags AS (
  SELECT c_custkey,
         (c_custkey % 7 = 0) AS miss_name,
         (c_custkey % 3 = 0) AS bad_zip,
         (c_custkey % 11 = 0) AS bad_capex,
         (c_custkey % 5 = 0) AS neg_sqft
  FROM customer
)
SELECT c_custkey,
       NOT (miss_name OR bad_zip OR bad_capex OR neg_sqft) AS is_valid,
       (CASE WHEN miss_name THEN 1 ELSE 0 END + CASE WHEN bad_zip THEN 1 ELSE 0 END
        + CASE WHEN neg_sqft THEN 1 ELSE 0 END + CASE WHEN bad_capex THEN 1 ELSE 0 END) AS n_errors,
       CASE WHEN miss_name THEN 'Name_of_Prospect'
            WHEN bad_zip THEN 'Zip_Code'
            WHEN neg_sqft THEN 'SqFt_Building'
            WHEN bad_capex THEN 'CapEx_Date'
            ELSE NULL END AS first_error_field
FROM flags
"""


# ----------------------------------------------------------------------
# regex field extraction (P9)
# ----------------------------------------------------------------------
def q_regex_fields(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _read(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"(fast|slow)", 1).alias("first_speed"),
        F.regexp_count("text", F.lit(r"scan")).alias("n_scan"),
        F.regexp_extract("text", r"([a-z]+) (join)", 1).alias("word_before_join"),
    )


SQL_REGEX_FIELDS = """
SELECT doc_id,
       regexp_extract(text, '(fast|slow)', 1) AS first_speed,
       len(regexp_extract_all(text, 'scan')) AS n_scan,
       regexp_extract(text, '([a-z]+) (join)', 1) AS word_before_join
FROM documents
"""


# ----------------------------------------------------------------------
# pricing inputs (shared derivation)
# ----------------------------------------------------------------------
def _pricing_inputs(spark: SparkSession, sf_dir: str, mod_rem: int) -> DataFrame:
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 7 == mod_rem)
    k = F.col("o_orderkey")
    return o.select(
        k.alias("o_orderkey"),
        (F.col("o_totalprice") * F.lit(20.0)).alias("purchase_price"),
        (F.col("o_totalprice") * F.lit(4.0)).alias("land_value"),
        ((k % 5).cast("double") * F.lit(10000.0)).alias("capex"),
        ((F.col("o_custkey") * 37) % 100000).alias("zip_code"),
        _ptype_col().alias("property_type"),
        ((k % 60).cast("double") * F.lit(1000.0)).alias("sqft_building"),
        ((k % 13).cast("double") * F.lit(0.25)).alias("acres_land"),
        (k % 12).cast("double").alias("floors"),
        (1 + k % 13).cast("double").alias("num_properties"),
    )


_PRICING_INPUTS_SQL = """
  SELECT o_orderkey,
         o_totalprice * 20.0 AS pp,
         o_totalprice * 4.0 AS lv,
         CAST(o_orderkey % 5 AS DOUBLE) * 10000.0 AS cx,
         (o_custkey * 37) % 100000 AS zip_code,
         {ptype} AS property_type,
         CAST(o_orderkey % 60 AS DOUBLE) * 1000.0 AS sqft,
         CAST(o_orderkey % 13 AS DOUBLE) * 0.25 AS acres,
         CAST(o_orderkey % 12 AS DOUBLE) AS floors,
         CAST(1 + o_orderkey % 13 AS DOUBLE) AS nprop
  FROM orders WHERE o_orderkey % 7 = {rem}
""".replace("{ptype}", _PTYPE_SQL)

_PRICING_OUT_COLS = [
    "cost_basis_factor", "zip_code_factor", "sqft_factor", "acres_factor",
    "property_type_factor", "floors_factor", "multi_prop_factor",
    "linear_bid", "logistic_bid", "multi_properties_bid", "final_bid",
    "pay_upfront", "pay_50_50", "pay_over_time",
]


def _q_pricing(version: str, mod_rem: int):
    def q(spark: SparkSession, sf_dir: str) -> DataFrame:
        inp = _pricing_inputs(spark, sf_dir, mod_rem)
        return pricing.compute_pricing(inp, version=version, rounding="half_up").select(
            "o_orderkey", *_PRICING_OUT_COLS
        )

    return q


def _sql_pricing(version: str, mod_rem: int) -> str:
    p = pricing
    cb = sqlgen.sql_ge_chain("(pp + cx)", p.COST_BASIS_V1 if version == "v1" else p.COST_BASIS_V2)
    zf = sqlgen.sql_zip_factor("zip_code", version)
    sf = sqlgen.sql_sqft_factor("sqft", version)
    af = sqlgen.sql_acres_factor("acres")
    ptf = sqlgen.sql_map_chain(
        "property_type",
        p.PROPERTY_TYPE_V1 if version == "v1" else p.PROPERTY_TYPE_V2,
        p.PROPERTY_TYPE_DEFAULT,
    )
    ff = sqlgen.sql_ge_chain("floors", p.FLOORS)
    mpf = sqlgen.sql_ge_chain("nprop", p.MULTI_PROP_V1 if version == "v1" else p.MULTI_PROP_V2)
    final = (
        "greatest(least(linear_raw, logistic_raw, multi_raw), multi_raw)"
        if version == "v1"
        else "least(linear_raw, logistic_raw, multi_raw)"
    )
    return f"""
WITH inp AS ({_PRICING_INPUTS_SQL.replace('{rem}', str(mod_rem))}),
fac AS (
  SELECT *, {cb} AS cost_basis_factor, {zf} AS zip_code_factor, {sf} AS sqft_factor,
         {af} AS acres_factor, {ptf} AS property_type_factor, {ff} AS floors_factor,
         {mpf} AS multi_prop_factor
  FROM inp
),
bids AS (
  SELECT *,
    ((pp + cx) * {sqlgen.flit(p.LINEAR_RATE)} + {sqlgen.flit(p.LINEAR_BASE)})
      * cost_basis_factor * zip_code_factor * sqft_factor * acres_factor
      * property_type_factor * floors_factor * multi_prop_factor AS linear_raw,
    {sqlgen.sql_logistic_bid('(pp - lv + cx)')} AS logistic_raw
  FROM fac
),
bids2 AS (SELECT *, linear_raw * nprop AS multi_raw FROM bids),
sel AS (
  SELECT *, {sqlgen.sql_round2(f'greatest({final}, 100.0)')} AS final_bid FROM bids2
)
SELECT o_orderkey, cost_basis_factor, zip_code_factor, sqft_factor, acres_factor,
       property_type_factor, floors_factor, multi_prop_factor,
       {sqlgen.sql_round2('linear_raw')} AS linear_bid,
       {sqlgen.sql_round2('logistic_raw')} AS logistic_bid,
       {sqlgen.sql_round2('multi_raw')} AS multi_properties_bid, final_bid,
       {sqlgen.sql_round2('final_bid * 0.91')} AS pay_upfront,
       {sqlgen.sql_round2('final_bid / 2')} AS pay_50_50,
       {sqlgen.sql_round2('final_bid / 4')} AS pay_over_time
FROM sel
"""


def q_pricing_adjustments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 adjustment stack over the v1 pricing output."""
    inp = _pricing_inputs(spark, sf_dir, 2)
    k = F.col("o_orderkey")
    priced = pricing.compute_pricing(inp, version="v1", rounding="half_up").select(
        "o_orderkey",
        "final_bid",
        F.when(k % 3 == 0, "No Rush").when(k % 3 == 1, "4W $500").otherwise("2W $1000").alias("rush"),
        F.when(k % 2 == 0, "Yes").otherwise("No").alias("premium"),
        F.when(k % 5 == 0, "Yes").otherwise("No").alias("referral"),
        F.when(k % 97 == 0, F.lit(12345.0)).otherwise(F.lit(None).cast("double")).alias("price_override"),
    )
    return pricing.apply_adjustments(priced, rounding="half_up").select(
        "o_orderkey", "final_bid", "rush_fee", "final_quote"
    )


def _sql_pricing_adjustments() -> str:
    base = _sql_pricing("v1", 2)
    return f"""
WITH pr AS ({base}),
adj AS (
  SELECT o_orderkey, final_bid,
    CASE WHEN o_orderkey % 3 = 0 THEN CAST(0.0 AS DOUBLE) WHEN o_orderkey % 3 = 1 THEN CAST(500.0 AS DOUBLE) ELSE CAST(1000.0 AS DOUBLE) END AS rush_fee,
    CASE WHEN o_orderkey % 2 = 0 THEN final_bid * 0.05 ELSE 0.0 END AS premium_amt,
    CASE WHEN o_orderkey % 5 = 0 THEN final_bid * 0.1 ELSE 0.0 END AS referral_amt,
    CASE WHEN o_orderkey % 97 = 0 THEN CAST(12345.0 AS DOUBLE) ELSE NULL END AS ov
  FROM pr
)
SELECT o_orderkey, final_bid, rush_fee,
       {sqlgen.sql_round2('CASE WHEN ov IS NOT NULL AND ov > 0 THEN ov ELSE final_bid + rush_fee + premium_amt + referral_amt END')} AS final_quote
FROM adj
"""


def q_pricing_engine_quote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F13 + F10: the engine /quote/document forks — land coercion
    (engine/quote_calc.py:101-107: known ⇒ dollars, else
    percent-or-fraction of price) feeding the logistic building value,
    and the 0.909 engine payment block (engine/quote_calc.py:259-270;
    the adapter/api path uses 0.91 — covered by pricing_v1/v2)."""
    inp = _pricing_inputs(spark, sf_dir, 3)
    k = F.col("o_orderkey")
    inp = inp.withColumn("known_land", k % 3 == 0).withColumn(
        "land_value",
        F.when(k % 3 == 0, F.col("land_value"))            # known: dollars
        .when(k % 3 == 1, (5 + k % 90).cast("double"))     # >1: percent
        .otherwise((k % 10).cast("double") / F.lit(10.0)), # ≤1: fraction
    )
    priced = pricing.compute_pricing(
        inp, version="v2", rounding="half_up",
        known_land_value="known_land", upfront_ratio=0.909,
    )
    out = pricing.with_payment_block(
        priced.select("o_orderkey", "land_amount", "final_bid"),
        quote="final_bid", rounding="half_up",
    )
    return out.select(
        "o_orderkey",
        F.round(F.col("land_amount"), 2).alias("land_amount"),
        "final_bid",
        "originally_quoted",
        F.col("pay_upfront_engine").alias("pay_upfront_909"),
        F.col("pay_50_50_engine").alias("pay_50_50"),
        "pay_over_time_amount",
        "pay_over_time_note",
    )


def _sql_pricing_engine_quote() -> str:
    p = pricing
    cb = sqlgen.sql_ge_chain("(pp + cx)", p.COST_BASIS_V2)
    zf = sqlgen.sql_zip_factor("zip_code", "v2")
    sf = sqlgen.sql_sqft_factor("sqft", "v2")
    af = sqlgen.sql_acres_factor("acres")
    ptf = sqlgen.sql_map_chain("property_type", p.PROPERTY_TYPE_V2, p.PROPERTY_TYPE_DEFAULT)
    ff = sqlgen.sql_ge_chain("floors", p.FLOORS)
    mpf = sqlgen.sql_ge_chain("nprop", p.MULTI_PROP_V2)
    return f"""
WITH inp0 AS ({_PRICING_INPUTS_SQL.replace('{rem}', '3')}),
inp AS (
  SELECT *, (o_orderkey % 3 = 0) AS known,
         CASE WHEN o_orderkey % 3 = 0 THEN lv
              WHEN o_orderkey % 3 = 1 THEN CAST(5 + o_orderkey % 90 AS DOUBLE)
              ELSE CAST(o_orderkey % 10 AS DOUBLE) / 10.0 END AS lraw
  FROM inp0
),
land AS (
  SELECT *, CASE WHEN known THEN lraw
                 ELSE pp * (CASE WHEN lraw > 1.0 THEN lraw / 100.0 ELSE lraw END)
            END AS land_amt
  FROM inp
),
fac AS (
  SELECT *, {cb} AS cbf, {zf} AS zff, {sf} AS sff, {af} AS aff,
         {ptf} AS ptff, {ff} AS flf, {mpf} AS mpff
  FROM land
),
bids AS (
  SELECT *,
    ((pp + cx) * {sqlgen.flit(p.LINEAR_RATE)} + {sqlgen.flit(p.LINEAR_BASE)})
      * cbf * zff * sff * aff * ptff * flf * mpff AS linear_raw,
    {sqlgen.sql_logistic_bid('(pp - land_amt + cx)')} AS logistic_raw
  FROM fac
),
bids2 AS (SELECT *, linear_raw * nprop AS multi_raw FROM bids),
sel AS (
  SELECT *, {sqlgen.sql_round2('greatest(least(linear_raw, logistic_raw, multi_raw), 100.0)')}
    AS final_bid
  FROM bids2
)
SELECT o_orderkey, {sqlgen.sql_round2('land_amt')} AS land_amount, final_bid,
       {sqlgen.sql_round2('final_bid')} AS originally_quoted,
       {sqlgen.sql_round2('final_bid * 0.909')} AS pay_upfront_909,
       {sqlgen.sql_round2('final_bid / 2')} AS pay_50_50,
       {sqlgen.sql_round2('final_bid / 4')} AS pay_over_time_amount,
       'Up to 36 months' AS pay_over_time_note
FROM sel
"""


# ----------------------------------------------------------------------
# D12: legacy simplified schedule modes
# ----------------------------------------------------------------------
def _legacy_inputs(spark: SparkSession, sf_dir: str, api_form: bool = False) -> DataFrame:
    """``api_form=True`` = the /quote/document building value
    (service/api.py:77: capex added UNCONDITIONALLY); default = the
    engine form (engine/quote_calc.py:185: capex gated on 'Yes')."""
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 9 == 4)
    k = F.col("o_orderkey")
    df = o.select(
        k.alias("o_orderkey"),
        (F.col("o_totalprice") * F.lit(20.0)).alias("purchase_price"),
        F.when(k % 3 == 0, F.col("o_totalprice") * F.lit(4.0))
        .when(k % 3 == 1, (5 + k % 90).cast("double"))
        .otherwise((k % 10).cast("double") / F.lit(10.0))
        .alias("land_value"),
        (k % 3 == 0).alias("known_land_value"),
        ((k % 5).cast("double") * F.lit(10000.0)).alias("capex_amount"),
        F.when(k % 2 == 0, "Yes").otherwise("No").alias("capex"),
        _ptype_col().alias("property_type"),
    )
    bv = dep.legacy_building_value(
        "purchase_price", "land_value", "known_land_value", "capex_amount",
        capex_yes=None if api_form else "capex",
    )
    return df.selectExpr("*", f"{bv} AS building_value")


_LEGACY_BV_SQL = """
  SELECT o_orderkey,
         pp - (CASE WHEN known THEN lraw
                    ELSE pp * (CASE WHEN lraw > 1.0 THEN lraw / 100.0 ELSE lraw END) END)
            + {capex_term} AS bv,
         ptype
  FROM (
    SELECT o_orderkey,
           o_totalprice * 20.0 AS pp,
           CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice * 4.0
                WHEN o_orderkey % 3 = 1 THEN CAST(5 + o_orderkey % 90 AS DOUBLE)
                ELSE CAST(o_orderkey % 10 AS DOUBLE) / 10.0 END AS lraw,
           (o_orderkey % 3 = 0) AS known,
           CAST(o_orderkey % 5 AS DOUBLE) * 10000.0 AS cxa,
           (o_orderkey % 2 = 0) AS cx_yes,
           {ptype} AS ptype
    FROM orders WHERE o_orderkey % 9 = 4
  )
""".replace("{ptype}", _PTYPE_SQL)

# engine form: capex gated on the 'Yes' flag (engine/quote_calc.py:185)
_LEGACY_BV_ENGINE = _LEGACY_BV_SQL.replace(
    "{capex_term}", "(CASE WHEN cx_yes THEN cxa ELSE CAST(0.0 AS DOUBLE) END)"
)
# api form: capex added unconditionally (service/api.py:77)
_LEGACY_BV_API = _LEGACY_BV_SQL.replace("{capex_term}", "cxa")


def q_depr_legacy_v1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 legacy mode 1 (engine/quote_calc.py:166-257): 15/10/75 split,
    flat DB approximations, full bonus in year 1, period by type."""
    out = dep.legacy_schedule(_legacy_inputs(spark, sf_dir), variant="legacy_v1", rounding="half_up")
    return out.select(
        "o_orderkey", "year", "cost_seg_est", "std_dep", "trad_cost_seg", "bonus_dep"
    )


def _sql_depr_legacy_v1() -> str:
    fl = sqlgen.flit
    periods = dep.LEGACY_DEP_PERIODS
    mf = [k for k, v in periods.items() if v == 27.5]
    arms = " ".join(
        [f"WHEN ptype IN ({', '.join(repr(x) for x in mf)}) THEN {fl(27.5)}"]
        + [f"WHEN ptype = {k!r} THEN {fl(v)}" for k, v in periods.items() if v != 27.5]
    )
    five = f"(bv * {fl(0.15)})"
    fifteen = f"(bv * {fl(0.10)})"
    bldgp = f"(bv * {fl(0.75)})"
    std = f"(CASE WHEN year <= dy THEN bv / dy ELSE {fl(0.0)} END)"
    trad5 = (
        f"(CASE WHEN year <= 5 THEN {five} * {fl(0.20)}"
        f" WHEN year = 6 THEN {five} * {fl(0.20)} * {fl(0.5)} ELSE {fl(0.0)} END)"
    )
    trad15 = (
        f"(CASE WHEN year <= 15 THEN {fifteen} * {fl(0.10)}"
        f" WHEN year = 16 THEN {fifteen} * {fl(0.10)} * {fl(0.5)} ELSE {fl(0.0)} END)"
    )
    tradb = f"(CASE WHEN year <= dy THEN {bldgp} / dy ELSE {fl(0.0)} END)"
    trad = f"({trad5} + {trad15} + {tradb})"
    bonus = f"(CASE WHEN year = 1 THEN {five} + {fifteen} + {tradb} ELSE {tradb} END)"
    return f"""
WITH bvt AS ({_LEGACY_BV_ENGINE}),
per AS (
  SELECT o_orderkey, bv, (CASE {arms} ELSE {fl(27.5)} END) AS dy FROM bvt
),
yrs AS (
  SELECT *, unnest(generate_series(1, CAST(floor(dy) AS INT) + 1)) AS year FROM per
)
SELECT o_orderkey, CAST(year AS INT) AS year,
       {sqlgen.sql_round2(trad)} AS cost_seg_est,
       {sqlgen.sql_round2(std)} AS std_dep,
       {sqlgen.sql_round2(trad)} AS trad_cost_seg,
       {sqlgen.sql_round2(bonus)} AS bonus_dep
FROM yrs
"""


def q_depr_legacy_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D12 legacy mode 2 (service/api.py:83-116): 80% bonus year 1,
    remaining 20% over years 2-27, fixed 27.5-year standard line.
    Building value is the API form — capex added unconditionally
    (service/api.py:77), a fork from the engine form the round-2
    transcription oracle masked (ref-exec oracle caught it, round 3)."""
    out = dep.legacy_schedule(
        _legacy_inputs(spark, sf_dir, api_form=True), variant="legacy_v2", rounding="half_up"
    )
    return out.select(
        "o_orderkey", "year", "cost_seg_est", "std_dep", "trad_cost_seg", "bonus_dep"
    )


def _sql_depr_legacy_v2() -> str:
    fl = sqlgen.flit
    r2 = sqlgen.sql_round2
    std = r2(f"bv / {fl(27.5)}")
    y1_bonus = r2(f"bv * {fl(0.8)}")
    y1_trad = f"({r2(f'bv * {fl(0.2)} / {fl(27.5)}')} + {r2(f'bv * {fl(0.8)} / {fl(5.0)}')})"
    annual = r2(f"bv * {fl(0.2)} / {fl(27.0)}")
    return f"""
WITH bvt AS ({_LEGACY_BV_API}),
yrs AS (SELECT *, unnest(generate_series(1, 27)) AS year FROM bvt)
SELECT o_orderkey, CAST(year AS INT) AS year,
       (CASE WHEN year = 1 THEN {y1_bonus} ELSE {annual} END) AS cost_seg_est,
       {std} AS std_dep,
       (CASE WHEN year = 1 THEN {y1_trad} ELSE {annual} END) AS trad_cost_seg,
       (CASE WHEN year = 1 THEN {y1_bonus} ELSE {annual} END) AS bonus_dep
FROM yrs
"""


# ----------------------------------------------------------------------
# J1 as an explicit broadcast range join
# ----------------------------------------------------------------------
def q_ladder_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 5 == 0)
    dim = pricing.ladder_dim(spark, pricing.COST_BASIS_V2, name="cost_basis_factor")
    return pricing.ladder_join(o, "o_totalprice", dim).select(
        "o_orderkey", "o_totalprice", "cost_basis_factor"
    )


SQL_LADDER_RANGE_JOIN = f"""
SELECT o_orderkey, o_totalprice,
       {sqlgen.sql_ge_chain('o_totalprice', pricing.COST_BASIS_V2)} AS cost_basis_factor
FROM orders WHERE o_orderkey % 5 = 0
"""


# ----------------------------------------------------------------------
# J3 bonus interval join
# ----------------------------------------------------------------------
def q_bonus_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _read(spark, sf_dir, "orders").select("o_orderkey", _acq_col().alias("_acq"))
    return o.select(
        "o_orderkey",
        F.col("_acq").cast("string").alias("acq_date"),
        dep.bonus_rate_expr("_acq").alias("bonus_rate"),
    )


SQL_BONUS_INTERVAL_JOIN = f"""
SELECT o_orderkey,
       CAST({_ACQ_SQL} AS VARCHAR) AS acq_date,
       {sqlgen.sql_bonus_rate(_ACQ_SQL)} AS bonus_rate
FROM orders
"""


# ----------------------------------------------------------------------
# J4 MACRS composite-key broadcast join
# ----------------------------------------------------------------------
def q_macrs_lookup_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % 50 == 0)
    k = F.col("o_orderkey")
    classes = ["5yr", "7yr", "15yr", "27.5yr", "39yr"]
    cls = None
    for i, c in enumerate(classes):
        cond = k % 5 == i
        cls = F.when(cond, c) if cls is None else cls.when(cond, c)
    grid = o.select(
        k.alias("o_orderkey"),
        cls.alias("asset_class"),
        (1 + k % 45).cast("int").alias("year"),
        F.when(k % 5 <= 2, F.lit(0)).otherwise(1 + F.col("o_custkey") % 12).cast("int").alias("month"),
    )
    macrs = dep.macrs_table_df(spark)
    return grid.join(F.broadcast(macrs), ["asset_class", "year", "month"], "left").select(
        "o_orderkey", "asset_class", "year", "month",
        F.coalesce(F.col("pct"), F.lit(0.0)).alias("macrs_pct"),
    )


def _sql_macrs_lookup() -> str:
    classes = ["5yr", "7yr", "15yr", "27.5yr", "39yr"]
    cls = "(CASE " + " ".join(
        f"WHEN o_orderkey % 5 = {i} THEN '{c}'" for i, c in enumerate(classes)
    ) + " END)"
    hy = " ".join(
        f"WHEN asset_class = '{c}' THEN coalesce(list_extract({sqlgen._sql_list(dep.HY_TABLES[c])}, year), 0.0)"
        for c in ("5yr", "7yr", "15yr")
    )
    mm = " ".join(
        f"WHEN asset_class = '{c}' THEN coalesce(list_extract(coalesce(list_extract({sqlgen._sql_list2(dep.MACRS_MM[c])}, year), []), month), 0.0)"
        for c in ("27.5yr", "39yr")
    )
    return f"""
WITH grid AS (
  SELECT o_orderkey, {cls} AS asset_class,
         CAST(1 + o_orderkey % 45 AS INT) AS year,
         CAST(CASE WHEN o_orderkey % 5 <= 2 THEN 0 ELSE 1 + o_custkey % 12 END AS INT) AS month
  FROM orders WHERE o_orderkey % 50 = 0
)
SELECT o_orderkey, asset_class, year, month,
       (CASE {hy} {mm} ELSE 0.0 END) AS macrs_pct
FROM grid
"""


# ----------------------------------------------------------------------
# depreciation engine inputs (shared derivation)
# ----------------------------------------------------------------------
def _depr_inputs(spark: SparkSession, sf_dir: str, mod: int, rem: int) -> DataFrame:
    o = _read(spark, sf_dir, "orders").filter(F.col("o_orderkey") % mod == rem)
    k = F.col("o_orderkey")
    acq = _acq_col()
    return o.select(
        k.alias("o_orderkey"),
        (F.col("o_totalprice") * F.lit(30.0)).alias("purchase_price"),
        (F.col("o_totalprice") * F.lit(6.0)).alias("land_value"),
        ((k % 7).cast("double") * F.lit(25000.0)).alias("capex"),
        ((k % 3).cast("double") * F.lit(50000.0)).alias("pad"),
        ((F.col("o_custkey") % 4).cast("double") * F.lit(40000.0)).alias("deferred_gain"),
        acq.alias("acquisition_date"),
        F.make_date(
            F.year(acq) + (1 + k % 3).cast("int"), F.month(acq), F.dayofmonth(acq)
        ).alias("css_date"),
        F.when(k % 2 == 0, "multi-family").otherwise("commercial").alias("property_type"),
        (1980 + k % 40).cast("int").alias("year_built"),
    )


_DEPR_INPUTS_SQL = """
  SELECT o_orderkey,
         o_totalprice * 30.0 AS pp,
         o_totalprice * 6.0 AS lv,
         CAST(o_orderkey % 7 AS DOUBLE) * 25000.0 AS cx,
         CAST(o_orderkey % 3 AS DOUBLE) * 50000.0 AS pad,
         CAST(o_custkey % 4 AS DOUBLE) * 40000.0 AS dg,
         {acq} AS acq,
         CAST(1 + o_orderkey % 3 AS INT) AS elapsed,
         CASE WHEN o_orderkey % 2 = 0 THEN 'multi-family' ELSE 'commercial' END AS property_type,
         1980 + o_orderkey % 40 AS year_built
  FROM orders WHERE o_orderkey % {mod} = {rem}
""".replace("{acq}", _ACQ_SQL)


def _sql_depr_scalars(mod: int, rem: int) -> str:
    """Shared CTE prefix: engine stage-1 scalars (D1, J3, F6, F7)."""
    bonus = sqlgen.sql_bonus_rate("acq")
    return f"""
WITH inp AS ({_DEPR_INPUTS_SQL.replace('{mod}', str(mod)).replace('{rem}', str(rem))}),
sc AS (
  SELECT *,
    (pp - lv + cx - pad - dg) AS total_dep,
    {bonus} AS bonus_rate,
    CASE WHEN property_type = 'multi-family' THEN '27.5yr' ELSE '39yr' END AS building_class,
    month(acq) AS pis_month,
    year(acq) AS acq_year,
    (0.5 / (1.0 + exp(-0.01 * CAST(year(acq) - year_built AS DOUBLE))) * 0.22) AS adj,
    CASE WHEN property_type = 'multi-family' THEN {sqlgen.flit(dep.BASE_BUILDING['multi-family'])}
         ELSE {sqlgen.flit(dep.BASE_BUILDING['commercial'])} END AS base_bldg
  FROM inp
),
amts AS (
  SELECT *,
    (pp - lv + cx - pad - dg) * {sqlgen.flit(dep.BASE_ALLOCATIONS['5yr'])} AS amt_5yr,
    (pp - lv + cx - pad - dg) * {sqlgen.flit(dep.BASE_ALLOCATIONS['7yr'])} AS amt_7yr,
    (pp - lv + cx - pad - dg) * ({sqlgen.flit(dep.BASE_ALLOCATIONS['15yr'])} + adj * base_bldg) AS amt_15yr,
    (pp - lv + cx - pad - dg) * (base_bldg * (1.0 - adj)) AS amt_bldg
  FROM sc
)
"""


def q_depr_481a(spark: SparkSession, sf_dir: str) -> DataFrame:
    inp = _depr_inputs(spark, sf_dir, 11, 0)
    staged = dep.with_engine_inputs(inp)
    out = dep.with_481a(staged)
    return out.select(
        "o_orderkey",
        F.round(F.col("total_depreciable"), 2).alias("total_depreciable"),
        F.col("bonus_rate"),
        F.round(F.col("should_have_taken"), 2).alias("should_have_taken"),
        F.round(F.col("did_take"), 2).alias("did_take"),
        F.round(F.col("catch_up_adjustment"), 2).alias("catch_up_adjustment"),
        F.round(F.col("current_year_total"), 2).alias("current_year_total"),
        F.round(F.col("total_current_year_benefit"), 2).alias("total_current_year_benefit"),
    )


def _sql_depr_481a() -> str:
    acc5 = sqlgen.sql_short_acc_dep("amt_5yr", "bonus_rate", "5yr", "elapsed")
    acc7 = sqlgen.sql_short_acc_dep("amt_7yr", "bonus_rate", "7yr", "elapsed")
    acc15 = sqlgen.sql_short_acc_dep("amt_15yr", "bonus_rate", "15yr", "elapsed")
    accb = sqlgen.sql_bldg_acc_dep("amt_bldg", "building_class", "elapsed", "pis_month")
    did = sqlgen.sql_standard_dep("total_dep", "building_class", "elapsed", "pis_month")
    cur5 = sqlgen.sql_short_year_dep("amt_5yr", "bonus_rate", "5yr", "(elapsed + 1)")
    cur7 = sqlgen.sql_short_year_dep("amt_7yr", "bonus_rate", "7yr", "(elapsed + 1)")
    cur15 = sqlgen.sql_short_year_dep("amt_15yr", "bonus_rate", "15yr", "(elapsed + 1)")
    curb = sqlgen.sql_bldg_year_dep("amt_bldg", "building_class", "(elapsed + 1)", "pis_month")
    return sqlgen.repr_rounds(f"""
{_sql_depr_scalars(11, 0)},
agg AS (
  SELECT o_orderkey, total_dep, bonus_rate,
         ({acc5} + {acc7} + {acc15} + {accb}) AS should_have,
         {did} AS did_take,
         ({cur5} + {cur7} + {cur15} + {curb}) AS cur_total
  FROM amts
)
SELECT o_orderkey,
       round(total_dep, 2) AS total_depreciable,
       bonus_rate,
       round(should_have, 2) AS should_have_taken,
       round(did_take, 2) AS did_take,
       round(should_have - did_take, 2) AS catch_up_adjustment,
       round(cur_total, 2) AS current_year_total,
       round(should_have - did_take + cur_total, 2) AS total_current_year_benefit
FROM agg
""")


def q_depr_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    inp = _depr_inputs(spark, sf_dir, 101, 0)
    staged = dep.with_engine_inputs(inp)
    sched = dep.depreciation_schedule(staged, years=10)
    return sched.select(
        "o_orderkey",
        "year",
        "calendar_year",
        F.round(F.col("depreciation_total"), 2).alias("depreciation_total"),
        F.round(F.col("accumulated_total"), 2).alias("accumulated_total"),
        F.round(F.col("trad_cost_seg"), 2).alias("trad_cost_seg"),
        F.round(F.col("std_dep"), 2).alias("std_dep"),
    )


def _sql_depr_schedule_core(mod: int, rem: int) -> str:
    """Grid CTE with unrounded per-year values (reused by totals)."""
    d5 = sqlgen.sql_short_year_dep("amt_5yr", "bonus_rate", "5yr", "year")
    d7 = sqlgen.sql_short_year_dep("amt_7yr", "bonus_rate", "7yr", "year")
    d15 = sqlgen.sql_short_year_dep("amt_15yr", "bonus_rate", "15yr", "year")
    db = sqlgen.sql_bldg_year_dep("amt_bldg", "building_class", "year", "pis_month")
    a5 = sqlgen.sql_short_acc_dep("amt_5yr", "bonus_rate", "5yr", "year")
    a7 = sqlgen.sql_short_acc_dep("amt_7yr", "bonus_rate", "7yr", "year")
    a15 = sqlgen.sql_short_acc_dep("amt_15yr", "bonus_rate", "15yr", "year")
    ab = sqlgen.sql_bldg_acc_dep("amt_bldg", "building_class", "year", "pis_month")
    t5 = sqlgen.sql_short_year_dep("amt_5yr", "0.0", "5yr", "year")
    t7 = sqlgen.sql_short_year_dep("amt_7yr", "0.0", "7yr", "year")
    t15 = sqlgen.sql_short_year_dep("amt_15yr", "0.0", "15yr", "year")
    std_y = sqlgen.sql_standard_dep("total_dep", "building_class", "year", "pis_month")
    std_p = sqlgen.sql_standard_dep("total_dep", "building_class", "(year - 1)", "pis_month")
    return f"""
{_sql_depr_scalars(mod, rem)},
grid AS (
  SELECT a.*, CAST(y.year AS INT) AS year
  FROM amts a CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS year) y
),
vals AS (
  SELECT o_orderkey, year, (acq_year + year - 1) AS calendar_year,
         ({d5} + {d7} + {d15} + {db}) AS depreciation_total,
         ({a5} + {a7} + {a15} + {ab}) AS accumulated_total,
         ({t5} + {t7} + {t15} + {db}) AS trad_cost_seg,
         ({std_y} - {std_p}) AS std_dep
  FROM grid
)
"""


def _sql_depr_schedule() -> str:
    return sqlgen.repr_rounds(f"""
{_sql_depr_schedule_core(101, 0)}
SELECT o_orderkey, year, calendar_year,
       round(depreciation_total, 2) AS depreciation_total,
       round(accumulated_total, 2) AS accumulated_total,
       round(trad_cost_seg, 2) AS trad_cost_seg,
       round(std_dep, 2) AS std_dep
FROM vals
""")


def q_depr_schedule_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    inp = _depr_inputs(spark, sf_dir, 101, 0)
    staged = dep.with_engine_inputs(inp)
    sched = dep.depreciation_schedule(staged, years=10)
    tot = dep.schedule_totals(sched, ["o_orderkey"])
    return tot.select(
        "o_orderkey",
        F.round(F.col("total_std_dep"), 2).alias("total_std_dep"),
        F.round(F.col("total_trad_cost_seg"), 2).alias("total_trad_cost_seg"),
        F.round(F.col("total_bonus_dep"), 2).alias("total_bonus_dep"),
        F.round(F.col("final_accumulated_total"), 2).alias("final_accumulated_total"),
    )


def _sql_depr_schedule_totals() -> str:
    return sqlgen.repr_rounds(f"""
{_sql_depr_schedule_core(101, 0)}
SELECT o_orderkey,
       round(sum(std_dep), 2) AS total_std_dep,
       round(sum(trad_cost_seg), 2) AS total_trad_cost_seg,
       round(sum(depreciation_total), 2) AS total_bonus_dep,
       round(max(accumulated_total), 2) AS final_accumulated_total
FROM vals GROUP BY o_orderkey
""")


# ----------------------------------------------------------------------
# sink row assembly (S9, F16, F17)
# ----------------------------------------------------------------------
def q_sink_row_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 10 == 0)
    k = F.col("c_custkey")
    deadline = F.when(k % 3 == 0, F.lit(None).cast("string")).otherwise(F.lit("April"))
    tax_year = F.when(k % 2 == 0, F.lit(None).cast("int")).otherwise(F.lit(2026))
    return c.select(
        "c_custkey",
        F.format_string("RCGV_%s_%s.pdf", F.col("c_name"), F.col("c_mktsegment")).alias("file_name"),
        F.concat_ws(
            " ", F.coalesce(deadline, F.lit("October")), F.coalesce(tax_year, F.lit(2025)).cast("string")
        ).alias("due_date_label"),
        F.concat_ws("|", F.col("c_name"), F.col("c_mktsegment"), k.cast("string")).alias("sink_row"),
    )


SQL_SINK_ROW_ASSEMBLY = """
SELECT c_custkey,
       printf('RCGV_%s_%s.pdf', c_name, c_mktsegment) AS file_name,
       (CASE WHEN c_custkey % 3 = 0 THEN 'October' ELSE 'April' END) || ' ' ||
         (CASE WHEN c_custkey % 2 = 0 THEN '2025' ELSE '2026' END) AS due_date_label,
       c_name || '|' || c_mktsegment || '|' || CAST(c_custkey AS VARCHAR) AS sink_row
FROM customer WHERE c_custkey % 10 = 0
"""


# ----------------------------------------------------------------------
# registry
# ----------------------------------------------------------------------
def ref_queries():
    return {
        "extract_pdf_roundtrip": q_extract_pdf_roundtrip,
        "extract_html_roundtrip": q_extract_html_roundtrip,
        "whitetext_record": q_whitetext_record,
        "whitetext_record_legacy": q_whitetext_record_legacy,
        "field_formatters": q_field_formatters,
        "validation_battery": q_validation_battery,
        "regex_fields": q_regex_fields,
        "pricing_v1": _q_pricing("v1", 0),
        "pricing_v2": _q_pricing("v2", 1),
        "pricing_adjustments": q_pricing_adjustments,
        "pricing_engine_quote": q_pricing_engine_quote,
        "ladder_range_join": q_ladder_range_join,
        "bonus_interval_join": q_bonus_interval_join,
        "macrs_lookup_join": q_macrs_lookup_join,
        "depr_481a": q_depr_481a,
        "depr_schedule": q_depr_schedule,
        "depr_schedule_ads": q_depr_schedule_ads,
        "depr_schedule_totals": q_depr_schedule_totals,
        "depr_legacy_v1": q_depr_legacy_v1,
        "depr_legacy_v2": q_depr_legacy_v2,
        "sink_row_assembly": q_sink_row_assembly,
    }


def ref_oracle_sql():
    return {
        "extract_pdf_roundtrip": SQL_EXTRACT_PDF_ROUNDTRIP,
        "extract_html_roundtrip": SQL_EXTRACT_HTML_ROUNDTRIP,
        "whitetext_record": SQL_WHITETEXT_RECORD,
        "whitetext_record_legacy": SQL_WHITETEXT_RECORD_LEGACY,
        "field_formatters": SQL_FIELD_FORMATTERS,
        "validation_battery": SQL_VALIDATION_BATTERY,
        "regex_fields": SQL_REGEX_FIELDS,
        "pricing_v1": _sql_pricing("v1", 0),
        "pricing_v2": _sql_pricing("v2", 1),
        "pricing_adjustments": _sql_pricing_adjustments(),
        "pricing_engine_quote": _sql_pricing_engine_quote(),
        "ladder_range_join": SQL_LADDER_RANGE_JOIN,
        "bonus_interval_join": SQL_BONUS_INTERVAL_JOIN,
        "macrs_lookup_join": _sql_macrs_lookup(),
        "depr_481a": _sql_depr_481a(),
        "depr_schedule": _sql_depr_schedule(),
        "depr_schedule_ads": _sql_depr_schedule_ads(),
        "depr_schedule_totals": _sql_depr_schedule_totals(),
        "depr_legacy_v1": _sql_depr_legacy_v1(),
        "depr_legacy_v2": _sql_depr_legacy_v2(),
        "sink_row_assembly": SQL_SINK_ROW_ASSEMBLY,
    }


# ----------------------------------------------------------------------
# legacy parser path (legacy KV fold + parseFloat) over a marker string
# ----------------------------------------------------------------------
def q_whitetext_record_legacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The parser the app actually ships (src/services/pdfParser.ts)
    over a synthesized marker item string: no-trim KV fold, JS
    parseFloat prefix semantics (comma TERMINATES the number —
    '123,500' parses as 123), missing → ''/0 defaults."""
    spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    from .fields import legacy_field, record_map_legacy

    c = _read(spark, sf_dir, "customer").filter(F.col("c_custkey") % 6 == 0)
    k = F.col("c_custkey")
    marker = F.concat(
        F.lit("||Name_of_Prospect: "), F.col("c_name"),
        F.lit("||Purchase_Price: "), (k % 900).cast("string"), F.lit(",500"),
        F.lit("||SqFt_Building: "), (k % 50000).cast("string"),
        F.lit("||Zip_Code: 85260"),
        F.lit("||Acres_Land: 2.5x"),
    )
    base = c.select(k.alias("c_custkey"), marker.alias("_marker")).selectExpr(
        "c_custkey", f"{record_map_legacy('_marker')} AS _m"
    )
    return base.selectExpr(
        "c_custkey",
        *(
            f"{legacy_field('_m', key, kind)} AS {alias}"
            for key, kind, alias in [
                ("Name_of_Prospect", "text", "name_of_prospect"),
                ("Purchase_Price", "currency", "purchase_price"),
                ("SqFt_Building", "number", "sqft_building"),
                ("Zip_Code", "zipcode", "zip_code"),
                ("Acres_Land", "number", "acres_land"),
                ("Building_Value", "currency", "building_value"),
                ("CapEx_Date", "date", "capex_date"),
            ]
        ),
    )


SQL_WHITETEXT_RECORD_LEGACY = """
SELECT c_custkey,
       c_name AS name_of_prospect,
       CAST(c_custkey % 900 AS DOUBLE) AS purchase_price,
       CAST(c_custkey % 50000 AS DOUBLE) AS sqft_building,
       '85260' AS zip_code,
       CAST(2.5 AS DOUBLE) AS acres_land,
       CAST(0.0 AS DOUBLE) AS building_value,
       '' AS capex_date
FROM customer WHERE c_custkey % 6 = 0
"""


# ----------------------------------------------------------------------
# D8 ADS positive path: real 30/40yr SL-MM tables behind the flag
# ----------------------------------------------------------------------
def q_depr_schedule_ads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADS election with ``ads_tables=True`` (the reference's snapshot
    raises ValueError here — reproduced as the DEFAULT; this query
    exercises the fixed-mode 30yr/40yr straight-line mid-month tables,
    bonus forced to 0)."""
    inp = _depr_inputs(spark, sf_dir, 103, 0).withColumn("ads_flag", F.lit(True))
    staged = dep.with_engine_inputs(inp, use_ads="ads_flag", ads_tables=True)
    sched = dep.depreciation_schedule(staged, years=10)
    return sched.select(
        "o_orderkey",
        "year",
        "building_class",
        F.col("bonus_rate"),
        F.round(F.col("depreciation_total"), 2).alias("depreciation_total"),
        F.round(F.col("accumulated_total"), 2).alias("accumulated_total"),
        F.round(F.col("std_dep"), 2).alias("std_dep"),
    )


def _sql_depr_schedule_ads() -> str:
    # stage-1 scalars with ADS remapping: building 30yr/40yr, bonus 0
    d5 = sqlgen.sql_short_year_dep("amt_5yr", "0.0", "5yr", "year")
    d7 = sqlgen.sql_short_year_dep("amt_7yr", "0.0", "7yr", "year")
    d15 = sqlgen.sql_short_year_dep("amt_15yr", "0.0", "15yr", "year")
    db = sqlgen.sql_bldg_year_dep("amt_bldg", "building_class", "year", "pis_month")
    a5 = sqlgen.sql_short_acc_dep("amt_5yr", "0.0", "5yr", "year")
    a7 = sqlgen.sql_short_acc_dep("amt_7yr", "0.0", "7yr", "year")
    a15 = sqlgen.sql_short_acc_dep("amt_15yr", "0.0", "15yr", "year")
    ab = sqlgen.sql_bldg_acc_dep("amt_bldg", "building_class", "year", "pis_month")
    std_y = sqlgen.sql_standard_dep("total_dep", "building_class", "year", "pis_month")
    std_p = sqlgen.sql_standard_dep("total_dep", "building_class", "(year - 1)", "pis_month")
    return sqlgen.repr_rounds(f"""
WITH inp AS ({_DEPR_INPUTS_SQL.replace('{mod}', '103').replace('{rem}', '0')}),
sc AS (
  SELECT *,
    (pp - lv + cx - pad - dg) AS total_dep,
    CASE WHEN property_type = 'multi-family' THEN '30yr' ELSE '40yr' END AS building_class,
    month(acq) AS pis_month,
    year(acq) AS acq_year,
    (0.5 / (1.0 + exp(-0.01 * CAST(year(acq) - year_built AS DOUBLE))) * 0.22) AS adj,
    CASE WHEN property_type = 'multi-family' THEN {sqlgen.flit(dep.BASE_BUILDING['multi-family'])}
         ELSE {sqlgen.flit(dep.BASE_BUILDING['commercial'])} END AS base_bldg
  FROM inp
),
amts AS (
  SELECT *,
    total_dep * {sqlgen.flit(dep.BASE_ALLOCATIONS['5yr'])} AS amt_5yr,
    total_dep * {sqlgen.flit(dep.BASE_ALLOCATIONS['7yr'])} AS amt_7yr,
    total_dep * ({sqlgen.flit(dep.BASE_ALLOCATIONS['15yr'])} + adj * base_bldg) AS amt_15yr,
    total_dep * (base_bldg * (1.0 - adj)) AS amt_bldg
  FROM sc
),
grid AS (
  SELECT a.*, CAST(y.year AS INT) AS year
  FROM amts a CROSS JOIN (SELECT unnest(generate_series(1, 10)) AS year) y
)
SELECT o_orderkey, year, building_class, CAST(0.0 AS DOUBLE) AS bonus_rate,
       round(({d5} + {d7} + {d15} + {db}), 2) AS depreciation_total,
       round(({a5} + {a7} + {a15} + {ab}), 2) AS accumulated_total,
       round(({std_y} - {std_p}), 2) AS std_dep
FROM grid
""")
