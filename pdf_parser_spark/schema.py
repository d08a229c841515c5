"""Explicit StructTypes for every table that crosses a stage boundary.

The reference declares all schemas statically (TS interfaces at
``src/types/index.ts:1-34``, Pydantic models at ``service/schemas.py``);
we do the same — nothing is inferred (SURVEY.md §1.3).
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

# Character spans ship PACKED: one flat int array [s0,e0,s1,e1,...]
# (item i covers text[spans[2i]:spans[2i+1]]). A per-item
# struct<start,end> array costs a Python dict + an Arrow struct cell
# per item — at 10^12 docs the flat form measurably narrows the
# full-vs-parse-only Arrow-ship gap (round-3 bench) while staying
# SQL-queryable (element_at / slice; size/2 = item count).
SPAN_ARRAY_TYPE = ArrayType(IntegerType())

# ----------------------------------------------------------------------
# output of the extraction stage (extract.py mapInPandas)
# ----------------------------------------------------------------------
EXTRACT_SCHEMA = StructType(
    [
        StructField("url", StringType(), False),
        StructField("warc_ts", TimestampType(), True),
        StructField("lang", StringType(), True),
        StructField("doc_type", StringType(), True),  # pdf | html | unknown
        StructField("text", StringType(), True),  # extracted main text
        StructField("spans", SPAN_ARRAY_TYPE, True),
        StructField("n_pages", IntegerType(), True),
        StructField("n_items", IntegerType(), True),
        # the record's input string, decided by the parser (extract.py):
        # the white-text concat of the first page holding a '||' run, or
        # in legacy mode the last page's first '||Name_of_Prospect:' item
        # — folded into the 22 record fields by fields.py
        StructField("meta_string", StringType(), True),
        StructField("error_code", StringType(), True),
        StructField("error_message", StringType(), True),
        StructField("decode_fallbacks", IntegerType(), True),
        StructField("n_bytes", LongType(), True),
        # True when the doc was opened via the RC4 standard-security
        # handler (empty user password) — counted separately in audit
        StructField("decrypted", BooleanType(), True),
    ]
)

# ----------------------------------------------------------------------
# extracted 22-field quote record (src/types/index.ts:1-34 /
# metadata.ts:5-28): text/zipcode/date fields are strings, numeric and
# currency fields doubles
# ----------------------------------------------------------------------
RECORD_FIELDS = [
    ("Name_of_Prospect", "text"),
    ("Address_of_Property", "text"),
    ("Zip_Code", "zipcode"),
    ("Type_of_Property_Quote", "text"),
    ("Purchase_Price", "currency"),
    ("Capital_Improvements_Amount", "currency"),
    ("Building_Value", "currency"),
    ("Know_Land_Value", "currency"),
    ("Date_of_Purchase", "date"),
    ("CapEx_Date", "date"),
    ("SqFt_Building", "number"),
    ("Acres_Land", "number"),
    ("Year_Built", "number"),
    ("Bid_Amount_Original", "currency"),
    ("Pay_Upfront", "currency"),
    ("Pay_50_50_Amount", "currency"),
    ("Pay_Over_Time", "currency"),
    ("Rush_Fee", "currency"),
    ("Multiple_Properties_Quote", "number"),
    ("First_Year_Bonus_Quote", "currency"),
    ("Tax_Year", "number"),
    ("Tax_Deadline_Quote", "text"),
]
