"""D12 legacy simplified schedules vs the EXECUTED reference generators.

engine/quote_calc.py's calculate_depreciation_schedule runs as a true
oracle (module loaded with a transient openpyxl stub — the method never
touches the workbook). service/api.py:83-116 ALSO runs for real as of
round 3: fastapi/pydantic/openai are absent in this sandbox, so minimal
stub modules (identity route decorators, an attribute-bag BaseModel)
are installed just long enough to import the module as a package
member — the schedule arithmetic under test never touches them.

Executing the real api body immediately paid off: service/api.py:77
adds capex_amount to building value UNCONDITIONALLY, where the engine
gates it on capex == 'Yes' (engine/quote_calc.py:185) — a fork the
round-2 transcription oracle masked.
"""

from __future__ import annotations

import sys
import types

import pytest

from pyspark.sql import functions as F

from conftest import load_reference, reference_engine
from pdf_parser_spark.depreciation import legacy_building_value, legacy_schedule

CASES = [
    dict(case_id=0, purchase_price=1_000_000.0, land_value=10.0, known_land_value=False,
         property_type="Office", capex="No", capex_amount=0.0),
    dict(case_id=1, purchase_price=1_000_000.0, land_value=150_000.0, known_land_value=True,
         property_type="Multi-Family", capex="Yes", capex_amount=50_000.0),
    dict(case_id=2, purchase_price=750_000.0, land_value=0.2, known_land_value=False,
         property_type="Warehouse", capex="Yes", capex_amount=25_000.0),
    dict(case_id=3, purchase_price=333_333.33, land_value=33.0, known_land_value=False,
         property_type="Unknown Type", capex="No", capex_amount=99_999.0),
]


@pytest.fixture(scope="module")
def legacy_df(spark):
    df = spark.createDataFrame(CASES)
    return df.withColumn(
        "building_value",
        F.expr(legacy_building_value(
            "purchase_price", "land_value", "known_land_value", "capex_amount",
            capex_yes="capex",
        )),
    ).cache()


def test_legacy_v1_parity_vs_engine(spark, legacy_df):
    out = legacy_schedule(legacy_df, variant="legacy_v1", rounding="python")
    engine = reference_engine()
    got = {}
    for r in out.collect():
        got.setdefault(r["case_id"], {})[r["year"]] = r
    for case in CASES:
        exp_rows = engine.QuoteCalculator.calculate_depreciation_schedule(
            engine.QuoteCalculator.__new__(engine.QuoteCalculator), dict(case)
        )
        assert len(got[case["case_id"]]) == len(exp_rows), f"case {case['case_id']} row count"
        for exp in exp_rows:
            g = got[case["case_id"]][exp["year"]]
            for fld in ("cost_seg_est", "std_dep", "trad_cost_seg", "bonus_dep"):
                assert g[fld] == exp[fld], (
                    f"case {case['case_id']} year {exp['year']} {fld}: {g[fld]} != {exp[fld]}"
                )


def _web_framework_stubs():
    """Stand-ins for the web-framework packages service/api.py imports
    (fastapi/pydantic/openai): identity route decorators and an
    attribute-bag BaseModel; the schedule arithmetic never touches them."""
    fastapi = types.ModuleType("fastapi")

    class _FastAPI:
        def __init__(self, *a, **k):
            pass

        def add_middleware(self, *a, **k):
            pass

        def __getattr__(self, name):  # post/get/options/... → identity
            return lambda *a, **k: (lambda f: f)

    class _HTTPException(Exception):
        def __init__(self, status_code=None, detail=None):
            super().__init__(detail)
            self.status_code = status_code

    fastapi.FastAPI, fastapi.HTTPException = _FastAPI, _HTTPException
    cors = types.ModuleType("fastapi.middleware.cors")
    cors.CORSMiddleware = object

    pyd = types.ModuleType("pydantic")

    class _BaseModel:
        def __init__(self, **kw):
            ann = {}
            for klass in reversed(type(self).__mro__):
                ann.update(getattr(klass, "__annotations__", {}))
            for k in ann:
                setattr(self, k, kw.get(k, getattr(type(self), k, None)))

    pyd.BaseModel = _BaseModel
    pyd.Field = lambda default=None, **k: default
    pyd.field_validator = lambda *a, **k: (lambda f: f)
    openai = types.ModuleType("openai")
    openai.OpenAI = object
    return [fastapi, types.ModuleType("fastapi.middleware"), cors, pyd, openai]


@pytest.fixture(scope="module")
def legacy_df_api(spark):
    """v2 uses the API building value: capex added UNCONDITIONALLY
    (service/api.py:77), unlike the engine's 'Yes'-gated form."""
    df = spark.createDataFrame(CASES)
    return df.withColumn(
        "building_value",
        F.expr(legacy_building_value(
            "purchase_price", "land_value", "known_land_value", "capex_amount",
            capex_yes=None,
        )),
    ).cache()


def test_legacy_v2_parity_vs_executed_api(spark, legacy_df_api):
    out = legacy_schedule(legacy_df_api, variant="legacy_v2", rounding="python")
    api = load_reference("service/api.py", "ref_service.api", stubs=_web_framework_stubs())
    quote_inputs = sys.modules["ref_service.schemas"].QuoteInputs
    got = {}
    for r in out.collect():
        got.setdefault(r["case_id"], {})[r["year"]] = r
    for case in CASES:
        inp = quote_inputs(
            zip_code=85250,
            **{k: v for k, v in case.items() if k != "case_id"},
        )
        doc = api.quote_document(inp)  # the REAL reference body
        exp_rows = doc["schedule"]
        assert len(got[case["case_id"]]) == 27 == len(exp_rows)
        # the executed api's own building value must match the Spark one
        bv = {r["case_id"]: r["building_value"] for r in legacy_df_api.collect()}
        assert doc["building_value"] == round(bv[case["case_id"]], 2)
        for exp in exp_rows:
            g = got[case["case_id"]][exp["year"]]
            for fld in ("cost_seg_est", "std_dep", "trad_cost_seg", "bonus_dep"):
                assert g[fld] == exp[fld], (
                    f"case {case['case_id']} year {exp['year']} {fld}: {g[fld]} != {exp[fld]}"
                )


def test_legacy_v1_shuffle_free_plan(spark, legacy_df):
    from tests.test_plans import plan_of

    p = plan_of(legacy_schedule(legacy_df, variant="legacy_v1"))
    assert "Exchange" not in p
    assert ") Generate" in p  # the year explode
