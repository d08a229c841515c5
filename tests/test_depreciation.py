"""Depreciation parity: Spark engine vs the executed reference engine.

``/root/reference/cost_seg`` is imported as a package (it uses a
relative import) and run as the ORACLE over a scenario grid; the Spark
engine must match per-class year-1 / accumulated / 481(a) / schedule
values to float precision. Plus the invariants the reference asserts
in its own test suite (test_depreciation_engine.py).
"""

import datetime
import shutil
import sys

import pytest

from pyspark.sql import functions as F

from conftest import REFERENCE, reference_path
from pdf_parser_spark.depreciation import (
    depreciation_schedule,
    macrs_table_df,
    schedule_totals,
    with_481a,
    with_engine_inputs,
)


@pytest.fixture(scope="module")
def refcs(tmp_path_factory):
    pkg_dir = tmp_path_factory.mktemp("refpkg")
    shutil.copytree(reference_path("cost_seg"), pkg_dir / "refcs")
    (pkg_dir / "refcs" / "__init__.py").touch()
    sys.path.insert(0, str(pkg_dir))
    import refcs.cost_seg_calculator as mod

    return mod


SCENARIOS = [
    # (case_id, pp, land, capex, pad, dg, acq, css, ptype, year_built)
    (0, 10_000_000, 2_500_000, 500_000, 0, 0, "06/15/2024", "12/31/2025", "commercial", 2010),
    (1, 2_550_000, 255_000, 0, 0, 0, "06/15/2019", "10/15/2021", "multi-family", 2005),
    (2, 1_000_000, 150_000, 0, 0, 0, "06/15/2023", "10/15/2024", "commercial", 1995),
    (3, 5_000_000, 1_000_000, 250_000, 0, 0, "01/10/2025", "12/31/2025", "multi-family", 2018),
    (4, 3_000_000, 300_000, 0, 100_000, 50_000, "09/27/2017", "04/15/2024", "commercial", 1980),
    (5, 750_000, 75_000, 0, 0, 0, "12/31/2024", "12/31/2024", "multi-family", 2020),
    (6, 4_200_000, 840_000, 120_000, 0, 0, "01/19/2025", "10/15/2026", "commercial", 2000),
    (7, 8_000_000, 1_200_000, 0, 500_000, 300_000, "03/01/2022", "04/15/2025", "multi-family", 1975),
    (8, 1_500_000, 150_000, 0, 0, 0, "07/04/2016", "10/15/2025", "commercial", 1965),  # pre-2017.09.27 → 0% bonus
    (9, 950_000, 95_000, 30_000, 0, 0, "11/30/2020", "04/15/2023", "multi-family", 2012),
]


def _ref_engine(refcs, s):
    return refcs.CostSegregationCalculator(
        purchase_price=s[1], land_value=s[2], capex=s[3], pad=s[4], deferred_gain=s[5],
        acquisition_date=s[6], css_date=s[7], property_type=s[8], year_built=s[9],
    )


@pytest.fixture(scope="module")
def inputs_df(spark):
    rows = [
        dict(
            case_id=s[0], purchase_price=float(s[1]), land_value=float(s[2]),
            capex=float(s[3]), pad=float(s[4]), deferred_gain=float(s[5]),
            acquisition_date=datetime.datetime.strptime(s[6], "%m/%d/%Y").date(),
            css_date=datetime.datetime.strptime(s[7], "%m/%d/%Y").date(),
            property_type=s[8], year_built=s[9],
        )
        for s in SCENARIOS
    ]
    return with_engine_inputs(spark.createDataFrame(rows)).cache()


CLASS_COLS = {"5yr": "5yr", "7yr": "7yr", "15yr": "15yr"}


def _cls_amounts(ref):
    # map reference per-class dict to our 4 fixed columns
    bldg = ref.building_class
    return {"amt_5yr": "5yr", "amt_7yr": "7yr", "amt_15yr": "15yr", "amt_bldg": bldg}


def test_stage1_scalars_match_reference(refcs, inputs_df):
    rows = {r["case_id"]: r for r in inputs_df.collect()}
    for s in SCENARIOS:
        ref = _ref_engine(refcs, s)
        got = rows[s[0]]
        assert got["total_depreciable"] == pytest.approx(ref.total_depreciable, rel=1e-12)
        assert got["bonus_rate"] == pytest.approx(ref.bonus_rate)
        assert got["building_class"] == ref.building_class
        for col, cls in _cls_amounts(ref).items():
            assert got[col] == pytest.approx(ref.allocated_amounts[cls], rel=1e-12), (
                f"case {s[0]} {col}"
            )


def test_year1_and_481a_match_reference(refcs, spark, inputs_df):
    out = {r["case_id"]: r for r in with_481a(inputs_df).collect()}
    for s in SCENARIOS:
        ref = _ref_engine(refcs, s)
        adj = ref.calculate_481a_adjustment()
        got = out[s[0]]
        assert got["should_have_taken"] == pytest.approx(adj["should_have_taken"], rel=1e-9, abs=1e-6), f"case {s[0]}"
        assert got["did_take"] == pytest.approx(adj["did_take"], rel=1e-9, abs=1e-6), f"case {s[0]}"
        assert got["catch_up_adjustment"] == pytest.approx(adj["catch_up_adjustment"], rel=1e-9, abs=1e-6), f"case {s[0]}"
        assert got["total_current_year_benefit"] == pytest.approx(
            adj["total_current_year_benefit"], rel=1e-9, abs=1e-6
        ), f"case {s[0]}"


def test_golden_481a_scenario(spark, inputs_df):
    """SURVEY §5 executed golden (cost_seg/IMPLEMENTATION_SUMMARY.md:248-254)."""
    got = {r["case_id"]: r for r in with_481a(inputs_df).collect()}[0]
    assert got["should_have_taken"] == pytest.approx(2_075_988.01, abs=0.01)
    assert got["did_take"] == pytest.approx(111_280.00, abs=0.01)
    assert got["catch_up_adjustment"] == pytest.approx(1_964_708.01, abs=0.01)
    assert got["current_year_total"] == pytest.approx(312_496.47, abs=0.01)
    assert got["total_current_year_benefit"] == pytest.approx(2_277_204.48, abs=0.01)


def test_schedule_matches_reference(refcs, spark, inputs_df):
    sched = depreciation_schedule(inputs_df, years=10)
    rows = {(r["case_id"], r["year"]): r for r in sched.collect()}
    for s in SCENARIOS:
        ref = _ref_engine(refcs, s)
        for entry in ref.generate_depreciation_schedule(10):
            got = rows[(s[0], entry["year"])]
            assert got["calendar_year"] == entry["calendar_year"]
            assert got["depreciation_total"] == pytest.approx(
                entry["depreciation_total"], rel=1e-9, abs=1e-6
            ), f"case {s[0]} year {entry['year']}"
            assert got["accumulated_total"] == pytest.approx(
                entry["accumulated_total"], rel=1e-9, abs=1e-6
            ), f"case {s[0]} year {entry['year']}"
            for col, cls in _cls_amounts(ref).items():
                dep_col = col.replace("amt_", "dep_")
                assert got[dep_col] == pytest.approx(
                    entry["depreciation"][cls], rel=1e-9, abs=1e-6
                ), f"case {s[0]} year {entry['year']} {dep_col}"


def test_dual_schedule_trad_equals_zero_bonus_engine(refcs, spark, inputs_df):
    """D10: the trad_cost_seg column must equal a bonus=0 reference run."""
    sched = depreciation_schedule(inputs_df, years=10)
    rows = {(r["case_id"], r["year"]): r for r in sched.collect()}
    for s in SCENARIOS[:4]:
        ref = _ref_engine(refcs, s)
        ref.bonus_rate = 0  # the reference's bonus_override=0 second engine
        for entry in ref.generate_depreciation_schedule(10):
            got = rows[(s[0], entry["year"])]
            assert got["trad_cost_seg"] == pytest.approx(
                entry["depreciation_total"], rel=1e-9, abs=1e-6
            ), f"case {s[0]} year {entry['year']}"


def test_std_dep_lag_identity(spark, inputs_df):
    """W3: std_dep(y) == std_acc(y) − std_acc(y−1), year 1 == std_acc(1)."""
    sched = depreciation_schedule(inputs_df, years=12).cache()
    from pyspark.sql.window import Window

    w = Window.partitionBy("case_id").orderBy("year")
    check = sched.withColumn("prev_acc", F.lag("std_acc", 1, 0.0).over(w)).withColumn(
        "lag_diff", F.col("std_acc") - F.col("prev_acc")
    )
    bad = check.filter(F.abs(F.col("std_dep") - F.col("lag_diff")) > 1e-6).count()
    assert bad == 0
    sched.unpersist()


def test_invariant_per_class_sum_equals_total(spark, inputs_df):
    """test_depreciation_engine.py:318-352 promoted to an assertion."""
    sched = depreciation_schedule(inputs_df, years=10)
    bad = sched.filter(
        F.abs(
            F.col("dep_5yr") + F.col("dep_7yr") + F.col("dep_15yr") + F.col("dep_bldg")
            - F.col("depreciation_total")
        )
        > 1e-6
    ).count()
    assert bad == 0


def test_invariant_end_of_life_per_class_exhaustion(spark, inputs_df):
    """test_depreciation_engine.py:354-466 adapted to the faithful engine.

    Reference quirks preserved (verified by executing the reference):
    - commercial base allocations sum to 0.97, not 1.0
      (cost_seg_calculator.py:150-156), so document-total acc ≠ basis;
    - the 27.5yr table's year-28 row is flat 3.636/3.637 instead of the
      IRS reciprocal row (macrs_tables.py:63-66), over-depreciating the
      MF building class by ~1.66%.
    Therefore: short-life classes exhaust EXACTLY to their allocated
    amounts; the building class lands within 2% of its allocation.
    """
    sched = depreciation_schedule(inputs_df, full_horizon=True)
    final = sched.groupBy("case_id").agg(
        F.max("acc_5yr").alias("a5"), F.first("amt_5yr").alias("m5"),
        F.max("acc_7yr").alias("a7"), F.first("amt_7yr").alias("m7"),
        F.max("acc_15yr").alias("a15"), F.first("amt_15yr").alias("m15"),
        F.max("acc_bldg").alias("ab"), F.first("amt_bldg").alias("mb"),
    )
    bad_short = final.filter(
        (F.abs(F.col("a5") - F.col("m5")) > F.col("m5") * 1e-4 + 1e-6)
        | (F.abs(F.col("a7") - F.col("m7")) > F.col("m7") * 1e-4 + 1e-6)
        | (F.abs(F.col("a15") - F.col("m15")) > F.col("m15") * 1e-4 + 1e-6)
    ).collect()
    assert bad_short == [], f"short-life classes did not exhaust: {bad_short}"
    bad_bldg = final.filter(F.abs(F.col("ab") - F.col("mb")) / F.col("mb") > 0.02).collect()
    assert bad_bldg == [], f"building class off by >2%: {bad_bldg}"


def test_invariant_monotonic_accumulated(spark, inputs_df):
    from pyspark.sql.window import Window

    sched = depreciation_schedule(inputs_df, full_horizon=True)
    w = Window.partitionBy("case_id").orderBy("year")
    bad = (
        sched.withColumn("prev", F.lag("accumulated_total", 1, 0.0).over(w))
        .filter(F.col("accumulated_total") < F.col("prev") - 1e-9)
        .count()
    )
    assert bad == 0


def test_ads_reproduces_reference_error(spark):
    """D8: use_ads → 'Unknown asset class' error row, empty schedule."""
    rows = [
        dict(case_id=0, purchase_price=1_000_000.0, land_value=150_000.0, capex=0.0,
             pad=0.0, deferred_gain=0.0,
             acquisition_date=datetime.date(2024, 6, 15), css_date=datetime.date(2025, 12, 31),
             property_type="multi-family", year_built=2010, use_ads=True),
        dict(case_id=1, purchase_price=1_000_000.0, land_value=150_000.0, capex=0.0,
             pad=0.0, deferred_gain=0.0,
             acquisition_date=datetime.date(2024, 6, 15), css_date=datetime.date(2025, 12, 31),
             property_type="commercial", year_built=2010, use_ads=True),
    ]
    df = with_engine_inputs(spark.createDataFrame(rows), use_ads="use_ads")
    got = {r["case_id"]: r for r in df.collect()}
    assert got[0]["engine_error"] == "Unknown asset class: 30yr"
    assert got[1]["engine_error"] == "Unknown asset class: 40yr"
    assert got[0]["bonus_rate"] == 0.0
    # the error rows get an empty schedule, as in the reference endpoint
    for kw in ({}, {"years": 10}, {"full_horizon": True}):
        assert depreciation_schedule(with_481a(df), **kw).count() == 0, kw
    # ads_tables=True enables real SL tables instead
    df2 = with_engine_inputs(spark.createDataFrame(rows), use_ads="use_ads", ads_tables=True)
    sched = depreciation_schedule(df2, full_horizon=True)
    y1 = {r["case_id"]: r for r in sched.filter("year = 1").collect()}
    assert y1[0]["engine_error"] is None
    assert y1[0]["dep_bldg"] > 0  # 30yr SL mid-month June: (6.5/12)/30
    final = sched.groupBy("case_id").agg(
        F.max("accumulated_total").alias("acc"),
        (F.first("amt_5yr") + F.first("amt_7yr") + F.first("amt_15yr") + F.first("amt_bldg")).alias("allocated"),
    ).collect()
    for r in final:
        # vs ALLOCATED sum, not basis: commercial base allocations sum to
        # 0.97 in the reference (cost_seg_calculator.py:150-156)
        assert r["acc"] == pytest.approx(r["allocated"], rel=0.01)


def test_macrs_dim_matches_reference_tables(refcs, spark):
    """J4 broadcast dim carries the exact macrs_tables.py values."""
    sys.path.insert(0, REFERENCE)
    from refcs.macrs_tables import get_macrs_percentage

    dim = {(r["asset_class"], r["year"], r["month"]): r["pct"] for r in macrs_table_df(spark).collect()}
    for cls in ("5yr", "7yr", "15yr"):
        for y in range(1, 20):
            exp = get_macrs_percentage(cls, y)
            assert dim.get((cls, y, 0), 0.0) == pytest.approx(exp)
    for cls in ("27.5yr", "39yr"):
        for y in range(1, 45):
            for m in (1, 6, 12):
                exp = get_macrs_percentage(cls, y, m)
                assert dim.get((cls, y, m), 0.0) == pytest.approx(exp), (cls, y, m)


def test_schedule_totals_agg(spark, inputs_df):
    sched = depreciation_schedule(inputs_df, full_horizon=True)
    totals = schedule_totals(sched, ["case_id"])
    row = {r["case_id"]: r for r in totals.collect()}[1]
    # totals over the full horizon reconcile with final accumulated
    assert row["total_bonus_dep"] == pytest.approx(row["final_accumulated_total"], rel=1e-6)
