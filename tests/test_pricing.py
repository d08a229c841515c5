"""Pricing parity: Spark expressions vs the executed reference calculators.

The reference modules (`tools/pricing_calculator.py` and the RCGV
variant) are imported from /root/reference and run as ORACLES over a
structured input grid; our Catalyst expressions must match bid-for-bid.
"""

import pytest

from pyspark.sql import functions as F

from conftest import load_reference, reference_engine
from pdf_parser_spark.pricing import apply_adjustments, compute_pricing, ladder_dim, ladder_join

F_lit = F.lit

# each pricing version's reference calculator, under the snapshot root
REF_PRICING = {
    "v1": "tools/pricing_calculator.py",
    "v2": "Claude_Code/RCGV_Quote_Assistant-main/tools/pricing_calculator.py",
}

# structured grid over every tier boundary (FIXTURES.md §4)
PRICES = [100_000, 250_000, 500_000, 750_000, 1_000_000, 1_250_000, 2_550_000,
          5_000_000, 8_000_000, 10_000_000]
SQFTS = [0, 2_500, 5_000, 20_000, 38_000, 55_000, 550_000]
ACRES = [0, 0.25, 1.0, 2.0, 3.0, 5.0, 8.0, 12.0]
PTYPES = ["Industrial", "Medical", "Office", "Warehouse", "Multi-Family",
          "Residential/LTR", "Unknown Type"]
FLOORS = [1, 2, 3, 4, 7, 10, 11]
NPROPS = [1, 2, 3, 4, 5, 7, 8, 11, 12]
ZIPS = [0, 604, 10_001, 30_000, 60_601, 85_260, 96_100, 99_999]


def _grid():
    rows = []
    for k in range(140):
        rows.append(
            dict(
                case_id=k,
                purchase_price=float(PRICES[k % len(PRICES)]),
                land_value=float(PRICES[k % len(PRICES)]) * 0.15,
                capex=float([0, 50_000, 150_000][k % 3]),
                zip_code=ZIPS[k % len(ZIPS)],
                property_type=PTYPES[k % len(PTYPES)],
                sqft_building=float(SQFTS[k % len(SQFTS)]),
                acres_land=float(ACRES[k % len(ACRES)]),
                floors=FLOORS[k % len(FLOORS)],
                num_properties=NPROPS[k % len(NPROPS)],
            )
        )
    # the v1-quirk case: logistic < multi (negative building value)
    rows.append(
        dict(case_id=900, purchase_price=10_000.0, land_value=500_000.0, capex=0.0,
             zip_code=85260, property_type="Office", sqft_building=38_000.0,
             acres_land=2.0, floors=2, num_properties=1)
    )
    return rows


@pytest.fixture(scope="module")
def grid_df(spark):
    return spark.createDataFrame(_grid()).cache()


@pytest.mark.parametrize("version", ["v1", "v2"])
def test_pricing_parity_vs_reference(spark, grid_df, version):
    ref = load_reference(REF_PRICING[version], f"ref_pricing_{version}")
    out = {r["case_id"]: r for r in compute_pricing(grid_df, version=version).collect()}
    for row in _grid():
        exp = ref.calculate_quote_pricing(
            purchase_price=row["purchase_price"],
            land_value=row["land_value"],
            capex=row["capex"],
            zip_code=str(row["zip_code"]),
            property_type=row["property_type"],
            sqft_building=row["sqft_building"],
            acres_land=row["acres_land"],
            floors=row["floors"],
            num_properties=row["num_properties"],
        )
        got = out[row["case_id"]]
        for factor, col in [
            ("cost_basis", "cost_basis_factor"), ("zip_code", "zip_code_factor"),
            ("sqft", "sqft_factor"), ("acres", "acres_factor"),
            ("property_type", "property_type_factor"), ("floors", "floors_factor"),
            ("multi_prop", "multi_prop_factor"),
        ]:
            assert got[col] == pytest.approx(exp["factors"][factor], abs=1e-12), (
                f"case {row['case_id']} {version} factor {factor}"
            )
        for field in ["final_bid", "linear_bid", "logistic_bid",
                      "multi_properties_bid", "pay_upfront", "pay_50_50", "pay_over_time"]:
            assert got[field] == pytest.approx(exp[field], abs=1e-6), (
                f"case {row['case_id']} {version} {field}: {got[field]} != {exp[field]}"
            )


def test_executed_golden_1m_mf(spark):
    """SURVEY §5 executed golden: 1M/150k MF → final 1908.19,
    payments 1736.45 / 954.10 / 477.05."""
    df = spark.createDataFrame(
        [dict(purchase_price=1_000_000.0, land_value=150_000.0, capex=0.0,
              zip_code=85260, property_type="Multi-Family", sqft_building=38_000.0,
              acres_land=2.0, floors=2, num_properties=1)]
    )
    r = compute_pricing(df, version="v1").collect()[0]
    assert r["linear_bid"] == pytest.approx(1908.19)
    assert r["logistic_bid"] == pytest.approx(14996.84)
    assert r["final_bid"] == pytest.approx(1908.19)
    assert (r["pay_upfront"], r["pay_50_50"], r["pay_over_time"]) == (1736.45, 954.10, 477.05)


def test_min_of_bids_quirk_v1_vs_v2(spark):
    """O2: v1 takes multi when min < multi; v2 takes the plain min."""
    df = spark.createDataFrame(
        [dict(purchase_price=10_000.0, land_value=500_000.0, capex=0.0,
              zip_code=85260, property_type="Office", sqft_building=38_000.0,
              acres_land=2.0, floors=2, num_properties=1)]
    )
    v1 = compute_pricing(df, version="v1").collect()[0]
    v2 = compute_pricing(df, version="v2").collect()[0]
    assert v1["logistic_bid"] < v1["multi_properties_bid"]
    assert v1["final_bid"] == v1["multi_properties_bid"]
    assert v2["final_bid"] == min(v2["linear_bid"], v2["logistic_bid"], v2["multi_properties_bid"])


def test_floor_100(spark):
    df = spark.createDataFrame(
        [dict(purchase_price=1_000.0, land_value=700_000.0, capex=0.0,
              zip_code=85260, property_type="Warehouse", sqft_building=0.0,
              acres_land=0.0, floors=1, num_properties=1)]
    )
    r = compute_pricing(df, version="v2").collect()[0]
    assert r["logistic_bid"] < 100.0  # deeply negative building value
    assert r["final_bid"] == 100.0


def test_adjustment_stack(spark):
    df = spark.createDataFrame(
        [
            dict(case_id=0, final_bid=1000.0, rush="No Rush", premium="No", referral="No", price_override=None),
            dict(case_id=1, final_bid=1000.0, rush="4W $500", premium="Yes", referral="No", price_override=None),
            dict(case_id=2, final_bid=1000.0, rush="2W $1000", premium="No", referral="Yes", price_override=None),
            dict(case_id=3, final_bid=1000.0, rush="No Rush", premium="Yes", referral="Yes", price_override=9999.0),
        ],
        schema="case_id int, final_bid double, rush string, premium string, referral string, price_override double",
    )
    rows = {r["case_id"]: r for r in apply_adjustments(df).collect()}
    assert rows[0]["final_quote"] == 1000.0
    assert rows[1]["final_quote"] == 1000.0 + 500.0 + 50.0
    assert rows[2]["final_quote"] == 1000.0 + 1000.0 + 100.0
    assert rows[3]["final_quote"] == 9999.0  # override short-circuits


def test_ladder_join_matches_chain(spark, grid_df):
    """J1 broadcast range join ≡ the constant-folded when-chain."""
    from pdf_parser_spark.pricing import COST_BASIS_V2

    dim = ladder_dim(spark, COST_BASIS_V2, name="cb_join_factor")
    joined = ladder_join(
        compute_pricing(grid_df.withColumn("total_cost", grid_df.purchase_price + grid_df.capex), version="v2"),
        "total_cost", dim,
    )
    bad = joined.filter("abs(cb_join_factor - cost_basis_factor) > 1e-12").count()
    assert bad == 0
    plan = joined._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


# ----------------------------------------------------------------------
# engine/quote_calc.py forks: F13 land coercion + F10 0.909 payments
# ----------------------------------------------------------------------
LAND_CASES = [
    # (purchase_price, land_value, known)
    (1_000_000.0, 150_000.0, True),   # known ⇒ dollars verbatim
    (1_000_000.0, 10.0, False),       # >1 ⇒ percent
    (1_000_000.0, 0.15, False),       # ≤1 ⇒ fraction
    (1_000_000.0, 1.0, False),        # boundary: 1.0 is a fraction (not >1)
    (1_000_000.0, 1.5, False),        # just above: percent
    (800_000.0, None, False),         # null ⇒ 0.0
    (800_000.0, None, True),
    (123_456.0, 33.0, False),
    (123_456.0, 0.0, True),
]


def test_land_coercion_parity_vs_engine(spark):
    from pyspark.sql import functions as F

    from pdf_parser_spark.pricing import coerce_land

    engine = reference_engine()
    rows = [
        dict(case_id=i, pp=pp, land=land, known=known)
        for i, (pp, land, known) in enumerate(LAND_CASES)
    ]
    df = spark.createDataFrame(rows, "case_id int, pp double, land double, known boolean")
    got = {
        r["case_id"]: r["land_amt"]
        for r in df.select(
            "case_id", F.expr(coerce_land("pp", "land", "known")).alias("land_amt")
        ).collect()
    }
    for i, (pp, land, known) in enumerate(LAND_CASES):
        exp = engine.QuoteCalculator._coerce_land_amount(pp, land, known)
        assert got[i] == pytest.approx(exp, abs=0.0), f"case {i}"


def test_payment_block_parity_vs_engine(spark):
    from pdf_parser_spark.pricing import with_payment_block

    engine = reference_engine()
    calc = engine.QuoteCalculator.__new__(engine.QuoteCalculator)
    quotes = [1908.19, 2235.0, 100.0, 999.99, 1736.45, 12345.67, 333.33, 0.01]
    df = spark.createDataFrame(
        [dict(case_id=i, final_quote=q, rush_fee=float(i % 3) * 500.0) for i, q in enumerate(quotes)]
    )
    got = {r["case_id"]: r for r in with_payment_block(df, rounding="python").collect()}
    for i, q in enumerate(quotes):
        exp = calc._payment_block(q, rush_fee=float(i % 3) * 500.0)
        r = got[i]
        assert r["originally_quoted"] == exp["originally_quoted"]
        assert r["rush_fee_quoted"] == exp["rush_fee"]
        assert r["pay_upfront_engine"] == exp["pay_upfront"], f"0.909 fork, case {i}"
        assert r["pay_50_50_engine"] == exp["pay_50_50"]
        assert r["pay_over_time_amount"] == exp["pay_over_time_amount"]
        assert r["pay_over_time_note"] == exp["pay_over_time_note"]


def test_upfront_ratio_fork_in_compute_pricing(spark):
    """compute_pricing(upfront_ratio=0.909) reproduces the engine's
    upfront payment on its own final bid; the default stays 0.91."""
    df = spark.createDataFrame(
        [dict(purchase_price=1_000_000.0, land_value=150_000.0, capex=0.0,
              zip_code=85260, property_type="Multi-Family", sqft_building=38_000.0,
              acres_land=2.0, floors=2, num_properties=1)]
    )
    r91 = compute_pricing(df, version="v1").collect()[0]
    r909 = compute_pricing(df, version="v1", upfront_ratio=0.909).collect()[0]
    assert r91["final_bid"] == r909["final_bid"] == 1908.19
    assert r91["pay_upfront"] == round(1908.19 * 0.91, 2)
    assert r909["pay_upfront"] == round(1908.19 * 0.909, 2)


def test_land_coercion_in_compute_pricing_vs_engine_quote(spark):
    """nat_log-style land handling end to end: the coerced land amount
    feeds the logistic bid's building value, matching the engine's
    build_quote_doc land math (engine/quote_calc.py:289-296)."""
    engine = reference_engine()
    rows = [
        dict(case_id=0, purchase_price=1_000_000.0, land_value=10.0, known_land=False),
        dict(case_id=1, purchase_price=1_000_000.0, land_value=150_000.0, known_land=True),
        dict(case_id=2, purchase_price=2_000_000.0, land_value=0.2, known_land=False),
    ]
    df = spark.createDataFrame(rows).select(
        "*",
        *[
            # constant non-land pricing inputs
            c for c in []
        ],
    ).withColumns(
        {
            "capex": F_lit(0.0), "zip_code": F_lit(85260),
            "property_type": F_lit("Office"), "sqft_building": F_lit(38_000.0),
            "acres_land": F_lit(2.0), "floors": F_lit(2.0), "num_properties": F_lit(1.0),
        }
    )
    out = {
        r["case_id"]: r
        for r in compute_pricing(df, version="v1", known_land_value="known_land").collect()
    }
    for row in rows:
        exp_land = engine.QuoteCalculator._coerce_land_amount(
            row["purchase_price"], row["land_value"], row["known_land"]
        )
        assert out[row["case_id"]]["land_amount"] == pytest.approx(exp_land, abs=0.0)


def _py_round_cases():
    """Values where rounding is easy to get wrong: decimal ties that are
    not binary ties, a negative tie, magnitudes near 2^52 / 10^d and
    2^53 / 10^d (where the scaled value's spacing reaches 0.5 and 1),
    and a seeded grid of random magnitudes and near-ties."""
    import math
    import random

    xs = [0.125, 2.675, 818.135, -0.5, 1e15, -0.049999999999999996, None]
    for d in range(5):
        for bound in (4.5e15, 2.0**52, 2.0**53):
            b = bound / 10**d
            xs += [b, math.nextafter(b, 0.0), math.nextafter(b, math.inf), -b]
    rng = random.Random(2675)
    for _ in range(4000):
        d = rng.randrange(5)
        x = rng.choice([-1, 1]) * 10 ** rng.uniform(-6, 17)
        if rng.random() < 0.4:  # a decimal tie at d places, or a neighbour
            q = 10.0**-d
            x = (math.floor(x / q) + 0.5) * q
            x = rng.choice([x, math.nextafter(x, math.inf), math.nextafter(x, -math.inf)])
        xs.append(x)
    return xs


def test_py_round_matches_cpython_round(spark):
    """``py_round``'s SQL text gives CPython's ``round(x, d)`` for
    d = 0..4, bit for bit (repr keeps -0.0 apart), and NULL for NULL."""
    from pdf_parser_spark.functions.rounding import py_round

    xs = _py_round_cases()
    df = spark.createDataFrame([(i, x) for i, x in enumerate(xs)], "i int, x double")
    rows = df.selectExpr("i", *(f"{py_round('x', d)} AS r{d}" for d in range(5))).collect()
    assert len(rows) == len(xs)
    for r in rows:
        x = xs[r["i"]]
        for d in range(5):
            expected = None if x is None else round(x, d)
            assert repr(r[f"r{d}"]) == repr(expected), (x, d)
