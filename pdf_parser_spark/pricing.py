"""Quote pricing engine as native Catalyst expressions (SURVEY §2.4/§2.7/§2.9).

Reimplements both reference tier sets as data-driven expression chains
(constant-folded by Catalyst — the Spark-faithful form of the
reference's hard-coded if-ladders). Every builder here returns
Spark-SQL text over SQL-text arguments (``functions/sqltext.py``);
the stages cache their select lists on their parameters and apply each
with one ``selectExpr``. The DuckDB oracle (``sqlgen``) writes its own
text and shares only the tier data below.

- ``v1`` — ``tools/pricing_calculator.py:23-158`` (top-level): MF
  factor 0.5, single-property factor 0.7, zip factor constant 1.0,
  min-of-bids QUIRK at ``:189-198`` (if min < multi take multi ⇒
  net ``max(min(l,g,m), m)``), $100 floor, 0.91 upfront.
- ``v2`` — ``Claude_Code/RCGV_Quote_Assistant-main/tools/
  pricing_calculator.py:22-219``: Excel-derived cost-basis/zip/sqft
  tiers, MF factor 0.4, single-property 1.0, PLAIN min of three bids.

The generic threshold ladder is ALSO exposed as a broadcast range join
(:func:`ladder_join`) — the at-scale form of J1 (``engine/
quote_calc.py:90-99`` ``_ladder_lookup``) used by the oracle-checked
queries in ``__spark_entry__.py``.

The adjustment stack (rush/premium/referral/override) follows
``service/calculator_adapter.py:60-95`` / ``engine/quote_calc.py:129-164``.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Dict, List, Optional, Sequence, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.rounding import rounder
from .functions.sqltext import ident, lit, sqld, with_sql

# ----------------------------------------------------------------------
# tier data (thresholds descending, mirroring the reference if-chains:
# first row whose predicate matches wins)
# ----------------------------------------------------------------------
# (ge_threshold, factor): x >= threshold → factor; last (None, f) = else
COST_BASIS_V1: List[Tuple[Optional[float], float]] = [
    (9_000_000, 1.05), (8_000_000, 1.04), (7_000_000, 1.03), (6_000_000, 1.02),
    (5_000_000, 1.01), (4_000_000, 1.00), (3_000_000, 0.99), (2_000_000, 0.98),
    (1_000_000, 0.97), (750_000, 0.96), (500_000, 0.95), (None, 1.0),
]
COST_BASIS_V2: List[Tuple[Optional[float], float]] = [
    (10_000_000, 1.5), (7_500_000, 1.45), (5_000_000, 1.4), (3_000_000, 1.35),
    (2_000_000, 1.3), (1_500_000, 1.25), (1_250_000, 1.1), (1_000_000, 1.075),
    (750_000, 1.05), (500_000, 1.02), (250_000, 1.01), (None, 1.0),
]
ZIP_V2: List[Tuple[Optional[float], float]] = [
    (90_000, 1.1), (80_000, 1.05), (70_000, 1.0), (60_000, 1.05), (50_000, 1.1),
    (40_000, 1.05), (30_000, 1.0), (20_000, 1.05), (10_000, 1.1), (None, 1.11),
]
FLOORS: List[Tuple[Optional[float], float]] = [
    (11, 1.3), (10, 1.2), (7, 1.15), (4, 1.1), (3, 1.05), (None, 1.0),
]
MULTI_PROP_V1: List[Tuple[Optional[float], float]] = [
    (12, 12.0), (11, 1.3), (8, 1.25), (7, 1.2), (5, 1.15), (4, 1.1),
    (3, 1.05), (2, 1.0), (None, 0.7),
]
MULTI_PROP_V2: List[Tuple[Optional[float], float]] = [
    (12, 12.0), (11, 1.3), (8, 1.25), (7, 1.2), (5, 1.15), (4, 1.1),
    (3, 1.05), (2, 1.0), (None, 1.0),
]

# (le_threshold, factor) ascending: x <= threshold → factor, after the
# leading ==0 special case; tail entries are (ge, factor) overrides
SQFT_V1_LE: List[Tuple[float, float]] = [
    (2_500, 0.8), (5_000, 0.85), (10_000, 0.9), (15_000, 0.95), (20_000, 1.0),
    (30_000, 1.05), (35_000, 1.1), (40_000, 1.15), (45_000, 1.2), (50_000, 1.25),
]
SQFT_V1_ZERO = 0.75
SQFT_V1_GE_TAIL: Tuple[float, float] = (550_000, 9.0)
SQFT_V1_ELSE = 1.0

SQFT_V2_GE: List[Tuple[Optional[float], float]] = [
    (55_000, 1.22), (50_000, 1.2), (45_000, 1.18), (40_000, 1.16), (35_000, 1.14),
    (30_000, 1.12), (20_000, 1.1), (15_000, 1.08), (10_000, 1.06), (5_000, 1.04),
    (2_500, 1.02), (None, 1.0),
]
SQFT_V2_ZERO = 1.0

ACRES_LE: List[Tuple[float, float]] = [
    (0.25, 0.8), (0.5, 0.85), (1, 0.9), (2, 0.95), (3, 1.0), (4, 1.05),
    (5, 1.1), (6, 1.15), (7, 1.2), (8, 1.25),
]
ACRES_ZERO = 0.75
ACRES_GE_TAIL: Tuple[float, float] = (12, 12.0)
ACRES_ELSE = 1.0

PROPERTY_TYPE_V1: Dict[str, float] = {
    "Industrial": 1.01, "Medical": 1.15, "Office": 1.05, "Other": 1.1,
    "Restaurant": 1.15, "Retail": 1.05, "Warehouse": 0.4,
    "Multi Family": 0.5, "Multi-Family": 0.5, "Residential/LTR": 1.05,
    "Short-Term Rental": 1.05,
}
PROPERTY_TYPE_V2: Dict[str, float] = {
    **PROPERTY_TYPE_V1, "Multi Family": 0.4, "Multi-Family": 0.4,
}
PROPERTY_TYPE_DEFAULT = 1.0

RUSH_FEES: Dict[str, float] = {"No Rush": 0.0, "4W $500": 500.0, "2W $1000": 1000.0}

# logistic bid constants (tools/pricing_calculator.py:171-182)
LOGISTIC_X0 = 3500.0
LOGISTIC_L = 15000.0
LOGISTIC_K = 0.01
LINEAR_RATE = 0.0572355 * 0.25 * 0.08  # tools/pricing_calculator.py:20
LINEAR_BASE = 4000.0


# ----------------------------------------------------------------------
# expression builders: SQL text in, SQL text out
# ----------------------------------------------------------------------
def ge_chain(x: str, tiers: Sequence[Tuple[Optional[float], float]]) -> str:
    """Descending ``x >= t`` chain — first match wins (if/elif ladder)."""
    arms = [f"WHEN {x} >= {sqld(t)} THEN {sqld(f)}" for t, f in tiers if t is not None]
    tail = sqld(next(f for t, f in tiers if t is None))
    return f"(CASE {' '.join(arms)} ELSE {tail} END)" if arms else tail


def le_chain_with_zero(
    x: str, zero_factor: float, le_tiers: Sequence[Tuple[float, float]],
    ge_tail: Tuple[float, float], else_factor: float,
) -> str:
    """The sqft/acres shape: ``==0`` special, ascending ``<=`` chain,
    then a ``>= tail`` override, else default."""
    arms = [f"WHEN {x} = 0.0D THEN {sqld(zero_factor)}"]
    arms += [f"WHEN {x} <= {sqld(t)} THEN {sqld(f)}" for t, f in le_tiers]
    arms.append(f"WHEN {x} >= {sqld(ge_tail[0])} THEN {sqld(ge_tail[1])}")
    return f"(CASE {' '.join(arms)} ELSE {sqld(else_factor)} END)"


def map_chain(x: str, mapping: Dict[str, float], default: float) -> str:
    arms = " ".join(f"WHEN {x} = {lit(k)} THEN {lit(v)}" for k, v in mapping.items())
    return f"(CASE {arms} ELSE {lit(default)} END)"


def sqft_factor(x: str, version: str) -> str:
    if version == "v1":
        return le_chain_with_zero(x, SQFT_V1_ZERO, SQFT_V1_LE, SQFT_V1_GE_TAIL, SQFT_V1_ELSE)
    return f"(CASE WHEN {x} = 0.0D THEN {sqld(SQFT_V2_ZERO)} ELSE {ge_chain(x, SQFT_V2_GE)} END)"


def acres_factor(x: str) -> str:
    return le_chain_with_zero(x, ACRES_ZERO, ACRES_LE, ACRES_GE_TAIL, ACRES_ELSE)


def zip_factor(zip_int: str, version: str) -> str:
    if version == "v1":
        return "1.0D"  # tools/pricing_calculator.py:50
    return ge_chain(f"CAST({zip_int} AS DOUBLE)", ZIP_V2)


def logistic_bid(building_value: str) -> str:
    """F8: L / (1 + e^(-K*(bv-X0)*0.001)) (tools/pricing_calculator.py:171-182)."""
    return (
        f"({sqld(LOGISTIC_L)} / (1.0D + exp((({sqld(-LOGISTIC_K)}"
        f" * ({building_value} - {sqld(LOGISTIC_X0)})) * 0.001D))))"
    )


def coerce_land(pp: str, land: str, known: str) -> str:
    """F13 land coercion (engine/quote_calc.py:101-107): known ⇒ the
    value IS dollars; else it's a percent (v > 1 ⇒ v/100) or a fraction
    of the purchase price. Null land → 0.0 (the reference's
    ``float(land_value or 0.0)``)."""
    v = f"coalesce(CAST({land} AS DOUBLE), 0.0D)"
    pct = f"(CASE WHEN {v} > 1.0D THEN ({v} / 100.0D) ELSE {v} END)"
    return f"(CASE WHEN {known} THEN {v} ELSE ({pp} * {pct}) END)"


@lru_cache(maxsize=None)
def _pricing_sql(
    version: str, purchase_price: str, land_value: str, capex: Optional[str],
    zip_code: Optional[str], property_type: str, sqft_building: str, acres_land: str,
    floors: str, num_properties: str, rounding: str, known_land_value: Optional[str],
    upfront_ratio: float,
) -> Tuple[Tuple[Tuple[str, str], ...], ...]:
    """:func:`compute_pricing`'s four staged select lists."""
    rnd = rounder(rounding)
    pp = f"CAST({ident(purchase_price)} AS DOUBLE)"
    lv = f"CAST({ident(land_value)} AS DOUBLE)"
    if known_land_value is not None:
        lv = coerce_land(pp, lv, f"CAST({ident(known_land_value)} AS BOOLEAN)")
    cx = f"CAST({ident(capex)} AS DOUBLE)" if capex else "0.0D"
    total_cost = f"({pp} + {cx})"
    zip_int = f"coalesce({ident(zip_code)}, 85260)" if zip_code else "85260"
    nprop = f"CAST({ident(num_properties)} AS DOUBLE)"

    factors = (
        ("cost_basis_factor", ge_chain(total_cost, COST_BASIS_V1 if version == "v1" else COST_BASIS_V2)),
        ("zip_code_factor", zip_factor(zip_int, version)),
        ("sqft_factor", sqft_factor(f"CAST({ident(sqft_building)} AS DOUBLE)", version)),
        ("acres_factor", acres_factor(f"CAST({ident(acres_land)} AS DOUBLE)")),
        ("property_type_factor", map_chain(
            ident(property_type),
            PROPERTY_TYPE_V1 if version == "v1" else PROPERTY_TYPE_V2,
            PROPERTY_TYPE_DEFAULT,
        )),
        ("floors_factor", ge_chain(f"CAST({ident(floors)} AS DOUBLE)", FLOORS)),
        ("multi_prop_factor", ge_chain(nprop, MULTI_PROP_V1 if version == "v1" else MULTI_PROP_V2)),
    )
    base_cost = f"(({total_cost} * {sqld(LINEAR_RATE)}) + {sqld(LINEAR_BASE)})"
    linear = base_cost
    for name, _ in factors:
        linear = f"({linear} * {name})"
    land = (("land_amount", lv),) if known_land_value is not None else ()
    raws = land + (
        ("_linear_raw", linear),
        ("_logistic_raw", logistic_bid(f"(({pp} - {lv}) + {cx})")),
        ("_multi_raw", f"({linear} * {nprop})"),
    )
    l, g, m = "_linear_raw", "_logistic_raw", "_multi_raw"
    if version == "v1":
        # O2 quirk (tools/pricing_calculator.py:189-194):
        # min(three) < multi ⇒ take multi — net effect max(min, multi)
        final = f"greatest(least({l}, {g}, {m}), {m})"
    else:
        final = f"least({l}, {g}, {m})"
    bids = (
        ("linear_bid", rnd(l, 2)),
        ("logistic_bid", rnd(g, 2)),
        ("multi_properties_bid", rnd(m, 2)),
        ("final_bid", rnd(f"greatest({final}, 100.0D)", 2)),
    )
    pays = (
        ("pay_upfront", rnd(f"(final_bid * {sqld(upfront_ratio)})", 2)),
        ("pay_50_50", rnd("(final_bid / 2)", 2)),
        ("pay_over_time", rnd("(final_bid / 4)", 2)),
    )
    return factors, raws, bids, pays


def compute_pricing(
    df: DataFrame,
    version: str = "v1",
    purchase_price: str = "purchase_price",
    land_value: str = "land_value",
    capex: Optional[str] = "capex",
    zip_code: Optional[str] = "zip_code",
    property_type: str = "property_type",
    sqft_building: str = "sqft_building",
    acres_land: str = "acres_land",
    floors: str = "floors",
    num_properties: str = "num_properties",
    rounding: str = "python",
    known_land_value: Optional[str] = None,
    upfront_ratio: float = 0.91,
) -> DataFrame:
    """Four narrow selects adding factors, bids, final bid, payments.

    Zero shuffles, zero UDFs, fully whole-stage-codegen'd: the entire
    /quote/compute endpoint (§3.2) as a column expression.

    ``rounding``: ``python`` reproduces CPython ``round()`` (banker's
    on the exact binary value — the reference's regime,
    ``tools/pricing_calculator.py:198-204``); ``half_up`` uses
    decimal-string HALF_UP (``F.round`` — what DuckDB's ``round`` also
    does, used by the oracle-checked queries). The two differ only on
    values whose shortest repr terminates exactly at 3 decimals in 5,
    e.g. ``pay_50_50`` of an odd-cent bid.

    ``known_land_value``: name of a boolean column enabling F13 land
    coercion (engine/quote_calc.py:101-107) — the land column is then
    dollars when known, else percent-or-fraction of purchase price; the
    coerced amount is emitted as ``land_amount``. Default None keeps
    the tools/pricing_calculator.py contract (land IS dollars).

    ``upfront_ratio``: F10 payment fork — 0.91 in
    tools/pricing_calculator.py:202 and service/api.py:79 (the default),
    0.909 in engine/quote_calc.py:260 (pass 0.909 for engine parity).
    """
    factors, raws, bids, pays = _pricing_sql(
        version, purchase_price, land_value, capex, zip_code, property_type,
        sqft_building, acres_land, floors, num_properties, rounding,
        known_land_value, float(upfront_ratio),
    )
    # staged selects: name each big subtree ONCE and reference it by
    # column thereafter — py_round references its argument ~10 times,
    # so inlining the factor chains would blow the expression tree up
    # multiplicatively (Catalyst's CollapseProject keeps non-cheap
    # exprs referenced more than once un-inlined, preserving the DAG)
    out = df
    for stage in (factors, raws, bids, pays):
        out = with_sql(out, stage)
    return out.drop("_linear_raw", "_logistic_raw", "_multi_raw")


@lru_cache(maxsize=None)
def _payment_block_sql(
    quote: str, rush_fee: Optional[str], upfront_ratio: float, rounding: str
) -> Tuple[Tuple[str, str], ...]:
    rnd = rounder(rounding)
    q = f"CAST({ident(quote)} AS DOUBLE)"
    rf = f"coalesce(CAST({ident(rush_fee)} AS DOUBLE), 0.0D)" if rush_fee else "0.0D"
    return (
        ("originally_quoted", rnd(q, 2)),
        ("rush_fee_quoted", rnd(rf, 2)),
        ("pay_upfront_engine", rnd(f"({q} * {sqld(upfront_ratio)})", 2)),
        ("pay_50_50_engine", rnd(f"({q} / 2)", 2)),
        ("pay_over_time_amount", rnd(f"({q} / 4)", 2)),
        ("pay_over_time_note", "'Up to 36 months'"),
    )


def with_payment_block(
    df: DataFrame,
    quote: str = "final_quote",
    rush_fee: str = "rush_fee",
    upfront_ratio: float = 0.909,
    rounding: str = "python",
) -> DataFrame:
    """The engine's quote-doc payment block (engine/quote_calc.py:259-270):
    originally_quoted / rounded rush fee / pay_upfront (×0.909 — the F10
    fork) / pay_50_50 / pay_over_time_amount + the fixed note. Input
    must not already carry these names (case-insensitive resolver)."""
    # CASE-INSENSITIVE presence test, matching how every other column
    # here resolves (a case-mismatched fee column must not silently
    # become 0.00 in a block whose point is byte-exact engine parity)
    has_rush = bool(rush_fee) and rush_fee.lower() in {c.lower() for c in df.columns}
    return with_sql(
        df, _payment_block_sql(quote, rush_fee if has_rush else None, float(upfront_ratio), rounding)
    )


@lru_cache(maxsize=None)
def _adjustments_sql(
    base_quote: str, rush: str, premium: str, referral: str,
    price_override: Optional[str], referral_uplift: float, rounding: str,
) -> Tuple[Tuple[str, str], ...]:
    base = ident(base_quote)
    rush_fee = map_chain(ident(rush), RUSH_FEES, 0.0)
    premium_amt = f"(CASE WHEN {ident(premium)} = 'Yes' THEN ({base} * 0.05D) ELSE 0.0D END)"
    referral_amt = (
        f"(CASE WHEN {ident(referral)} = 'No' THEN 0.0D"
        f" ELSE ({base} * {sqld(referral_uplift)}) END)"
    )
    adjusted = f"((({base} + {rush_fee}) + {premium_amt}) + {referral_amt})"
    if price_override:
        ov = f"CAST({ident(price_override)} AS DOUBLE)"
        adjusted = f"(CASE WHEN {ov} IS NOT NULL AND {ov} > 0 THEN {ov} ELSE {adjusted} END)"
    return (("rush_fee", rush_fee), ("final_quote", rounder(rounding)(adjusted, 2)))


def apply_adjustments(
    df: DataFrame,
    base_quote: str = "final_bid",
    rush: str = "rush",
    premium: str = "premium",
    referral: str = "referral",
    price_override: Optional[str] = "price_override",
    referral_uplift: float = 0.10,
    rounding: str = "python",
) -> DataFrame:
    """F11 adjustment stack (service/calculator_adapter.py:60-95)."""
    return with_sql(df, _adjustments_sql(
        base_quote, rush, premium, referral, price_override or None,
        float(referral_uplift), rounding,
    ))


# ----------------------------------------------------------------------
# J1 at scale: the generic ladder as a broadcast range join
# ----------------------------------------------------------------------
def ladder_dim(
    spark: SparkSession, tiers: Sequence[Tuple[Optional[float], float]], name: str = "factor"
) -> DataFrame:
    """Build a [lo, hi) interval dim from a descending ge-chain."""
    rows = []
    ordered = [t for t in tiers if t[0] is not None]
    ordered.sort(key=lambda t: t[0])
    lo = float("-inf")
    else_factor = next(f for t, f in tiers if t is None)
    bounds = [t for t, _ in ordered] + [float("inf")]
    rows.append((float("-inf"), float(bounds[0]), float(else_factor)))
    for i, (t, f) in enumerate(ordered):
        rows.append((float(t), float(bounds[i + 1]), float(f)))
    return spark.createDataFrame(rows, schema=f"lo double, hi double, {name} double")


def ladder_join(df: DataFrame, x: str, dim: DataFrame, how: str = "left") -> DataFrame:
    """Broadcast range join: factor of the greatest lo <= x < hi.

    The 100 TB form of ``_ladder_lookup`` (engine/quote_calc.py:90-99):
    dim is tiny → broadcast nested-loop join with a range predicate,
    no shuffle of the fact side.
    """
    xc = F.col(x).cast("double")
    return df.join(
        F.broadcast(dim), (xc >= dim["lo"]) & (xc < dim["hi"]), how
    ).drop("lo", "hi")


# ----------------------------------------------------------------------
# S4/S5: dimension-table loading with header-pair discovery
# (engine/quote_calc.py:52-88)
# ----------------------------------------------------------------------
def discover_ladder(sheet, header: str, factor_header: str, header_row: int = 2):
    """S5: locate a (threshold, factor) ladder by scanning ``header_row``
    for the adjacent header pair (content-addressed, not positional —
    engine/quote_calc.py:58-62), then read down until a non-numeric
    threshold. ``sheet`` is a whole-sheet pandas DataFrame (header=None).
    Returns ascending [(threshold, factor)] like the reference's
    ``_ladder_lookup`` input.
    """
    row = sheet.iloc[header_row]
    col = None
    for j in range(len(row) - 1):
        if str(row[j]).strip() == header and str(row[j + 1]).strip() == factor_header:
            col = j
            break
    if col is None:
        raise KeyError(f"header pair ({header!r}, {factor_header!r}) not found")
    out = []
    for i in range(header_row + 1, len(sheet)):
        t, f = sheet.iloc[i, col], sheet.iloc[i, col + 1]
        try:
            out.append((float(t), float(f)))
        except (TypeError, ValueError):
            break
    out.sort(key=lambda x: x[0])
    return out


def load_ladder_tables(path: str, pairs, sheet_name: str = "VLOOKUP Tables", header_row: int = 2):
    """S4: one-time driver-side dim load → dict of ladders.

    ``.xlsx`` is read by the dependency-free stdlib reader
    (:mod:`.xlsxlite` — zip + XML, value-equivalent to the reference's
    ``pd.read_excel(path, sheet_name=..., header=None)``,
    engine/quote_calc.py:52); ``.csv`` covers the same whole-sheet-scan
    semantics for exported sheets.
    """
    import pandas as pd

    if path.endswith(".xlsx"):
        from .xlsxlite import read_sheet

        sheet = pd.DataFrame(read_sheet(path, sheet_name))
    else:
        sheet = pd.read_csv(path, header=None)
    return {h: discover_ladder(sheet, h, fh, header_row) for h, fh in pairs}


def ladder_dim_from_table(spark: SparkSession, table, name: str = "factor") -> DataFrame:
    """Ascending [(threshold, factor)] → the [lo, hi) broadcast dim of
    :func:`ladder_join` (greatest threshold ≤ x wins; below the first
    threshold → the reference's ladder returns its pre-scan default,
    here the first factor — engine/quote_calc.py:93-99 keeps `val`
    initialized to the first row)."""
    rows = [(float("-inf"), float(table[0][0]), float(table[0][1]))]
    for i, (t, f) in enumerate(table):
        hi = float(table[i + 1][0]) if i + 1 < len(table) else float("inf")
        rows.append((float(t), hi, float(f)))
    return spark.createDataFrame(rows, schema=f"lo double, hi double, {name} double")
