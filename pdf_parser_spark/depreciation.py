"""MACRS depreciation engine as native Catalyst expressions.

Reimplements ``cost_seg/cost_seg_calculator.py`` + ``cost_seg/
macrs_tables.py`` (D1–D11 of SURVEY §2.10) Spark-first:

- every stage input, MACRS lookup, per-class year/accumulated value,
  CapEx pool fold and the bonus schedule is built as Spark-SQL TEXT
  (``_sql_*``, :func:`capex_total_sql`), cached per stage on its
  parameters and applied with one ``selectExpr`` per stage, so a plan
  costs a few py4j round trips instead of one per expression node.
  The DuckDB oracles mirror these functions (``sqlgen.py``,
  ``queries_capex.py``) in the same association order.
- MACRS tables become LITERAL arrays indexed by ``element_at`` — zero
  joins, zero shuffles; the whole engine is one ``select`` + one
  ``explode(sequence(...))``, partition-local at any scale (each
  document's schedule derives only from its own row).
- the reference's O(N²) ``get_accumulated_depreciation`` re-summation
  (``macrs_tables.py:119-134``) becomes precomputed prefix-sum
  literals (SURVEY §4 "Common-subexpression reuse").
- the dual bonus/no-bonus schedule (D10, ``RCGV .../service/
  api.py:508-559``) runs in ONE pass as two column families instead of
  the reference's two engine instantiations.
- ADS (D8): the reference snapshot has no 30/40yr tables and raises
  ``ValueError: Unknown asset class: 30yr`` which the endpoint degrades
  to an empty schedule. Default mode reproduces that (``engine_error``
  set, no schedule rows); ``ads_tables=True`` enables real
  straight-line mid-month 30/40yr tables.

A broadcast MACRS dim (:func:`macrs_table_df`) is also exposed for the
J4 oracle-checked query in ``__spark_entry__.py``.
"""

from __future__ import annotations

import datetime
from functools import lru_cache
from typing import Dict, Iterable, List, Optional, Tuple

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.rounding import rounder
from .functions.sqltext import ident, lit, sqld, with_sql

# ----------------------------------------------------------------------
# tables (exact values of cost_seg/macrs_tables.py:8-88)
# ----------------------------------------------------------------------
MACRS_5YR = [20.00, 32.00, 19.20, 11.52, 11.52, 5.76]
MACRS_7YR = [14.29, 24.49, 17.49, 12.49, 8.93, 8.92, 8.93, 4.46]
MACRS_15YR = [5.00, 9.50, 8.55, 7.70, 6.93, 6.23, 5.90, 5.90, 5.91, 5.90,
              5.91, 5.90, 5.91, 5.90, 5.91, 2.95]


def _mm_table(years: float) -> List[List[float]]:
    """Mid-month straight-line 2-D table [year][month] in percent.

    Reproduces MACRS_27_5YR_MM / MACRS_39YR_MM of macrs_tables.py:54-88
    (IRS Pub 946 tables) and generates the 30/40yr ADS equivalents.
    """
    if years == 27.5:
        t = [[3.485, 3.182, 2.879, 2.576, 2.273, 1.970, 1.667, 1.364, 1.061, 0.758, 0.455, 0.152]]
        t += [[3.636] * 12 for _ in range(2, 28)]
        t += [[3.637, 3.636, 3.636, 3.636, 3.636, 3.636, 3.636, 3.636, 3.636, 3.636, 3.636, 3.636]]
        t += [[0.000, 0.303, 0.606, 0.909, 1.212, 1.515, 1.818, 2.121, 2.424, 2.727, 3.030, 3.333]]
        return t
    if years == 39:
        t = [[2.461, 2.247, 2.033, 1.819, 1.605, 1.391, 1.177, 0.963, 0.749, 0.535, 0.321, 0.107]]
        t += [[2.564] * 12 for _ in range(2, 40)]
        t += [[0.000, 0.214, 0.428, 0.642, 0.856, 1.070, 1.284, 1.498, 1.712, 1.926, 2.140, 2.354]]
        return t
    # generated SL-MM (ADS 30yr / 40yr): year-1 fraction (12.5-month)/12
    n = int(years)
    annual = 100.0 / years
    t = [[round(annual * (12 - m + 0.5) / 12, 3) for m in range(1, 13)]]
    t += [[round(annual, 3)] * 12 for _ in range(2, n + 1)]
    # final partial year: remainder to reach 100%
    t += [[round(100.0 - (t[0][m - 1] + round(annual, 3) * (n - 1)), 3) for m in range(1, 13)]]
    return t


MACRS_MM: Dict[str, List[List[float]]] = {
    "27.5yr": _mm_table(27.5),
    "39yr": _mm_table(39),
    "30yr": _mm_table(30),
    "40yr": _mm_table(40),
}

HY_TABLES: Dict[str, List[float]] = {"5yr": MACRS_5YR, "7yr": MACRS_7YR, "15yr": MACRS_15YR}

# Bonus Depreciation Schedule (cost_seg_calculator.py:11-17) — ordered
# first-match semantics preserved as a CASE (J3)
BONUS_SCHEDULE = [
    (datetime.date(2025, 1, 20), None, 100),
    (datetime.date(2025, 1, 1), datetime.date(2025, 1, 19), 40),
    (datetime.date(2024, 1, 1), datetime.date(2024, 12, 31), 60),
    (datetime.date(2023, 1, 1), datetime.date(2023, 12, 31), 80),
    (datetime.date(2017, 9, 27), datetime.date(2022, 12, 31), 100),
]

BASE_ALLOCATIONS = {"5yr": 0.07, "7yr": 0.05, "15yr": 0.24}
BASE_BUILDING = {"multi-family": 0.64, "commercial": 0.61}
SHORT_CLASSES = ["5yr", "7yr", "15yr"]
FULL_HORIZON = {"27.5yr": 29, "39yr": 41, "30yr": 31, "40yr": 41}


def _prefix(vals: List[float]) -> List[float]:
    out, acc = [], 0.0
    for v in vals:
        acc += v
        out.append(acc)
    return out


_MM_CLASSES = list(MACRS_MM)  # dispatch order: 27.5yr, 39yr, 30yr, 40yr


def _mm_rows(cls: str, accumulated: bool) -> List[List[float]]:
    rows = [list(r) for r in MACRS_MM[cls]]
    if accumulated:
        cols = [[rows[y][m] for y in range(len(rows))] for m in range(12)]
        acc_cols = [_prefix(c) for c in cols]
        rows = [[acc_cols[m][y] for m in range(12)] for y in range(len(rows))]
    return rows


# ----------------------------------------------------------------------
# SQL text: the _sql_* functions are the one way this module writes a
# MACRS lookup, a per-class year or accumulated value, a CapEx pool fold
# or the bonus schedule. Each returns Spark-SQL text, and the stages
# apply it with one selectExpr (sqltext.with_sql): one py4j round trip
# per column, parsed JVM-side. A Column tree costs several round trips
# per node on every plan (the audited_quotes chain built as Column trees
# sent ~12,000 commands).
# Arguments are SQL text too: column names, or expressions such as
# "(years_elapsed + 1)". To keep every double identical to the DuckDB
# mirrors (sqlgen.py, queries_capex.py):
# - double literals carry the D suffix (a bare 1.0 parses as DECIMAL);
# - sums and products follow the mirrors' association order;
# - literal tables are from_json of a string literal: one node at
#   analysis, constant-folded to one array literal before execution
#   (array(...) parses into a node per element, and these tables sit
#   inside higher-order-function lambdas).
# ----------------------------------------------------------------------
def _sql_bonus_rate(pis: str) -> str:
    """F5/J3: the first matching interval's rate, else 0 (list order
    wins)."""
    arms = []
    for start, end, rate in BONUS_SCHEDULE:
        if end is None:
            cond = f"{pis} >= DATE'{start.isoformat()}'"
        else:
            cond = (
                f"({pis} >= DATE'{start.isoformat()}'"
                f" AND {pis} <= DATE'{end.isoformat()}')"
            )
        arms.append(f"WHEN {cond} THEN {sqld(rate)}")
    return "(CASE " + " ".join(arms) + " ELSE 0.0D END)"


@lru_cache(maxsize=None)
def _hy_json(accumulated: bool) -> str:
    import json

    max_len = max(len(t) for t in HY_TABLES.values())
    tables = [
        (_prefix(HY_TABLES[c]) if accumulated else list(HY_TABLES[c]))
        + [0.0] * (max_len - len(HY_TABLES[c]))
        for c in SHORT_CLASSES
    ]
    return json.dumps(tables)


@lru_cache(maxsize=None)
def _mm_json(accumulated: bool) -> str:
    import json

    max_rows = max(len(MACRS_MM[c]) for c in _MM_CLASSES)
    pad = [[0.0] * 12]
    tables = [
        _mm_rows(c, accumulated) + pad * (max_rows - len(MACRS_MM[c]))
        for c in _MM_CLASSES
    ]
    return json.dumps(tables)


def _sql_hy_pct(idx: str, ny: str, year: str, accumulated: bool) -> str:
    """MACRS % (or prefix-summed %) at ``year`` of the HY class whose
    1-based index in SHORT_CLASSES is ``idx`` and whose table has ``ny``
    years. ONE padded 2-D table serves every class, so a pool fold can
    pass class-dependent CASE expressions; padding is unreachable behind
    the ``ny`` bounds. Out-of-range years give 0 for annual and the table
    total for accumulated (the dict ``.get(year, 0.0)`` of
    macrs_tables.py:90-117)."""
    tab = (
        f"element_at(from_json('{_hy_json(accumulated)}',"
        f" 'array<array<double>>'), {idx})"
    )
    got = f"element_at({tab}, CAST({year} AS INT))"
    if accumulated:
        beyond = f"element_at({tab}, {ny})"
        return (
            f"(CASE WHEN {year} <= 0 THEN 0.0D WHEN {year} > {ny}"
            f" THEN {beyond} ELSE {got} END)"
        )
    return f"coalesce((CASE WHEN {year} BETWEEN 1 AND {ny} THEN {got} END), 0.0D)"


def _sql_hy_pct_cls(cls: str, year: str, accumulated: bool) -> str:
    """:func:`_sql_hy_pct` for the fixed class ``cls``."""
    idx = SHORT_CLASSES.index(cls) + 1
    return _sql_hy_pct(str(idx), str(len(HY_TABLES[cls])), year, accumulated)


def _sql_mm_pct(cls: str, year: str, month: str, accumulated: bool) -> str:
    """MACRS % for the mid-month building classes, dispatching on the
    class expression ``cls``.

    ONE padded 3-D table indexed by (class index, year, month), not a
    CASE whose every arm embeds its own 41×12 table: four full tables
    per call, inlined per reference inside lambdas, made most of
    `capex_481a`'s 1.3 MiB task binary (round-3 finding). Padding rows
    are unreachable: the per-class ``n_years`` guard is evaluated before
    any ``element_at``, which also keeps ANSI mode from seeing an
    out-of-range index. An unknown class gives null (D8)."""

    def mm_case(vals: List) -> str:
        arms = " ".join(
            f"WHEN {cls} = '{c}' THEN {v}" for c, v in zip(_MM_CLASSES, vals)
        )
        return f"(CASE {arms} END)"

    n_years = mm_case([len(MACRS_MM[c]) for c in _MM_CLASSES])
    idxm = mm_case(list(range(1, len(_MM_CLASSES) + 1)))
    tab = (
        f"element_at(from_json('{_mm_json(accumulated)}',"
        f" 'array<array<array<double>>>'), {idxm})"
    )
    got = f"element_at(element_at({tab}, CAST({year} AS INT)), CAST({month} AS INT))"
    if accumulated:
        beyond = f"element_at(element_at({tab}, {n_years}), CAST({month} AS INT))"
        val = (
            f"(CASE WHEN {year} <= 0 THEN 0.0D WHEN {year} > {n_years}"
            f" THEN {beyond} ELSE {got} END)"
        )
    else:
        val = (
            f"coalesce((CASE WHEN {year} BETWEEN 1 AND {n_years}"
            f" THEN {got} END), 0.0D)"
        )
    # the null wrap keeps the annual branch's coalesce from turning an
    # unknown class into a wrong 0.0
    return (
        f"(CASE WHEN {idxm} IS NULL THEN CAST(NULL AS DOUBLE) ELSE {val} END)"
    )


def _sql_short_year_dep(amt: str, bonus: str, cls: str, year: str) -> str:
    """D5 for one short class: year-``year`` depreciation."""
    b = f"({bonus} / 100.0D)"
    year1 = (
        f"({amt} * {b} + {amt} * (1.0D - {b})"
        f" * {_sql_hy_pct_cls(cls, '1', False)} / 100.0D)"
    )
    later = (
        f"({amt} * (1.0D - {b})"
        f" * {_sql_hy_pct_cls(cls, year, False)} / 100.0D)"
    )
    return (
        f"(CASE WHEN {amt} = 0.0D THEN 0.0D"
        f" WHEN {bonus} = 100.0D THEN (CASE WHEN {year} = 1 THEN {amt} ELSE 0.0D END)"
        f" WHEN {year} = 1 THEN {year1}"
        f" ELSE {later} END)"
    )


def _sql_short_acc_dep(amt: str, bonus: str, cls: str, years: str) -> str:
    """D3 for one short class: accumulated through ``years``."""
    b = f"({bonus} / 100.0D)"
    acc = (
        f"({amt} * {b} + {amt} * (1.0D - {b})"
        f" * {_sql_hy_pct_cls(cls, years, True)} / 100.0D)"
    )
    return (
        f"(CASE WHEN ({amt} = 0.0D OR {years} = 0) THEN 0.0D"
        f" WHEN {bonus} = 100.0D THEN {amt} ELSE {acc} END)"
    )


def _sql_bldg_year_dep(amt: str, cls: str, year: str, month: str) -> str:
    return (
        f"(CASE WHEN {amt} = 0.0D THEN 0.0D ELSE"
        f" ({amt} * {_sql_mm_pct(cls, year, month, False)} / 100.0D) END)"
    )


def _sql_bldg_acc_dep(amt: str, cls: str, years: str, month: str) -> str:
    return (
        f"(CASE WHEN ({amt} = 0.0D OR {years} = 0) THEN 0.0D ELSE"
        f" ({amt} * {_sql_mm_pct(cls, years, month, True)} / 100.0D) END)"
    )


def _sql_standard_dep(years: str) -> str:
    """D4: straight-line building-class table over the FULL basis
    (cost_seg_calculator.py:244-262)."""
    mm = _sql_mm_pct("building_class", years, "pis_month", True)
    return f"(total_depreciable * {mm} / 100.0D)"


def _class_sqls(year: str, bonus: str, accumulated: bool) -> Dict[str, str]:
    """Per-class depreciation in year ``year`` (D5, ``dep_*``) or
    accumulated through ``year`` (D3, ``acc_*``), keyed by column name;
    reads the with_engine_inputs columns."""
    if accumulated:
        short, bldg, pre = _sql_short_acc_dep, _sql_bldg_acc_dep, "acc"
    else:
        short, bldg, pre = _sql_short_year_dep, _sql_bldg_year_dep, "dep"
    out = {f"{pre}_{c}": short(f"amt_{c}", bonus, c, year) for c in SHORT_CLASSES}
    out[f"{pre}_bldg"] = bldg("amt_bldg", "building_class", year, "pis_month")
    return out


def _sql_sum(terms: Iterable[str]) -> str:
    """Left-to-right sum, e.g. ``((d5 + d7) + d15) + db``."""
    return "(" + " + ".join(terms) + ")"


# ----------------------------------------------------------------------
# scalar expressions
# ----------------------------------------------------------------------
def bonus_rate_expr(acq: str) -> Column:
    """F5/J3 bonus rate of the date expression ``acq`` (SQL text)."""
    return F.expr(_sql_bonus_rate(acq))


def age_adjustment_expr(year_built: str, current_year: str) -> str:
    """F6: 0.5 / (1 + e^(-0.01*age)) (cost_seg_calculator.py:37-58)."""
    age = f"CAST(({current_year} - {year_built}) AS DOUBLE)"
    return f"(0.5D / (1.0D + exp((-0.01D * {age}))))"


def _pct(pct: str) -> str:
    """The percent-or-fraction idiom (§1.2: pct>1 ⇒ /100) — fractions
    here, guard kept for parity with cost_seg_calculator.py:166."""
    return f"(CASE WHEN {pct} > 1.0D THEN ({pct} / 100.0D) ELSE {pct} END)"


# ----------------------------------------------------------------------
# engine stages
# ----------------------------------------------------------------------
def _sql_stage1_inputs(
    purchase_price: str, land_value: str, capex: str, pad: str, deferred_gain: str,
    acquisition_date: str, year_built: str,
) -> Tuple[str, ...]:
    """The input casts both stage-1 variants read: price, land, capex,
    pad, deferred gain, acquisition date, year built (the acquisition
    year when missing)."""
    acq = f"CAST({ident(acquisition_date)} AS DATE)"
    return (
        f"CAST({ident(purchase_price)} AS DOUBLE)",
        f"CAST({ident(land_value)} AS DOUBLE)",
        *(f"coalesce(CAST({ident(c)} AS DOUBLE), 0.0D)" for c in (capex, pad, deferred_gain)),
        acq,
        f"coalesce(CAST({ident(year_built)} AS INT), year({acq}))",
    )


@lru_cache(maxsize=None)
def _engine_inputs_sql(
    purchase_price: str, land_value: str, capex: str, pad: str, deferred_gain: str,
    acquisition_date: str, css_date: str, property_type: str, year_built: str,
    bonus_override: Optional[str], use_ads: Optional[str], ads_tables: bool,
) -> Tuple[Tuple[str, str], ...]:
    pp, lv, cx, pd_, dg, acq, yb = _sql_stage1_inputs(
        purchase_price, land_value, capex, pad, deferred_gain, acquisition_date, year_built
    )
    total_dep = f"(((({pp} - {lv}) + {cx}) - {pd_}) - {dg})"
    bonus = _sql_bonus_rate(acq)
    if bonus_override:
        bonus = f"coalesce(CAST({ident(bonus_override)} AS DOUBLE), {bonus})"

    is_mf = f"({ident(property_type)} = 'multi-family')"
    ads = f"CAST({ident(use_ads)} AS BOOLEAN)" if use_ads else "false"
    # F14 _building_key: ADS ? (MF?30:40) : (MF?27.5:39)
    building_class = (
        f"(CASE WHEN ({ads} AND {is_mf}) THEN '30yr' WHEN {ads} THEN '40yr'"
        f" WHEN {is_mf} THEN '27.5yr' ELSE '39yr' END)"
    )
    # ADS zeroes bonus (RCGV cost_seg_calculator.py:216-226)
    bonus = f"(CASE WHEN {ads} THEN 0.0D ELSE {bonus} END)"

    # D8: reference has no 30/40yr tables → ValueError → empty schedule
    engine_error = (
        f"(CASE WHEN ({ads} AND (NOT {lit(ads_tables)})) THEN concat('Unknown asset class: ',"
        f" (CASE WHEN {is_mf} THEN '30yr' ELSE '40yr' END)) ELSE CAST(NULL AS STRING) END)"
    )

    # F6/F7 age-adjusted allocations
    adj = f"({age_adjustment_expr(yb, f'year({acq})')} * 0.22D)"
    base_bldg = (
        f"(CASE WHEN {is_mf} THEN {sqld(BASE_BUILDING['multi-family'])}"
        f" ELSE {sqld(BASE_BUILDING['commercial'])} END)"
    )
    alloc_bldg = f"({base_bldg} * (1.0D - {adj}))"
    alloc_15 = f"({sqld(BASE_ALLOCATIONS['15yr'])} + ({adj} * {base_bldg}))"

    def amt(pct: str) -> str:
        return f"({total_dep} * {_pct(pct)})"

    return (
        ("total_depreciable", total_dep),
        ("bonus_rate", bonus),
        ("building_class", building_class),
        ("pis_month", f"month({acq})"),
        ("acq_year", f"year({acq})"),
        ("years_elapsed", f"(year(CAST({ident(css_date)} AS DATE)) - year({acq}))"),
        ("amt_5yr", amt(sqld(BASE_ALLOCATIONS["5yr"]))),
        ("amt_7yr", amt(sqld(BASE_ALLOCATIONS["7yr"]))),
        ("amt_15yr", amt(alloc_15)),
        ("amt_bldg", amt(alloc_bldg)),
        ("engine_error", engine_error),
    )


def with_engine_inputs(
    df: DataFrame,
    purchase_price: str = "purchase_price",
    land_value: str = "land_value",
    capex: str = "capex",
    pad: str = "pad",
    deferred_gain: str = "deferred_gain",
    acquisition_date: str = "acquisition_date",
    css_date: str = "css_date",
    property_type: str = "property_type",
    year_built: str = "year_built",
    bonus_override: Optional[str] = None,
    use_ads: Optional[str] = None,
    ads_tables: bool = False,
) -> DataFrame:
    """Stage 1: per-document scalars (D1, J3, F6, F7, F13/F14).

    Adds: total_depreciable, bonus_rate, building_class, month,
    amt_5yr / amt_7yr / amt_15yr / amt_bldg, engine_error.
    """
    return with_sql(df, _engine_inputs_sql(
        purchase_price, land_value, capex, pad, deferred_gain, acquisition_date,
        css_date, property_type, year_built, bonus_override or None, use_ads or None,
        bool(ads_tables),
    ))


@lru_cache(maxsize=None)
def _481a_sql(
    pools_col: Optional[str],
) -> Tuple[Tuple[Tuple[str, str], ...], Tuple[Tuple[str, str], ...]]:
    """The staged lookups of :func:`_with_481a_cols` and its outputs."""
    staged = {
        "_should_base": _sql_sum(_class_sqls("years_elapsed", "bonus_rate", True).values()),
        "_did_take": _sql_standard_dep("years_elapsed"),
        "_cur_base": _sql_sum(_class_sqls("(years_elapsed + 1)", "bonus_rate", False).values()),
        "_y1_base": _sql_sum(_class_sqls("1", "bonus_rate", False).values()),
    }
    should, cur, y1 = "_should_base", "_cur_base", "_y1_base"
    if pools_col:
        pools = ident(pools_col)
        staged["_capex_acc_prior"] = capex_total_sql(
            pools, "(acq_year + years_elapsed - 1)", accumulated=True
        )
        staged["_capex_cur"] = capex_total_sql(
            pools, "(acq_year + years_elapsed)", accumulated=False
        )
        should = "(_should_base + _capex_acc_prior)"
        cur = "(_cur_base + _capex_cur)"
        y1 = "(_y1_base + _capex_cur)"

    def if_same_year(then: str, other: str) -> str:
        return f"(CASE WHEN years_elapsed = 0 THEN {then} ELSE {other} END)"

    out = {
        "should_have_taken": if_same_year("0.0D", should),
        "did_take": if_same_year("0.0D", "_did_take"),
        "catch_up_adjustment": if_same_year("0.0D", f"({should} - _did_take)"),
        "current_year_total": if_same_year(y1, cur),
        "total_current_year_benefit": if_same_year(
            y1, f"({should} - _did_take + {cur})"
        ),
    }
    return tuple(staged.items()), tuple(out.items())


def _with_481a_cols(df: DataFrame, pools_col: Optional[str]) -> DataFrame:
    """D6 481(a) columns, shared by :func:`with_481a` and
    :func:`with_481a_capex`. With pools, should-have adds the pools'
    accumulation through the PRIOR calendar year and current-year adds
    their CSS-year depreciation.

    Each lookup and fold is staged as a physical column first: inlined,
    its tree (MACRS tables included) would be copied into every output
    that reads it (round-3 plan-size finding)."""
    staged, out = _481a_sql(pools_col or None)
    return with_sql(with_sql(df, staged), out).drop(*(k for k, _ in staged))


def with_481a(df: DataFrame) -> DataFrame:
    """D6: 481(a) catch-up columns (cost_seg_calculator.py:264-309)."""
    return _with_481a_cols(df, None)


@lru_cache(maxsize=None)
def _schedule_sql(n_years: str, has_error: bool) -> Tuple[str, Tuple[Tuple[str, str], ...]]:
    """The year-grid explode over ``n_years`` and the per-year columns."""
    grid_years = f"sequence(1, {n_years})"
    if has_error:
        grid_years = f"(CASE WHEN engine_error IS NULL THEN {grid_years} END)"
    dep = _class_sqls("`year`", "bonus_rate", accumulated=False)
    acc = _class_sqls("`year`", "bonus_rate", accumulated=True)
    dep_total = _sql_sum(dep.values())
    # W3/D4: std_dep = acc_std(y) − acc_std(y−1), computed analytically
    # (no window needed — the lag of a closed form is a closed form)
    std_acc = _sql_standard_dep("`year`")
    cols = {
        "calendar_year": "(acq_year + `year` - 1)",  # W4
        **dep,
        "depreciation_total": dep_total,
        **acc,
        "accumulated_total": _sql_sum(acc.values()),
        # D10 dual schedule in one pass: trad = bonus_override 0
        "trad_cost_seg": _sql_sum(_class_sqls("`year`", "0.0D", accumulated=False).values()),
        "bonus_dep": dep_total,
        "cost_seg_est": dep_total,
        "std_dep": f"({std_acc} - {_sql_standard_dep('(`year` - 1)')})",
        "std_acc": std_acc,
    }
    return f"explode({grid_years}) AS `year`", tuple(cols.items())


def depreciation_schedule(
    df: DataFrame, years: Optional[int] = None, full_horizon: bool = False
) -> DataFrame:
    """W1/W2 + D5/D3: explode the year grid, one row per (doc, year).

    Shuffle-free: ``explode(sequence(...))`` is partition-local and all
    per-year values are literal-array lookups. ``years=None`` with
    ``full_horizon`` picks 29/41 by building class
    (RCGV .../service/api.py:503-506); default 10
    (cost_seg_calculator.py:352). A row with an ``engine_error`` (D8)
    gets no rows: the reference's endpoint returns an empty schedule.
    """
    if years is not None:
        n_years = str(int(years))
    elif full_horizon:
        arms = " ".join(
            f"WHEN building_class = '{c}' THEN {n}" for c, n in FULL_HORIZON.items()
        )
        n_years = f"(CASE {arms} ELSE 10 END)"
    else:
        n_years = "10"
    grid, cols = _schedule_sql(n_years, "engine_error" in df.columns)
    return with_sql(df.selectExpr("*", grid), cols)


def schedule_totals(schedule: DataFrame, keys: List[str]) -> DataFrame:
    """A4: per-document schedule column sums (engine/quote_calc.py:304-306)."""
    return schedule.groupBy(*keys).agg(
        F.sum("std_dep").alias("total_std_dep"),
        F.sum("trad_cost_seg").alias("total_trad_cost_seg"),
        F.sum("bonus_dep").alias("total_bonus_dep"),
        F.sum("cost_seg_est").alias("total_cost_seg_est"),
        F.max("accumulated_total").alias("final_accumulated_total"),
    )


# ----------------------------------------------------------------------
# J4 as a broadcast dim (for the oracle-checked query)
# ----------------------------------------------------------------------
def macrs_table_df(spark: SparkSession) -> DataFrame:
    """Long-format MACRS dim: (asset_class, year, month, pct).

    HY classes use month=0. The broadcast-join form of
    macrs_tables.py:90-117 (J4).
    """
    rows = []
    for cls, vals in HY_TABLES.items():
        for y, pct in enumerate(vals, 1):
            rows.append((cls, y, 0, float(pct)))
    for cls in ("27.5yr", "39yr"):
        for y, months in enumerate(MACRS_MM[cls], 1):
            for m, pct in enumerate(months, 1):
                rows.append((cls, y, m, float(pct)))
    return spark.createDataFrame(rows, "asset_class string, year int, month int, pct double")


# ----------------------------------------------------------------------
# D9: remaining basis / remaining life per class
# (RCGV .../cost_seg_calculator.py:461-518)
# ----------------------------------------------------------------------
TOTAL_LIFE = {"5yr": 6, "7yr": 8, "15yr": 16, "27.5yr": 29, "39yr": 40}


def remaining_basis_cols(year: str, bonus: str) -> Dict[str, Column]:
    """max(0, allocated − accumulated(year)) per class."""
    acc = _class_sqls(year, bonus, accumulated=True)
    return {
        f"rem_{k[4:]}": F.expr(f"greatest(0.0D, amt_{k[4:]} - {v})")
        for k, v in acc.items()
    }


def life_remaining_cols(year: str, bonus: str) -> Dict[str, Column]:
    """Remaining life as strings — short classes report 'Complete' once
    a 100% bonus has expensed them (`:505-516`)."""
    out = {
        f"life_{cls}": F.expr(
            f"(CASE WHEN {bonus} = 100.0D AND {year} >= 1 THEN 'Complete'"
            f" ELSE CAST(greatest(0, {TOTAL_LIFE[cls]} - {year}) AS STRING) END)"
        )
        for cls in SHORT_CLASSES
    }
    bldg_total = (
        f"(CASE WHEN building_class = '27.5yr' THEN {TOTAL_LIFE['27.5yr']}"
        f" WHEN building_class = '39yr' THEN {TOTAL_LIFE['39yr']} ELSE 0 END)"
    )
    out["life_bldg"] = F.expr(f"CAST(greatest(0, {bldg_total} - {year}) AS STRING)")
    return out


# ----------------------------------------------------------------------
# D7/A3: CapEx pools — array<struct> column, per-pool engine, class agg
# (RCGV .../cost_seg_calculator.py:520-620)
# ----------------------------------------------------------------------
CAPEX_CLASS_MAP = {
    "QIP": "15yr", "5_year": "5yr", "7_year": "7yr", "15_year": "15yr",
    "27_5_year": "27.5yr", "39_year": "39yr",
}
CAPEX_CLASSES = ["5yr", "7yr", "15yr", "27.5yr", "39yr"]


def _sql_pool_class(p: str) -> str:
    arms = " ".join(
        f"WHEN {p}.classification = '{k}' THEN '{v}'"
        for k, v in CAPEX_CLASS_MAP.items()
    )
    return f"(CASE {arms} ELSE '5yr' END)"  # default (`:142-143`)


def _sql_hy_case(cls: str, vals: List) -> str:
    arms = " ".join(
        f"WHEN {cls} = '{c}' THEN {v}" for c, v in zip(SHORT_CLASSES, vals)
    )
    return f"(CASE {arms} END)"  # no else → long-life class = null


def _sql_pool_fn(p: str, target_year: str, accumulated: bool) -> str:
    """One pool's depreciation in calendar ``target_year`` (`:520-566`),
    or its accumulation through it (`:568-600`).

    Quirk preserved: a ZERO-bonus short-life pool takes nothing in its
    first year (the reference's elif-chain has no bonus==0 year-1 arm).
    The short classes share one arithmetic and differ only in the
    looked-up pct, so the class is an index into one 2-D table rather
    than a CASE arm per class (round-3 plan-size finding)."""
    amt = f"{p}.amount"
    b = f"coalesce({p}.bonus_override, {_sql_bonus_rate(f'{p}.pis_date')})"
    bf = f"({b} / 100.0D)"
    cls = _sql_pool_class(p)
    idx = _sql_hy_case(cls, list(range(1, len(SHORT_CLASSES) + 1)))
    ny = _sql_hy_case(cls, [len(HY_TABLES[c]) for c in SHORT_CLASSES])
    dy = f"({target_year} - year({p}.pis_date) + 1)"
    if accumulated:
        acc = (
            f"({amt} * {bf} + {amt} * (1.0D - {bf})"
            f" * {_sql_hy_pct(idx, ny, dy, True)} / 100.0D)"
        )
        short_val = f"(CASE WHEN {b} = 100.0D THEN {amt} ELSE {acc} END)"
    else:
        y1 = (
            f"({amt} * {bf} + {amt} * (1.0D - {bf})"
            f" * {_sql_hy_pct(idx, ny, '1', False)} / 100.0D)"
        )
        later = (
            f"({amt} * (1.0D - {bf})"
            f" * {_sql_hy_pct(idx, ny, dy, False)} / 100.0D)"
        )
        short_val = (
            f"(CASE WHEN {b} = 100.0D AND {dy} = 1 THEN {amt}"
            f" WHEN {b} > 0.0D AND {dy} = 1 THEN {y1}"
            f" WHEN {b} < 100.0D AND {dy} > 1 THEN {later}"
            f" ELSE 0.0D END)"
        )
    long_v = (
        f"({amt} * {_sql_mm_pct(cls, dy, f'month({p}.pis_date)', accumulated)}"
        f" / 100.0D)"
    )
    return (
        f"(CASE WHEN {dy} < 1 THEN 0.0D ELSE (CASE WHEN {idx} IS NOT NULL"
        f" THEN {short_val} ELSE {long_v} END) END)"
    )


def capex_total_sql(pools: str, target_year: str, accumulated: bool = False) -> str:
    """The pools' depreciation summed over all classes, as ONE
    aggregate.

    One ``filter``+``aggregate`` pair per class, each embedding the
    MACRS tables and the class dispatch, made the analysis cost dominate
    `capex_481a` (round-3 finding). Here the accumulator is a 5-slot
    array of per-class partial sums: each pool adds its value to its
    class's slot and passes the others through unchanged, so each slot
    folds in the same order as a filtered per-class fold, and the final
    left fold over the slots matches ``0.0 + s_5yr + s_7yr + ...``
    exactly. ``tests/test_depreciation_capex.py`` checks the per-class
    folds against the reference and their sum against this one."""
    arms = " ".join(
        f"WHEN p.classification = '{k}' THEN {CAPEX_CLASSES.index(v)}"
        for k, v in CAPEX_CLASS_MAP.items()
    )
    idx0 = f"(CASE {arms} ELSE 0 END)"  # default 5yr (_sql_pool_class)
    fn = _sql_pool_fn("p", target_year, accumulated)
    zeros = "array(" + ", ".join(["0.0D"] * len(CAPEX_CLASSES)) + ")"
    per_class = (
        f"aggregate({pools}, {zeros}, (acc, p) -> transform(acc,"
        f" (x, i) -> (CASE WHEN i = {idx0} THEN x + {fn} ELSE x END)))"
    )
    return f"aggregate({per_class}, 0.0D, (a, x) -> a + x)"


def with_481a_capex(df: DataFrame, pools_col: str = "capex_items") -> DataFrame:
    """D6 CapEx-pool-aware 481(a) (`:622-690`): should-have adds pool
    accumulation through the PRIOR calendar year, current-year adds the
    pools' CSS-year depreciation."""
    return _with_481a_cols(df, pools_col)


# ----------------------------------------------------------------------
# A5 + D11: lifetime totals (closed form) and reconciliation invariant
# (`:760-807`; RCGV .../service/api.py:647-707)
# ----------------------------------------------------------------------
def _sql_lifetime(pools_col: Optional[str]) -> Tuple[str, str]:
    """``basis − SL through the prior year`` and the pools' summed
    amount (0 without pools), as SQL text."""
    sl_prior = (
        f"(CASE WHEN years_elapsed > 0 THEN {_sql_standard_dep('years_elapsed')}"
        f" ELSE 0.0D END)"
    )
    capex = (
        f"aggregate({ident(pools_col)}, 0.0D, (acc, p) -> acc + p.amount)"
        if pools_col
        else "0.0D"
    )
    return f"(total_depreciable - {sl_prior})", capex


def with_lifetime_totals(df: DataFrame, pools_col: Optional[str] = None) -> DataFrame:
    """Closed-form lifetime totals from CSS year forward: standard
    depreciates only the base; traditional/bonus add CapEx."""
    std, capex = _sql_lifetime(pools_col)
    trad = f"round({std} + {capex}, 2)"
    return with_sql(df, (
        ("lifetime_standard", f"round({std}, 2)"),
        ("lifetime_traditional", trad),
        ("lifetime_bonus", trad),
    ))


def with_reconciliation(df: DataFrame, pools_col: Optional[str] = None, tolerance: float = 0.0101) -> DataFrame:
    """D11 (RCGV .../service/api.py:647-707): lifetime totals must equal
    ``basis − SL_through_prior_year`` (+ CapEx for traditional/bonus),
    1-cent tolerance; violation aborts the request in the reference —
    here it becomes an ``is_reconciled`` flag (errors are rows, §3.1).

    Note the reference compares its CLOSED-FORM lifetime totals against
    the same closed form re-derived — an identity check that only
    catches Decimal drift, NOT schedule-sum errors. We reproduce that
    contract; ``tests/test_depreciation_capex.py`` checks the stronger
    schedule invariant the reference lacks (per-year sums telescope to
    the accumulated value at the horizon). Requires
    with_lifetime_totals columns.
    """
    std, capex = _sql_lifetime(pools_col)
    exp_std = f"round({std}, 2)"
    exp_trad = f"({exp_std} + {capex})"
    tol = sqld(tolerance)
    ok = (
        f"(abs(lifetime_standard - {exp_std}) <= {tol}"
        f" AND abs(lifetime_traditional - {exp_trad}) <= {tol}"
        f" AND abs(lifetime_bonus - {exp_trad}) <= {tol})"
    )
    return with_sql(df, (
        ("expected_standard", exp_std),
        ("expected_traditional", f"round({exp_trad}, 2)"),
        ("is_reconciled", ok),
    ))


# ----------------------------------------------------------------------
# RCGV engine variant stage-1 (RCGV .../cost_seg_calculator.py:146-292)
# ----------------------------------------------------------------------
# Excel-matched 8-decimal bases (`:246-267`); MF has no 7yr class
RCGV_BASES = {
    "multi-family": {"5yr": 0.08926036, "7yr": 0.0, "15yr": 0.27500630, "bldg": 0.63573334},
    "commercial": {"5yr": 0.07000000, "7yr": 0.01926036, "15yr": 0.27500630, "bldg": 0.63573334},
}


@lru_cache(maxsize=None)
def _engine_inputs_rcgv_sql(
    purchase_price: str, land_value: str, capex: str, pad: str, deferred_gain: str,
    acquisition_date: str, css_date: str, property_type: str, year_built: str,
    pools_col: Optional[str],
) -> Tuple[Tuple[str, str], ...]:
    pp, lv, cx, pd_, dg, acq, yb = _sql_stage1_inputs(
        purchase_price, land_value, capex, pad, deferred_gain, acquisition_date, year_built
    )
    css = f"CAST({ident(css_date)} AS DATE)"

    base = f"((({pp} - {lv}) - {pd_}) - {dg})"
    if pools_col:
        has_pools = f"(size(coalesce({ident(pools_col)}, array())) > 0)"
        total_dep = f"(CASE WHEN {has_pools} THEN {base} ELSE ({base} + {cx}) END)"
    else:
        total_dep = f"({base} + {cx})"

    is_mf = f"({ident(property_type)} = 'multi-family')"
    adj = f"({age_adjustment_expr(yb, f'year({css})')} * 0.22D)"
    mf, co = RCGV_BASES["multi-family"], RCGV_BASES["commercial"]

    def by_type(k: str) -> str:
        return f"(CASE WHEN {is_mf} THEN {sqld(mf[k])} ELSE {sqld(co[k])} END)"

    bb = by_type("bldg")
    alloc_bldg = f"({bb} * (1.0D - {adj}))"
    alloc_15 = f"({by_type('15yr')} + ({adj} * {bb}))"

    def amt(pct: str) -> str:
        return f"({total_dep} * {_pct(pct)})"

    return (
        ("total_depreciable", total_dep),
        ("bonus_rate", _sql_bonus_rate(acq)),
        ("building_class", f"(CASE WHEN {is_mf} THEN '27.5yr' ELSE '39yr' END)"),
        ("pis_month", f"month({acq})"),
        ("acq_year", f"year({acq})"),
        ("years_elapsed", f"(year({css}) - year({acq}))"),
        ("amt_5yr", amt(by_type("5yr"))),
        ("amt_7yr", amt(by_type("7yr"))),
        ("amt_15yr", amt(alloc_15)),
        ("amt_bldg", amt(alloc_bldg)),
    )


def with_engine_inputs_rcgv(
    df: DataFrame,
    purchase_price: str = "purchase_price",
    land_value: str = "land_value",
    capex: str = "capex",
    pad: str = "pad",
    deferred_gain: str = "deferred_gain",
    acquisition_date: str = "acquisition_date",
    css_date: str = "css_date",
    property_type: str = "property_type",
    year_built: str = "year_built",
    pools_col: Optional[str] = None,
) -> DataFrame:
    """RCGV-variant stage 1 — differs from :func:`with_engine_inputs` in
    three reference-verified ways:

    - basis EXCLUDES legacy capex when ``capex_items`` pools are present
      (`:209-212`),
    - Excel-matched 8-decimal base allocations, no 7yr for MF (`:246-267`),
    - age adjustment measured at the CSS year, not acquisition year
      (`:270-275`).
    """
    return with_sql(df, _engine_inputs_rcgv_sql(
        purchase_price, land_value, capex, pad, deferred_gain, acquisition_date,
        css_date, property_type, year_built, pools_col or None,
    ))


# ----------------------------------------------------------------------
# D12: legacy simplified schedule generators (named modes)
# ----------------------------------------------------------------------
# engine/quote_calc.py:35-48 — property type → depreciation period
LEGACY_DEP_PERIODS: Dict[str, float] = {
    "Multi-Family": 27.5, "Residential/LTR": 27.5, "Short-Term Rental": 27.5,
    "Office": 39.0, "Retail": 39.0, "Industrial": 39.0, "Warehouse": 39.0,
    "Hotel": 39.0, "Medical": 39.0, "Restaurant": 39.0, "Mixed-Use": 39.0,
    "Other": 39.0,
}
LEGACY_DEP_DEFAULT = 27.5


def legacy_building_value(
    pp: str, land: str, known: str, capex_amount: str,
    capex_yes: Optional[str] = None,
) -> str:
    """building_value = pp − coerced land + capex, as SQL text over SQL
    text. The engine gates capex on the 'Yes' flag
    (engine/quote_calc.py:185); the api path adds it unconditionally
    (service/api.py:75) — pass ``capex_yes`` for the engine form."""
    from .pricing import coerce_land

    cx = f"coalesce(CAST({capex_amount} AS DOUBLE), 0.0D)"
    if capex_yes is not None:
        cx = f"(CASE WHEN {capex_yes} = 'Yes' THEN {cx} ELSE 0.0D END)"
    return f"(({pp} - {coerce_land(pp, land, known)}) + {cx})"


@lru_cache(maxsize=None)
def _legacy_schedule_sql(
    variant: str, bv_col: str, ptype_col: str, rounding: str
) -> Tuple[Tuple[str, ...], Tuple[Tuple[str, str], ...]]:
    """The year-grid select list and the schedule columns over it."""
    rnd = rounder(rounding)
    bv = f"CAST({ident(bv_col)} AS DOUBLE)"
    if variant == "legacy_v1":
        arms = " ".join(
            f"WHEN {ident(ptype_col)} = {lit(k)} THEN {lit(v)}"
            for k, v in LEGACY_DEP_PERIODS.items()
        )
        per = f"(CASE {arms} ELSE {lit(LEGACY_DEP_DEFAULT)} END)"
        grid = (
            f"{per} AS _dy",
            f"explode(sequence(1, (CAST(FLOOR({per}) AS INT) + 1))) AS `year`",
        )
        five = f"({bv} * 0.15D)"
        fifteen = f"({bv} * 0.1D)"
        bldgp = f"({bv} * 0.75D)"
        std = f"(CASE WHEN `year` <= _dy THEN ({bv} / _dy) ELSE 0.0D END)"
        trad5 = (
            f"(CASE WHEN `year` <= 5 THEN ({five} * 0.2D)"
            f" WHEN `year` = 6 THEN (({five} * 0.2D) * 0.5D) ELSE 0.0D END)"
        )
        trad15 = (
            f"(CASE WHEN `year` <= 15 THEN ({fifteen} * 0.1D)"
            f" WHEN `year` = 16 THEN (({fifteen} * 0.1D) * 0.5D) ELSE 0.0D END)"
        )
        tradb = f"(CASE WHEN `year` <= _dy THEN ({bldgp} / _dy) ELSE 0.0D END)"
        trad = f"(({trad5} + {trad15}) + {tradb})"
        bonus = f"(CASE WHEN `year` = 1 THEN (({five} + {fifteen}) + {tradb}) ELSE {tradb} END)"
        return grid, (
            ("cost_seg_est", rnd(trad, 2)),
            ("std_dep", rnd(std, 2)),
            ("trad_cost_seg", rnd(trad, 2)),
            ("bonus_dep", rnd(bonus, 2)),
        )
    if variant != "legacy_v2":
        raise ValueError(f"unknown legacy variant {variant!r}")
    y1_bonus = rnd(f"({bv} * 0.8D)", 2)
    y1_trad = f"({rnd(f'(({bv} * 0.2D) / 27.5D)', 2)} + {rnd(f'(({bv} * 0.8D) / 5)', 2)})"
    annual = rnd(f"(({bv} * 0.2D) / 27)", 2)

    def year1(then: str) -> str:
        return f"(CASE WHEN `year` = 1 THEN {then} ELSE {annual} END)"

    return ("explode(sequence(1, 27)) AS `year`",), (
        ("cost_seg_est", year1(y1_bonus)),
        ("std_dep", rnd(f"({bv} / 27.5D)", 2)),
        ("trad_cost_seg", year1(y1_trad)),
        ("bonus_dep", year1(y1_bonus)),
    )


def legacy_schedule(
    df: DataFrame,
    variant: str = "legacy_v1",
    bv_col: str = "building_value",
    ptype_col: str = "property_type",
    rounding: str = "python",
) -> DataFrame:
    """D12 legacy simplified schedules, superseded by the full MACRS
    engine (D10, SURVEY §7.5) but still served by the reference:

    - ``legacy_v1`` (engine/quote_calc.py:166-257, the /quote/document
      fallback): 15/10/75 split; flat 20%/"200% DB" 5yr with a year-6
      half-year, flat 10% 15yr with a year-16 half-year, straight-line
      building; bonus = 5yr+15yr portions entirely in year 1; period
      27.5/39 by property type; int(period)+1 rows.
    - ``legacy_v2`` (service/api.py:83-116, the /quote endpoint): fixed
      27.5-year standard; year 1 takes 80% of building value as bonus,
      years 2-27 spread the remaining 20% over 27; every component is
      round()ed BEFORE summing (the reference's shape, kept verbatim).

    Association order and rounding points mirror the reference line by
    line so the reference-executed pytest oracles match exactly.
    Shuffle-free: explode(sequence) + literal arithmetic, same plan
    shape as depreciation_schedule (test_plans asserts zero Exchange).
    """
    grid, cols = _legacy_schedule_sql(variant, bv_col, ptype_col, rounding)
    out = with_sql(df.selectExpr("*", *grid), cols)
    return out.drop("_dy") if variant == "legacy_v1" else out
