"""ANSI-SQL generators for the DuckDB oracles in ``__spark_entry__.py``.

Every oracle is generated FROM THE SAME literal tier/table data the
Spark engine uses (pricing.py / depreciation.py module constants), so
the two sides can only agree if the Spark expression semantics are
right — the data is shared, the computation is independent.

Float-parity rules baked in here (rehearsed by scripts/check_oracle.py and tests/test_entry_contract.py):
- literals are emitted with ``repr(float)`` — shortest round-trip, so
  DuckDB parses the bit-identical double Spark folds;
- arithmetic is emitted in the SAME association order as the Spark
  expression trees (both engines evaluate IEEE doubles left-to-right);
- int→int division never relies on engine casts (DuckDB rounds
  double→int casts, Spark truncates — always ``floor()`` first).
"""

from __future__ import annotations

from typing import Dict, List, Optional, Sequence, Tuple

from . import depreciation as dep
from . import pricing


def flit(x: float) -> str:
    """Shortest round-trip literal, cast to DOUBLE — DuckDB parses bare
    float literals as DECIMAL, which would poison downstream arithmetic
    with decimal semantics; the cast reparses the identical double."""
    return f"CAST({repr(float(x))} AS DOUBLE)"


# ----------------------------------------------------------------------
# tier-chain CASE generators (mirror pricing.ge_chain / le_chain_with_zero
# / map_chain exactly: first match wins)
# ----------------------------------------------------------------------
def sql_ge_chain(x: str, tiers: Sequence[Tuple[Optional[float], float]]) -> str:
    whens = []
    tail = None
    for t, factor in tiers:
        if t is None:
            tail = flit(factor)
        else:
            whens.append(f"WHEN {x} >= {flit(t)} THEN {flit(factor)}")
    return "(CASE " + " ".join(whens) + f" ELSE {tail} END)"


def sql_le_chain_with_zero(
    x: str, zero_factor: float, le_tiers: Sequence[Tuple[float, float]],
    ge_tail: Tuple[float, float], else_factor: float,
) -> str:
    parts = [f"WHEN {x} = 0.0 THEN {flit(zero_factor)}"]
    for t, factor in le_tiers:
        parts.append(f"WHEN {x} <= {flit(t)} THEN {flit(factor)}")
    parts.append(f"WHEN {x} >= {flit(ge_tail[0])} THEN {flit(ge_tail[1])}")
    return "(CASE " + " ".join(parts) + f" ELSE {flit(else_factor)} END)"


def sql_map_chain(x: str, mapping: Dict[str, float], default: float) -> str:
    whens = " ".join(f"WHEN {x} = '{k}' THEN {flit(v)}" for k, v in mapping.items())
    return f"(CASE {whens} ELSE {flit(default)} END)"


def sql_sqft_factor(x: str, version: str) -> str:
    if version == "v1":
        return sql_le_chain_with_zero(
            x, pricing.SQFT_V1_ZERO, pricing.SQFT_V1_LE, pricing.SQFT_V1_GE_TAIL, pricing.SQFT_V1_ELSE
        )
    inner = sql_ge_chain(x, pricing.SQFT_V2_GE)
    return f"(CASE WHEN {x} = 0.0 THEN {flit(pricing.SQFT_V2_ZERO)} ELSE {inner} END)"


def sql_acres_factor(x: str) -> str:
    return sql_le_chain_with_zero(
        x, pricing.ACRES_ZERO, pricing.ACRES_LE, pricing.ACRES_GE_TAIL, pricing.ACRES_ELSE
    )


def sql_zip_factor(x: str, version: str) -> str:
    if version == "v1":
        return flit(1.0)
    return sql_ge_chain(f"CAST({x} AS DOUBLE)", pricing.ZIP_V2)


def sql_logistic_bid(bv: str) -> str:
    return (
        f"({flit(pricing.LOGISTIC_L)} / (1.0 + exp({flit(-pricing.LOGISTIC_K)}"
        f" * ({bv} - {flit(pricing.LOGISTIC_X0)}) * 0.001)))"
    )


# ----------------------------------------------------------------------
# MACRS tables as SQL list literals (mirror depreciation._sql_hy_pct_cls
# and _sql_mm_pct)
# ----------------------------------------------------------------------
def _sql_list(vals: List[float]) -> str:
    return "CAST([" + ", ".join(repr(float(v)) for v in vals) + "] AS DOUBLE[])"


def _sql_list2(rows: List[List[float]]) -> str:
    return (
        "CAST(["
        + ", ".join("[" + ", ".join(repr(float(v)) for v in r) + "]" for r in rows)
        + "] AS DOUBLE[][])"
    )


def sql_hy_pct(asset_class: str, year: str, accumulated: bool) -> str:
    """list_extract mirror of depreciation._sql_hy_pct_cls (same prefix
    floats)."""
    vals = dep.HY_TABLES[asset_class]
    arr = dep._prefix(vals) if accumulated else vals
    got = f"list_extract({_sql_list(arr)}, CAST({year} AS INT))"
    if accumulated:
        beyond = flit(dep._prefix(vals)[-1])
        return (
            f"(CASE WHEN {year} <= 0 THEN 0.0 WHEN {year} > {len(vals)} THEN {beyond}"
            f" ELSE {got} END)"
        )
    return f"(CASE WHEN {year} BETWEEN 1 AND {len(vals)} THEN coalesce({got}, 0.0) ELSE 0.0 END)"


def sql_mm_pct(building_class: str, year: str, month: str, accumulated: bool) -> str:
    """CASE-per-class mirror of depreciation._sql_mm_pct."""
    branches = []
    for cls in ("27.5yr", "39yr", "30yr", "40yr"):
        rows = dep._mm_rows(cls, accumulated)
        n_years = len(rows)
        arr = _sql_list2(rows)
        got = f"list_extract(list_extract({arr}, CAST({year} AS INT)), CAST({month} AS INT))"
        if accumulated:
            beyond = f"list_extract(list_extract({arr}, {n_years}), CAST({month} AS INT))"
            val = (
                f"(CASE WHEN {year} <= 0 THEN 0.0 WHEN {year} > {n_years} THEN {beyond}"
                f" ELSE {got} END)"
            )
        else:
            val = f"(CASE WHEN {year} BETWEEN 1 AND {n_years} THEN coalesce({got}, 0.0) ELSE 0.0 END)"
        branches.append(f"WHEN {building_class} = '{cls}' THEN {val}")
    return "(CASE " + " ".join(branches) + " ELSE NULL END)"


def sql_bonus_rate(acq: str) -> str:
    """Mirror of depreciation._sql_bonus_rate (ordered first-match)."""
    whens = []
    for start, end, rate in dep.BONUS_SCHEDULE:
        if end is None:
            cond = f"{acq} >= DATE '{start.isoformat()}'"
        else:
            cond = f"({acq} >= DATE '{start.isoformat()}' AND {acq} <= DATE '{end.isoformat()}')"
        whens.append(f"WHEN {cond} THEN {flit(rate)}")
    return "(CASE " + " ".join(whens) + " ELSE 0.0 END)"


# ----------------------------------------------------------------------
# depreciation engine per-class expressions (mirror depreciation's
# _sql_short_year_dep / _sql_short_acc_dep / _sql_bldg_* / _sql_standard_dep
# exactly, same association order)
# ----------------------------------------------------------------------
def sql_short_year_dep(amt: str, bonus: str, cls: str, year: str) -> str:
    b = f"({bonus} / 100.0)"
    pct1 = sql_hy_pct(cls, "1", False)
    pcty = sql_hy_pct(cls, year, False)
    year1 = f"({amt} * {b} + {amt} * (1.0 - {b}) * {pct1} / 100.0)"
    later = f"({amt} * (1.0 - {b}) * {pcty} / 100.0)"
    return (
        f"(CASE WHEN {amt} = 0.0 THEN 0.0"
        f" WHEN {bonus} = 100.0 THEN (CASE WHEN {year} = 1 THEN {amt} ELSE 0.0 END)"
        f" WHEN {year} = 1 THEN {year1}"
        f" ELSE {later} END)"
    )


def sql_short_acc_dep(amt: str, bonus: str, cls: str, years: str) -> str:
    b = f"({bonus} / 100.0)"
    pct = sql_hy_pct(cls, years, True)
    acc = f"({amt} * {b} + {amt} * (1.0 - {b}) * {pct} / 100.0)"
    return (
        f"(CASE WHEN {amt} = 0.0 OR {years} = 0 THEN 0.0"
        f" WHEN {bonus} = 100.0 THEN {amt}"
        f" ELSE {acc} END)"
    )


def sql_bldg_year_dep(amt: str, cls: str, year: str, month: str) -> str:
    pct = sql_mm_pct(cls, year, month, False)
    return f"(CASE WHEN {amt} = 0.0 THEN 0.0 ELSE {amt} * {pct} / 100.0 END)"


def sql_bldg_acc_dep(amt: str, cls: str, years: str, month: str) -> str:
    pct = sql_mm_pct(cls, years, month, True)
    return f"(CASE WHEN {amt} = 0.0 OR {years} = 0 THEN 0.0 ELSE {amt} * {pct} / 100.0 END)"


def sql_standard_dep(total: str, cls: str, years: str, month: str) -> str:
    pct = sql_mm_pct(cls, years, month, True)
    return f"({total} * {pct} / 100.0)"


def sql_round2(x: str) -> str:
    """Match Spark ``F.round(x, 2)`` exactly in DuckDB.

    F.round = HALF_UP on the SHORTEST ROUND-TRIP decimal repr
    (``BigDecimal.valueOf``). DuckDB's ``round(DOUBLE, 2)`` is
    ``std::round`` on the scaled binary value instead — disagrees on
    decimal-ish doubles (e.g. odd-cent / 2). Route through VARCHAR
    (shortest repr, same digits as Java) → DECIMAL → decimal round
    (half-away == HALF_UP for positives).

    Scale 18, not 12: a repr like ``1366.3149999999998`` carries 13
    fractional digits — a DECIMAL(…,12) cast re-rounds digit 13 UP into
    an exact ``…315`` tie that Java's full-repr HALF_UP never sees
    (found live at sf0.1: 1366.32 vs Spark's 1366.31). 18 fractional
    digits hold the full 17-significant-digit repr for every magnitude
    ≥ 0.01, and sub-cent values cannot manufacture a 2-decimal tie.
    """
    return f"CAST(round(CAST(CAST({x} AS VARCHAR) AS DECIMAL(38,18)), 2) AS DOUBLE)"


def repr_rounds(sql: str) -> str:
    """Rewrite every ``round(expr, 2)`` in a generated oracle to the
    repr-exact form (``sqlgen.sql_round2``). The depreciation tables
    hold 3-decimal percentages, so scaled-tie values (x.xx5) are COMMON
    — DuckDB's binary std::round and Spark's repr-based F.round then
    disagree systematically, not rarely (seen live: ADS std_dep
    122597.305). Matching F.round exactly removes the coin flips."""
    out = []
    i = 0
    needle = "round("
    while True:
        j = sql.find(needle, i)
        while j > 0 and (sql[j - 1].isalnum() or sql[j - 1] in "._"):
            j = sql.find(needle, j + 1)
        if j < 0:
            out.append(sql[i:])
            break
        out.append(sql[i:j])
        depth = 0
        k = j + len(needle) - 1
        while True:
            if sql[k] == "(":
                depth += 1
            elif sql[k] == ")":
                depth -= 1
                if depth == 0:
                    break
            k += 1
        inner = sql[j + len(needle): k]
        assert inner.endswith(", 2"), f"unexpected round arity: {inner[-20:]}"
        out.append(sql_round2(inner[:-3]))
        i = k + 1
    return "".join(out)
