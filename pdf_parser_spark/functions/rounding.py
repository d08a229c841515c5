"""The reference's three rounding regimes, mapped exactly (SURVEY §1.2).

Byte-identical parity requires reproducing WHICH rounding applies at
WHICH call site:

1. Python ``round(x, 2)`` (engine core, e.g. ``tools/
   pricing_calculator.py:198-204``): round-half-even on the BINARY
   value. Spark's ``F.round``/``F.bround`` operate on the shortest
   decimal string (``BigDecimal.valueOf``) and disagree on values like
   ``818.135`` (binary ≈ 818.13499…, Python → 818.13, F.round →
   818.14). :func:`py_round` maps it exactly: IEEE half-even on the
   scaled binary value, with the ``·10^d`` scaling's rounding error
   recovered so that it cannot move a tie.

2. ``Decimal(str(x)).quantize('0.01', ROUND_HALF_UP)``
   (``round_to_pennies``, ``RCGV .../service/api.py:34-41``): HALF_UP
   on the shortest decimal string — exactly what ``F.round`` does
   (``BigDecimal.valueOf`` uses ``Double.toString``, the same shortest
   round-trip repr as Python ``str``).

3. JS ``Number(x.toFixed(d))`` (``formatters.ts:32-36``): nearest with
   ties-away on the binary value; ties are only hit at dyadic
   rationals, so ``F.round`` (string HALF_UP) agrees on all realistic
   parsed-currency inputs.

Regimes 2 and 3 need no helper: call sites use plain ``round(x, d)``
(``F.round``), as ``pricing.compute_pricing(rounding="half_up")`` does.
Only regime 1 needs :func:`py_round`.
"""

from __future__ import annotations

from typing import Callable

from .sqltext import sqld

# 2^53: every double at or beyond 2^53 / 10^d is its own round(x, d),
# because the doubles there are spaced wider than 10^-d
_EXACT_BOUND = sqld(2.0 ** 53)


def py_round(col: str, decimals: int = 2) -> str:
    """CPython ``round(x, d)`` of the SQL expression ``col``, as SQL text:
    nearest at the exact binary value, dyadic ties to even, in pure
    arithmetic (whole-stage codegen'd). ``col`` is read about ten times,
    so pass a column name or a cheap expression.

    Naive ``rint(x·10^d)`` double-rounds: 818.134999…·100 lands EXACTLY
    on 81813.5, so rint answers 818.14 where CPython answers 818.13.
    Fix: recover the exact product error with the Dekker/TwoProduct
    error-free transformation (split x at 2^27+1; hi·s and lo·s are
    exact for s ≤ 10^4) and use it to break scaled-domain ties:

        y = fl(x·s),  err = (hi·s − y) + lo·s  (exactly x·s − y)
        y not k + .5 → rint(y)          (err can't cross the boundary:
                                         |err| ≤ ½ulp < |frac−.5|)
        y = k + .5   → err>0 ⇒ up, err<0 ⇒ down, err=0 ⇒ half-even

    ``y = k + .5`` needs both tests: ``y − k`` rounds for y in (−1, 0)
    (−0.49999999999999994 − (−1) gives 0.5), and ``k + .5`` rounds
    once y ≥ 2^52. Beyond 2^53 / s, x is returned as is.
    """
    if decimals > 4:
        raise ValueError("py_round supports decimals <= 4 (exact split bound)")
    s = sqld(10 ** decimals)
    y = f"({col} * {s})"
    t = f"({col} * 134217729.0D)"  # 2^27 + 1
    hi = f"({t} - ({t} - {col}))"
    lo = f"({col} - {hi})"
    err = f"((({hi} * {s}) - {y}) + ({lo} * {s}))"
    k = f"CAST(FLOOR({y}) AS DOUBLE)"
    rint_y = f"rint({y})"
    tie = (
        f"(CASE WHEN {err} > 0 THEN ({k} + 1.0D) WHEN {err} < 0 THEN {k}"
        f" ELSE {rint_y} END)"  # true tie → half-even
    )
    is_tie = f"(({y} - {k}) = 0.5D AND {y} = ({k} + 0.5D))"
    rounded = f"(CASE WHEN {is_tie} THEN {tie} ELSE {rint_y} END)"
    return (
        f"(CASE WHEN abs({col}) >= ({_EXACT_BOUND} / {s}) THEN {col}"
        f" ELSE ({rounded} / {s}) END)"
    )


def rounder(rounding: str) -> Callable[[str, int], str]:
    """The regime a stage's ``rounding`` parameter names, as a text
    builder: ``python`` is :func:`py_round`; anything else is Spark's
    decimal-string HALF_UP ``round`` (regimes 2 and 3)."""
    if rounding == "python":
        return py_round
    return lambda x, d: f"round({x}, {int(d)})"
