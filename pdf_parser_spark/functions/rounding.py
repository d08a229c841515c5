"""The reference's three rounding regimes, mapped exactly (SURVEY §1.2).

Byte-identical parity requires reproducing WHICH rounding applies at
WHICH call site:

1. Python ``round(x, 2)`` (engine core, e.g. ``tools/
   pricing_calculator.py:198-204``): round-half-even on the BINARY
   value. Spark's ``F.round``/``F.bround`` operate on the shortest
   decimal string (``BigDecimal.valueOf``) and disagree on values like
   ``818.135`` (binary ≈ 818.13499…, Python → 818.13, F.round →
   818.14). Exact mapping: ``rint(x·10^d)/10^d`` — IEEE half-even on
   the scaled binary value, matching CPython's behavior except for a
   theoretical double-rounding corner in the ``·10^d`` scaling.

2. ``Decimal(str(x)).quantize('0.01', ROUND_HALF_UP)``
   (``round_to_pennies``, ``RCGV .../service/api.py:34-41``): HALF_UP
   on the shortest decimal string — exactly what ``F.round`` does
   (``BigDecimal.valueOf`` uses ``Double.toString``, the same shortest
   round-trip repr as Python ``str``).

3. JS ``Number(x.toFixed(d))`` (``formatters.ts:32-36``): nearest with
   ties-away on the binary value; ties are only hit at dyadic
   rationals, so ``F.round`` (string HALF_UP) agrees on all realistic
   parsed-currency inputs.

Regimes 2 and 3 need no helper: call sites use plain ``F.round``, as
``pricing.compute_pricing(rounding="half_up")`` does. Only regime 1
needs :func:`py_round`.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def py_round(col: Column, decimals: int = 2) -> Column:
    """CPython ``round(x, d)``: nearest at the exact binary value,
    dyadic ties to even — in pure arithmetic (whole-stage codegen'd).

    Naive ``rint(x·10^d)`` double-rounds: 818.134999…·100 lands EXACTLY
    on 81813.5, so rint answers 818.14 where CPython answers 818.13.
    Fix: recover the exact product error with the Dekker/TwoProduct
    error-free transformation (split x at 2^27+1; hi·s and lo·s are
    exact for s ≤ 10^4) and use it to break scaled-domain ties:

        y = fl(x·s),  err = (hi·s − y) + lo·s  (exactly x·s − y)
        frac(y) ≠ .5 → rint(y)            (err can't cross the boundary:
                                           |err| ≤ ½ulp < |frac−.5|)
        frac(y) = .5 → err>0 ⇒ up, err<0 ⇒ down, err=0 ⇒ half-even
    """
    if decimals > 4:
        raise ValueError("py_round supports decimals <= 4 (exact split bound)")
    s = float(10 ** decimals)
    y = col * s
    split = F.lit(134217729.0)  # 2^27 + 1
    t = col * split
    hi = t - (t - col)
    lo = col - hi
    err = (hi * s - y) + lo * s
    k = F.floor(y).cast("double")
    d = y - k
    rint_y = F.call_function("rint", y)
    tie = (
        F.when(err > 0, k + 1.0)
        .when(err < 0, k)
        .otherwise(rint_y)  # true tie → half-even
    )
    rounded = F.when(d == 0.5, tie).otherwise(rint_y)
    # beyond 2^52/s the value is already integral at this scale
    return F.when(F.abs(col) >= F.lit(4.5e15) / s, col).otherwise(rounded / s)

