"""Order-independent, engine-portable numeric aggregation helpers.

Two distinct hazards are handled here:

1. Floating-point sums depend on accumulation order, which depends on
   partitioning — so a double sum can flip at a .xx5 boundary between
   two correct runs. Fix: accumulate in DECIMAL (exact, associative,
   order-independent).

2. Rounding a *double* is not engine-portable. Spark's ``round(double)``
   rounds the shortest decimal representation HALF_UP (via Java
   ``BigDecimal.valueOf``), while DuckDB rounds the binary value — for
   the exact decimal sum 286569301.895 (double ≈ …89499998) Spark says
   .90 and DuckDB says .89 (observed: driver hash FAIL on
   q_pricing_summary, round 1). Fix: round while still in DECIMAL
   space — both engines round decimals half-away-from-zero (verified
   for both signs) — and cast to double exactly once at the end. A
   decimal→double cast is correctly rounded in both engines (Spark via
   ``BigDecimal.doubleValue``; DuckDB via int128/10^scale, exact while
   the unscaled value < 2^53), so the doubles are bit-identical.

For averages we do NOT round at all: the exact decimal sum casts to a
bit-identical double on both engines, and IEEE double/int64 division is
deterministic — so the unrounded quotient already hashes identically,
with no portable-rounding question to answer.

At scale this is also the right call: decimal partial aggregation is
codegen'd JVM arithmetic, and exactness survives any AQE re-plan.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(28,8)"


def dsum(col: Column, scale: int = 2) -> Column:
    """Deterministic, engine-portable sum of a double expression:
    decimal-accumulate, round the DECIMAL, cast to double once."""
    return F.round(F.sum(col.cast(DEC)), scale).cast("double")
