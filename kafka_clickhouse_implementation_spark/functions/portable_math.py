"""Portable transcendental kernels: exp/sin/cos/asin as LITERAL-
coefficient polynomials over IEEE primitives (+ - * / sqrt floor CASE),
emitted as SQL text that parses and evaluates BIT-IDENTICALLY in Spark
and DuckDB.

Why: libm exp/sin/asin are not correctly rounded, and they differ
between java.lang.Math and DuckDB's libm. The repo's original recipe
(quantize AFTER the transcendental, guard-band-test the margins) is
only as safe as the data: round 8's tools/guard_band.py found an
exp-decay value 4.2e-7 from its floor boundary at sf0.1 and geo
margins of 3.8e-6 at sf1 — inside the observed cross-libm disagreement
scale. These kernels remove the risk CLASS: both engines execute the
exact same finite sequence of correctly-rounded IEEE ops, so the
doubles (and every downstream floor) are equal BY CONSTRUCTION, with
no dependence on data margins.

Numerical design (truncation is consistency-irrelevant — both engines
share it — but kept ≤1e-15 relative so pytest can pin the kernels
against stdlib math at 1e-11):
- pexp_neg:  exp(-x), x>=0: n=floor(x), f=x-n; exp(-n) from a 45-entry
  literal table covering n=0..44 (from n=45 on the kernel returns 0.0
  exactly; 1e9*exp(-45) < 1 floors to 0 anyway), exp(-f) as the
  18-term alternating Taylor Horner.
- psin/pcos: |x| <= pi: Taylor in x^2, 16 terms (remainder ~ pi^33/33!
  ≈ 3e-21).
- pasin:     z in [0,1]: z*A(z^2) for z<=0.7 (61-term Gauss series,
  remainder ~1e-22 at 0.49); else pi/2 - 2*u*A(u^2), u=sqrt((1-z)/2)
  <= 0.39 — the classic half-angle reduction that keeps the series in
  its fast-convergence region. The 0.7 branch compare is on identical
  doubles, so branch choice is engine-invariant.

Callers bind each polynomial argument to a NAMED COLUMN first (CTE
stage / selectExpr stage) — the Horner text references the column ~60
times, which is free for a column but would explode the plan if it
were a nested subtree.

Coefficients are Python-float exact (big-int ratios correctly rounded
once) and serialized with repr(), which round-trips to the identical
double under both engines' decimal parsers.
"""

from __future__ import annotations

import math

def _dlit_fwd(x: float) -> str:
    """Forward declaration of dlit() (public def below keeps its
    docstring next to the LN kernel that motivated it): a literal BOTH
    engines parse as DOUBLE — repr, 'e0'-suffixed when repr lacks an
    exponent marker, so the value is unchanged."""
    r = repr(float(x))
    return r if ("e" in r or "E" in r) else r + "e0"


PI = _dlit_fwd(math.pi)
PI_2 = _dlit_fwd(math.pi / 2.0)
PI180 = _dlit_fwd(math.pi / 180.0)


def horner(var: str, coeffs: list[str]) -> str:
    """((c0 + v*(c1 + v*(...)))) — explicit parens, left-to-right, so
    both parsers build the identical evaluation tree."""
    expr = coeffs[-1]
    for c in reversed(coeffs[:-1]):
        expr = f"({c} + {var} * {expr})"
    return expr


# Every coefficient literal goes through dlit (= _dlit_fwd above) so it
# parses as DOUBLE in BOTH engines BY CONSTRUCTION — bare repr()
# decimals parse as DECIMAL and correctness would rest on each engine's
# DECIMAL->DOUBLE promotion being correctly rounded, exactly the
# conversion class dcast() exists to distrust (round-10 advisory).
# dlit only appends an 'e0' exponent marker when repr lacks one, so the
# parsed double value is unchanged.
# exp(-f), f in [0,1): sum (-1)^k f^k / k!
EXP_COEFFS = [_dlit_fwd((-1) ** k / math.factorial(k)) for k in range(18)]
# sin(x) = x * S(x^2): S = sum (-1)^k t^k / (2k+1)!
SIN_COEFFS = [_dlit_fwd((-1) ** k / math.factorial(2 * k + 1)) for k in range(16)]
# cos(x) = C(x^2): C = sum (-1)^k t^k / (2k)!
COS_COEFFS = [_dlit_fwd((-1) ** k / math.factorial(2 * k)) for k in range(16)]
# asin(z) = z * A(z^2): A = sum comb(2k,k) / (4^k (2k+1)) t^k
ASIN_COEFFS = [
    _dlit_fwd(math.comb(2 * k, k) / (4**k * (2 * k + 1))) for k in range(61)
]

_EXP_N_MAX = 45
_EXP_TABLE = [_dlit_fwd(math.exp(-n)) for n in range(_EXP_N_MAX)]


def exp_int_case(n_col: str) -> str:
    """exp(-n) for integer column 0 <= n, as a literal CASE chain
    (identical text in both engines — no array accessor divergence)."""
    whens = " ".join(
        f"WHEN {n_col} = {n} THEN {v}" for n, v in enumerate(_EXP_TABLE)
    )
    return f"(CASE {whens} ELSE 0.0 END)"


def pexp_neg(n_col: str, f_col: str) -> str:
    """exp(-(n+f)) given bound integer/fraction columns."""
    return f"({exp_int_case(n_col)} * {horner(f_col, EXP_COEFFS)})"


def psin(x_col: str, t_col: str) -> str:
    """sin(x) given x and a bound t = x*x column; |x| <= pi."""
    return f"({x_col} * {horner(t_col, SIN_COEFFS)})"


def pcos(t_col: str) -> str:
    """cos(x) given a bound t = x*x column; |x| <= pi."""
    return horner(t_col, COS_COEFFS)


_ASIN_CHUNK = 16


def _chunked_horner(var: str, var16: str, coeffs: list[str]) -> str:
    """Horner in 16-coefficient chunks stitched with a bound t^16
    column — same value ordering as a flat Horner would give chunk by
    chunk, but expression depth stays under DuckDB's 128-deep binder
    recursion limit (a flat 61-term nest exceeds it)."""
    chunks = [coeffs[i : i + _ASIN_CHUNK] for i in range(0, len(coeffs), _ASIN_CHUNK)]
    expr = horner(var, chunks[-1])
    for ch in reversed(chunks[:-1]):
        expr = f"({horner(var, ch)} + {var16} * {expr})"
    return expr


def pasin(
    z_col: str, tz_col: str, tz16_col: str, u_col: str, tu_col: str, tu16_col: str
) -> str:
    """asin(z), z in [0,1], given bound columns z, tz=z*z, tz16=tz^16
    (via repeated squaring), u=sqrt((1-z)/2), tu=u*u, tu16=tu^16."""
    small = f"({z_col} * {_chunked_horner(tz_col, tz16_col, ASIN_COEFFS)})"
    large = (
        f"({PI_2} - 2.0 * ({u_col} * {_chunked_horner(tu_col, tu16_col, ASIN_COEFFS)}))"
    )
    return f"(CASE WHEN {z_col} > 0.7 THEN {large} ELSE {small} END)"


# ---------------------------------------------------------------------------
# pln: ln(p) for p in [2^-64, 1] (round 9 — needed by the unigram-LM
# tokenizer's Viterbi scores, where a last-ulp libm disagreement would
# flip a DISCRETE argmax, not just nudge a sum: the floor-guard-band
# recipe is not acceptable there).
#
# Exact-reduction design: e = the unique integer with m = p * 2^-e in
# [1, 2), found by a 65-branch CASE ladder comparing against EXACT
# power-of-two literals (comparisons on identical doubles — branch
# choice engine-invariant); m = p * 2^-e is an EXACT scaling (power-of-
# two multiply, no rounding); ln(m) = 2*atanh(t), t = (m-1)/(m+1) in
# [0, 1/3], as a 20-term odd series in t^2 (term ratio <= 1/9 —
# remainder ~ 9^-20); ln(p) = e*ln2 + 2*t*L(t^2) with ln2 a literal.
# Identical expression text on both engines => identical doubles =>
# every downstream floor is equal BY CONSTRUCTION.
# ---------------------------------------------------------------------------

def dlit(x: float) -> str:
    """A literal BOTH engines parse as DOUBLE: scientific notation.
    Plain decimal literals ('0.5', '-1.0') parse as DECIMAL in DuckDB
    (and Spark), which is only harmless when a double column appears in
    the same expression; a literal-times-literal product (e * ln2)
    stays DECIMAL and overflows. 'e0'-suffixing forces DOUBLE with the
    identical value. (Same function as _dlit_fwd above, which exists so
    the module-top coefficient tables can use it before this public
    definition.)"""
    return _dlit_fwd(x)


LN2 = dlit(math.log(2.0))
_LN_E_MIN = -64
# L(s) = 1 + s/3 + s^2/5 + ...  (atanh series over t^2)
LN_COEFFS = [dlit(1.0 / (2 * k + 1)) for k in range(20)]
# 2^-e for e = 0..-64 — exact double literals (repr round-trips)
_POW2 = [dlit(2.0**k) for k in range(0, -(_LN_E_MIN) + 1)]


def ln_exp_case(p_col: str) -> str:
    """e (as a DOUBLE-typed integer CASE) with p * 2^-e in [1,2);
    domain p in [2^-64, 1]. The >= boundaries are exact powers of two,
    so the chosen branch is identical on identical doubles."""
    whens = " ".join(
        f"WHEN {p_col} >= {dlit(2.0 ** (-k))} THEN {dlit(float(-k))}"
        for k in range(0, -_LN_E_MIN)
    )
    return f"(CASE {whens} ELSE {dlit(float(_LN_E_MIN))} END)"


def ln_scale_case(p_col: str) -> str:
    """2^-e for the same ladder — the exact scaling that maps p to m."""
    whens = " ".join(
        f"WHEN {p_col} >= {dlit(2.0 ** (-k))} THEN {_POW2[k]}"
        for k in range(0, -_LN_E_MIN)
    )
    return f"(CASE {whens} ELSE {_POW2[-_LN_E_MIN]} END)"


def pln(e_col: str, t_col: str, t2_col: str) -> str:
    """ln(p) given bound columns e (ln_exp_case), t = (m-1)/(m+1) with
    m = p * ln_scale_case(p), and t2 = t*t."""
    return (
        f"({e_col} * {LN2} + 2.0e0 * ({t_col} * {horner(t2_col, LN_COEFFS)}))"
    )


def pln_py(p: float) -> float:
    """Pure-Python reference (third IEEE engine) for pytest pinning."""
    e = 0
    while p < 2.0**e and e > _LN_E_MIN:
        e -= 1
    m = p * (2.0**-e)
    t = (m - 1.0) / (m + 1.0)
    return float(LN2) * e + 2.0 * (t * _horner_py(t * t, LN_COEFFS))


# ---------------------------------------------------------------------------
# dcast: correctly-rounded wide-integer -> DOUBLE (round 9).
#
# DuckDB's CAST(HUGEINT AS DOUBLE) is NOT correctly rounded (measured:
# ~2% of random 64-76-bit integers differ from the correctly-rounded
# value by 1 ulp), while Spark's DECIMAL -> DOUBLE goes through
# BigDecimal.doubleValue and IS correctly rounded — so any exact
# integer accumulator that exceeds 2^53 and is cast to DOUBLE can
# hash-diverge between the engines (first observed on q_skew_kurt's
# third/fourth central-moment sums after a testdata regeneration moved
# one cohort onto a mis-rounded value).
#
# The split cast removes the engine dependence: s = sign * (hi*2^40 +
# lo) with hi = abs(s) div 2^40 and lo = abs(s) % 2^40, both exact in
# DOUBLE (hi < 2^53 for |s| < 2^93, lo < 2^40), hi*2^40 exact
# (power-of-two multiply), so the single IEEE add rounds ONCE — the
# result is the correctly rounded double of s on any IEEE engine, by
# construction. Domain |s| < 2^93; callers' accumulators are far
# smaller (milli-unit fourth powers at 10^12 rows reach ~2^80).
# ---------------------------------------------------------------------------

_DC_SHIFT = 2**40


def dcast(expr: str, dialect: str = "spark") -> str:
    """Correctly-rounded DOUBLE of a wide exact-integer SQL expression
    (DECIMAL(38,0) on Spark, HUGEINT on DuckDB); |value| < 2^93.

    Dialect differences: the integer-division spelling (Spark `div`,
    DuckDB `//`), and the DuckDB side first casts to HUGEINT — DuckDB
    `//` on DECIMAL operands is FLOAT division + floor (measured: not
    even integral), while HUGEINT `//` is exact; DECIMAL(38,0) ->
    HUGEINT is itself exact (both int128-backed). Every step is then
    EXACT integer arithmetic on nonnegative operands until the final
    add, so the value is engine-identical by construction."""
    idiv = "div" if dialect == "spark" else "//"
    a = (
        f"abs({expr})"
        if dialect == "spark"
        else f"abs(CAST({expr} AS HUGEINT))"
    )
    mag = (
        f"(CAST({a} {idiv} {_DC_SHIFT} AS DOUBLE) * {float(_DC_SHIFT)!r}e0"
        f" + CAST({a} % {_DC_SHIFT} AS DOUBLE))"
    )
    return f"(CASE WHEN {expr} < 0 THEN -{mag} ELSE {mag} END)"


# pure-Python references for pytest pinning (same algorithm, evaluated
# by the CPython float engine — a THIRD independent IEEE implementation)
def pexp_neg_py(x: float) -> float:
    n = math.floor(x)
    if n >= _EXP_N_MAX:
        return 0.0
    f = x - float(n)
    acc = float(EXP_COEFFS[-1])
    for c in reversed(EXP_COEFFS[:-1]):
        acc = float(c) + f * acc
    return float(_EXP_TABLE[int(n)]) * acc


def _horner_py(t: float, coeffs: list[str]) -> float:
    acc = float(coeffs[-1])
    for c in reversed(coeffs[:-1]):
        acc = float(c) + t * acc
    return acc


def psin_py(x: float) -> float:
    return x * _horner_py(x * x, SIN_COEFFS)


def pcos_py(x: float) -> float:
    return _horner_py(x * x, COS_COEFFS)


def _pow16_py(t: float) -> float:
    t2 = t * t
    t4 = t2 * t2
    t8 = t4 * t4
    return t8 * t8


def _chunked_horner_py(t: float, t16: float, coeffs: list[str]) -> float:
    chunks = [coeffs[i : i + _ASIN_CHUNK] for i in range(0, len(coeffs), _ASIN_CHUNK)]
    acc = _horner_py(t, chunks[-1])
    for ch in reversed(chunks[:-1]):
        acc = _horner_py(t, ch) + t16 * acc
    return acc


def pasin_py(z: float) -> float:
    if z > 0.7:
        u = math.sqrt((1.0 - z) / 2.0)
        tu = u * u
        return float(PI_2) - 2.0 * (u * _chunked_horner_py(tu, _pow16_py(tu), ASIN_COEFFS))
    tz = z * z
    return z * _chunked_horner_py(tz, _pow16_py(tz), ASIN_COEFFS)
