"""Exact `multipleOf` semantics (AssertionDivisible).

The reference divides exactly (/root/reference/vendor/core/src/core/json/
json_value.cc:801-857). One rule does it here, in the JVM: the divisor is
k = p/q in lowest terms, and the value is read as a decimal m·10^t with
integer m and t:

- an integer-typed value n exactly, as m = n and t = 0 (bigint or
  decimal(38,0));
- a real by the shortest decimal text of its double that reads back as
  that double: 15 or 16 significant digits when one of them does, else
  Java's ``Double.toString`` (17 digits, or more where JDK 17 misses the
  shortest).

m·10^t is a multiple of p/q exactly when D(t) divides m, where D(t) =
p / gcd(p, 10^t) for t >= 0 and p·10^-t / gcd(10^-t, q) for t < 0 (p and q
share no factor). D(t) is a constant past the 2s and 5s of p, and grows
beyond any m of a real's reading for a t far enough below zero, so it is
a small literal table indexed by t.
"""

from __future__ import annotations

from decimal import Decimal
from fractions import Fraction
from math import gcd

from pyspark.sql import Column, functions as F

_REAL_M = 10**18  # a real's reading has |m| below this
_NUMBER = r"^(-?[0-9]+)(?:\.([0-9]+))?(?:[eE]([-+]?[0-9]+))?$"


def _divisor_at(p: int, q: int, t: int) -> int:
    """D(t): m·10^t is a multiple of p/q iff D(t) divides m."""
    if t >= 0:
        return p // gcd(p, 10**t)
    return p * 10**-t // gcd(10**-t, q)


def _int_ok(n: Column, p: int) -> Column:
    if p >= 10**38:  # beyond every decimal(38,0): only 0 divides
        return n == F.lit(0)
    return F.try_mod(n, F.lit(p if p < 2**63 else Decimal(p))) == F.lit(0)


def _real_text(d: Column) -> Column:
    cands = [F.format_string(f"%.{digits - 1}e", d) for digits in (15, 16)]
    return F.coalesce(*[F.when(c.try_cast("double") == d, c) for c in cands], d.cast("string"))


def _real_ok(d: Column, p: int, q: int) -> Column:
    text = _real_text(d.cast("double"))
    frac = F.regexp_extract(text, _NUMBER, 2)
    m = F.concat(F.regexp_extract(text, _NUMBER, 1), frac).try_cast("bigint")
    t = F.coalesce(F.regexp_extract(text, _NUMBER, 3).try_cast("int"), F.lit(0)) - F.length(frac)
    lo = hi = 0
    while _divisor_at(p, q, lo - 1) < _REAL_M:  # D grows as t falls
        lo -= 1
    while _divisor_at(p, q, hi + 1) != _divisor_at(p, q, hi):  # until p's 2s and 5s are spent
        hi += 1
    # a 0 entry below lo, and for a D no m of a real's reading reaches: only 0 divides
    table = [0] + [x if x < _REAL_M else 0 for x in (_divisor_at(p, q, e) for e in range(lo, hi + 1))]
    at = F.least(F.greatest(t - F.lit(lo - 2), F.lit(1)), F.lit(len(table)))
    div = F.element_at(F.array(*[F.lit(x) for x in table]), at)
    return F.coalesce(F.try_mod(m, div) == F.lit(0), m == F.lit(0), F.lit(False))


def divisible_ok(col: Column | None, k, exact: Column | None = None) -> Column:
    """Boolean Column: the numeric value is a multiple of the constant k.

    ``exact`` reads the value as an exact integer (bigint or decimal(p,0))
    where it is integer-typed and is NULL elsewhere; ``col`` reads it as a
    number, and is None when ``exact`` is never NULL. ``try_mod`` cannot
    abort the job, so 2^53+1 is odd, and a real beyond int64 (1e40) is
    read by its decimal digits, not by its binary double."""
    r = Fraction(str(k))
    p, q = abs(r.numerator), r.denominator
    if p == 0:
        return F.lit(False)
    if exact is None:
        return _real_ok(col, p, q)
    if col is None:
        return _int_ok(exact, p)
    return F.coalesce(_int_ok(exact, p), _real_ok(col, p, q))


def divisible_duckdb(col_sql: str, k, col_is_integer: bool) -> str:
    """Same predicate in DuckDB SQL (decimal-exact via DECIMAL casts)."""
    if isinstance(k, int) or (isinstance(k, float) and k.is_integer()):
        if col_is_integer:
            return f"(({col_sql} % {int(k)}) = 0)"
        return f"(({col_sql} / {int(k)}) = floor({col_sql} / {int(k)}))"
    # k = m / 2^a: x * 2^a / m is exact in doubles
    a = next((a for a in range(32) if (float(k) * (1 << a)).is_integer()), None)
    if a is not None:
        m = float(k) * (1 << a)
        return (
            f"(({col_sql} * {float(1 << a)} / {m}) = "
            f"floor({col_sql} * {float(1 << a)} / {m}))"
        )
    return f"((CAST({col_sql} AS DECIMAL(38,12)) % CAST({k} AS DECIMAL(38,12))) = 0)"
