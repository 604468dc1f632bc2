"""Exact `multipleOf` semantics (AssertionDivisible).

The reference uses an exactness ladder (/root/reference/vendor/core/src/core/
json/json_value.cc:801-857): int % int, the real-divisor-with-exact-binary-
representation case, then arbitrary-precision decimal. We mirror it with
strategy selection at compile time:

1. integer divisor k                       → `try_mod(n, k) == 0` over the
   exact integer reading n of an integer-typed value, over doubles
   otherwise (pure codegen)
2. divisor k = m / 2^a                     → `(col * 2^a) % m == 0` (pure
   codegen)
3. general real divisor                    → Arrow-batched pandas UDF doing
   exact decimal arithmetic on the shortest-repr string of the float
"""

from __future__ import annotations

from decimal import Decimal

import pandas as pd
from pyspark.sql import Column, functions as F
from pyspark.sql.types import BooleanType


def _pow2_scale(k: float) -> int | None:
    """If k = m / 2^a for integers m, a with small a, return a (so that
    x/k integrality can be tested exactly via (x * 2^a) % m)."""
    for a in range(0, 32):
        scaled = k * (1 << a)
        if scaled == int(scaled):
            return a
    return None


def divisible_ok(col: Column | None, k, exact: Column | None = None) -> Column:
    """Boolean Column: value at `col` (numeric) is divisible by constant k.

    ``exact`` reads the value as an exact integer (bigint or decimal(p,0))
    where it is integer-typed and is NULL elsewhere; ``col`` is None when
    ``exact`` is never NULL, and a divisor that is not an integer then
    reads ``exact`` as a double. An integer divisor takes the remainder of
    ``exact`` with ``try_mod``, which cannot abort the job, so 2^53+1 is
    odd. A real instance is tested by its double remainder: the floating
    `%` is exact (like C's fmod), and x * 2^a is exact too, so a value
    beyond int64 (1e20) divides by 2 and not by 3. The quotient is no test:
    it rounds, and every double above 2^53 is integral."""
    if isinstance(k, int) or (isinstance(k, float) and k.is_integer()):
        ki = int(k)
        if exact is not None:
            if abs(ki) >= 10**38:  # beyond every decimal(38,0): only 0 divides
                exact_ok = exact == F.lit(0)
            else:
                exact_ok = F.try_mod(exact, F.lit(ki if -(2**63) <= ki < 2**63 else Decimal(ki))) == F.lit(0)
            if col is None:
                return exact_ok
            return F.coalesce(exact_ok, col.cast("double") % F.lit(float(ki)) == F.lit(0.0))
        return col.cast("double") % F.lit(float(ki)) == F.lit(0.0)
    col = exact if col is None else col
    a = _pow2_scale(float(k))
    if a is not None:
        m = float(k) * (1 << a)  # integer-valued by construction
        return col.cast("double") * F.lit(float(1 << a)) % F.lit(m) == F.lit(0.0)
    return _divisible_decimal(col.cast("double"), F.lit(float(k)))


@F.pandas_udf(BooleanType())
def _divisible_decimal(x: pd.Series, k: pd.Series) -> pd.Series:
    """Exact decimal fallback (reference Decimal::divisible_by analogue).

    Arrow-batched; uses the shortest decimal repr of each float so 0.3 /
    0.1 style cases resolve the way a human (and the reference's decimal
    type) expects.
    """
    from decimal import Decimal

    def ok(xv, kv):
        if xv is None or kv is None:
            return None
        try:
            return (Decimal(repr(float(xv))) % Decimal(repr(float(kv)))) == 0
        except Exception:
            return False

    return pd.Series([ok(a, b) for a, b in zip(x, k)], dtype="object")


def divisible_duckdb(col_sql: str, k, col_is_integer: bool) -> str:
    """Same predicate in DuckDB SQL (decimal-exact via DECIMAL casts)."""
    if isinstance(k, int) or (isinstance(k, float) and k.is_integer()):
        if col_is_integer:
            return f"(({col_sql} % {int(k)}) = 0)"
        return f"(({col_sql} / {int(k)}) = floor({col_sql} / {int(k)}))"
    a = _pow2_scale(float(k))
    if a is not None:
        m = float(k) * (1 << a)
        return (
            f"(({col_sql} * {float(1 << a)} / {m}) = "
            f"floor({col_sql} * {float(1 << a)} / {m}))"
        )
    return f"((CAST({col_sql} AS DECIMAL(38,12)) % CAST({k} AS DECIMAL(38,12))) = 0)"
