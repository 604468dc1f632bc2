"""Exact `multipleOf` semantics (AssertionDivisible).

The reference uses an exactness ladder (/root/reference/vendor/core/src/core/
json/json_value.cc:801-857): int % int, the real-divisor-with-exact-binary-
representation case, then arbitrary-precision decimal. We mirror it with
strategy selection at compile time:

1. integer divisor k                       → `col % k == 0`, over longs for
   an integer column and over doubles otherwise (pure codegen)
2. divisor k = m / 2^a                     → `(col * 2^a) % m == 0` (pure
   codegen)
3. general real divisor                    → Arrow-batched pandas UDF doing
   exact decimal arithmetic on the shortest-repr string of the float
"""

from __future__ import annotations

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


def divisible_ok(col: Column, k, col_is_integer: bool) -> Column:
    """Boolean Column: value at `col` (numeric) is divisible by constant k.

    A real instance is tested by its double remainder: the floating `%` is
    exact (like C's fmod), and x * 2^a is exact too, so a value beyond
    int64 (1e20) divides by 2 and not by 3. The quotient is no test: it
    rounds, and every double above 2^53 is integral."""
    if isinstance(k, int) or (isinstance(k, float) and k.is_integer()):
        ki = int(k)
        if col_is_integer:
            return (col.cast("long") % F.lit(ki)) == 0
        return col.cast("double") % F.lit(float(ki)) == F.lit(0.0)
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
