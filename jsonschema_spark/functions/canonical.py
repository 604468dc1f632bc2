"""Canonical JSON rendering for deep structural equality.

The reference's ``const``/``enum``/``uniqueItems`` compare whole JSON
values structurally (AssertionEqual evaluator_dispatch.h:697-712,
AssertionUnique :814-818): object key order is irrelevant and numbers
compare by value (1 == 1.0). Two JSON values are reference-equal iff their
canonical renderings are equal (booleans stay distinct from numbers:
``true`` vs ``1``).

``canonical_dumps`` is the Python rendering, for the driver-side
evaluator and the linter: sorted keys, integral floats collapsed to
integers, compact separators.

``canonical`` is the same equality as one JVM expression over a VARIANT,
used on every path and inside higher-order-function lambdas alike.
``to_json`` of a VARIANT already sorts object keys and writes compactly;
``parse_json`` stores an integer or a plain decimal exactly (``1.0`` reads
as 1, ``0.10`` as 0.1), and an exponent literal as a DOUBLE, which renders
as ``1.0`` or ``1.0E20``. Only a rendering that holds ``.`` or ``E`` is
rewritten: its number tokens are read as doubles, an integral one below
1e38 is written as its ``decimal(38,0)`` digits and any other one as its
double's string. ``canonical_const`` renders a constant through the same
``parse_json`` and ``canonical``.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, functions as F

# a string literal | a run of non-structural characters | one structural one;
# possessive runs, so java.util.regex matches a long string without
# recursing once per character
_TOKENS = r'"[^"\\]*+(?:\\.[^"\\]*+)*+"|[^"{}\[\],:]++|[{}\[\],:]'


def _canon(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float) and v.is_integer():
        return int(v)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_canon(x) for x in v]
    return v


def canonical_dumps(value) -> str:
    """Canonical compact JSON of a python JSON value."""
    return json.dumps(_canon(value), sort_keys=True, separators=(",", ":"), ensure_ascii=False)


def _canon_number(d: Column) -> Column:
    """A double written by its value: an integral one below 1e38 by its
    ``decimal(38,0)`` digits, any other one by its string."""
    whole = (d % F.lit(1.0) == F.lit(0.0)) & (F.abs(d) < F.lit(1e38))
    return F.when(whole, d.cast("decimal(38,0)").cast("string")).otherwise(d.cast("string"))


def canonical(v: Column) -> Column:
    """Canonical rendering of a VARIANT value (NULL for a NULL value)."""
    text = F.to_json(v)
    tokens = F.regexp_extract_all(text, F.lit(_TOKENS), F.lit(0))
    rewrite = F.transform(tokens, lambda tok: F.when(
        tok.rlike("^-?[0-9].*[.E]"), _canon_number(tok.try_cast("double"))).otherwise(tok))
    return F.when(text.rlike("[.E]"), F.array_join(rewrite, "")).otherwise(text)


def canonical_const(value) -> Column:
    """``canonical`` of a python JSON constant, through the same VARIANT."""
    return canonical(F.parse_json(F.lit(json.dumps(value))))
