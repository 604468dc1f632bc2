"""Schema/plan introspection — the `jsonschema inspect` analogue.

The reference dumps the frame (every schema location, its keyword, URI,
references — /root/reference/src/command_inspect.cc). We walk the schema
in compile order and report, per keyword location, the *execution
strategy* the compiler will pick against a given table schema:

- ``static``  — constant-folds at compile time (e.g. `type` on a typed
  flat column);
- ``column``  — native Column expression (codegen);
- ``pandas``  — Arrow-batched pandas UDF (a residual ``pattern``, the
  `format: regex` compile-try);
- ``applicator`` — structural node with children: a keyword with
  subschema positions (``upgrade.subschemas``) or a reference keyword.

Applicators come from the tables ``subschemas`` walks plus the compiler's
``_REF_KEYWORDS``; ``pandas`` from the predicates the compiler routes by
(``strings.pattern_in_python``, ``FormatSpec.in_python``).
"""

from __future__ import annotations

from typing import Optional, Union

from pyspark.sql import types as T

from jsonschema_spark.functions.formats import FORMATS
from jsonschema_spark.functions.strings import pattern_in_python
from jsonschema_spark.plans.compiler import _KEYWORDS, _REF_KEYWORDS
from jsonschema_spark.plans.upgrade import SCHEMA_KEYWORDS, _ptr_escape, subschemas

_APPLICATORS = SCHEMA_KEYWORDS | set(_REF_KEYWORDS)


def _strategy(key: str, value, col_dtype: Optional[T.DataType]) -> str:
    if key in _APPLICATORS:
        return "applicator"
    if key == "pattern" and isinstance(value, str) and pattern_in_python(value):
        return "pandas"
    if key == "format" and isinstance(value, str) and value in FORMATS and FORMATS[value].in_python:
        return "pandas"
    if key == "type" and col_dtype is not None:
        return "static"
    return "column"


def inspect_schema(
    schema: Union[dict, bool],
    df_schema: Optional[T.StructType] = None,
) -> list[dict]:
    """Flat listing of every keyword location:
    (keywordLocation, keyword, value, strategy)."""
    out: list[dict] = []
    fields = ({f"/properties/{_ptr_escape(f.name)}": f.dataType for f in df_schema.fields}
              if df_schema is not None else {})

    def walk(node, kw: str, col_dtype):
        if not isinstance(node, dict):
            out.append({"keywordLocation": kw, "keyword": "<boolean schema>",
                        "value": node, "strategy": "static"})
            return
        children: dict = {}
        for suffix, sub in subschemas(node):
            children.setdefault(suffix.split("/")[1], []).append((suffix, sub))
        for key in _KEYWORDS:
            if key not in node:
                continue
            val = node[key]
            kwp = f"{kw}/{_ptr_escape(key)}"
            out.append({
                "keywordLocation": kwp,
                "keyword": key,
                "value": val if not isinstance(val, (dict, list)) else f"<{type(val).__name__}>",
                "strategy": _strategy(key, val, col_dtype),
            })
            # then/else compile with their `if`; combinator branches and
            # the conditional see the node's own column, root properties
            # their table column, every other position no column type
            for branch in ("if", "then", "else") if key == "if" else (key,):
                for suffix, sub in children.get(branch, ()):
                    if branch in ("allOf", "anyOf", "oneOf", "if", "then", "else"):
                        dtype = col_dtype
                    else:
                        dtype = fields.get(suffix) if kw == "" else None
                    walk(sub, kw + suffix, dtype)
    walk(schema, "", None)
    return out


def explain_schema(schema: Union[dict, bool], df_schema: Optional[T.StructType] = None) -> str:
    """Human-readable plan dump."""
    lines = []
    for e in inspect_schema(schema, df_schema):
        lines.append(f"{e['keywordLocation']:<50} {e['keyword']:<22} [{e['strategy']}]")
    return "\n".join(lines)
