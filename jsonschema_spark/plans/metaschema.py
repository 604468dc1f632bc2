"""Metaschema validation — the `jsonschema metaschema` analogue.

Validates that a schema document is *itself* well-formed against the
2020-12 keyword grammar subset this engine compiles
(/root/reference/src/command_metaschema.cc validates each schema against
its dialect metaschema). Driver-side pure Python: schemas are small; the
point is rejecting malformed constraint specs before they reach the
compiler. Returns a list of errors (empty ⇒ valid).
"""

from __future__ import annotations

from numbers import Number
from typing import Union

from jsonschema_spark.functions.strings import regex_compiles
from jsonschema_spark.plans.upgrade import subschemas

_TYPE_NAMES = {"null", "boolean", "integer", "number", "string", "array", "object"}


def metaschema_errors(schema: Union[dict, bool], path: str = "") -> list[str]:
    errs: list[str] = []
    loc = path or "/"
    if isinstance(schema, bool):
        return errs
    if not isinstance(schema, dict):
        return [f"{loc}: schema must be an object or boolean, got {type(schema).__name__}"]

    def check_nonneg_int(kw):
        v = schema.get(kw)
        if v is not None and (not isinstance(v, int) or isinstance(v, bool) or v < 0):
            errs.append(f"{loc}: {kw} must be a non-negative integer")

    t = schema.get("type")
    if t is not None:
        names = [t] if isinstance(t, str) else t
        if not isinstance(names, list) or not all(isinstance(x, str) and x in _TYPE_NAMES for x in names):
            errs.append(f"{loc}: type must be one of {sorted(_TYPE_NAMES)} or a list thereof")
        elif isinstance(t, list) and len(set(t)) != len(t):
            errs.append(f"{loc}: type list must be unique")
    if "enum" in schema and not isinstance(schema["enum"], list):
        errs.append(f"{loc}: enum must be an array")
    for kw in ("minLength", "maxLength", "minItems", "maxItems",
               "minProperties", "maxProperties", "minContains", "maxContains"):
        check_nonneg_int(kw)
    for kw in ("minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum", "multipleOf"):
        v = schema.get(kw)
        if v is not None and (not isinstance(v, Number) or isinstance(v, bool)):
            errs.append(f"{loc}: {kw} must be a number")
    if "multipleOf" in schema and isinstance(schema["multipleOf"], Number) and schema["multipleOf"] <= 0:
        errs.append(f"{loc}: multipleOf must be greater than zero")
    if "pattern" in schema:
        if not isinstance(schema["pattern"], str):
            errs.append(f"{loc}: pattern must be a string")
        elif not regex_compiles(schema["pattern"]):
            errs.append(f"{loc}: pattern is not a valid regular expression")
    req = schema.get("required")
    if req is not None and (not isinstance(req, list) or not all(isinstance(x, str) for x in req)):
        errs.append(f"{loc}: required must be an array of strings")
    if "uniqueItems" in schema and not isinstance(schema["uniqueItems"], bool):
        errs.append(f"{loc}: uniqueItems must be a boolean")
    ref = schema.get("$ref")
    if ref is not None and not isinstance(ref, str):
        errs.append(f"{loc}: $ref must be a string URI-reference")

    for kw in ("allOf", "anyOf", "oneOf", "prefixItems"):
        v = schema.get(kw)
        if v is not None and (not isinstance(v, list) or (kw != "prefixItems" and not v)):
            errs.append(f"{loc}: {kw} must be a non-empty array of schemas")
    for kw in ("properties", "patternProperties", "dependentSchemas", "$defs", "definitions"):
        v = schema.get(kw)
        if v is not None and not isinstance(v, dict):
            errs.append(f"{loc}: {kw} must be an object of schemas")
    dr = schema.get("dependentRequired")
    if dr is not None:
        if not isinstance(dr, dict) or not all(
            isinstance(v, list) and all(isinstance(x, str) for x in v) for v in dr.values()
        ):
            errs.append(f"{loc}: dependentRequired must map property names to string arrays")
    for suffix, sub in subschemas(schema):
        errs.extend(metaschema_errors(sub, path + suffix))
    return errs


def is_valid_schema(schema: Union[dict, bool]) -> bool:
    return not metaschema_errors(schema)
