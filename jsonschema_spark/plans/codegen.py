"""Schema → Spark StructType derivation — the `jsonschema codegen`
analogue (the reference emits TypeScript types,
/root/reference/src/command_codegen.cc; the natural Spark target is a
DataFrame schema).

Rules:
- object + properties → StructType; a field is non-nullable iff listed in
  ``required``;
- integer → LongType, number → DoubleType, string → StringType
  (format date-time → TimestampType, date → DateType when
  ``use_format_types``), boolean → BooleanType, null → NullType;
- array + items → ArrayType(items-type);
- type lists / missing type → the widest common Spark type (StringType
  fallback — documented lossy corner);
- $ref resolved before derivation, through the schema's frame
  (plans/frame.py): pointers, anchors and embedded `$id` resources; a
  `$ref` to a schema already on the derivation path (recursion) →
  StringType.
"""

from __future__ import annotations

from typing import Union

from pyspark.sql import types as T

from jsonschema_spark.plans.frame import Frame, enter, root_base


def _dtype(schema: Union[dict, bool], at: tuple, use_format_types: bool) -> T.DataType:
    """``at``: ``(frame, resource, base, path)``: the resource the node is
    in, its base URI, and the ids of the schemas being derived around it."""
    if schema is True or schema == {}:
        return T.StringType()
    if schema is False:
        return T.NullType()
    frame, resource, base, path = at
    resource, base = enter(schema, resource, base)
    path = path | {id(schema)}
    at = (frame, resource, base, path)
    if isinstance(schema.get("$ref"), str):
        target, resource, base = frame.resolve(schema["$ref"], base, resource)
        if id(target) in path:
            return T.StringType()
        return _dtype(target, (frame, resource, base, path), use_format_types)
    t = schema.get("type")
    if isinstance(t, list):
        t = t[0] if len(t) == 1 else None
    if t == "integer":
        return T.LongType()
    if t == "number":
        return T.DoubleType()
    if t == "boolean":
        return T.BooleanType()
    if t == "null":
        return T.NullType()
    if t == "string":
        if use_format_types and schema.get("format") == "date-time":
            return T.TimestampType()
        if use_format_types and schema.get("format") == "date":
            return T.DateType()
        return T.StringType()
    if t == "array":
        items = schema.get("items", True)
        prefix = schema.get("prefixItems")
        if isinstance(prefix, list) and prefix:
            return T.ArrayType(_dtype(prefix[0], at, use_format_types))
        return T.ArrayType(_dtype(items if not isinstance(items, list) else items[0], at, use_format_types))
    if t == "object" or "properties" in schema:
        required = set(schema.get("required", []) or [])
        fields = [
            T.StructField(name, _dtype(sub, at, use_format_types), nullable=name not in required)
            for name, sub in (schema.get("properties", {}) or {}).items()
        ]
        if fields:
            return T.StructType(fields)
        ap = schema.get("additionalProperties")
        if isinstance(ap, dict):
            return T.MapType(T.StringType(), _dtype(ap, at, use_format_types))
        return T.MapType(T.StringType(), T.StringType())
    # enum/const-only schemas: infer from the constant values
    values = schema.get("enum", [schema["const"]] if "const" in schema else None)
    if values:
        if all(isinstance(v, bool) for v in values):
            return T.BooleanType()
        if all(isinstance(v, int) and not isinstance(v, bool) for v in values):
            return T.LongType()
        if all(isinstance(v, (int, float)) and not isinstance(v, bool) for v in values):
            return T.DoubleType()
        if all(isinstance(v, str) for v in values):
            return T.StringType()
    return T.StringType()


def struct_type_for(schema: Union[dict, bool], use_format_types: bool = False) -> T.StructType:
    """Top-level derivation; the schema must describe an object."""
    base = root_base(schema)
    dt = _dtype(schema, (Frame(schema, base), schema, base, frozenset()), use_format_types)
    if not isinstance(dt, T.StructType):
        raise ValueError("top-level schema does not describe an object with properties")
    return dt
