"""Annotation emission — the reference's AnnotationEmit path.

The reference compiles every non-assertion keyword (title, description,
default, examples, content*, unknown extension keywords) into annotation
instructions (default_compiler.cc:615-637), `format` into an annotation
when the Format-Assertion vocabulary is off (:116-119), and `properties`
emits the list of matched property names (golden:
test/validate/pass_json.sh — ``"annotation": [ "foo" ]``). Annotations
from failing schema objects are dropped (the evaluate-mark rollback);
here each node's entries are gated on that node's fast verdict.

Scope (documented): annotations at the root node and recursively through
properties / allOf / anyOf / oneOf / if-then-else / dependentSchemas /
$ref / $dynamicRef / $recursiveRef subschemas. Array-element annotation
locations are out of scope. Property-name lists are emitted in sorted
order (the reference emits in evaluation order; sorting keeps the output
deterministic here).
"""

from __future__ import annotations

import json
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F

from jsonschema_spark.plans.compiler import (
    CompiledSchema,
    Config,
    _KEYWORDS,
    _ptr_escape,
    _references,
    compile_node,
    without_call_sites,
)
from jsonschema_spark.plans.context import B, Cond, Ctx, S, and_, not_

ANN_DT = (
    "array<struct<keywordLocation:string,absoluteKeywordLocation:string,"
    "instanceLocation:string,annotation:string>>"
)

# keywords that are compiled (assertions/applicators) or structural — every
# OTHER keyword's value becomes an annotation (the unknown-keyword rule
# covers title/description/default/examples/content*/x-* alike)
_NON_ANNOTATION = set(_KEYWORDS) | {
    "$schema", "$id", "$defs", "$anchor", "$comment", "$vocabulary",
    "$dynamicRef", "$dynamicAnchor", "$recursiveRef", "$recursiveAnchor",
    "definitions", "dependencies", "additionalItems",
    "minContains", "maxContains", "then", "else",
    # OpenAPI keywords compiled to noops (default_compiler.cc:602-609)
    "discriminator", "xml", "externalDocs", "example",
}


def _empty_anns() -> Column:
    return F.array().cast(ANN_DT)


def _dumps(value) -> str:
    return json.dumps(value, separators=(",", ":"), ensure_ascii=False)


def _entries(schema, ctx: Ctx, kw: str, cfg: Config, ref_stack, applies: Cond) -> list[Column]:
    if not isinstance(schema, dict):
        return []
    node_ok = compile_node(schema, ctx, kw, cfg.fast(), ref_stack).ok
    cond = and_(applies, ctx.present, node_ok)
    if cond is False:
        return []
    out: list[Column] = []

    def add(kwp: str, annotation: Column) -> None:
        e = F.array(
            F.struct(
                F.lit(kwp).alias("keywordLocation"),
                F.lit(f"{cfg.base_uri}#{kwp}").alias("absoluteKeywordLocation"),
                S(ctx.loc).alias("instanceLocation"),
                annotation.alias("annotation"),
            )
        ).cast(ANN_DT)
        out.append(e if cond is True else F.when(B(cond), e).otherwise(_empty_anns()))

    for key in sorted(schema):
        if key in _NON_ANNOTATION:
            continue
        add(f"{kw}/{_ptr_escape(key)}", F.lit(_dumps([schema[key]])))
    if "format" in schema and not cfg.format_assertion:
        add(f"{kw}/format", F.lit(_dumps([schema["format"]])))

    props = schema.get("properties") or {}
    if props:
        present = F.sort_array(
            F.filter(
                F.array(*[F.when(B(ctx.get_prop(n).present), F.lit(n)) for n in props]),
                lambda x: x.isNotNull(),
            )
        )
        add(f"{kw}/properties", F.to_json(present))
        for name, sub in props.items():
            child = ctx.get_prop(name)
            if child.present is False:
                continue
            out.extend(
                _entries(sub, child, f"{kw}/properties/{_ptr_escape(name)}", cfg, ref_stack, cond)
            )

    for key in ("allOf", "anyOf", "oneOf"):
        for i, sub in enumerate(schema.get(key) or []):
            out.extend(_entries(sub, ctx, f"{kw}/{key}/{i}", cfg, ref_stack, cond))
    if "if" in schema:
        if_ok = compile_node(schema["if"], ctx, kw, cfg.fast(), ref_stack).ok
        out.extend(_entries(schema["if"], ctx, f"{kw}/if", cfg, ref_stack, and_(cond, if_ok)))
        if "then" in schema:
            out.extend(_entries(schema["then"], ctx, f"{kw}/then", cfg, ref_stack, and_(cond, if_ok)))
        if "else" in schema:
            out.extend(_entries(schema["else"], ctx, f"{kw}/else", cfg, ref_stack, and_(cond, not_(if_ok))))
    for trigger, sub in (schema.get("dependentSchemas") or {}).items():
        out.extend(
            _entries(sub, ctx, f"{kw}/dependentSchemas/{_ptr_escape(trigger)}", cfg, ref_stack,
                     and_(cond, ctx.get_prop(trigger).present))
        )
    for key, hit in _references(schema, cfg, ref_stack):
        if hit is not None:
            target, sub_cfg, sub_stack = hit
            out.extend(_entries(target, ctx, f"{kw}/{key}", sub_cfg, sub_stack, cond))
    return out


def annotations_col(cs: CompiledSchema, ctx: Ctx) -> Column:
    cfg = cs._cfg("fast")
    entries = _entries(cs.schema, ctx, "", cfg, (), True)
    if not entries:
        return _empty_anns()
    return F.concat(*entries) if len(entries) > 1 else entries[0]


@without_call_sites()
def annotations(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    id_cols: Sequence[str],
    doc_col: Optional[str] = None,
    positions: bool = False,
) -> DataFrame:
    """Annotation rows: (id_cols..., keywordLocation,
    absoluteKeywordLocation, instanceLocation, [instancePosition,]
    annotation) — the Basic-output ``annotations[]`` shape, one row per
    emitted annotation. ``positions`` adds the [line,col,line,col] source
    span (doc_col sources only)."""
    from jsonschema_spark.operators.validate import (
        _ANNS_TMP, _as_compiled, _bind, _positioned, _with_spans)

    if positions and doc_col is None:
        raise ValueError("positions=True needs doc_col: flat rows have no source text to span")
    cs = _as_compiled(schema)
    pre, ctx, parse_ok = _bind(df, doc_col)
    anns = annotations_col(cs, ctx)
    if positions:
        pre = pre.withColumn(_ANNS_TMP, anns)
        pre = _with_spans(pre, doc_col, parse_ok, F.col(_ANNS_TMP)["instanceLocation"])
        anns = _positioned(F.col(_ANNS_TMP), "annotation")
    # inline names each struct field a column: no helper column to collide
    return pre.select(*id_cols, F.inline(anns))
