"""Human-readable violation messages, matching the reference catalog.

Wording reproduced from the reference's ``describe()``
(/root/reference/vendor/blaze/src/evaluator/evaluator_describe.cc) so our
violation rows match `jsonschema validate` output text. Builders return
Columns (dynamic parts — the offending value, its length, the missing
property list — are interpolated with ``concat``), all JVM-side.
"""

from __future__ import annotations

import json
from typing import Sequence, Union

from pyspark.sql import Column, functions as F

from jsonschema_spark.plans.context import B, Ctx, json_escape_col


def jrepr(value) -> str:
    """describe_stringify of a schema-side constant."""
    return json.dumps(value, separators=(", ", ": "), ensure_ascii=False)


def esc(s: str) -> str:
    """escape_string (evaluator_describe.cc:63-84): wrap in quotes, escape quotes."""
    return '"' + s.replace('"', '\\"') + '"'


def oxford(items: Sequence[str], conj: str = "and") -> str:
    """a, b, and c — reference list style (comma before conj, even for 2)."""
    items = list(items)
    if len(items) == 1:
        return items[0]
    return ", ".join(items[:-1]) + f", {conj} " + items[-1]


def _type_name(value) -> str:
    if value is None:
        return "null"
    if isinstance(value, bool):
        return "boolean"
    if isinstance(value, int):
        return "integer"
    if isinstance(value, float):
        return "number"
    if isinstance(value, str):
        return "string"
    if isinstance(value, list):
        return "array"
    return "object"


def _value_type_name(value) -> str:
    """value_type_name: numeric schema constants print as integer when integral."""
    if isinstance(value, float) and value.is_integer():
        return "number"  # JSON reals stay 'number' (only decimals re-check)
    return _type_name(value)


def _tag_col(ctx: Ctx) -> Column:
    t = ctx.tag()
    return F.lit(t) if isinstance(t, str) else t


def C(*parts: Union[str, Column]) -> Column:
    return F.concat(*[F.lit(p) if isinstance(p, str) else p for p in parts])


def plural(n: int, word: str, plural_word: str | None = None) -> str:
    if n == 1:
        return word
    return plural_word if plural_word is not None else word + "s"


# --- type ------------------------------------------------------------------


def msg_type(ctx: Ctx, expected: Union[str, list[str]]) -> Column:
    if isinstance(expected, str):
        head = f"The value was expected to be of type {expected}"
    else:
        head = "The value was expected to be of type " + oxford(expected, "or")
    return C(head, " but it was of type ", _tag_col(ctx))


# --- equality / enum -------------------------------------------------------


def msg_const(ctx: Ctx, value) -> Column:
    return C(
        "The ",
        _tag_col(ctx),
        " value ",
        ctx.json_repr(),
        f" was expected to equal the {_type_name(value)} constant {jrepr(value)}",
    )


def msg_enum(ctx: Ctx, values: list) -> Column:
    if not values:
        return C("The ", _tag_col(ctx), " value was not expected to validate against the empty enumeration")
    if len(values) == 1:
        return msg_const(ctx, values[0])
    try:
        ordered = sorted(values, key=lambda v: (0, v) if isinstance(v, (int, float)) and not isinstance(v, bool) else (1, str(v)))
    except TypeError:
        ordered = values
    listing = oxford([jrepr(v) for v in ordered])
    return C(
        "The ",
        _tag_col(ctx),
        " value ",
        ctx.json_repr(),
        f" was expected to equal one of the following values: {listing}",
    )


# --- strings ----------------------------------------------------------------


def msg_regex(ctx: Ctx, pattern: str) -> Column:
    return C(
        "The string value ",
        json_escape_col(ctx.str_val()),
        f" was expected to match the regular expression {esc(pattern)}",
    )


def _length_msg(ctx: Ctx, bound: int, kind: str) -> Column:
    n = F.length(ctx.str_val())
    return C(
        "The string value ",
        json_escape_col(ctx.str_val()),
        f" was expected to consist of {kind} {bound} {plural(bound, 'character')}"
        " but it consisted of ",
        n.cast("string"),
        F.when(n == 1, " character").otherwise(" characters"),
    )


def msg_max_length(ctx: Ctx, bound: int) -> Column:
    return _length_msg(ctx, bound, "at most")


def msg_min_length(ctx: Ctx, bound: int) -> Column:
    return _length_msg(ctx, bound, "at least")


def msg_format(ctx: Ctx, fmt: str) -> Column:
    label = FORMAT_LABELS[fmt]
    return C(
        "The string value ",
        json_escape_col(ctx.str_val()),
        f" was expected to represent a valid {label}",
    )


FORMAT_LABELS = {
    "uri": "URI",
    "uri-reference": "URI reference",
    "uri-template": "URI template",
    "iri": "IRI",
    "iri-reference": "IRI reference",
    "email": "email address",
    "idn-email": "internationalized email address",
    "ipv4": "IPv4 address",
    "ipv6": "IPv6 address",
    "hostname": "hostname",
    "idn-hostname": "internationalized hostname",
    "date-time": "RFC 3339 date-time",
    "date": "RFC 3339 full-date",
    "time": "RFC 3339 full-time",
    "partial-time": "RFC 3339 partial-time without fractional seconds",
    "duration": "RFC 3339 duration",
    "json-pointer": "JSON Pointer",
    "relative-json-pointer": "relative JSON Pointer",
    "uuid": "UUID",
    "regex": "ECMA-262 regular expression",
    "color": "CSS 2 color",
}


# --- numbers -----------------------------------------------------------------


def msg_greater_equal(ctx: Ctx, value) -> Column:
    return C(
        "The ", _tag_col(ctx), " value ", ctx.json_repr(),
        f" was expected to be greater than or equal to the {_value_type_name(value)} {jrepr(value)}",
    )


def msg_less_equal(ctx: Ctx, value) -> Column:
    return C(
        "The ", _tag_col(ctx), " value ", ctx.json_repr(),
        f" was expected to be less than or equal to the {_value_type_name(value)} {jrepr(value)}",
    )


def msg_greater(ctx: Ctx, value) -> Column:
    base = C(
        "The ", _tag_col(ctx), " value ", ctx.json_repr(),
        f" was expected to be greater than the {_value_type_name(value)} {jrepr(value)}",
    )
    return F.when(ctx.num_val() == F.lit(float(value)), C(base, ", but they were equal")).otherwise(base)


def msg_less(ctx: Ctx, value) -> Column:
    base = C(
        "The ", _tag_col(ctx), " value ", ctx.json_repr(),
        f" was expected to be less than the {_value_type_name(value)} {jrepr(value)}",
    )
    return F.when(ctx.num_val() == F.lit(float(value)), C(base, ", but they were equal")).otherwise(base)


def msg_multiple_of(ctx: Ctx, value) -> Column:
    return C(
        "The ", _tag_col(ctx), " value ", ctx.json_repr(),
        f" was expected to be divisible by the {_value_type_name(value)} {jrepr(value)}",
    )


# --- objects -----------------------------------------------------------------


def msg_required(ctx: Ctx, names: list[str]) -> Column:
    """AssertionDefines for one name; AssertionDefinesAll lists the
    missing properties (sorted, per std::set)."""
    if len(names) == 1:
        return F.lit(f"The object value was expected to define the property {esc(names[0])}")
    present_conds = [ctx.get_prop(n).present for n in names]
    order = sorted(range(len(names)), key=lambda i: names[i])
    head = "The object value was expected to define properties " + oxford(
        [esc(n) for n in names]
    )
    missing = F.filter(
        F.array(*[
            F.when(~B(present_conds[i]), F.lit(esc(names[i]))).otherwise(F.lit(None))
            for i in order
        ]),
        lambda x: x.isNotNull(),
    )
    n = F.size(missing)
    single = C(head + " but did not define the property ", F.element_at(missing, 1))
    multi = C(
        head + " but did not define properties ",
        F.array_join(F.slice(missing, 1, F.greatest(n - 1, F.lit(1))), ", "),
        ", and ",
        F.element_at(missing, -1),
    )
    return F.when(n == 1, single).otherwise(multi)


def msg_additional_property(key: Union[str, Column]) -> Column:
    if isinstance(key, str):
        return F.lit(f"The object value was not expected to define the property {esc(key)}")
    return C('The object value was not expected to define the property "',
             F.replace(key, F.lit('"'), F.lit('\\"')), '"')


def msg_properties(n_children: int) -> Column:
    if n_children == 1:
        return F.lit("The object value was expected to validate against the single defined property subschema")
    return F.lit(f"The object value was expected to validate against the {n_children} defined properties subschemas")


def _count_props_tail(size_col: Column) -> Column:
    return C(
        " but it contained ",
        size_col.cast("string"),
        F.when(size_col == 1, " property").otherwise(" properties"),
    )


def msg_max_properties(ctx: Ctx, bound: int) -> Column:
    return C(
        f"The object value was expected to contain at most {bound} {plural(bound, 'property', 'properties')}",
        _count_props_tail(ctx.obj_size()),
    )


def msg_min_properties(ctx: Ctx, bound: int) -> Column:
    return C(
        f"The object value was expected to contain at least {bound} {plural(bound, 'property', 'properties')}",
        _count_props_tail(ctx.obj_size()),
    )


def msg_dependent_required(present_name: str, required: list[str]) -> Column:
    """AssertionPropertyDependencies, single-trigger form."""
    tail = (
        f", it was also expected to define the property {esc(required[0])}"
        if len(required) == 1
        else ", it was also expected to define the properties "
        + oxford([esc(r) for r in sorted(required)])
    )
    return F.lit(
        f"Because the object value defined the property {esc(present_name)}{tail}"
    )


# --- arrays ------------------------------------------------------------------


def _count_items_tail(size_col: Column) -> Column:
    return C(
        " but it contained ",
        size_col.cast("string"),
        F.when(size_col == 1, " item").otherwise(" items"),
    )


def msg_max_items(ctx: Ctx, bound: int) -> Column:
    return C(
        f"The array value was expected to contain at most {bound} {plural(bound, 'item')}",
        _count_items_tail(ctx.arr_size()),
    )


def msg_min_items(ctx: Ctx, bound: int) -> Column:
    return C(
        f"The array value was expected to contain at least {bound} {plural(bound, 'item')}",
        _count_items_tail(ctx.arr_size()),
    )


def msg_unique_items(ctx: Ctx) -> Column:
    # the reference enumerates duplicates; we report the count-level message
    # for the common single-duplicate case and fall back to a generic
    # listing. Elements are rendered to strings FIRST — array_distinct
    # cannot order VARIANT values directly.
    canon = ctx.item_reprs()
    reprs = F.array_distinct(
        F.filter(canon, lambda s: F.size(F.filter(canon, lambda t: t == s)) > 1)
    )
    n = F.size(reprs)
    return (
        F.when(n == 1, C("The array value contained the following duplicate item: ", F.element_at(reprs, 1)))
        .otherwise(
            C(
                "The array value contained the following duplicate items: ",
                F.array_join(F.slice(reprs, 1, F.greatest(n - 1, F.lit(1))), ", "),
                ", and ",
                F.element_at(reprs, -1),
            )
        )
    )


def msg_items() -> Column:
    return F.lit("Every item in the array value was expected to validate against the given subschema")


def msg_items_from(k: int) -> Column:
    if k == 1:
        return F.lit("Every item in the array value except for the first one was expected to validate against the given subschema")
    if k > 0:
        return F.lit(f"Every item in the array value except for the first {k} was expected to validate against the given subschema")
    return msg_items()


def msg_prefix_items(n_children: int) -> Column:
    if n_children <= 2:
        head = "The first item of the array value was"
    else:
        head = f"The first {n_children - 1} items of the array value were"
    return F.lit(head + " expected to validate against the corresponding subschemas")


def msg_contains(minimum: int, maximum: int | None) -> Column:
    is_plural = True
    if maximum is not None:
        if minimum == maximum == 0:
            qty = "any number of"
        elif minimum == maximum:
            qty = f"exactly {minimum}"
            is_plural = minimum != 1
        elif minimum == 0:
            qty = f"up to {maximum}"
            is_plural = maximum != 1
        else:
            qty = f"{minimum} to {maximum}"
            is_plural = maximum != 1
    else:
        qty = f"at least {minimum}"
        is_plural = minimum != 1
    tail = (
        " items that validate against the given subschema"
        if is_plural
        else " item that validates against the given subschema"
    )
    return F.lit(f"The array value was expected to contain {qty}{tail}")


# --- combinators --------------------------------------------------------------


def msg_any_of(ctx: Ctx, n_children: int) -> Column:
    if n_children > 1:
        tail = f" value was expected to validate against at least one of the {n_children} given subschemas"
    else:
        tail = " value was expected to validate against the given subschema"
    return C("The ", _tag_col(ctx), tail)


def msg_all_of(ctx: Ctx, n_children: int) -> Column:
    if n_children > 1:
        tail = f" value was expected to validate against the {n_children} given subschemas"
    else:
        tail = " value was expected to validate against the given subschema"
    return C("The ", _tag_col(ctx), tail)


def msg_one_of(ctx: Ctx, n_children: int) -> Column:
    if n_children > 1:
        tail = f" value was expected to validate against one and only one of the {n_children} given subschemas"
    else:
        tail = " value was expected to validate against the given subschema"
    return C("The ", _tag_col(ctx), tail)


def msg_not(ctx: Ctx) -> Column:
    return C("The ", _tag_col(ctx), " value was expected to not validate against the given subschema, but it did")


def msg_conditional(ctx: Ctx) -> Column:
    return C("The ", _tag_col(ctx), " value was expected to validate against the given conditional")


def msg_ref(ctx: Ctx) -> Column:
    return C("The ", _tag_col(ctx), " value was expected to validate against the referenced schema")


def msg_ref_depth(max_depth: int) -> Column:
    """Engine-specific (no reference analogue): the compiler unrolls
    recursive $ref to a fixed depth; deeper instance data is rejected."""
    return F.lit(
        "The value was expected to validate against the referenced schema "
        f"but nests deeper than the supported $ref recursion depth of {max_depth}"
    )


def msg_false_schema() -> Column:
    return F.lit("No instance is expected to succeed against the false schema")
