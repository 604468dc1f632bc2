"""Dialect normalization — the `jsonschema upgrade` analogue.

The reference migrates draft3→…→2020-12 through 12 upgrade rules
(/root/reference/vendor/blaze/src/alterschema/upgrade/). We normalize any
draft-4/6/7/2019-09 schema into the single 2020-12-subset dialect the
compiler consumes:

- ``definitions``            → ``$defs`` (+ rewrite ``$ref`` pointers)
- array-form ``items``       → ``prefixItems`` (+ ``additionalItems`` → ``items``)
- draft-4 boolean ``exclusiveMinimum/Maximum`` → numeric form
- ``dependencies``           → ``dependentRequired`` / ``dependentSchemas``
- draft-4 integer-only ``type: integer`` stays (2020-12 keeps int⊂number)
- ``id`` (draft-4)           → ``$id``
- ``$recursiveRef: "#"``     → ``$dynamicRef`` left unsupported (flagged)

Returns a NEW schema dict; input is never mutated.
"""

from __future__ import annotations

import copy
from typing import Union

DIALECT_2020 = "https://json-schema.org/draft/2020-12/schema"


# Keyword positions holding subschemas: the ONLY definition of schema
# positions in the package. Every schema traversal (the compiler's anchor
# and resource walks, bundle, canonicalize, lint, metaschema, inspect, the
# HTTP resolver) goes through ``subschemas``; `fmt` reads the tables to
# order keys. Values under any other keyword are data: never walk into
# const/enum/default/examples or unknown keywords, and never read a
# `properties` map entry as a keyword (a property named "definitions" is
# data). Only `plans/pyeval.py`, the independent oracle, walks on its own.
_SCHEMA_MAPS = ("properties", "patternProperties", "dependentSchemas", "$defs", "definitions")
_SCHEMA_VALUES = ("items", "additionalItems", "additionalProperties", "propertyNames",
                  "not", "contains", "if", "then", "else",
                  "unevaluatedProperties", "unevaluatedItems")
_SCHEMA_LISTS = ("allOf", "anyOf", "oneOf", "prefixItems", "extends")
# every keyword ``subschemas`` may descend through
SCHEMA_KEYWORDS = frozenset((*_SCHEMA_MAPS, *_SCHEMA_VALUES, *_SCHEMA_LISTS, "dependencies"))


def _ptr_escape(name: str) -> str:
    return name.replace("~", "~0").replace("/", "~1")


def subschemas(node):
    """Yield ``(pointer_suffix, child)`` for each direct schema position of
    ``node``; ``pointer_suffix`` is the escaped JSON Pointer from ``node``
    to ``child`` (``/properties/a~1b``, ``/anyOf/0``). A child is yielded
    whatever its type, so callers see malformed positions too; only
    `dependencies` filters, because its array and string values are
    property names, not schemas."""
    if not isinstance(node, dict):
        return
    for key in _SCHEMA_MAPS:
        if isinstance(node.get(key), dict):
            for name, sub in node[key].items():
                yield f"/{key}/{_ptr_escape(name)}", sub
    for key in _SCHEMA_VALUES:
        if key not in node:
            continue
        if isinstance(node[key], list):  # legacy tuple `items`
            for i, sub in enumerate(node[key]):
                yield f"/{key}/{i}", sub
        else:
            yield f"/{key}", node[key]
    for key in _SCHEMA_LISTS:
        if isinstance(node.get(key), list):
            for i, sub in enumerate(node[key]):
                yield f"/{key}/{i}", sub
    # draft-7 `dependencies`: schema-valued entries only
    if isinstance(node.get("dependencies"), dict):
        for name, sub in node["dependencies"].items():
            if isinstance(sub, (dict, bool)):
                yield f"/dependencies/{_ptr_escape(name)}", sub


def _walk_schema(node, fn) -> None:
    """Apply ``fn`` to each object schema under ``node``, pre-order. A
    node's children are read after ``fn`` returns, so ``fn`` may rewrite
    the node it is given."""
    if not isinstance(node, dict):
        return
    fn(node)
    for _, sub in subschemas(node):
        _walk_schema(sub, fn)


def _rewrite_refs(node, mapping: dict[str, str]):
    def fn(n):
        v = n.get("$ref")
        if isinstance(v, str):
            for old, new in mapping.items():
                if v == old or v.startswith(old + "/"):
                    n["$ref"] = new + v[len(old):]
                    break

    _walk_schema(node, fn)


def _upgrade_node(node, required_by_default: bool = False) -> None:
    if not isinstance(node, dict):
        return
    # draft-4 id → $id
    if "id" in node and isinstance(node["id"], str) and "$id" not in node:
        node["$id"] = node.pop("id")
    # draft-0/1/2/3 property-level keywords lifted into the parent
    # (upgrade_draft_3_to_draft_4.h:324-375 rewrite_required_property_booleans)
    if isinstance(node.get("properties"), dict):
        newly_required: list[str] = []
        for name, prop in node["properties"].items():
            if not isinstance(prop, dict):
                continue
            # draft-3: boolean `required` on the property subschema
            if isinstance(prop.get("required"), bool):
                if prop.pop("required"):
                    newly_required.append(name)
            # draft-0/1/2: `optional` flag — in those drafts properties
            # are REQUIRED unless `optional: true` (draft-01/02:
            # "optional … is false by default"). The full default-required
            # rule applies only when the document DECLARES a draft-0/1/2
            # dialect (required_by_default, set from the root `$schema`);
            # without that declaration only the explicit optional:false
            # form is honoured — silently requiring every property of an
            # undeclared legacy snippet would be too surprising.
            opt = prop.pop("optional") if isinstance(
                prop.get("optional"), bool) else None
            if (opt is False or (required_by_default and opt is not True)) \
                    and name not in newly_required:
                newly_required.append(name)
            # draft-0/1/2: `requires` → parent dependency
            req = prop.pop("requires", None)
            if isinstance(req, str):
                node.setdefault("dependentRequired", {}).setdefault(name, []).append(req)
            elif isinstance(req, dict):
                node.setdefault("dependentSchemas", {})[name] = req
        if newly_required:
            existing = node.get("required")
            if not isinstance(existing, list):
                existing = []
            node["required"] = existing + [n for n in newly_required if n not in existing]
    # draft-1/2: maxDecimal n → multipleOf 10^-n
    if isinstance(node.get("maxDecimal"), int) and "multipleOf" not in node:
        node["multipleOf"] = 10 ** -node.pop("maxDecimal")
    # definitions → $defs
    if "definitions" in node and "$defs" not in node:
        node["$defs"] = node.pop("definitions")
    # tuple items → prefixItems; additionalItems → items
    if isinstance(node.get("items"), list):
        node["prefixItems"] = node.pop("items")
        if "additionalItems" in node:
            node["items"] = node.pop("additionalItems")
    elif "additionalItems" in node and "items" not in node:
        node["items"] = node.pop("additionalItems")
    # draft-4 boolean exclusive bounds
    if isinstance(node.get("exclusiveMinimum"), bool):
        flag = node.pop("exclusiveMinimum")
        if flag and "minimum" in node:
            node["exclusiveMinimum"] = node.pop("minimum")
    if isinstance(node.get("exclusiveMaximum"), bool):
        flag = node.pop("exclusiveMaximum")
        if flag and "maximum" in node:
            node["exclusiveMaximum"] = node.pop("maximum")
    # draft-1/2: maximumCanEqual/minimumCanEqual false → exclusive bounds
    # (maximum_can_equal_* canonicalizer analogues); true is the default
    if isinstance(node.get("maximumCanEqual"), bool):
        if not node.pop("maximumCanEqual") and "maximum" in node:
            node["exclusiveMaximum"] = node.pop("maximum")
    if isinstance(node.get("minimumCanEqual"), bool):
        if not node.pop("minimumCanEqual") and "minimum" in node:
            node["exclusiveMinimum"] = node.pop("minimum")
    # draft-3: "any" is no constraint (draft3_type_any); non-standard type
    # names behave the same in old drafts (unknown_type_names)
    _STD_TYPES = {"null", "boolean", "integer", "number", "string", "array",
                  "object"}
    t = node.get("type")
    if t == "any":
        node.pop("type")
    elif isinstance(t, list) and any(
        isinstance(x, str) and x not in _STD_TYPES for x in t
    ):
        # a union admitting "any"/unknown admits everything in draft-3
        node.pop("type")
    elif isinstance(t, list) and any(isinstance(x, dict) for x in t):
        # drafts 0-3: type-union entries may be SCHEMAS — "the instance
        # must match any of the types or schemas in the array". Modern
        # `type` is strings-only, so the union becomes an anyOf conjoined
        # with the remaining siblings (draft-3 siblings constrain the
        # whole instance, so they stay on the parent; the reference's
        # keyword DISTRIBUTION into branches —
        # type_union_distribute_keywords.h — is an IR optimization over
        # this same shape, not a semantic change; string entries embed as
        # {"type": s} exactly as type_union_to_schemas.h does).
        branches = [x if isinstance(x, dict) else {"type": x} for x in t]
        node.pop("type")
        if "anyOf" in node:
            node.setdefault("allOf", []).append({"anyOf": branches})
        else:
            node["anyOf"] = branches
    # draft-3: extends → allOf, divisibleBy → multipleOf, disallow → not
    if "extends" in node:
        ext = node.pop("extends")
        subs = ext if isinstance(ext, list) else [ext]
        node.setdefault("allOf", []).extend(subs)
    if "divisibleBy" in node and "multipleOf" not in node:
        node["multipleOf"] = node.pop("divisibleBy")
    if "disallow" in node and "not" not in node:
        # entries may be type names OR schemas (disallow_to_array_of_schemas)
        dis = node.pop("disallow")
        branches = []
        for d in (dis if isinstance(dis, list) else [dis]):
            if isinstance(d, str):
                branches.append({"type": d})
            elif isinstance(d, dict):
                branches.append(d)
        if len(branches) == 1:
            node["not"] = branches[0]
        elif branches:
            node["not"] = {"anyOf": branches}
    # dependencies → dependentRequired / dependentSchemas; the draft-3
    # STRING form `{"a": "b"}` means "a requires b"
    # (upgrade_draft_3_to_draft_4.h:383 rewrite_dependencies_string_form)
    if isinstance(node.get("dependencies"), dict):
        deps = node.pop("dependencies")
        dreq, dsch = {}, {}
        for name, v in deps.items():
            if isinstance(v, list):
                dreq[name] = v
            elif isinstance(v, str):
                dreq[name] = [v]
            else:
                dsch[name] = v
        if dreq:
            node.setdefault("dependentRequired", {}).update(dreq)
        if dsch:
            node.setdefault("dependentSchemas", {}).update(dsch)
    # drafts 0-3 format renames (upgrade_draft_3_to_draft_4.h:404
    # rewrite_format): host-name → hostname, ip-address → ipv4
    if isinstance(node.get("format"), str):
        node["format"] = {"host-name": "hostname",
                          "ip-address": "ipv4"}.get(node["format"],
                                                    node["format"])


def upgrade_schema(schema: Union[dict, bool]) -> Union[dict, bool]:
    """Normalize a legacy-draft schema to the 2020-12 subset.

    The rewrite walks SCHEMA positions only (``_walk_schema``): keyword
    renames never apply inside ``properties`` map entries (a property
    named "definitions" stays "definitions") or inside ``const``/``enum``
    data values."""
    if not isinstance(schema, dict):
        return schema
    out = copy.deepcopy(schema)
    # drafts ≤7 IGNORE $ref siblings (draft_ref_siblings canonicalizer
    # analogue): drop them BEFORE the keyword rewrite so the modern
    # compiler — which honours siblings — keeps the legacy meaning. Only
    # when the declared dialect is a classic draft; 2019-09+ (or an
    # undeclared dialect) keeps siblings.
    dialect = out.get("$schema", "")
    if isinstance(dialect, str) and "/draft-0" in dialect:
        def strip_ref_siblings(node):
            if isinstance(node.get("$ref"), str) and len(node) > 1:
                for k in [k for k in node
                          if k not in ("$ref", "$id", "id", "$defs",
                                       "definitions", "$comment", "title",
                                       "description")]:
                    node.pop(k)
        _walk_schema(out, strip_ref_siblings)
    # drafts 0-2 declare properties required-by-default (optional:true
    # opts out); the rule activates only on an explicit draft-0/1/2
    # `$schema` declaration
    import re as _re

    req_default = bool(_re.search(r"draft-0[0-2][/#]", dialect))
    _walk_schema(out, lambda n: _upgrade_node(
        n, required_by_default=req_default))
    _rewrite_refs(out, {"#/definitions": "#/$defs"})
    out["$schema"] = DIALECT_2020
    return out


_LEGACY_MARKERS = ("definitions", "additionalItems", "dependencies", "id",
                   "extends", "disallow", "divisibleBy",
                   # drafts 0-2 (README.markdown:51-61 partial support)
                   "requires", "maxDecimal", "optional")


def needs_upgrade(schema: Union[dict, bool]) -> bool:
    if not isinstance(schema, dict):
        return False
    dialect = schema.get("$schema", "")
    if dialect and "2020-12" not in dialect:
        return True

    hits: list[bool] = []

    def fn(node):
        if any(k in node for k in _LEGACY_MARKERS) or isinstance(node.get("items"), list) \
           or isinstance(node.get("required"), bool) \
           or isinstance(node.get("exclusiveMinimum"), bool) or isinstance(node.get("exclusiveMaximum"), bool) \
           or (isinstance(node.get("type"), list)
               and any(isinstance(x, dict) for x in node["type"])):
            hits.append(True)

    _walk_schema(schema, fn)
    return bool(hits)
