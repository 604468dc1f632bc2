"""Schema canonicalization — semantic rewrite rules before compilation.

The reference ships a 126-rule canonicalizer
(/root/reference/vendor/blaze/src/canonicalizer/rules/, driver
canonicalize.cc:36-50) that rewrites schemas into simpler equivalent
forms so the compiler sees fewer shapes. This module re-expresses the
modern-dialect subset (~40 rules; each cites its reference analogue —
the remainder are draft-0-3 disallow/extends forms handled by
plans/upgrade.py first, plus framing-only rules like dialect-URI
normalization); ``canonicalize`` runs them to a fixpoint, mirroring the
postprocess fixpoint loop (postprocess.h:407-408).

Plan-level wins: flattened allOf keeps the conjunction shallow (fewer
nested _and_combine layers), folded bounds emit one comparison instead of
two, and unsatisfiable nodes become the false schema (compiles to a
constant — dead-code elimination downstream).
"""

from __future__ import annotations

import copy
from typing import Union

from jsonschema_spark.functions.canonical import canonical_dumps
from jsonschema_spark.plans.upgrade import _walk_schema, subschemas

_ALL_TYPES = {"null", "boolean", "integer", "number", "string", "array", "object"}

_BOUND_PAIRS = [
    ("minimum", "maximum"),
    ("minLength", "maxLength"),
    ("minItems", "maxItems"),
    ("minProperties", "maxProperties"),
]


def _is_plain_num(v) -> bool:
    return isinstance(v, (int, float)) and not isinstance(v, bool)


def _type_accept_set(t) -> set:
    """Concrete instance-type acceptance set for a `type` value —
    "number" admits integers too, so expand it for disjointness tests."""
    out = set()
    for x in (t if isinstance(t, list) else [t]):
        if x == "number":
            out |= {"number", "integer"}
        elif isinstance(x, str):
            out.add(x)
    return out


# keyword → instance-type bucket it can constrain ("number" bucket covers
# integer too). Used by non_applicable_type_specific_keywords: when the
# declared type excludes the bucket, the keyword can never fire (assertion)
# nor annotate (applicators only annotate instances of their bucket type).
_KW_APPLICABLE = {
    "minimum": "number", "maximum": "number",
    "exclusiveMinimum": "number", "exclusiveMaximum": "number",
    "multipleOf": "number",
    "minLength": "string", "maxLength": "string", "pattern": "string",
    "minItems": "array", "maxItems": "array", "uniqueItems": "array",
    "prefixItems": "array", "items": "array", "contains": "array",
    "minContains": "array", "maxContains": "array",
    "required": "object", "minProperties": "object", "maxProperties": "object",
    "properties": "object", "patternProperties": "object",
    "additionalProperties": "object", "propertyNames": "object",
    "dependentRequired": "object", "dependentSchemas": "object",
}

# pure-assertion validation keywords an enum/const member can be checked
# against in isolation (no annotations, no applicator subtrees)
_VALIDATION_KWS = (
    "minimum", "maximum", "exclusiveMinimum", "exclusiveMaximum",
    "multipleOf", "minLength", "maxLength", "pattern", "minItems",
    "maxItems", "uniqueItems", "minProperties", "maxProperties", "required",
)

# keywords that make merging an allOf branch unsafe: identifiers (URI
# targets), reference jumps, conditionals (pairing `if` from one branch
# with `then` from another changes meaning), runtime-annotation consumers,
# and SIBLING-COUPLED keywords whose semantics depend on adjacency in the
# same schema object (additionalProperties ↔ properties, items ↔
# prefixItems, minContains ↔ contains): merging them next to another
# branch's trigger keyword would change what they mean
_NO_MERGE_KWS = frozenset({
    "$id", "$anchor", "$dynamicAnchor", "$ref", "$dynamicRef",
    "$recursiveRef", "$recursiveAnchor", "$schema", "$vocabulary",
    "$defs", "definitions",
    "if", "then", "else", "not",
    "unevaluatedProperties", "unevaluatedItems",
    "additionalProperties", "additionalItems", "items",
    "minContains", "maxContains",
})


# keyword pairs whose MEANING depends on what sits next to them in the
# same schema object: hoisting one of a pair into a parent carrying the
# other changes semantics even when the key sets are disjoint
# (additionalProperties is shielded by adjacent properties/patternProperties;
# items starts after an adjacent prefixItems; min/maxContains quantify an
# adjacent contains; then/else activate on an adjacent if)
_ADJ_PAIRS: tuple = (
    (frozenset({"properties", "patternProperties"}),
     frozenset({"additionalProperties", "unevaluatedProperties"})),
    (frozenset({"prefixItems"}),
     frozenset({"items", "additionalItems", "unevaluatedItems"})),
    (frozenset({"contains"}), frozenset({"minContains", "maxContains"})),
    (frozenset({"if"}), frozenset({"then", "else"})),
)

# keywords that never survive a move to a different schema object: scope/
# identifier keywords (URI base, anchors, vocab), $defs/definitions (local
# pointer paths into them would change), and unevaluated* (their annotation
# visibility scope is the schema object they sit in)
_NEVER_HOIST = frozenset({
    "$id", "$anchor", "$dynamicAnchor", "$schema", "$vocabulary",
    "$recursiveAnchor", "$defs", "definitions",
    "unevaluatedProperties", "unevaluatedItems",
})


def _hoist_blocked(node: dict, inner: dict, lst, prot) -> bool:
    """Whether merging single combinator branch ``inner`` (an element of
    list ``lst``) into ``node`` is UNSOUND despite disjoint keys: scope
    keywords, adjacency-coupled keyword pairs (fuzz-caught: hoisting a
    not.not-unwrapped `properties` next to an additionalProperties:false
    parent let the properties shield keys aP used to reject), or a local
    JSON pointer whose path runs through the moved subtree."""
    ia, na = set(inner), set(node)
    if ia & _NEVER_HOIST:
        return True
    if id(inner) in prot[0] or id(inner) in prot[1] or id(lst) in prot[0]:
        return True
    for a, b in _ADJ_PAIRS:
        if (ia & a and na & b) or (ia & b and na & a):
            return True
    return False


def _type_ok_py(v, t: str) -> bool:
    from jsonschema_spark.plans.pyeval import _type_ok

    return _type_ok(v, t)


def _is_unsatisfiable(node: dict) -> bool:
    for lo, hi in _BOUND_PAIRS:
        if (
            isinstance(node.get(lo), (int, float))
            and isinstance(node.get(hi), (int, float))
            and not isinstance(node.get(lo), bool)
            and not isinstance(node.get(hi), bool)
            and node[lo] > node[hi]
        ):
            return True
    if node.get("enum") == []:
        return True
    if (
        _is_plain_num(node.get("exclusiveMinimum"))
        and _is_plain_num(node.get("exclusiveMaximum"))
        and node["exclusiveMinimum"] >= node["exclusiveMaximum"]
    ):
        return True
    return False


def _mentions_unevaluated(node) -> bool:
    return isinstance(node, dict) and (
        "unevaluatedProperties" in node or "unevaluatedItems" in node
        or any(_mentions_unevaluated(sub) for _, sub in subschemas(node)))


_NO_PROT: tuple[set, set] = (set(), set())


def _rewrite_node(node: dict, changed: list, annotations_matter: bool = False,
                  prot: tuple[set, set] = _NO_PROT) -> None:
    """``annotations_matter``: the document uses unevaluated* somewhere, so
    rules that would ERASE annotation sources (a successful anyOf branch's
    properties marks, a bare `if`'s marks) are disabled — dropping them
    changes which properties count as evaluated (2020-12 core §11).
    ``prot``: pointer/identifier protection sets (_pointer_protection) —
    rules that collapse a node to the false schema or drop a subtree skip
    nodes a $ref still needs to resolve through."""
    def mark():
        changed.append(True)

    # enum_singleton_to_const (rules/enum_to_const.h analogue)
    if isinstance(node.get("enum"), list) and len(node["enum"]) == 1 and "const" not in node:
        node["const"] = node.pop("enum")[0]
        mark()
    # duplicate enum values dropped (deep repr equality)
    if isinstance(node.get("enum"), list):
        seen, dedup = set(), []
        for v in node["enum"]:
            if repr(v) not in seen:
                seen.add(repr(v))
                dedup.append(v)
        if len(dedup) != len(node["enum"]):
            node["enum"] = dedup
            mark()
    # exclusive/inclusive bound folding (rules: exclusive_* implication).
    # _is_plain_num keeps draft-4 BOOLEAN exclusive markers out (True is an
    # int to Python — comparing it as a bound silently erased the marker)
    if _is_plain_num(node.get("exclusiveMinimum")) and _is_plain_num(node.get("minimum")):
        if node["exclusiveMinimum"] >= node["minimum"]:
            node.pop("minimum")
        else:
            node.pop("exclusiveMinimum")
        mark()
    if _is_plain_num(node.get("exclusiveMaximum")) and _is_plain_num(node.get("maximum")):
        if node["exclusiveMaximum"] <= node["maximum"]:
            node.pop("maximum")
        else:
            node.pop("exclusiveMaximum")
        mark()
    # allOf flattening: nested allOf entries splice into the parent list
    # (rules/flatten_allof.h analogue)
    allof = node.get("allOf")
    if isinstance(allof, list):
        flat: list = []
        for sub in allof:
            if isinstance(sub, dict) and set(sub) == {"allOf"} and isinstance(sub["allOf"], list):
                flat.extend(sub["allOf"])
                mark()
            elif sub is True or sub == {}:
                mark()  # no-op branch dropped
            else:
                flat.append(sub)
        if not flat:
            node.pop("allOf")
            mark()
        else:
            node["allOf"] = flat
    # single-element allOf hoisted when keys don't collide
    allof = node.get("allOf")
    if (
        isinstance(allof, list)
        and len(allof) == 1
        and isinstance(allof[0], dict)
        and not (set(allof[0]) & set(node) - {"allOf"})
        and not _hoist_blocked(node, allof[0], allof, prot)
    ):
        inner = node.pop("allOf")[0]
        node.update(inner)
        mark()
    # double negation: not.not → allOf wrapper (rules/double_negation.h).
    # Annotation-gated: `not` discards its subtree's annotations, but an
    # allOf hoist lets them escape and mark properties as evaluated — a
    # verdict flip under unevaluated* (same gating as anyOf-true / bare-if)
    nt = node.get("not")
    if (
        not annotations_matter
        and isinstance(nt, dict) and set(nt) == {"not"} and isinstance(nt["not"], (dict, bool))
    ):
        inner = node.pop("not")["not"]
        node.setdefault("allOf", []).append(inner if isinstance(inner, dict) else ({} if inner else {"not": {}}))
        mark()
    # type array singleton → string (rules/type_array_to_string.h)
    if isinstance(node.get("type"), list):
        types = list(dict.fromkeys(node["type"]))
        if len(types) == 1:
            node["type"] = types[0]
            mark()
        elif len(types) != len(node["type"]):
            node["type"] = types
            mark()
    # if without consequences is dead (rules/if_without_then_else.h) —
    # UNLESS annotations matter: a bare `if`'s successful-branch marks feed
    # unevaluated* even with no then/else
    if "if" in node and "then" not in node and "else" not in node and not annotations_matter:
        node.pop("if")
        mark()
    # empty then/else branches are no-ops (then_empty/else_empty analogues;
    # {} contributes neither assertions nor annotations)
    for kw in ("then", "else"):
        if node.get(kw) is True or node.get(kw) == {}:
            node.pop(kw)
            mark()
    # constant condition folding (if_then_else_implicit.h analogue): a
    # boolean-constant `if` selects its branch statically; the untaken
    # branch never contributes. Annotation-gated like bare-if: moving the
    # taken branch into allOf changes its annotation scope relative to the
    # conditional structure under unevaluated*
    if annotations_matter:
        pass
    elif (node.get("if") is True or node.get("if") == {}) and not (
        node.get("then") is False and _clear_blocked(node, prot)
    ):
        node.pop("if")
        taken = node.pop("then", None)
        node.pop("else", None)
        if isinstance(taken, dict) and taken:
            node.setdefault("allOf", []).append(taken)
        elif taken is False:
            node.clear()
            node["not"] = {}
            mark()
            return
        mark()
    elif (node.get("if") is False or (
        isinstance(node.get("if"), dict)
        and node["if"].get("not") == {}
        and len(node["if"]) == 1
    )) and not (node.get("else") is False and _clear_blocked(node, prot)):
        node.pop("if")
        node.pop("then", None)
        taken = node.pop("else", None)
        if isinstance(taken, dict) and taken:
            node.setdefault("allOf", []).append(taken)
        elif taken is False:
            node.clear()
            node["not"] = {}
            mark()
            return
        mark()
    # no-op defaults dropped (rules/*_default.h family)
    for kw, noop in (("minLength", 0), ("minItems", 0), ("minProperties", 0)):
        if node.get(kw) == noop and not isinstance(node.get(kw), bool):
            node.pop(kw)
            mark()
    # multipleOf 1 is a no-op ONLY for integers (0.5 % 1 != 0) — the
    # reference gates multiple_of_default.h on type == "integer"
    if (
        node.get("multipleOf") == 1
        and not isinstance(node.get("multipleOf"), bool)
        and node.get("type") == "integer"
    ):
        node.pop("multipleOf")
        mark()
    if node.get("uniqueItems") is False:
        node.pop("uniqueItems")
        mark()
    # --- anyOf/oneOf branch algebra ----------------------------------------
    # (anyof_true_simplify / anyof_remove_false_schemas / flatten_nested_anyof /
    #  duplicate_anyof_branches / single_branch_anyof analogues)
    anyof = node.get("anyOf")
    if isinstance(anyof, list):
        if any(b is True or b == {} for b in anyof) and not annotations_matter:
            # one always-true branch satisfies the whole anyOf — but the
            # OTHER branches' annotations would be erased with it, so this
            # only fires when no unevaluated* consumes annotations
            node.pop("anyOf")
            mark()
        else:
            flat: list = []
            for b in anyof:
                if b is False or (isinstance(b, dict) and b.get("not") == {} and len(b) == 1):
                    mark()  # false branch contributes nothing
                elif isinstance(b, dict) and set(b) == {"anyOf"} and isinstance(b["anyOf"], list):
                    flat.extend(b["anyOf"])
                    mark()
                else:
                    flat.append(b)
            dedup_b, seen_b = [], set()
            for b in flat:
                kb = canonical_dumps(b)
                if kb not in seen_b:
                    seen_b.add(kb)
                    dedup_b.append(b)
            if not dedup_b:
                if not _clear_blocked(node, prot):
                    node.clear()
                    node["not"] = {}  # all branches false → unsatisfiable
                    mark()
                return
            if len(dedup_b) != len(flat):
                mark()
            if len(dedup_b) == 1 and isinstance(dedup_b[0], dict) and not (
                set(dedup_b[0]) & set(node) - {"anyOf"}
            ) and not _hoist_blocked(node, dedup_b[0], anyof, prot):
                node.pop("anyOf")
                node.update(dedup_b[0])
                mark()
            else:
                node["anyOf"] = dedup_b
    oneof = node.get("oneOf")
    if isinstance(oneof, list):
        kept = [b for b in oneof
                if not (b is False or (isinstance(b, dict) and b.get("not") == {} and len(b) == 1))]
        if len(kept) != len(oneof):  # oneof_false_simplify
            if not kept:
                if not _clear_blocked(node, prot):
                    node.clear()
                    node["not"] = {}
                    mark()
                return
            node["oneOf"] = kept
            mark()
        if len(kept) == 1 and isinstance(kept[0], dict) and not (
            set(kept[0]) & set(node) - {"oneOf"}
        ) and not _hoist_blocked(node, kept[0], oneof, prot):  # single_branch_oneof
            node.pop("oneOf")
            node.update(kept[0])
            mark()
    # allOf containing a false branch → unsatisfiable (allof_false_simplify)
    if isinstance(node.get("allOf"), list) and any(
        b is False or (isinstance(b, dict) and b.get("not") == {} and len(b) == 1)
        for b in node["allOf"]
    ) and not _clear_blocked(node, prot):
        node.clear()
        node["not"] = {}
        mark()
        return
    # duplicate allOf branches are idempotent (duplicate_allof_branches)
    if isinstance(node.get("allOf"), list):
        dedup_a, seen_a = [], set()
        for b in node["allOf"]:
            kb = canonical_dumps(b)
            if kb not in seen_a:
                seen_a.add(kb)
                dedup_a.append(b)
        if len(dedup_a) != len(node["allOf"]):
            node["allOf"] = dedup_a
            mark()
    # --- const/enum vs type ------------------------------------------------
    # const satisfying the sibling type → type redundant; contradicting it →
    # unsatisfiable (const_with_type / unsatisfiable_type_and_enum family)
    if "const" in node and "type" in node:
        ts = node["type"] if isinstance(node["type"], list) else [node["type"]]
        if any(_type_ok_py(node["const"], t) for t in ts):
            node.pop("type")
        elif not _clear_blocked(node, prot):
            node.clear()
            node["not"] = {}
        else:
            return
        mark()
        return
    # enum values filtered by sibling type, then type dropped (enum_filter_by_type)
    if isinstance(node.get("enum"), list) and "type" in node:
        ts = node["type"] if isinstance(node["type"], list) else [node["type"]]
        kept_e = [v for v in node["enum"] if any(_type_ok_py(v, t) for t in ts)]
        if not kept_e:
            if not _clear_blocked(node, prot):
                node.clear()
                node["not"] = {}
                mark()
            return
        node["enum"] = kept_e
        node.pop("type")
        mark()
    # equal inclusive numeric bounds collapse to const (equal_numeric_bounds_to_const)
    t_num = node.get("type")
    if (
        _is_plain_num(node.get("minimum"))
        and node.get("minimum") == node.get("maximum")
        and "const" not in node
        and "enum" not in node
        and (t_num in ("integer", "number")
             or (isinstance(t_num, list) and t_num and set(t_num) <= {"integer", "number"}))
    ):
        ts = t_num if isinstance(t_num, list) else [t_num]
        if any(_type_ok_py(node["minimum"], t) for t in ts):
            lo = node.pop("minimum")
            node.pop("maximum")
            node.pop("type")
            node["const"] = lo
            mark()
        elif not _clear_blocked(node, prot):
            # bound contradicts the sibling type (e.g. integer ∧ min=max=1.5):
            # unsatisfiable, NOT const — collapsing to const would flip the
            # verdict for that very value
            node.clear()
            node["not"] = {}
            mark()
            return
    # integer-typed exclusive bounds fold to inclusive (exclusive_*_integer_to_*)
    if node.get("type") == "integer":
        em = node.get("exclusiveMinimum")
        if _is_plain_num(em) and float(em).is_integer() and "minimum" not in node:
            node["minimum"] = int(em) + 1
            node.pop("exclusiveMinimum")
            mark()
        ex = node.get("exclusiveMaximum")
        if _is_plain_num(ex) and float(ex).is_integer() and "maximum" not in node:
            node["maximum"] = int(ex) - 1
            node.pop("exclusiveMaximum")
            mark()
    # --- dead / implied keywords -------------------------------------------
    for kw in ("minContains", "maxContains"):  # *_contains_without_contains
        if kw in node and "contains" not in node:
            node.pop(kw)
            mark()
    if (
        isinstance(node.get("maxContains"), int)
        and isinstance(node.get("maxItems"), int)
        and node["maxContains"] >= node["maxItems"]
    ):  # max_contains_covered_by_max_items
        node.pop("maxContains")
        mark()
    if (
        isinstance(node.get("minProperties"), int)
        and isinstance(node.get("required"), list)
        and node["minProperties"] <= len(set(node["required"]))
    ):  # min_properties_covered_by_required
        node.pop("minProperties")
        mark()
    if isinstance(node.get("required"), list):
        uniq_r = list(dict.fromkeys(node["required"]))
        if len(uniq_r) != len(node["required"]):  # duplicate_required_values
            node["required"] = uniq_r
            mark()
    for kw in ("then", "else"):  # then_without_if / else_without_if
        if kw in node and "if" not in node:
            node.pop(kw)
            mark()
    if node.get("not") is False or (
        isinstance(node.get("not"), dict)
        and node["not"].get("not") == {}
        and len(node["not"]) == 1
    ):  # not_false: never matches the false schema → always true
        node.pop("not")
        mark()
    if "$comment" in node:  # comment_drop
        node.pop("$comment")
        mark()
    # empty applicator maps are no-ops (empty_*_drop family)
    for kw in ("$defs", "definitions", "dependentSchemas", "dependentRequired",
               "dependencies", "patternProperties", "properties"):
        if node.get(kw) == {}:
            node.pop(kw)
            mark()
    if isinstance(node.get("dependentRequired"), dict):
        trimmed = {k: v for k, v in node["dependentRequired"].items() if v != []}
        if len(trimmed) != len(node["dependentRequired"]):  # dependent_required_tautology
            if trimmed:
                node["dependentRequired"] = trimmed
            else:
                node.pop("dependentRequired")
            mark()
    # full type union is no constraint (type_union_implicit)
    if isinstance(node.get("type"), list) and set(node["type"]) >= _ALL_TYPES - {"integer"}:
        node.pop("type")
        mark()
    # no in-place applicators → unevaluated* degrade to the static keywords
    # (unevaluated_properties_to_additional_properties / unevaluated_items_to_items):
    # turns runtime mark-tracking into the compiler's static fast path
    _INPLACE = ("allOf", "anyOf", "oneOf", "if", "then", "else",
                "dependentSchemas", "$ref", "$dynamicRef", "$recursiveRef")
    if (
        "unevaluatedProperties" in node
        and "additionalProperties" not in node
        and not any(k in node for k in _INPLACE)
    ):
        node["additionalProperties"] = node.pop("unevaluatedProperties")
        mark()
    if (
        "unevaluatedItems" in node
        and "items" not in node
        and "contains" not in node  # contains marks hits evaluated; items would not
        and not any(k in node for k in _INPLACE)
    ):
        node["items"] = node.pop("unevaluatedItems")
        mark()
    # --- round-3 batch: reference-rule parity ------------------------------
    # deprecated_false_drop: `deprecated: false` is the default — pure noise
    if node.get("deprecated") is False:
        node.pop("deprecated")
        mark()
    # recursive_anchor_false_drop: $recursiveAnchor: false is the default
    if node.get("$recursiveAnchor") is False:
        node.pop("$recursiveAnchor")
        mark()
    # exclusive_bounds boolean form is dialect-dependent (draft-4 semantics);
    # handled in _root_passes under the classic-draft gate — see there.
    # content_media_type_without_encoding / content_schema_without_media_type:
    # content* are pure annotations in 2019-09/2020-12 — acceptance is
    # unchanged; incomplete stacks are dropped like the reference does
    if "contentMediaType" in node and "contentEncoding" not in node:
        node.pop("contentMediaType")
        mark()
    if "contentSchema" in node and "contentMediaType" not in node:
        node.pop("contentSchema")
        mark()
    # const_in_enum: const ∈ enum → enum redundant; const ∉ enum → nothing
    # satisfies both → false schema
    if "const" in node and isinstance(node.get("enum"), list):
        ck = canonical_dumps(node["const"])
        if any(canonical_dumps(v) == ck for v in node["enum"]):
            node.pop("enum")
        elif not _clear_blocked(node, prot):
            node.clear()
            node["not"] = {}
        else:
            return
        mark()
        return
    # minimum/maximum_real_for_integer: an integer-typed schema can fold a
    # real bound to the nearest admissible integer
    if node.get("type") == "integer":
        import math

        mn = node.get("minimum")
        if isinstance(mn, float):
            node["minimum"] = int(math.ceil(mn))
            mark()
        mx = node.get("maximum")
        if isinstance(mx, float):
            node["maximum"] = int(math.floor(mx))
            mark()
    # min_items_given_min_contains: ≥minContains matching items force
    # length ≥ minContains, so a weaker minItems is redundant
    if (
        "contains" in node
        and isinstance(node.get("minContains"), int)
        and not isinstance(node.get("minContains"), bool)
        and node["minContains"] >= 1
        and isinstance(node.get("minItems"), int)
        and not isinstance(node.get("minItems"), bool)
        and node["minItems"] <= node["minContains"]
    ):
        node.pop("minItems")
        mark()
    # additional_items_implicit / non_applicable_additional_items:
    # additionalItems is inert without tuple-form items
    if "additionalItems" in node and not isinstance(node.get("items"), list):
        node.pop("additionalItems")
        mark()
    # dependencies_property_tautology: requiring the trigger property in
    # its own dependency list is a tautology (it must be present to fire)
    dr = node.get("dependentRequired")
    if isinstance(dr, dict):
        for k, v in list(dr.items()):
            if isinstance(v, list) and k in v:
                dr[k] = [x for x in v if x != k]
                mark()
    # oneof_to_anyof_disjoint_types: pairwise type-disjoint branches can
    # never overlap, so the exactly-one check degrades to any-of (cheaper
    # plan: no pairwise-exclusion conjunct); annotation-equivalent since at
    # most one branch can succeed either way
    oneof = node.get("oneOf")
    if (
        isinstance(oneof, list) and len(oneof) >= 2 and "anyOf" not in node
        and all(isinstance(b, dict) and "type" in b
                and all(isinstance(x, str) for x in
                        (b["type"] if isinstance(b["type"], list) else [b["type"]]))
                for b in oneof)
    ):
        sets = [_type_accept_set(b["type"]) for b in oneof]
        if all(not (sets[i] & sets[j])
               for i in range(len(sets)) for j in range(i + 1, len(sets))):
            node["anyOf"] = node.pop("oneOf")
            mark()
    # unsatisfiable_in_place_applicator_type: the node's type and its allOf
    # branches' types must share at least one instance type
    tsets = []
    if "type" in node:
        tsets.append(_type_accept_set(node["type"]))
    for b in node.get("allOf") or []:
        if isinstance(b, dict) and "type" in b:
            tsets.append(_type_accept_set(b["type"]))
    if len(tsets) >= 2:
        inter = set.intersection(*tsets)
        if not inter and not _clear_blocked(node, prot):
            node.clear()
            node["not"] = {}
            mark()
            return
    # non_applicable_type_specific_keywords: the declared type excludes the
    # keyword's instance-type bucket → it can neither assert nor annotate.
    # Applicator subtrees carrying $id/$anchor stay (URI-reachable).
    if "type" in node and not isinstance(node["type"], bool):
        declared = _type_accept_set(node["type"])
        if declared:   # unknown strings keep everything (conservative)
            for kw, bucket in _KW_APPLICABLE.items():
                if kw not in node:
                    continue
                applies = (bucket in declared
                           or (bucket == "number" and "integer" in declared))
                if not applies and not _drop_blocked(node, kw, prot):
                    node.pop(kw)
                    mark()
    # enum_drop_redundant_validation / non_applicable_enum_validation_keywords:
    # enum/const members are concrete — evaluate sibling pure-assertion
    # keywords per member, keep survivors, drop the keywords
    val_sub = {}
    for kw in _VALIDATION_KWS:
        if kw in node:
            if kw == "uniqueItems":
                if node[kw] is True:
                    val_sub[kw] = True
            elif not isinstance(node[kw], bool):
                val_sub[kw] = node[kw]
    if val_sub and ("enum" in node or "const" in node):
        from jsonschema_spark.plans.pyeval import EvalError, validate_py

        try:
            if isinstance(node.get("enum"), list):
                kept_m = [m for m in node["enum"] if validate_py(val_sub, m)]
                if not kept_m and _clear_blocked(node, prot):
                    return
                for kw in val_sub:
                    node.pop(kw)
                if kept_m:
                    node["enum"] = kept_m
                else:
                    node.clear()
                    node["not"] = {}
                mark()
                return
            if "const" in node:
                ok_c = validate_py(val_sub, node["const"])
                if not ok_c and _clear_blocked(node, prot):
                    return
                for kw in val_sub:
                    node.pop(kw)
                if not ok_c:
                    node.clear()
                    node["not"] = {}
                mark()
                return
        except (EvalError, RecursionError):
            pass
    # type_boolean_as_enum, inverse direction: {true,false} enum IS the
    # boolean type — a JVM type check beats deep canonical equality here
    e = node.get("enum")
    if (
        isinstance(e, list) and len(e) == 2 and "type" not in node
        and all(isinstance(x, bool) for x in e) and e[0] is not e[1]
    ):
        node.pop("enum")
        node["type"] = "boolean"
        mark()
    # allof_merge_compatible_branches: key-disjoint branches free of
    # reference/conditional/identifier keywords collapse into one (same
    # conjunction, shallower plan; annotations unchanged — every conjunct's
    # annotations apply regardless of grouping)
    allof = node.get("allOf")
    if isinstance(allof, list) and len(allof) >= 2:
        merged: dict = {}
        rest: list = []
        did = False
        for b in allof:
            if (
                isinstance(b, dict) and b
                and not (set(b) & _NO_MERGE_KWS)
                and not (set(b) & set(merged))
            ):
                if merged:
                    did = True
                merged.update(b)
            else:
                rest.append(b)
        if did:
            node["allOf"] = ([merged] if merged else []) + rest
            mark()
    # unsatisfiable node → false schema marker (rules/unsatisfiable_*.h):
    # expressed as {"not": {}} which the compiler folds to constant False
    if _is_unsatisfiable(node) and node.get("not") != {} \
            and not _clear_blocked(node, prot):
        node.clear()
        node["not"] = {}
        mark()


def _collect_refs(node) -> list:
    """Every reference string under ``node``, one entry per use."""
    out: list = []
    _walk_schema(node, lambda n: out.extend(
        n[kw] for kw in ("$ref", "$dynamicRef", "$recursiveRef") if isinstance(n.get(kw), str)))
    return out


def _unescape_ptr(seg: str) -> str:
    return seg.replace("~1", "/").replace("~0", "~")


def _pointer_protection(root) -> tuple[set, set]:
    """Ids of nodes that local JSON-pointer refs resolve THROUGH (strict
    ancestors of a target) and ids of the targets themselves. A
    destructive rewrite must not erase the children of an ancestor (the
    pointer would dangle) nor drop a targeted subtree. Recomputed per
    fixpoint iteration; id-based, so a subtree that a rule MOVES keeps
    its protection for the rest of the pass."""
    refs = set(_collect_refs(root))
    ancestors: set = set()
    targets: set = set()
    for r in refs:
        if not r.startswith("#/"):
            continue
        cur = root
        path = [cur]
        for seg in r[2:].split("/"):
            s = _unescape_ptr(seg)
            if isinstance(cur, dict) and s in cur:
                cur = cur[s]
            elif isinstance(cur, list):
                try:
                    cur = cur[int(s)]
                except (ValueError, IndexError):
                    break
            else:
                break
            path.append(cur)
        for n in path[:-1]:
            if isinstance(n, (dict, list)):
                ancestors.add(id(n))
        if isinstance(path[-1], (dict, list)):
            targets.add(id(path[-1]))
    return ancestors, targets


def _clear_blocked(node, prot) -> bool:
    """node.clear() erases the subtree under every keyword: blocked when a
    pointer resolves through this node or the subtree carries $id/$anchor
    (URI/anchor-reachable from elsewhere)."""
    return id(node) in prot[0] or _has_identifiers(node)


def _drop_blocked(node: dict, kw: str, prot) -> bool:
    """Dropping keyword ``kw``'s subtree outright: blocked when a pointer
    targets it, resolves through it, or a subschema under it carries
    identifiers."""
    sub = node[kw]
    return id(sub) in prot[0] or id(sub) in prot[1] or any(
        ptr.split("/")[1] == kw and _has_identifiers(child)
        for ptr, child in subschemas(node))


def _has_identifiers(node) -> bool:
    """A schema carrying $id/$anchor/$dynamicAnchor (or nesting one) may be
    referenced by URI or anchor name — never safe to drop by pointer."""
    return isinstance(node, dict) and (
        any(k in node for k in ("$id", "$anchor", "$dynamicAnchor"))
        or any(_has_identifiers(sub) for _, sub in subschemas(node)))


def _drop_orphan_defs(root: dict, changed: list) -> None:
    """orphan_definitions.h analogue — remove top-level $defs/definitions
    entries no pointer reference reaches. Conservative: any non-pointer
    reference in the document (anchor or absolute URI) or an entry with
    identifiers disables dropping entirely."""
    refs = set(_collect_refs(root))
    if any(not r.startswith("#/") for r in refs):
        return  # anchors / external URIs could reach defs invisibly
    for kw in ("$defs", "definitions"):
        defs = root.get(kw)
        if not isinstance(defs, dict):
            continue
        prefix = f"#/{kw}/"
        keep = {}
        for name, sub in defs.items():
            token = name.replace("~", "~0").replace("/", "~1")
            used = any(r == f"{prefix}{token}" or r.startswith(f"{prefix}{token}/")
                       for r in refs)
            if used or _has_identifiers(sub):
                keep[name] = sub
        if len(keep) != len(defs):
            changed.append(True)
            if keep:
                root[kw] = keep
            else:
                root.pop(kw)


_MODERN_DIALECTS = ("https://json-schema.org/draft/2019-09/",
                    "https://json-schema.org/draft/2020-12/")


def _normalize_dialect_uri(s: str) -> str:
    """Official-dialect URI normalization (modern_official_dialect_with_http
    / _with_empty_fragment, draft_official_dialect_with_https /
    _without_empty_fragment): modern = https + no fragment, classic drafts
    = http + trailing empty fragment — the forms each spec publishes."""
    if s.startswith("http://json-schema.org/draft/20"):
        s = "https://" + s[len("http://"):]
    elif s.startswith("https://json-schema.org/draft-0"):
        s = "http://" + s[len("https://"):]
    if s.startswith(_MODERN_DIALECTS) and s.endswith("#"):
        s = s[:-1]
    elif s.startswith("http://json-schema.org/draft-0") and not s.endswith("#"):
        s = s + "#"
    return s


def _doc_has_recursive_anchor(root) -> bool:
    return isinstance(root, dict) and (
        root.get("$recursiveAnchor") is True
        or any(_doc_has_recursive_anchor(sub) for _, sub in subschemas(root)))


def _doc_dynamic_anchor_names(root) -> set:
    names: set = set()

    def fn(n):
        if isinstance(n.get("$dynamicAnchor"), str):
            names.add(n["$dynamicAnchor"])

    _walk_schema(root, fn)
    return names


def _root_passes(out: dict, changed: list) -> None:
    """Rules needing document-global context (refs, anchors, root identity)."""
    # dependencies → dependentRequired/dependentSchemas split
    # (dependencies_to_any_of family, expressed as the modern keyword split
    # our compiler executes natively instead of blaze's anyOf encoding).
    # Dialect-gated like the reference: in 2019-09/2020-12 `dependencies`
    # is an unknown (no-op) keyword, so the split only fires for classic
    # drafts where it actually asserted something.
    dialect = out.get("$schema", "")
    if isinstance(dialect, str) and "/draft-0" in dialect:
        def dep_split(n):
            if isinstance(n.get("dependencies"), dict):
                deps = n.pop("dependencies")
                for name, v in deps.items():
                    if isinstance(v, list):
                        n.setdefault("dependentRequired", {}).setdefault(name, v)
                    elif isinstance(v, str):   # draft-3 single-property form
                        n.setdefault("dependentRequired", {}).setdefault(name, [v])
                    else:
                        n.setdefault("dependentSchemas", {}).setdefault(name, v)
                changed.append(True)
        _walk_schema(out, dep_split)

        # exclusive_bounds_false_drop + draft-4 boolean form: only under a
        # classic-draft $schema does boolean exclusiveMinimum/Maximum assert
        # anything (it flips the sibling bound to exclusive); in 2019-09/
        # 2020-12 a boolean value for these keywords is malformed and ignored
        # by evaluators, so rewriting it there would FLIP verdicts
        # (e.g. {minimum:1, exclusiveMinimum:true} accepts 1 in 2020-12).
        def ex_bool(n):
            for exkw, bkw in (("exclusiveMinimum", "minimum"),
                              ("exclusiveMaximum", "maximum")):
                if isinstance(n.get(exkw), bool):
                    flag = n.pop(exkw)
                    if flag and _is_plain_num(n.get(bkw)):
                        n[exkw] = n.pop(bkw)
                    changed.append(True)
        _walk_schema(out, ex_bool)
    refs = set(_collect_refs(out))
    # definitions_to_defs: rename when no reference could observe the path
    if not any("definitions" in r for r in refs):
        def rn(n):
            if isinstance(n.get("definitions"), dict) and "$defs" not in n:
                n["$defs"] = n.pop("definitions")
                changed.append(True)
        _walk_schema(out, rn)
    # $schema dialect-URI normalization wherever a resource declares one
    def dia(n):
        s = n.get("$schema")
        if isinstance(s, str):
            ns = _normalize_dialect_uri(s)
            if ns != s:
                n["$schema"] = ns
                changed.append(True)
    _walk_schema(out, dia)
    # ignored_metaschema: $schema is only meaningful at a resource root
    def meta(n):
        if n is not out and "$schema" in n and "$id" not in n:
            n.pop("$schema")
            changed.append(True)
    _walk_schema(out, meta)
    # dynamic_ref_to_static_ref: per 2020-12 §8.2.3.2 a $dynamicRef whose
    # initially-resolved target carries a plain $anchor (not $dynamicAnchor)
    # behaves exactly like $ref — static in ANY embedding, so the rewrite is
    # safe even when this document later becomes a referenced resource.
    dyn_names = _doc_dynamic_anchor_names(out)

    def dyn(n):
        dv = n.get("$dynamicRef")
        if (
            isinstance(dv, str) and dv.startswith("#") and not dv.startswith("#/")
            and "$ref" not in n and dv[1:] not in dyn_names
        ):
            n["$ref"] = n.pop("$dynamicRef")
            changed.append(True)
        # 2019-09 mirror: $recursiveRef '#' is statically the enclosing
        # resource root ONLY when no $recursiveAnchor:true exists anywhere
        # in the document — an embedded $id resource that declares the
        # anchor retargets the ref dynamically to the outermost anchored
        # resource in scope, which '#' cannot express (same doc-wide
        # conservative gate as the $dynamicRef rewrite above)
        if (
            n.get("$recursiveRef") == "#" and "$ref" not in n
            and not _doc_has_recursive_anchor(out)
        ):
            n["$ref"] = "#"
            n.pop("$recursiveRef")
            changed.append(True)
    _walk_schema(out, dyn)
    # inline_single_use_ref: a local $defs target referenced exactly once,
    # carrying no identifiers and no further references, inlines as an
    # allOf conjunct ($ref is an in-place applicator — same annotations);
    # the orphaned definition then cascades away.
    from collections import Counter

    counts = Counter(_collect_refs(out))

    def inline(n):
        rv = n.get("$ref")
        if not (isinstance(rv, str) and rv.startswith("#/$defs/") and counts[rv] == 1):
            return
        tokens = rv[2:].split("/")
        if len(tokens) != 2:   # only direct $defs children (no nested paths)
            return
        name = tokens[1].replace("~1", "/").replace("~0", "~")
        target = out.get("$defs", {}).get(name) if isinstance(out.get("$defs"), dict) else None
        if not isinstance(target, dict) or target is n:
            return
        if _collect_refs(target) or _has_identifiers(target):
            return   # recursion / URI-reachable content: keep the ref
        n.pop("$ref")
        n.setdefault("allOf", []).append(copy.deepcopy(target))
        counts[rv] = 0
        changed.append(True)
    _walk_schema(out, inline)


# ---------------------------------------------------------------------------
# Reference-rule ledger: every file in
# /root/reference/vendor/blaze/src/canonicalizer/rules/ (126 rules) mapped
# to how this engine realizes it.
#   direct  — implemented in this module as described by the rule
#   inverse — implemented in the opposite rewrite direction: blaze
#             normalizes toward enum-lists/anyOf-dispatch because its
#             interpreter prefers those IR shapes; Catalyst prefers typed
#             JVM predicates, so our canonical form is the other fixpoint
#             of the same equivalence
#   upgrade — realized by plans/upgrade.py's legacy-draft normalization
#             (runs before canonicalize for draft 0-7 input)
#   repr    — a representation-level no-op here ({} ≡ true everywhere;
#             spec defaults are read directly instead of materialized)
#   proven  — deliberately not applied: a per-rule test in
#             tests/test_canonicalize_skips.py proves the rewrite is a
#             pessimization or unsound for this typed-predicate IR
# ---------------------------------------------------------------------------
REFERENCE_RULES = {
    "additional_items_implicit": "direct",
    "allof_false_simplify": "direct",
    "allof_merge_compatible_branches": "direct",
    "anyof_false_simplify": "direct",
    "anyof_remove_false_schemas": "direct",
    "anyof_true_simplify": "direct",          # annotation-gated
    "comment_drop": "direct",
    "const_as_enum": "inverse",               # enum-singleton → const
    "const_in_enum": "direct",
    "const_with_type": "direct",
    "content_media_type_without_encoding": "direct",
    "content_schema_without_media_type": "direct",
    "definitions_to_defs": "direct",
    "dependencies_property_tautology": "direct",
    "dependencies_to_any_of": "inverse",      # split to dependent* keywords
    "dependencies_to_extends_disallow": "upgrade",  # draft-3 requires/dependencies
    "dependent_required_tautology": "direct",
    "dependent_required_to_any_of": "inverse",  # native dependentRequired compile
    "dependent_schemas_to_any_of": "inverse",   # native dependentSchemas compile
    "deprecated_false_drop": "direct",
    "disallow_array_to_extends": "upgrade",
    "disallow_double_negation": "upgrade",
    "disallow_extends_to_type": "upgrade",
    "disallow_narrows_type": "upgrade",
    "disallow_to_array_of_schemas": "upgrade",
    "disallow_type_union_to_extends": "upgrade",
    "divisible_by_implicit": "upgrade",       # divisibleBy → multipleOf
    "double_negation_elimination": "direct",  # annotation-gated
    "draft3_type_any": "upgrade",
    "draft_official_dialect_with_https": "direct",
    "draft_official_dialect_without_empty_fragment": "direct",
    "draft_ref_siblings": "upgrade",
    "drop_allof_empty_schemas": "direct",
    "drop_extends_empty_schemas": "upgrade",
    "duplicate_allof_branches": "direct",
    "duplicate_anyof_branches": "direct",
    "duplicate_disallow_entries": "upgrade",  # disallow → not.anyOf, deduped there
    "duplicate_enum_values": "direct",
    "duplicate_required_values": "direct",
    "dynamic_ref_to_static_ref": "direct",
    "else_without_if": "direct",
    "empty_definitions_drop": "direct",
    "empty_defs_drop": "direct",
    "empty_dependencies_drop": "direct",
    "empty_dependent_required_drop": "direct",
    "empty_dependent_schemas_drop": "direct",
    "empty_disallow_drop": "upgrade",
    "empty_object_as_true": "repr",           # compiler folds {} to constant pass
    "enum_drop_redundant_validation": "direct",  # member-filter variant
    "enum_filter_by_type": "direct",
    "enum_split_by_type": "proven",  # enum_filter_by_type already yields the split's plan (test_canonicalize_skips.py)
    "enum_with_type": "direct",
    "equal_numeric_bounds_to_const": "direct",
    "equal_numeric_bounds_to_enum": "inverse",  # const is the canonical singleton
    "exclusive_bounds_false_drop": "direct",
    "exclusive_maximum_boolean_integer_fold": "direct",
    "exclusive_maximum_integer_to_maximum": "direct",
    "exclusive_maximum_number_and_maximum": "direct",
    "exclusive_minimum_boolean_integer_fold": "direct",
    "exclusive_minimum_integer_to_minimum": "direct",
    "exclusive_minimum_number_and_minimum": "direct",
    "extends_to_array": "upgrade",
    "flatten_nested_allof": "direct",
    "flatten_nested_anyof": "direct",
    "flatten_nested_extends": "upgrade",
    "if_then_else_implicit": "direct",        # annotation-gated
    "if_without_then_else": "direct",         # annotation-gated
    "ignored_metaschema": "direct",
    "implicit_contains_keywords": "repr",     # defaults read, not materialized
    "implicit_object_keywords": "repr",
    "inline_single_use_ref": "direct",
    "items_implicit": "repr",
    "max_contains_covered_by_max_items": "direct",
    "max_contains_without_contains": "direct",
    "max_decimal_implicit": "upgrade",        # maxDecimal → multipleOf
    "maximum_can_equal_integer_fold": "upgrade",
    "maximum_can_equal_true_drop": "upgrade",
    "maximum_real_for_integer": "direct",
    "min_contains_without_contains": "direct",
    "min_items_given_min_contains": "direct",
    "min_length_implicit": "inverse",         # minLength 0 dropped instead
    "min_properties_covered_by_required": "direct",
    "minimum_can_equal_integer_fold": "upgrade",
    "minimum_can_equal_true_drop": "upgrade",
    "minimum_real_for_integer": "direct",
    "modern_official_dialect_with_empty_fragment": "direct",
    "modern_official_dialect_with_http": "direct",
    "multiple_of_implicit": "inverse",        # multipleOf 1 dropped for integer
    "non_applicable_additional_items": "direct",
    "non_applicable_disallow_types": "upgrade",
    "non_applicable_enum_validation_keywords": "direct",
    "non_applicable_type_specific_keywords": "direct",
    "not_false": "direct",
    "oneof_false_simplify": "direct",
    "oneof_to_anyof_disjoint_types": "direct",
    "optional_property_implicit": "upgrade",
    "orphan_definitions": "direct",
    "recursive_anchor_false_drop": "direct",
    "required_properties_in_properties": "proven",  # true-stub folds to the identical plan (test_canonicalize_skips.py)
    "required_property_implicit": "upgrade",  # draft-0/2 optional-flag lift
    "required_to_extends": "upgrade",
    "single_branch_allof": "direct",
    "single_branch_anyof": "direct",
    "single_branch_oneof": "direct",
    "single_type_array": "direct",
    "then_without_if": "direct",
    "type_array_to_any_of": "proven",   # one JVM typeof beats an anyOf fan-out (test_canonicalize_skips.py)
    "type_boolean_as_enum": "inverse",  # {true,false} enum → type boolean
    "type_inherit_in_place": "proven",  # branch type re-checks the parent gate (test_canonicalize_skips.py)
    "type_null_as_enum": "inverse",   # enum [null] → const null (isNull plan)
    "type_union_distribute_keywords": "proven",  # parent-conjunct form equivalent (test_canonicalize_skips.py)
    "type_union_implicit": "direct",
    "type_union_to_schemas": "upgrade",  # dict-union → anyOf in plans/upgrade.py (test_canonicalize_skips.py)
    "type_with_applicator_to_allof": "proven",  # keywords conjoin natively; allOf wrap adds scaffolding (test_canonicalize_skips.py)
    "type_with_applicator_to_extends": "proven",  # extends≡allOf conjunction through upgrade (test_canonicalize_skips.py)
    "unevaluated_items_to_items": "direct",
    "unevaluated_properties_to_additional_properties": "direct",
    "unknown_keywords_prefix": "proven",  # UNSOUND here: renames change annotation identity (test_canonicalize_skips.py)
    "unknown_local_ref": "proven",  # UNSOUND here: dangling refs hard-error; silent erase masks bugs (test_canonicalize_skips.py)
    "unknown_type_names": "upgrade",
    "unnecessary_allof_ref_wrapper_draft": "direct",  # single-branch hoist
    "unnecessary_extends_ref_wrapper": "upgrade",
    "unsatisfiable_drop_validation": "direct",
    "unsatisfiable_exclusive_equal_bounds": "direct",
    "unsatisfiable_in_place_applicator_type": "direct",
    "unsatisfiable_type_and_enum": "direct",
}


def canonicalize(schema: Union[dict, bool]) -> Union[dict, bool]:
    """Fixpoint canonical rewrite; returns a NEW schema."""
    if not isinstance(schema, dict):
        return schema
    out = copy.deepcopy(schema)
    for _ in range(10):  # fixpoint with a safety bound
        changed: list = []
        # recomputed per pass, not once: a pass can rewrite the last
        # unevaluated* to additionalProperties, after which the
        # annotation-erasing rules become legal again — computing this
        # before the loop left them disabled forever (fuzz-caught
        # non-idempotence)
        annotations_matter = _mentions_unevaluated(out)
        prot = _pointer_protection(out)
        _walk_schema(out, lambda n: _rewrite_node(n, changed, annotations_matter, prot))
        _root_passes(out, changed)
        _drop_orphan_defs(out, changed)
        if not changed:
            break
    return out
