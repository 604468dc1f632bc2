"""Schema lint — anti-pattern rules, the `jsonschema lint` analogue.

All 46 of the reference's linter rules
(/root/reference/vendor/blaze/src/alterschema/linter/ — each analogue
cites its source file inline) re-expressed over plain dicts, plus
``lint_fix`` applying the auto-fixable ones (the `--fix` analogue).
Each finding: {path, rule, severity, message}. Round-3 closure:
forbid_empty_enum (not-gated, fix rewrites to not:{}),
incoherent_min_max_contains (contains-gated), items_schema_default
naming, root-scoped top_level_examples, unnecessary_allof_wrapper
(cross-branch keyword-frequency elevation with the canonicalizer's
_NO_MERGE_KWS standing in for the reference's dependency/identity
guards).

Round-2 completion: valid_default / valid_examples (driver-side instance
evaluator, plans/pyeval.py), invalid_external_ref (resolver-aware),
simple_properties_identifiers, description_trailing_period,
property_names_type_default, draft-3 disallow/divisibleBy defaults and
extends wrappers. Dialect-aware gating (the reference's vocabulary
checks, ONLY_CONTINUE_IF(vocabularies...)): rules whose advice would be
WRONG under an older dialect — definitions_to_defs, tuple_items_legacy,
unnecessary_allof_ref_wrapper — fire only when the declared `$schema`
(or explicit ``dialect=``) admits them; unknown/absent dialect is
treated as 2020-12, matching the engine's default.
"""

from __future__ import annotations

import copy
import re
from typing import Union

from jsonschema_spark.functions.canonical import canonical_dumps
from jsonschema_spark.functions.strings import permissive_search_py, regex_compiles
from jsonschema_spark.plans.frame import Frame, SchemaError, root_base, walk
from jsonschema_spark.plans.upgrade import _walk_schema

_BOUND_PAIRS = [
    ("minimum", "maximum"),
    ("exclusiveMinimum", "exclusiveMaximum"),
    ("minLength", "maxLength"),
    ("minItems", "maxItems"),
    ("minProperties", "maxProperties"),
    # (minContains, maxContains) reported by the contains-gated
    # incoherent_min_max_contains analogue below, not the generic pair rule
]

# $schema URI marker → dialect ordinal (higher = newer)
_DIALECTS = {
    "draft-03": 3, "draft-04": 4, "draft-06": 6, "draft-07": 7,
    "2019-09": 9, "2020-12": 12,
}


def _dialect_ord(schema, explicit: str = None) -> int:
    """Ordinal of the schema's dialect; absent/unknown ⇒ 2020-12 (the
    engine's default dialect)."""
    uri = explicit or (schema.get("$schema") if isinstance(schema, dict) else None)
    if isinstance(uri, str):
        for marker, ordn in _DIALECTS.items():
            if marker in uri:
                return ordn
    return 12


def _findings(node: dict, path: str, dia: int = 12) -> list[dict]:
    out = []

    def add(rule, severity, message):
        out.append({"path": path or "/", "rule": rule, "severity": severity, "message": message})

    if "enum" in node:
        if node["enum"] == [] and "not" not in node:
            # forbid_empty_enum.h (gated on no sibling `not` — the reference
            # transform rewrites enum:[] to not:{} and must not collide)
            add("forbid_empty_enum", "error", "enum with no values matches nothing")
        if "type" in node:
            add("enum_with_type", "warning", "type is redundant next to enum")
        seen, dupes = set(), set()
        for v in node["enum"]:
            key = repr(v)
            (dupes if key in seen else seen).add(key)
        if dupes:
            add("duplicate_enum_values", "warning", f"enum has duplicate values: {sorted(dupes)}")
    if "const" in node and "type" in node:
        add("const_with_type", "warning", "type is redundant next to const")
    if "const" in node and "enum" in node:
        add("const_with_enum", "warning", "enum is redundant next to const")
    req = node.get("required")
    if isinstance(req, list) and len(set(req)) != len(req):
        add("duplicate_required_values", "warning", "required lists a property twice")
    for lo, hi in _BOUND_PAIRS:
        if lo in node and hi in node and isinstance(node[lo], (int, float)) and isinstance(node[hi], (int, float)):
            if node[lo] > node[hi]:
                add("unsatisfiable_bounds", "error", f"{lo} ({node[lo]}) exceeds {hi} ({node[hi]}) — matches nothing")
    if "multipleOf" in node and isinstance(node["multipleOf"], (int, float)) and node["multipleOf"] <= 0:
        add("multiple_of_nonpositive", "error", "multipleOf must be > 0")
    for kw in ("allOf", "anyOf", "oneOf"):
        if isinstance(node.get(kw), list) and len(node[kw]) == 1:
            add("single_branch_combinator", "warning", f"{kw} with a single subschema is an unnecessary wrapper")
    if "if" in node and "then" not in node and "else" not in node:
        add("if_without_consequence", "warning", "if without then/else has no effect")
    if ("then" in node or "else" in node) and "if" not in node:
        add("consequence_without_if", "warning", "then/else without if has no effect")
    if node.get("additionalProperties") is False and isinstance(req, list):
        declared = set(node.get("properties", {}) or {})
        pats = list(node.get("patternProperties", {}) or {})
        for name in req:
            if name not in declared and not any(permissive_search_py(p, name) for p in pats):
                add("required_undeclared_property", "error",
                    f"required property {name!r} can never exist in this closed object")
    for kw in ("minLength", "maxLength", "minItems", "maxItems", "minProperties", "maxProperties"):
        if kw in node and isinstance(node[kw], int) and node[kw] < 0:
            add("negative_bound", "error", f"{kw} must be non-negative")
    if dia >= 12 and isinstance(node.get("items"), list):
        add("tuple_items_legacy", "warning", "array-form items is the draft-7 tuple form; use prefixItems")
    # --- reference-rule analogues (vendor/blaze/src/alterschema/linter/) ------
    if "const" in node and isinstance(node.get("enum"), list) and node["const"] not in node["enum"]:
        add("const_not_in_enum", "error",
            "const value is not a member of the sibling enum — matches nothing")  # const_not_in_enum.h
    if node.get("readOnly") is True and node.get("writeOnly") is True:
        add("conflicting_readonly_writeonly", "warning",
            "readOnly and writeOnly are both true")  # conflicting_readonly_writeonly.h
    if isinstance(node.get("examples"), list):
        reprs = [repr(x) for x in node["examples"]]
        if len(set(reprs)) != len(reprs):
            add("duplicate_examples", "warning", "examples contains duplicate values")  # duplicate_examples.h
    for kw in ("then", "else"):
        if node.get(kw) in (True, {}):
            add(f"{kw}_empty", "warning",
                f"{kw} is an empty schema and has no effect")  # then_empty.h / else_empty.h
    t = node.get("type")
    if (
        t in ("integer", "number")
        and isinstance(node.get("minimum"), (int, float))
        and node.get("minimum") == node.get("maximum")
    ):
        add("equal_numeric_bounds_to_const", "warning",
            "minimum equals maximum; use const instead")  # equal_numeric_bounds_to_const.h
    if isinstance(node.get("enum"), list) and len(node["enum"]) == 1:
        add("enum_to_const", "warning", "single-value enum; use const instead")  # enum_to_const.h
    for kw in ("title", "description", "$comment"):
        v = node.get(kw)
        if isinstance(v, str) and v != v.strip():
            add(f"{kw.lstrip('$')}_trim", "warning",
                f"{kw} has leading/trailing whitespace")  # title_trim.h / description_trim.h / comment_trim.h
    if isinstance(node.get("title"), str) and node["title"].endswith("."):
        add("title_trailing_period", "warning", "title ends with a period")  # title_trailing_period.h
    if node.get("title") is not None and node.get("title") == node.get("description"):
        add("title_description_equal", "warning",
            "title and description are identical")  # title_description_equal.h
    if dia >= 9 and "definitions" in node:
        add("definitions_to_defs", "warning",
            "use $defs instead of the legacy definitions keyword")  # definitions_to_defs.h
    # no-op defaults that can be removed outright (…_default.h family)
    _DEFAULTS = {
        "contentSchema": (True, {}),
        "dependencies": ({},),
        "dependentRequired": ({},),
        "dependentSchemas": ({},),
        "patternProperties": ({},),
        "properties": ({},),
        "propertyNames": (True, {}),
        "items": (True, {}),
        "unevaluatedItems": (True, {}),
        "unevaluatedProperties": (True, {}),
        "minItems": (0,),
        "minLength": (0,),
        "minProperties": (0,),
        "minContains": (1,),
    }
    for kw, noop_values in _DEFAULTS.items():
        if kw in node and any(node[kw] == v and type(node[kw]) is type(v) for v in noop_values):
            # the reference names the true-schema `items` rule
            # items_schema_default.h (items_array_default is the [] tuple form)
            name = "items_schema" if kw == "items" else _snake(kw)
            add(f"{name}_default", "warning", f"{kw} is set to its no-op default")
    if isinstance(node.get("items"), list) and not node["items"]:
        add("items_array_default", "warning", "empty tuple items has no effect")  # items_array_default.h
    if (
        "contains" in node
        and isinstance(node.get("minContains"), int)
        and isinstance(node.get("maxContains"), int)
        and not isinstance(node["minContains"], bool)
        and not isinstance(node["maxContains"], bool)
        and node["minContains"] > node["maxContains"]
    ):
        add("incoherent_min_max_contains", "error",
            "minContains greater than maxContains makes the schema unsatisfiable")  # incoherent_min_max_contains.h
    if (
        isinstance(node.get("maxContains"), int)
        and isinstance(node.get("maxItems"), int)
        and node["maxContains"] >= node["maxItems"]
    ):
        add("unsatisfiable_max_contains", "warning",
            "maxContains is not below maxItems, so it can never constrain")  # unsatisfiable_max_contains.h
    if (
        node.get("additionalProperties") is False
        and not node.get("patternProperties")
        and isinstance(node.get("minProperties"), int)
        and node["minProperties"] > len(node.get("properties", {}) or {})
    ):
        add("unsatisfiable_min_properties", "error",
            "minProperties exceeds the number of allowed properties in this closed object")  # unsatisfiable_min_properties.h
    for kw, rule in (("pattern", "pattern_non_ecma_regex"),):
        v = node.get(kw)
        if isinstance(v, str) and not regex_compiles(v):
            add(rule, "error", f"{kw} is not a valid regular expression: {v!r}")  # pattern_non_ecma_regex.h
    if isinstance(node.get("patternProperties"), dict):
        for p in node["patternProperties"]:
            if not regex_compiles(p):
                add("pattern_properties_non_ecma_regex", "error",
                    f"patternProperties key is not a valid regular expression: {p!r}")  # pattern_properties_non_ecma_regex.h
    fmt = node.get("format")
    if isinstance(fmt, str) and not fmt.startswith("x-"):
        from jsonschema_spark.functions.formats import FORMATS

        if fmt not in FORMATS:
            add("unknown_format_prefix", "warning",
                f"unknown format {fmt!r}; prefix custom formats with 'x-'")  # unknown_format_prefix.h
    anchor = node.get("$anchor")
    if isinstance(anchor, str) and not re.fullmatch(r"[A-Za-z_][A-Za-z0-9\-_.]*", anchor):
        add("portable_anchor_names", "warning",
            f"$anchor {anchor!r} is not a portable anchor name")  # portable_anchor_names.h
    allof = node.get("allOf")
    if (
        dia >= 9  # pre-2019-09 $ref ignores siblings: hoisting would change semantics
        and isinstance(allof, list)
        and len(allof) == 1
        and isinstance(allof[0], dict)
        and set(allof[0]) == {"$ref"}
    ):
        add("unnecessary_allof_ref_wrapper_modern", "warning",
            "allOf-wrapped lone $ref can be hoisted ($ref allows siblings since 2019-09)")  # unnecessary_allof_ref_wrapper_modern.h
    if isinstance(node.get("description"), str) and node["description"].endswith("."):
        add("description_trailing_period", "warning",
            "descriptions should not end with a period")  # description_trailing_period.h
    pn = node.get("propertyNames")
    if isinstance(pn, dict):
        pt = pn.get("type")
        if pt == "string" or (isinstance(pt, list) and pt and all(x == "string" for x in pt)):
            add("property_names_type_default", "warning",
                "type: string inside propertyNames adds no constraint")  # property_names_type_default.h
    if isinstance(node.get("properties"), dict):
        bad = [k for k in node["properties"] if not re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", k)]
        if bad:
            add("simple_properties_identifiers", "info",
                f"property names are not simple identifiers (codegen-hostile): {sorted(bad)}")  # simple_properties_identifiers.h
    # draft-3 no-op defaults / wrappers
    # multipleOf/divisibleBy 1 is a no-op ONLY for integers (0.5 % 1 != 0):
    # the reference gates multiple_of_default.h on type == "integer"
    if node.get("type") == "integer":
        if node.get("multipleOf") == 1 and not isinstance(node.get("multipleOf"), bool):
            add("multiple_of_default", "warning", "multipleOf is set to its no-op default")  # multiple_of_default.h
        if node.get("divisibleBy") == 1 and not isinstance(node.get("divisibleBy"), bool):
            add("divisible_by_default", "warning", "divisibleBy is set to its no-op default")  # divisible_by_default.h
    if node.get("disallow") == []:
        add("disallow_default", "warning", "empty disallow has no effect")  # disallow_default.h
    ext = node.get("extends")
    if isinstance(ext, dict) and set(ext) == {"$ref"}:
        add("unnecessary_extends_wrapper", "warning",
            "extends-wrapped lone $ref can be hoisted")  # unnecessary_extends_wrapper.h
    lifted = _elevatable_allof_keywords(node)
    if lifted:
        add("unnecessary_allof_wrapper", "warning",
            "keywords inside allOf that do not conflict with the parent "
            f"schema can be elevated: {sorted(lifted)}")  # unnecessary_allof_wrapper.h
    return out


# annotation-only keywords: the reference walker's Annotation/Comment classes
# — they neither assert nor applicate, so they don't participate in the
# cross-branch frequency count and stay where they are
_ANNOTATION_KWS = frozenset({
    "title", "description", "default", "examples", "$comment",
    "deprecated", "readOnly", "writeOnly",
})


# hoisting keyword k next to a parent that carries one of these would
# CHANGE the parent keyword's meaning (adjacency coupling): properties/
# patternProperties shield keys from a sibling additionalProperties,
# prefixItems shifts where a sibling items starts, contains is the
# subject of min/maxContains
_PARENT_COUPLING = {
    "properties": ("additionalProperties",),
    "patternProperties": ("additionalProperties",),
    "prefixItems": ("items", "additionalItems"),
    "contains": ("maxContains", "minContains"),
}


def _single_branch_inlinable(node: dict, inner: dict) -> bool:
    """Whether a lone combinator branch can be merged into its parent
    without changing semantics: every inner key must be absent from the
    parent (or JSON-equal — setdefault would silently DROP a conflicting
    constraint), must not be identifier/conditional-coupled
    (_NO_MERGE_KWS), and must not change the meaning of an
    adjacency-sensitive parent keyword (_PARENT_COUPLING). A lone modern
    `$ref` wrapper is inlinable when the parent has no $ref of its own."""
    from jsonschema_spark.plans.canonicalize import _NO_MERGE_KWS

    if "unevaluatedProperties" in node or "unevaluatedItems" in node:
        return False
    for k, v in inner.items():
        if k == "$ref" and "$ref" not in node:
            continue  # $ref allows siblings since 2019-09
        if k in _NO_MERGE_KWS:
            return False
        if k in node and canonical_dumps(node[k]) != canonical_dumps(v):
            return False
        if any(p in node for p in _PARENT_COUPLING.get(k, ())):
            return False
    return True


def _elevatable_allof_keywords(node: dict) -> set:
    """Keywords of allOf branches that can be hoisted into the parent
    (unnecessary_allof_wrapper.h analogue): assertion/applicator keywords
    appearing in exactly ONE branch, absent from the parent (or present
    with an identical value), not identifier/conditional/sibling-coupled
    (the canonicalizer's _NO_MERGE_KWS guard covers the reference's
    dependency_blocked + identity checks, _PARENT_COUPLING the
    adjacency-sensitive parent keywords), with unevaluated* anywhere in
    the parent or branch suppressing the rule entirely."""
    from jsonschema_spark.plans.canonicalize import _NO_MERGE_KWS

    allof = node.get("allOf")
    if not isinstance(allof, list) or not allof:
        return set()
    if "unevaluatedProperties" in node or "unevaluatedItems" in node:
        return set()
    freq: dict = {}
    for b in allof:
        if isinstance(b, dict):
            for k in b:
                if k not in _ANNOTATION_KWS:
                    freq[k] = freq.get(k, 0) + 1
    out = set()
    for b in allof:
        if not isinstance(b, dict) or not b or set(b) & _NO_MERGE_KWS:
            continue
        for k, v in b.items():
            if k in _ANNOTATION_KWS or freq.get(k, 0) != 1:
                continue
            # JSON-level equality, not Python == (True == 1 conflation)
            if k in node and canonical_dumps(node[k]) != canonical_dumps(v):
                continue
            if any(p in node for p in _PARENT_COUPLING.get(k, ())):
                continue
            out.add(k)
    return out


def _instance_findings(node: dict, path: str, root, base: str, resource,
                       resolver, frame: Frame) -> list[dict]:
    """valid_default.h / valid_examples.h analogues: schema-embedded
    literals must satisfy the subschema that carries them (driver-side
    evaluator, plans/pyeval.py — never a table-scale path); an external
    `$ref` the frame cannot resolve (invalid_external_ref.h)."""
    from jsonschema_spark.plans.pyeval import EvalError, validate_at

    out = []

    def check(rule, value, label):
        try:
            ok = validate_at(root, node, value, resolver=resolver, node_base=base)
        except (EvalError, RecursionError):
            return  # unresolvable ref → invalid_external_ref reports it
        if not ok:
            out.append({"path": path or "/", "rule": rule, "severity": "warning",
                        "message": f"{label} does not validate against its own schema"})

    if "default" in node:
        check("valid_default", node["default"], "default value")
    if isinstance(node.get("examples"), list):
        for i, ex in enumerate(node["examples"]):
            check("valid_examples", ex, f"examples[{i}]")
    ref = node.get("$ref")
    if isinstance(ref, str) and not ref.startswith("#"):
        try:
            frame.resolve(ref, base, resource)
        except SchemaError:
            out.append({"path": path or "/", "rule": "invalid_external_ref",
                        "severity": "error",
                        "message": f"external $ref {ref!r} does not resolve"})
    return out


def _snake(kw: str) -> str:
    return re.sub(r"(?<!^)(?=[A-Z])", "_", kw).lower()


def _root_findings(schema: dict, dia: int = 12) -> list[dict]:
    """Root-only advisory rules (top_level_title.h / top_level_description.h /
    top_level_examples.h — the examples rule fires at the ROOT pointer only,
    when examples is absent or an empty array, draft-6+ metadata vocabulary)."""
    out = []
    for kw in ("title", "description"):
        if kw not in schema:
            out.append({"path": "/", "rule": f"top_level_{kw}", "severity": "info",
                        "message": f"root schema has no {kw}"})
    ex = schema.get("examples")
    if dia >= 6 and (ex is None or ex == []):
        out.append({"path": "/", "rule": "top_level_examples", "severity": "info",
                    "message": "set a non-empty examples array at the top level"})
    return out


def lint_schema(schema: Union[dict, bool], resolver: dict = None,
                dialect: str = None) -> list[dict]:
    """Every finding, pre-order over the schema positions; each `$ref`
    resolves against the base URI of its resource, as it compiles."""
    dia = _dialect_ord(schema, dialect)
    frame = Frame(schema, root_base(schema), resolver)
    out: list[dict] = []
    for path, node, base, resource in walk(schema, root_base(schema)):
        out.extend(_findings(node, path, dia))
        out.extend(_instance_findings(node, path, schema, base, resource, resolver, frame))
    if isinstance(schema, dict):
        out.extend(_root_findings(schema, dia))
    return out


_FIX_DEFAULTS = {
    "contentSchema": (True, {}),
    "dependencies": ({},),
    "dependentRequired": ({},),
    "dependentSchemas": ({},),
    "patternProperties": ({},),
    "properties": ({},),
    "propertyNames": (True, {}),
    "unevaluatedItems": (True, {}),
    "unevaluatedProperties": (True, {}),
    "minItems": (0,),
    "minLength": (0,),
    "minProperties": (0,),
    "minContains": (1,),
}


def lint_fix(schema: Union[dict, bool]) -> Union[dict, bool]:
    """Apply the auto-fixable subset (the `lint --fix` analogue);
    returns a new schema.

    Fix rules are applied at SCHEMA positions only — the walker recurses
    through ``subschemas`` (the same positions ``lint_schema`` visits),
    never into the entries of ``properties``/``patternProperties``/``$defs``
    maps as if they were keywords, and never into ``const``/``enum``/
    ``default`` data values (a property literally named "enum" must keep
    its sibling definitions untouched)."""
    if not isinstance(schema, dict):
        return schema
    out = copy.deepcopy(schema)

    def fix(node):
        if node.get("enum") == [] and "not" not in node:
            # forbid_empty_enum.h transform: enum [] → the false schema
            node.pop("enum")
            node["not"] = {}
        # enum_with_type.h / const_with_type.h: `type` is redundant next to
        # enum/const ONLY when every value already conforms to it — the
        # reference rule's condition is all_of(enum, type-matches); dropping
        # unconditionally would WIDEN the schema (fuzz-caught verdict flip:
        # {"enum":[10,"ab"],"type":"integer"} must keep rejecting "ab").
        from jsonschema_spark.plans.canonicalize import _type_ok_py

        def _types_admit(v) -> bool:
            ts = node["type"] if isinstance(node["type"], list) else [node["type"]]
            return any(_type_ok_py(v, t) for t in ts if isinstance(t, str))

        if "enum" in node and "type" in node and isinstance(node["enum"], list) \
                and all(_types_admit(v) for v in node["enum"]):
            node.pop("type")
        if "const" in node:
            if "type" in node and _types_admit(node["const"]):
                node.pop("type")
            # const_not_in_enum.h is report-only (mutates=false): only drop
            # the enum when the const is a member, else the divergence is a
            # finding, not a fix
            if isinstance(node.get("enum"), list) and any(
                canonical_dumps(v) == canonical_dumps(node["const"])
                for v in node["enum"]
            ):
                node.pop("enum")
        if "enum" in node and isinstance(node["enum"], list):
            seen, dedup = set(), []
            for v in node["enum"]:
                if repr(v) not in seen:
                    seen.add(repr(v))
                    dedup.append(v)
            node["enum"] = dedup
        if isinstance(node.get("required"), list):
            node["required"] = list(dict.fromkeys(node["required"]))
        for kw in ("allOf", "anyOf", "oneOf"):
            if isinstance(node.get(kw), list) and len(node[kw]) == 1 and isinstance(node[kw][0], dict):
                inner = node[kw][0]
                if not _single_branch_inlinable(node, inner):
                    continue
                node.pop(kw)
                for k, v in inner.items():
                    node.setdefault(k, v)
        if "if" in node and "then" not in node and "else" not in node:
            node.pop("if")
        if isinstance(node.get("enum"), list) and len(node["enum"]) == 1 and "const" not in node:
            node["const"] = node.pop("enum")[0]
        for kw in ("then", "else"):
            if node.get(kw) in (True, {}):
                node.pop(kw)
        for kw, text_key in (("title", "title"), ("description", "description"), ("$comment", "comment")):
            if isinstance(node.get(kw), str) and node[kw] != node[kw].strip():
                node[kw] = node[kw].strip()
        if isinstance(node.get("description"), str):
            # strips EVERY trailing period, matching the reference transform
            # (description_trailing_period.h: while ends-with '.' pop_back)
            node["description"] = node["description"].rstrip(".")
        pn = node.get("propertyNames")
        if isinstance(pn, dict):
            pt = pn.get("type")
            if pt == "string" or (isinstance(pt, list) and pt and all(x == "string" for x in pt)):
                pn.pop("type")
        if isinstance(node.get("examples"), list):
            seen_ex, dedup_ex = set(), []
            for v in node["examples"]:
                if repr(v) not in seen_ex:
                    seen_ex.add(repr(v))
                    dedup_ex.append(v)
            node["examples"] = dedup_ex
        for kw, noop_values in _FIX_DEFAULTS.items():
            if kw in node and any(node[kw] == v and type(node[kw]) is type(v) for v in noop_values):
                node.pop(kw)
        # multipleOf 1 only drops for integer-typed nodes (see _findings)
        if node.get("multipleOf") == 1 and not isinstance(node.get("multipleOf"), bool) \
                and node.get("type") == "integer":
            node.pop("multipleOf")
        # unnecessary_allof_wrapper.h transform: elevate the safe keywords,
        # drop emptied branches, drop allOf itself when nothing remains
        lifted = _elevatable_allof_keywords(node)
        if lifted:
            kept = []
            for b in node["allOf"]:
                if isinstance(b, dict):
                    for k in list(b):
                        if k in lifted:
                            node.setdefault(k, b.pop(k))
                if b or not isinstance(b, dict):
                    kept.append(b)
            if kept:
                node["allOf"] = kept
            else:
                node.pop("allOf")

    _walk_schema(out, fix)
    return out
