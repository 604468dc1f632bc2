"""Canonicalizer rules (plans/canonicalize.py) — targeted per-rule cases
plus a metamorphic safety net: canonicalization must never change what a
schema accepts (validate_py(s, x) == validate_py(canonicalize(s), x))."""

import random

from jsonschema_spark import canonicalize
from jsonschema_spark.plans.pyeval import validate_py

FALSE = {"not": {}}


def test_anyof_true_branch_drops_anyof():
    assert "anyOf" not in canonicalize({"anyOf": [{"type": "string"}, True]})
    assert "anyOf" not in canonicalize({"anyOf": [{}, {"minimum": 3}]})


def test_anyof_false_branches_removed_and_flattened():
    s = canonicalize({"anyOf": [False, {"anyOf": [{"minimum": 1}, {"minimum": 2}]},
                                {"minimum": 1}]})
    assert s == {"anyOf": [{"minimum": 1}, {"minimum": 2}]}  # dedup too


def test_anyof_all_false_is_unsatisfiable():
    assert canonicalize({"anyOf": [False, FALSE]}) == FALSE


def test_single_branch_anyof_hoisted():
    assert canonicalize({"anyOf": [{"minimum": 3}]}) == {"minimum": 3}


def test_oneof_false_simplify_and_single_branch():
    assert canonicalize({"oneOf": [{"minimum": 1}, False]}) == {"minimum": 1}
    assert canonicalize({"oneOf": [False]}) == FALSE


def test_allof_false_simplify():
    assert canonicalize({"allOf": [{"minimum": 1}, False]}) == FALSE


def test_duplicate_allof_branches():
    s = canonicalize({"allOf": [{"minimum": 1}, {"minimum": 1}, {"maximum": 9}]})
    assert s == {"minimum": 1, "maximum": 9} or s == {"allOf": [{"minimum": 1}, {"maximum": 9}]}


def test_const_with_type_matching_drops_type():
    assert canonicalize({"const": 5, "type": "integer"}) == {"const": 5}
    assert canonicalize({"const": 5.0, "type": "integer"}) == {"const": 5.0}


def test_const_with_type_contradiction_is_false():
    assert canonicalize({"const": "x", "type": "integer"}) == FALSE


def test_enum_filter_by_type():
    # the surviving singleton then collapses to const (enum_to_const)
    assert canonicalize({"enum": [1, "a", 2.5], "type": "integer"}) == {"const": 1}
    assert canonicalize({"enum": [1, "a", 2], "type": "integer"}) == {"enum": [1, 2]}
    assert canonicalize({"enum": ["a", "b"], "type": "integer"}) == FALSE


def test_equal_numeric_bounds_to_const():
    assert canonicalize({"type": "integer", "minimum": 4, "maximum": 4}) == {"const": 4}
    # absent / non-numeric type: rule must NOT fire (bounds don't bind non-numbers)
    s = canonicalize({"minimum": 4, "maximum": 4})
    assert s == {"minimum": 4, "maximum": 4}


def test_integer_exclusive_bounds_fold():
    s = canonicalize({"type": "integer", "exclusiveMinimum": 0, "exclusiveMaximum": 10})
    assert s == {"type": "integer", "minimum": 1, "maximum": 9}


def test_contains_bounds_without_contains_drop():
    assert canonicalize({"minContains": 2, "maxContains": 5}) == {}
    kept = canonicalize({"contains": {"minimum": 1}, "minContains": 2})
    assert kept == {"contains": {"minimum": 1}, "minContains": 2}


def test_max_contains_covered_by_max_items():
    s = canonicalize({"contains": {"minimum": 1}, "maxContains": 5, "maxItems": 3})
    assert "maxContains" not in s


def test_min_properties_covered_by_required():
    s = canonicalize({"required": ["a", "b"], "minProperties": 2})
    assert "minProperties" not in s
    s2 = canonicalize({"required": ["a"], "minProperties": 2})
    assert s2["minProperties"] == 2


def test_then_else_without_if_dropped():
    assert canonicalize({"then": {"minimum": 1}, "else": {"maximum": 2}}) == {}


def test_not_false_always_true():
    assert canonicalize({"not": False}) == {}
    assert canonicalize({"not": {"not": {}}}) == {}


def test_comment_and_empty_maps_dropped():
    s = canonicalize({"$comment": "hi", "$defs": {}, "properties": {},
                      "dependentRequired": {"a": []}})
    assert s == {}


def test_type_union_implicit():
    full = ["null", "boolean", "integer", "number", "string", "array", "object"]
    assert canonicalize({"type": full}) == {}
    assert canonicalize({"type": ["string", "number"]}) == {"type": ["string", "number"]}


def test_unevaluated_to_static_rewrites():
    s = canonicalize({"properties": {"a": True}, "unevaluatedProperties": False})
    assert s == {"properties": {"a": True}, "additionalProperties": False}
    # in-place applicators present (non-collapsible allOf) → must NOT rewrite
    s2 = canonicalize({"allOf": [{"properties": {"a": True}},
                                 {"properties": {"b": True}}],
                       "unevaluatedProperties": False})
    assert "unevaluatedProperties" in s2
    s3 = canonicalize({"prefixItems": [True], "unevaluatedItems": False})
    assert s3 == {"prefixItems": [True], "items": False}
    s4 = canonicalize({"contains": {"minimum": 1}, "unevaluatedItems": False})
    assert "unevaluatedItems" in s4


# --- metamorphic safety net -------------------------------------------------

def _instances(rng):
    vals = [None, True, False, 0, 1, 2, 7, -3, 2.5, 1.0, "en", "de", "", "xxxx",
            [1, 2], [1, 1.0], [], {"a": 1}, {"a": 1, "s": "en"},
            {"a": 2, "b": 0.5, "s": "de", "xs": [1, 2, 3]},
            {"b": 3.3, "o": {"p": 9}}, {"s": "héllo", "xs": [5, -2]}]
    return rng.sample(vals, k=8)


def test_canonicalize_preserves_semantics():
    import tests.test_metamorphic as tm

    rng = random.Random(20260818)
    for _ in range(150):
        schema = tm._rand_schema(rng)
        canon = canonicalize(schema)
        for inst in _instances(rng):
            assert validate_py(schema, inst) == validate_py(canon, inst), (
                schema, canon, inst)


def test_annotation_sources_preserved_under_unevaluated():
    # a successful anyOf branch's properties mark keys as evaluated — the
    # always-true-branch drop must NOT fire when unevaluated* consumes them
    s = {"anyOf": [True, {"properties": {"a": {"type": "string"}}}],
         "unevaluatedProperties": False}
    c = canonicalize(s)
    assert validate_py(s, {"a": "x"}) is True
    assert validate_py(c, {"a": "x"}) is True, c
    # bare `if` annotations likewise
    s2 = {"if": {"properties": {"a": {}}, "required": ["a"]},
          "unevaluatedProperties": False}
    c2 = canonicalize(s2)
    assert validate_py(s2, {"a": 1}) is validate_py(c2, {"a": 1}) is True
    # without unevaluated* in scope the simplifications still fire
    assert "anyOf" not in canonicalize({"anyOf": [True, {"properties": {"a": {}}}]})
    assert "if" not in canonicalize({"if": {"required": ["a"]}})


def test_constant_if_folding():
    # if: true → then becomes an unconditional conjunct; else unreachable
    s = canonicalize({"if": True, "then": {"minimum": 3}, "else": {"maximum": 1}})
    assert validate_py(s, 5) is True and validate_py(s, 2) is False
    assert "if" not in s and "else" not in s
    # if: false → else applies; then unreachable
    s2 = canonicalize({"if": False, "then": {"minimum": 3}, "else": {"maximum": 1}})
    assert validate_py(s2, 1) is True and validate_py(s2, 2) is False
    # false-schema condition folds the same way
    s3 = canonicalize({"if": {"not": {}}, "else": {"maximum": 1}})
    assert validate_py(s3, 1) is True and validate_py(s3, 2) is False
    # constant condition into a false branch → unsatisfiable
    assert canonicalize({"if": True, "then": False}) == FALSE
    assert canonicalize({"if": False, "else": False}) == FALSE


def test_empty_then_else_dropped():
    s = canonicalize({"if": {"minimum": 0}, "then": {}, "else": True})
    assert "then" not in s and "else" not in s


def test_orphan_defs_dropped():
    s = canonicalize({"$defs": {"used": {"type": "integer"},
                                "orphan": {"type": "string"},
                                "chain": {"$ref": "#/$defs/orphan2"},
                                "orphan2": {"minimum": 1}},
                      "$ref": "#/$defs/used"})
    # single-use ref inlines (inline_single_use_ref), then the orphaned
    # defs cascade away entirely
    assert s == {"type": "integer"}
    # a target referenced twice stays a shared definition
    s_multi = canonicalize({"$defs": {"t": {"type": "integer"},
                                      "orphan": {"type": "string"}},
                            "properties": {"a": {"$ref": "#/$defs/t"},
                                           "b": {"$ref": "#/$defs/t"}}})
    assert set(s_multi["$defs"]) == {"t"}
    # anchors / whole-doc refs disable dropping entirely (conservative)
    s2 = canonicalize({"$defs": {"a": {"$anchor": "x"}, "b": {}},
                       "properties": {"p": {"$ref": "#x"}}})
    assert set(s2["$defs"]) == {"a", "b"}
    s3 = canonicalize({"$defs": {"a": {}}, "properties": {"p": {"$ref": "#"}}})
    assert "a" in s3["$defs"]


def test_identifiers_in_data_are_not_identifiers():
    from jsonschema_spark.plans.canonicalize import _has_identifiers

    assert not _has_identifiers({"const": {"$id": "x"}})
    assert not _has_identifiers({"enum": [{"$anchor": "a"}], "default": {"$id": "y"}})
    assert _has_identifiers({"properties": {"p": {"$anchor": "a"}}})


def test_double_negation_gated_on_annotations():
    # not.not → allOf would let the inner subtree's annotations escape a
    # `not` (which discards them) and flip verdicts under unevaluated*
    s = {"not": {"not": {"properties": {"a": {"type": "integer"}}}},
         "unevaluatedProperties": False}
    c = canonicalize(s)
    assert validate_py(s, {"a": 1}) is validate_py(c, {"a": 1}) is False, c
    # without unevaluated* in scope the rewrite still fires
    c2 = canonicalize({"not": {"not": {"minimum": 3}}})
    assert validate_py(c2, 5) is True and validate_py(c2, 1) is False
    assert "not" not in c2


def test_constant_if_fold_gated_on_annotations():
    s = {"if": True, "then": {"properties": {"a": {}}},
         "unevaluatedProperties": False}
    c = canonicalize(s)
    assert validate_py(s, {"a": 1}) is validate_py(c, {"a": 1}) is True, c


def test_equal_bounds_const_respects_type():
    # integer ∧ minimum=maximum=1.5 is unsatisfiable — must NOT become
    # const 1.5 (which would accept 1.5)
    s = {"type": "integer", "minimum": 1.5, "maximum": 1.5}
    c = canonicalize(s)
    assert validate_py(s, 1.5) is validate_py(c, 1.5) is False, c
    # satisfiable equal bounds still collapse
    c2 = canonicalize({"type": "number", "minimum": 1.5, "maximum": 1.5})
    assert c2 == {"const": 1.5}
    c3 = canonicalize({"type": "integer", "minimum": 3, "maximum": 3})
    assert c3 == {"const": 3}


# --- round-3 rule batch -------------------------------------------------------


def test_reference_rule_ledger_complete():
    import os

    from jsonschema_spark.plans.canonicalize import REFERENCE_RULES

    ref_dir = "/root/reference/vendor/blaze/src/canonicalizer/rules"
    if os.path.isdir(ref_dir):  # ledger must cover every reference rule file
        names = {f[:-2] for f in os.listdir(ref_dir) if f.endswith(".h")}
        assert names == set(REFERENCE_RULES)
    realized = sum(1 for v in REFERENCE_RULES.values()
                   if v in ("direct", "inverse", "upgrade"))
    assert realized >= 80, realized


def test_defaults_and_flags_dropped():
    assert canonicalize({"deprecated": False, "minimum": 1}) == {"minimum": 1}
    assert canonicalize({"$recursiveAnchor": False}) == {}
    d4 = "http://json-schema.org/draft-04/schema#"
    c = canonicalize({"$schema": d4, "exclusiveMinimum": False, "minimum": 2})
    assert "exclusiveMinimum" not in c and c.get("minimum") == 2
    s = canonicalize({"$schema": d4, "exclusiveMinimum": True, "minimum": 2,
                      "type": "integer"})
    assert validate_py(s, 2) is False and validate_py(s, 3) is True
    # modern dialect: boolean exclusive* is malformed/ignored — left alone so
    # acceptance (which ignores it) is preserved
    m = canonicalize({"exclusiveMinimum": True, "minimum": 2})
    assert validate_py(m, 2) is True


def test_content_keywords_dropped():
    assert canonicalize({"contentMediaType": "application/json"}) == {}
    assert canonicalize({"contentSchema": {"type": "object"}}) == {}
    s = canonicalize({"contentEncoding": "base64",
                      "contentMediaType": "application/json",
                      "contentSchema": {"type": "object"}})
    assert "contentMediaType" in s and "contentSchema" in s


def test_const_in_enum():
    assert canonicalize({"const": 2, "enum": [1, 2, 3]}) == {"const": 2}
    assert canonicalize({"const": 9, "enum": [1, 2]}) == FALSE
    # canonical equality: 1 == 1.0 across the const/enum boundary
    assert canonicalize({"const": 1.0, "enum": [1]}) == {"const": 1.0}


def test_real_bounds_fold_for_integer():
    s = canonicalize({"type": "integer", "minimum": 1.5, "maximum": 5.5})
    assert s == {"type": "integer", "minimum": 2, "maximum": 5}
    for x, ok in ((2, True), (5, True), (1, False), (6, False)):
        assert validate_py(s, x) is ok


def test_min_items_given_min_contains():
    s = canonicalize({"contains": {"type": "integer"}, "minContains": 2,
                      "minItems": 2})
    assert "minItems" not in s
    # stricter minItems survives
    s2 = canonicalize({"contains": {"type": "integer"}, "minContains": 1,
                       "minItems": 3})
    assert s2.get("minItems") == 3


def test_dependencies_split_and_tautology():
    # dialect-gated: dependencies only asserts in classic drafts
    d7 = "http://json-schema.org/draft-07/schema#"
    s = canonicalize({"$schema": d7,
                      "dependencies": {"a": ["b"], "c": {"required": ["d"]}}})
    assert s == {"$schema": d7,
                 "dependentRequired": {"a": ["b"]},
                 "dependentSchemas": {"c": {"required": ["d"]}}}
    # modern dialect: unknown no-op keyword stays untouched
    assert "dependencies" in canonicalize({"dependencies": {"a": ["b"]}})
    s2 = canonicalize({"dependentRequired": {"a": ["a", "b"]}})
    assert s2 == {"dependentRequired": {"a": ["b"]}}
    assert canonicalize({"dependentRequired": {"a": ["a"]}}) == {}


def test_oneof_disjoint_types_to_anyof():
    s = canonicalize({"oneOf": [{"type": "string", "minLength": 1},
                                {"type": "object"}]})
    assert "anyOf" in s and "oneOf" not in s
    # integer/number overlap → stays oneOf
    s2 = canonicalize({"oneOf": [{"type": "integer"},
                                 {"type": "number", "minimum": 0}]})
    assert "oneOf" in s2


def test_unsatisfiable_allof_types():
    assert canonicalize({"type": "string",
                         "allOf": [{"type": "integer"}]}) == FALSE
    s = canonicalize({"type": ["string", "integer"],
                      "allOf": [{"type": ["number"], "minimum": 0}]})
    assert s != FALSE  # integer ∈ number — satisfiable


def test_non_applicable_type_specific_keywords():
    s = canonicalize({"type": "string", "minItems": 3, "minimum": 5,
                      "minLength": 2, "properties": {"a": {"type": "integer"}}})
    assert s == {"type": "string", "minLength": 2}
    # anchors inside an applicator keep the subtree
    s2 = canonicalize({"type": "string",
                       "properties": {"a": {"$anchor": "keepme"}}})
    assert "properties" in s2


def test_enum_members_filtered_by_validation():
    s = canonicalize({"enum": ["a", "bb", "ccc", 7], "minLength": 2})
    assert s == {"enum": ["bb", "ccc", 7]}  # non-strings unaffected by minLength
    assert canonicalize({"enum": [1, 2], "minimum": 10}) == FALSE
    assert canonicalize({"const": 5, "multipleOf": 2}) == FALSE
    assert canonicalize({"const": 6, "multipleOf": 2}) == {"const": 6}


def test_boolean_enum_to_type():
    assert canonicalize({"enum": [True, False]}) == {"type": "boolean"}
    # 1/0 are numbers, not booleans — no rewrite
    assert "enum" in canonicalize({"enum": [1, 0]})


def test_allof_merge_compatible_branches():
    s = canonicalize({"allOf": [{"minimum": 0, "properties": {"a": {}}},
                                {"maximum": 9, "required": ["a"]},
                                {"if": {"minimum": 5}, "then": {"maximum": 7}}]})
    merged = s["allOf"]
    assert len(merged) == 2  # two plain branches merged, conditional kept apart
    # additionalProperties must NOT merge next to another branch's properties
    s2 = canonicalize({"allOf": [{"properties": {"a": {"type": "integer"}}},
                                 {"additionalProperties": False}]})
    assert validate_py(s2, {"a": 1}) is False  # aP:false alone forbids "a"
    assert validate_py(s2, {}) is True


def test_dialect_uri_normalization():
    s = canonicalize({"$schema": "http://json-schema.org/draft/2020-12/schema#"})
    assert s["$schema"] == "https://json-schema.org/draft/2020-12/schema"
    s2 = canonicalize({"$schema": "https://json-schema.org/draft-07/schema"})
    assert s2["$schema"] == "http://json-schema.org/draft-07/schema#"


def test_ignored_metaschema_dropped():
    s = canonicalize({"properties": {
        "a": {"$schema": "https://json-schema.org/draft/2020-12/schema",
              "type": "integer"}}})
    assert "$schema" not in s["properties"]["a"]
    # resource roots ($id) keep their dialect
    s2 = canonicalize({"$defs": {"r": {"$id": "https://example.com/r",
                                       "$schema": "https://json-schema.org/draft/2020-12/schema",
                                       "type": "integer"}},
                       "properties": {"x": {"$ref": "https://example.com/r"}}})
    assert "$schema" in s2["$defs"]["r"]


def test_dynamic_ref_to_static():
    s = canonicalize({"$defs": {"t": {"$anchor": "n", "type": "integer"}},
                      "properties": {"x": {"$dynamicRef": "#n"}}})
    assert s["properties"]["x"] == {"$ref": "#n"}
    # a $dynamicAnchor of that name anywhere blocks the rewrite
    s2 = canonicalize({"$defs": {"t": {"$dynamicAnchor": "n", "type": "integer"}},
                       "properties": {"x": {"$dynamicRef": "#n"}}})
    assert "$dynamicRef" in s2["properties"]["x"]
    s3 = canonicalize({"properties": {"x": {"$recursiveRef": "#"}},
                       "type": "object"})
    assert s3["properties"]["x"] == {"$ref": "#"}


def test_upgrade_legacy_rules():
    from jsonschema_spark.plans.upgrade import upgrade_schema

    s = upgrade_schema({"maximum": 5, "maximumCanEqual": False,
                        "minimum": 1, "minimumCanEqual": True})
    assert s.get("exclusiveMaximum") == 5 and "maximum" not in s
    assert s.get("minimum") == 1 and "minimumCanEqual" not in s
    s2 = upgrade_schema({"type": "any", "minimum": 1})
    assert "type" not in s2
    s3 = upgrade_schema({"disallow": ["string", {"minimum": 5}]})
    assert s3["not"] == {"anyOf": [{"type": "string"}, {"minimum": 5}]}
    # draft-7: $ref siblings ignored → stripped; 2019-09: kept
    d7 = upgrade_schema({"$schema": "http://json-schema.org/draft-07/schema#",
                         "$defs": {"t": {"type": "integer"}},
                         "properties": {"x": {"$ref": "#/$defs/t",
                                              "minimum": 5}}})
    assert "minimum" not in d7["properties"]["x"]
    d19 = upgrade_schema({"$schema": "https://json-schema.org/draft/2019-09/schema",
                          "$defs": {"t": {"type": "integer"}},
                          "properties": {"x": {"$ref": "#/$defs/t",
                                               "minimum": 5}}})
    assert d19["properties"]["x"].get("minimum") == 5


def _rand_rule_schema(rng):
    """Shapes targeting the round-3 rule batch."""
    pick = rng.randrange(10)
    if pick == 0:
        return {"enum": rng.sample([1, 2, "a", "bb", True, False, None, 3.5], 4),
                "minLength": rng.randint(0, 3), "minimum": rng.randint(0, 3)}
    if pick == 1:
        return {"const": rng.choice([1, 2, "ab", [1], {"k": 1}]),
                "multipleOf": rng.choice([1, 2]),
                "minLength": rng.randint(0, 3)}
    if pick == 2:
        return {"type": rng.choice(["string", "integer", ["string", "array"]]),
                "minItems": rng.randint(0, 2), "minimum": rng.randint(0, 5),
                "minLength": rng.randint(0, 2),
                "properties": {"a": {"type": "integer"}}}
    if pick == 3:
        return {"oneOf": [{"type": "string", "minLength": rng.randint(0, 2)},
                          {"type": rng.choice(["object", "number"])}]}
    if pick == 4:
        return {"type": "integer", "minimum": rng.choice([1.5, 2.0, 3]),
                "maximum": rng.choice([5.5, 6.0, 7])}
    if pick == 5:
        return {"allOf": [{"minimum": rng.randint(0, 3)},
                          {"maximum": rng.randint(3, 8)},
                          {"type": rng.choice(["integer", "number", "string"])}]}
    if pick == 6:
        return {"dependencies": {"a": rng.choice([["b"], {"required": ["c"]}])},
                "properties": {"a": {}, "b": {}, "c": {}}}
    if pick == 7:
        return {"contains": {"type": "integer"},
                "minContains": rng.randint(0, 3), "minItems": rng.randint(0, 3),
                "maxItems": rng.randint(3, 6), "maxContains": rng.randint(2, 6)}
    if pick == 8:
        return {"$defs": {"t": {"type": rng.choice(["integer", "string"]),
                                "minimum": rng.randint(0, 3)}},
                "properties": {"x": {"$ref": "#/$defs/t"}},
                "type": "object"}
    return {"enum": [True, False] if rng.random() < 0.5 else [rng.randint(0, 1)],
            "exclusiveMinimum": rng.choice([True, False, 0]),
            "minimum": rng.randint(0, 2)}


def test_rule_batch_preserves_semantics():
    rng = random.Random(20260817)
    insts = [None, True, False, 0, 1, 2, 3, 5, 6, 1.5, 2.0, 5.5, "", "a",
             "bb", "ccc", [1, 2], [1, 1], ["a"], [], {}, {"a": 1},
             {"a": 1, "b": 2}, {"a": "x", "c": 1}, {"b": 2, "c": 3}]
    for i in range(300):
        schema = _rand_rule_schema(random.Random(3000 + i))
        canon = canonicalize(schema)
        for inst in insts:
            assert validate_py(schema, inst) == validate_py(canon, inst), (
                schema, canon, inst)


def test_annotations_matter_recomputed_per_pass():
    """A pass that rewrites the last unevaluated* to additionalProperties
    re-enables the annotation-erasing rules on the NEXT pass — computing
    annotations_matter once left if-false branches alive (fuzz-caught
    non-idempotence)."""
    s = {"type": "object",
         "properties": {"o": {"if": {"not": {}}, "then": {"type": "integer"}},
                        "s": {"properties": {"b": {"type": "array"}},
                              "unevaluatedProperties": {"type": "integer"}}}}
    c = canonicalize(s)
    assert c == canonicalize(c)
    assert c["properties"]["o"] == {}


def test_fuzz_equivalence_smoke():
    """Committed slice of scripts/fuzz_equivalence.py: recursive random
    schemas (nested combinators, const/enum/type conflicts, local $refs)
    hold canonicalize/lint_fix acceptance-preservation + idempotence."""
    import subprocess
    import sys

    r = subprocess.run(
        [sys.executable, "scripts/fuzz_equivalence.py", "400", "7"],
        capture_output=True, text=True, timeout=600)
    assert r.returncode == 0, r.stdout + r.stderr
