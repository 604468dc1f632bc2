"""Conformance corpus — official-JSON-Schema-Test-Suite-style cases.

The reference pins the official suite through blaze (SURVEY.md §5.3);
this is a compact re-derivation of its semantics-critical cases (written
from the 2020-12 spec, not copied), run through the tree path. Each case:
(schema, [(instance_json, expected_valid), ...]).
"""

import json

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import annotate, validate

_MY_ID = "https://localhost:1234/draft2020-12/id/my_identifier.json"

# `#foo` names the root resource's anchor; the embedded resource's `foo`
# is another resource's
ANCHOR_SCOPE = {
    "$id": "https://example.com/root.json",
    "$defs": {"inner": {"$id": "inner.json",
                        "$defs": {"x": {"$anchor": "foo", "type": "integer"}}},
              "mine": {"$anchor": "foo", "type": "string"}},
    "$ref": "#foo",
}

# one code point of each UTF-8 width: 1, 2, 3 and 4 bytes
_WIDTHS = ("a", "\u00e9", "\u20ac", "\U0001F600")

CASES = [
    # --- type ---------------------------------------------------------------
    ("integer accepts int and integral real, rejects fraction/string/bool-ish",
     {"type": "integer"},
     [("1", True), ("1.0", True), ("1.5", False), ('"1"', False), ("true", False), ("null", False),
      ("1e0", True), ("-0.0", True), ("1.5E300", True), ("12345678901234567890123", True),
      ("0.10", False), ('""', False), ("{}", False), ("[]", False)]),
    ("number accepts ints", {"type": "number"},
     [("1", True), ("1.5", True), ('"x"', False), ("1.0", True), ("1e0", True), ("-0.0", True),
      ("1.5E300", True), ("12345678901234567890123", True), ("0.10", True), ('""', False),
      ('"1"', False), ("true", False), ("null", False), ("{}", False), ("[]", False)]),
    ("type union", {"type": ["string", "null"]},
     [('"a"', True), ("null", True), ("5", False), ("[]", False), ('""', True), ('"1"', True),
      ("true", False), ("{}", False), ("1.0", False), ("0.10", False)]),
    ("object/array tags", {"type": "object"},
     [("{}", True), ("[]", False), ('"{}"', False), ('{"a": {}}', True), ("[{}]", False),
      ("null", False), ("true", False), ("1", False)]),
    # --- const / enum -------------------------------------------------------
    ("const null", {"const": None}, [("null", True), ("0", False), ('""', False)]),
    ("const false vs 0", {"const": False}, [("false", True), ("0", False)]),
    ("const 1 vs 1.0 vs true", {"const": 1}, [("1", True), ("1.0", True), ("true", False)]),
    ("enum heterogeneous", {"enum": [1, "1", [1], {"a": 1}, None]},
     [("1", True), ('"1"', True), ("[1]", True), ('{"a": 1}', True), ("null", True),
      ("2", False), ("[2]", False), ('{"a": 2}', False)]),
    # --- numeric ------------------------------------------------------------
    ("bounds inclusive", {"minimum": 1, "maximum": 3},
     [("1", True), ("3", True), ("0.999", False), ("3.001", False), ('"x"', True)]),
    ("exclusive bounds", {"exclusiveMinimum": 1, "exclusiveMaximum": 3},
     [("1", False), ("3", False), ("2", True)]),
    ("multipleOf int", {"multipleOf": 2},
     [("4", True), ("5", False), ("4.0", True), ("9007199254740993", False), ("9007199254740994", True),
      ("18446744073709551617", False), ("18446744073709551618", True)]),
    ("multipleOf fraction", {"multipleOf": 0.5},
     [("1.5", True), ("1.25", False), ("3", True)]),
    # --- string -------------------------------------------------------------
    ("length is code points", {"minLength": 2, "maxLength": 3},
     [('"ab"', True), ('"abc"', True), ('"a"', False), ('"abcd"', False),
      ('"\\u00e9\\u00e9"', True)]  # two é code points, 4 UTF-8 bytes
     + [(json.dumps(ch * n, ensure_ascii=False), 2 <= n <= 3) for ch in _WIDTHS for n in (1, 2, 3, 4)]),
    ("pattern is unanchored search", {"pattern": "b+"},
     [('"abc"', True), ('"aaa"', False)]),
    # --- object -------------------------------------------------------------
    ("required", {"required": ["a", "b"]},
     [('{"a":1,"b":2}', True), ('{"a":1}', False), ("{}", False), ("[]", True), ("5", True)]),
    ("null property satisfies required", {"required": ["a"]},
     [('{"a": null}', True), ("{}", False)]),
    ("properties ignores absent", {"properties": {"a": {"type": "integer"}}},
     [("{}", True), ('{"a": 1}', True), ('{"a": "x"}', False)]),
    ("min/maxProperties", {"minProperties": 1, "maxProperties": 2},
     [("{}", False), ('{"a":1}', True), ('{"a":1,"b":2,"c":3}', False)]),
    ("dependentRequired", {"dependentRequired": {"a": ["b"]}},
     [("{}", True), ('{"b":1}', True), ('{"a":1,"b":1}', True), ('{"a":1}', False)]),
    ("dependentSchemas", {"dependentSchemas": {"a": {"minProperties": 2}}},
     [("{}", True), ('{"a":1,"b":2}', True), ('{"a":1}', False)]),
    ("propertyNames", {"propertyNames": {"maxLength": 2}},
     [("{}", True), ('{"ab":1}', True), ('{"abc":1}', False)]),
    ("patternProperties + additionalProperties",
     {"properties": {"a": {"type": "integer"}},
      "patternProperties": {"^x": {"type": "string"}},
      "additionalProperties": False},
     [('{"a":1}', True), ('{"x1":"s"}', True), ('{"a":1,"x2":"t"}', True),
      ('{"b":1}', False), ('{"x1":1}', False)]),
    ("additionalProperties schema",
     {"properties": {"a": {}}, "additionalProperties": {"type": "integer"}},
     [('{"a":"anything","z":3}', True), ('{"z":"s"}', False),
      ('{"z": 1e0, "y": -0.0, "x": 12345678901234567890123, "w": 1.0, "v": 1.5E300}', True),
      ('{"z": 0.10}', False), ('{"z": ""}', False), ('{"z": "1"}', False), ('{"z": true}', False),
      ('{"z": null}', False), ('{"z": {}}', False), ('{"z": []}', False)]),
    # --- array --------------------------------------------------------------
    ("items all elements", {"items": {"type": "integer"}},
     [("[]", True), ("[1,2]", True), ('[1,"x"]', False), ('"notarray"', True),
      ("[1, 1.0, 1e0, -0.0, 1.5E300, 12345678901234567890123]", True), ("[0.10]", False),
      ('[""]', False), ('["1"]', False), ("[true]", False), ("[null]", False), ("[{}]", False),
      ("[[]]", False)]),
    ("prefixItems then items",
     {"prefixItems": [{"type": "string"}], "items": {"type": "integer"}},
     [('["a",1,2]', True), ('["a","b"]', False), ("[1]", False), ("[]", True)]),
    ("prefixItems longer than instance", {"prefixItems": [{"type": "string"}, {"type": "integer"}]},
     [('["a"]', True), ("[]", True), ('["a",1]', True), ('["a","b"]', False)]),
    ("min/maxItems", {"minItems": 1, "maxItems": 2},
     [("[1]", True), ("[]", False), ("[1,2,3]", False)]),
    ("uniqueItems scalars", {"uniqueItems": True},
     [("[1,2]", True), ("[1,1]", False), ('["a","b"]', True), ("[]", True),
      ('[0, false]', True), ('[1, true]', True)]),  # number/bool distinct
    ("contains default min 1", {"contains": {"type": "string"}},
     [('[1,"a"]', True), ("[1,2]", False), ("[]", False)]),
    ("minContains 0 with contains", {"contains": {"type": "string"}, "minContains": 0},
     [("[]", True), ("[1]", True)]),
    ("maxContains", {"contains": {"type": "integer"}, "maxContains": 2},
     [("[1,2]", True), ("[1,2,3]", False)]),
    # --- combinators ----------------------------------------------------------
    ("allOf", {"allOf": [{"minimum": 1}, {"maximum": 3}]},
     [("2", True), ("0", False), ("4", False)]),
    ("anyOf", {"anyOf": [{"type": "string"}, {"minimum": 5}]},
     [('"s"', True), ("7", True), ("1", False)]),
    ("oneOf exactly one", {"oneOf": [{"minimum": 1}, {"maximum": 3}]},
     [("0", True), ("5", True), ("2", False)]),
    ("not", {"not": {"type": "integer"}}, [('"a"', True), ("1", False), ("1.5", True)]),
    ("if-then no else", {"if": {"type": "integer"}, "then": {"minimum": 0}},
     [("5", True), ("-5", False), ('"s"', True)]),
    ("if-else no then", {"if": {"type": "integer"}, "else": {"type": "string"}},
     [("5", True), ('"s"', True), ("1.5", False)]),
    ("boolean schema true/false branches", {"anyOf": [False, {"type": "integer"}]},
     [("1", True), ('"x"', False)]),
    ("false schema rejects everything", False, [("1", False), ("null", False), ("{}", False)]),
    ("empty schema accepts everything", {}, [("1", True), ("null", True), ('"x"', True)]),
    # --- $ref / $defs ---------------------------------------------------------
    ("$ref to $defs", {"$defs": {"pos": {"minimum": 0}}, "$ref": "#/$defs/pos"},
     [("1", True), ("-1", False)]),
    ("$ref with sibling keywords (2020-12)",
     {"$defs": {"pos": {"minimum": 0}}, "$ref": "#/$defs/pos", "maximum": 10},
     [("5", True), ("-1", False), ("11", False)]),
    # --- unevaluated ----------------------------------------------------------
    ("unevaluatedProperties sees allOf",
     {"allOf": [{"properties": {"a": {}}}], "unevaluatedProperties": False},
     [('{"a":1}', True), ('{"b":1}', False)]),
    ("unevaluatedItems sees prefixItems",
     {"prefixItems": [{}], "unevaluatedItems": False},
     [("[1]", True), ("[1,2]", False), ("[]", True)]),
    # --- disjunctive unevaluated* (runtime marks) ---------------------------
    ("unevaluatedProperties across anyOf branches",
     {"anyOf": [{"required": ["a"], "properties": {"a": {}}},
                {"required": ["b"], "properties": {"b": {}}}],
      "unevaluatedProperties": False},
     [('{"a":1}', True), ('{"b":1}', True), ('{"a":1,"b":1}', True),
      ('{"a":1,"z":1}', False), ("{}", False)]),
    ("unevaluatedProperties: failed branch contributes nothing",
     {"anyOf": [{"required": ["a"], "properties": {"a": {}, "x": {}}},
                {"required": ["b"], "properties": {"b": {}}}],
      "unevaluatedProperties": False},
     [('{"b":1,"x":1}', False), ('{"a":1,"x":1}', True)]),
    ("unevaluatedItems sees contains hits",
     {"contains": {"type": "string"}, "unevaluatedItems": {"type": "integer"}},
     [('["a", 1]', True), ('["a", 1.5]', False), ('["a"]', True)]),
    ("unevaluatedProperties via if/then",
     {"if": {"required": ["mode"]},
      "then": {"properties": {"mode": {}, "opt": {}}},
      "unevaluatedProperties": False},
     [('{"mode":1,"opt":2}', True), ('{"mode":1,"zzz":2}', False), ("{}", True)]),
    # --- dynamic references -------------------------------------------------
    ("$dynamicRef single-document tree",
     {"$dynamicAnchor": "n", "type": "object",
      "properties": {"v": {"type": "integer"},
                     "kids": {"type": "array", "items": {"$dynamicRef": "#n"}}}},
     [('{"v":1}', True), ('{"v":1,"kids":[{"v":2}]}', True),
      ('{"v":1,"kids":[{"v":"x"}]}', False)]),
    ("$recursiveRef plain root recursion",
     {"type": "object",
      "properties": {"v": {"type": "integer"}, "next": {"$recursiveRef": "#"}}},
     [('{"v":1,"next":{"v":2}}', True), ('{"v":1,"next":{"v":"x"}}', False)]),
    # --- embedded resources -------------------------------------------------
    ("embedded $id opens its own anchor scope",
     {"$id": "https://example.com/root.json",
      "$defs": {"sub": {"$id": "https://example.com/sub.json",
                        "$defs": {"p": {"$anchor": "pos", "minimum": 0}},
                        "$ref": "#pos"}},
      "$ref": "#/$defs/sub"},
     [("1", True), ("-1", False)]),
    # --- subtle interactions --------------------------------------------------
    ("contains counts satisfy minContains AND maxContains together",
     {"contains": {"type": "integer"}, "minContains": 2, "maxContains": 3},
     [("[1,2]", True), ('[1,2,3,"x"]', True), ("[1]", False), ("[1,2,3,4]", False)]),
    ("propertyNames composes with patternProperties",
     {"propertyNames": {"pattern": "^[a-z]+$"},
      "patternProperties": {"^a": {"type": "integer"}}},
     [('{"ab":1}', True), ('{"ab":"x"}', False), ('{"AB":1}', False), ('{"zz":"ok"}', True)]),
    ("exclusive bounds with float instance values",
     {"exclusiveMinimum": 0.5, "exclusiveMaximum": 1.5},
     [("0.5", False), ("1.0", True), ("1.5", False), ("0.500001", True)]),
    ("required through dependentSchemas trigger chain",
     {"dependentSchemas": {"a": {"dependentRequired": {"b": ["c"]}}}},
     [('{"a":1}', True), ('{"a":1,"b":2,"c":3}', True), ('{"a":1,"b":2}', False),
      ('{"b":2}', True)]),
    ("not over combinator",
     {"not": {"anyOf": [{"type": "string"}, {"minimum": 10}]}},
     # null: minimum is vacuous for non-numbers → inner anyOf passes → not fails
     [("5", True), ("15", False), ('"s"', False), ("null", False)]),
    ("nested unevaluatedItems sees allOf prefixItems",
     {"allOf": [{"prefixItems": [{"type": "integer"}]}],
      "unevaluatedItems": {"type": "string"}},
     [('[1,"a"]', True), ("[1,2]", False), ("[1]", True)]),
    ("uniqueItems with mixed-type scalars",
     {"uniqueItems": True},
     [('[1,"1"]', True), ("[null,false,0]", True), ('[{"a":1},{"a":1.0}]', False)]),
    ("pattern on property names via propertyNames pattern",
     {"propertyNames": {"pattern": "^x-"}},
     [('{"x-a":1,"x-b":2}', True), ('{"x-a":1,"y":2}', False), ("{}", True)]),
    ("anchor ref inside allOf branch",
     {"$defs": {"pos": {"$anchor": "p", "exclusiveMinimum": 0}},
      "allOf": [{"$ref": "#p"}, {"multipleOf": 2}]},
     [("4", True), ("-4", False), ("3", False)]),
    ("if/then/else cascade with object conditions",
     {"if": {"required": ["mode"]},
      "then": {"required": ["value"]},
      "else": {"maxProperties": 1}},
     [('{"mode":1,"value":2}', True), ('{"mode":1}', False),
      ('{"other":1}', True), ('{"a":1,"b":2}', False)]),
    # --- identifiers live at schema positions only ----------------------------
    ("$anchor inside an enum is not a real identifier",
     {"$defs": {"anchor_in_enum": {"enum": [{"$anchor": "my_anchor", "type": "null"}]},
                "real_identifier_in_schema": {"$anchor": "my_anchor", "type": "string"}},
      "oneOf": [{"$ref": "#/$defs/anchor_in_enum"}, {"$ref": "#my_anchor"}]},
     [('{"$anchor": "my_anchor", "type": "null"}', True), ('{"type": "null"}', False),
      ('"a string"', True), ("1", False)]),
    ("$id resolves against the nearest parent resource",
     {"$id": "http://example.com/a.json",
      "$defs": {"x": {"$id": "http://example.com/b/c.json",
                      "not": {"$defs": {"y": {"$id": "d.json", "type": "number"}}}}},
      "allOf": [{"$ref": "http://example.com/b/d.json"}]},
     [("1", True), ('"a"', False)]),
    ("$ref inside an enum is data, not a reference",
     {"$defs": {"a_string": {"type": "string"}},
      "enum": [{"$ref": "#/$defs/a_string"}]},
     [('"this is a string"', False), ('{"type": "string"}', False),
      ('{"$ref": "#/$defs/a_string"}', True)]),
    ("$id inside an enum is not a real identifier",
     {"$defs": {"id_in_enum": {"enum": [{"$id": _MY_ID, "type": "null"}]},
                "real_id_in_schema": {"$id": _MY_ID, "type": "string"},
                "zzz_id_in_const": {"const": {"$id": _MY_ID, "type": "null"}}},
      "anyOf": [{"$ref": "#/$defs/id_in_enum"}, {"$ref": _MY_ID}]},
     [(json.dumps({"$id": _MY_ID, "type": "null"}), True),
      ('"a string to match #/$defs/id_in_enum"', True), ("1", False)]),
    ("$id inside an unknown keyword is not a real identifier",
     {"$defs": {"id_in_unknown0": {"not": {"array_of_schemas": [
                    {"$id": _MY_ID, "type": "null"}]}},
                "real_id_in_schema": {"$id": _MY_ID, "type": "string"},
                "id_in_unknown1": {"not": {"object_of_schemas": {
                    "foo": {"$id": _MY_ID, "type": "integer"}}}}},
      "anyOf": [{"$ref": "#/$defs/id_in_unknown0"}, {"$ref": "#/$defs/id_in_unknown1"},
                {"$ref": _MY_ID}]},
     [('"a string"', True), ("null", False), ("1", False)]),
    ("$anchor inside a const is not a real identifier",
     {"$defs": {"real_identifier_in_schema": {"$anchor": "my_anchor", "type": "string"},
                "zzz_anchor_in_const": {"const": {"$anchor": "my_anchor", "type": "null"}}},
      "anyOf": [{"$ref": "#/$defs/zzz_anchor_in_const"}, {"$ref": "#my_anchor"}]},
     [('{"$anchor": "my_anchor", "type": "null"}', True), ('{"type": "null"}', False),
      ('"a string"', True), ("1", False)]),
    # --- anchors resolve within their own resource -----------------------------
    ("plain-name ref resolves in its own resource, not in an embedded one",
     ANCHOR_SCOPE,
     [('"a"', True), ("1", False), ("null", False)]),
    ("URI with an anchor fragment names an anchor of an embedded resource",
     {"$id": "https://example.com/root.json",
      "$defs": {"inner": {"$id": "inner.json",
                          "$defs": {"x": {"$anchor": "foo", "type": "integer"}}}},
      "$ref": "inner.json#foo"},
     [("1", True), ('"a"', False)]),
    ("plain-name ref to a $dynamicAnchor",
     {"$defs": {"e": {"$dynamicAnchor": "elem", "type": "integer"}},
      "properties": {"a": {"$ref": "#elem"}}},
     [('{"a": 1}', True), ('{"a": "x"}', False), ("{}", True)]),
]


def _verdicts(docs, schema) -> dict:
    """One job: the fast verdict ``valid`` and, per ``short_circuit`` mode,
    the ``annotate`` verdict and the size of its violation array."""
    out, cols = validate(docs, schema, doc_col="doc"), ["i", "valid"]
    for sc in (True, False):
        out = annotate(out, schema, doc_col="doc", valid_col=f"valid_sc{sc}",
                       violations_col=f"viols_sc{sc}", short_circuit=sc)
        cols += [f"valid_sc{sc}", F.size(f"viols_sc{sc}").alias(f"n_viols_sc{sc}")]
    return {r["i"]: r for r in out.select(*cols).collect()}


def _annotate_mismatches(rows: dict, checks) -> dict:
    """(instance, short_circuit) -> (valid, #violations) wherever the
    ``annotate`` verdict is not the expected one, or the row has
    violations although valid, or none although invalid."""
    return {
        (checks[i][0], sc): (r[f"valid_sc{sc}"], r[f"n_viols_sc{sc}"])
        for i, r in rows.items() for sc in (True, False)
        if r[f"valid_sc{sc}"] != checks[i][1] or (r[f"n_viols_sc{sc}"] == 0) != checks[i][1]
    }


@pytest.mark.parametrize("desc,schema,checks", CASES, ids=[c[0] for c in CASES])
def test_conformance(spark, desc, schema, checks):
    docs = spark.createDataFrame(
        [(i, payload) for i, (payload, _) in enumerate(checks)], "i long, doc string"
    )
    rows = _verdicts(docs, schema)
    got = {i: r["valid"] for i, r in rows.items()}
    expected = {i: want for i, (_, want) in enumerate(checks)}
    mismatches = {
        checks[i][0]: (got[i], want) for i, want in expected.items() if got[i] != want
    }
    assert not mismatches, f"{desc}: instance -> (got, want): {mismatches}"
    bad = _annotate_mismatches(rows, checks)
    assert not bad, f"{desc}: (instance, short_circuit) -> (valid, #violations): {bad}"


@pytest.mark.parametrize("k", [1, 2, 3])
def test_length_bounds_at_every_utf8_width(spark, k):
    """`minLength`/`maxLength` k over k−1, k and k+1 code points of each
    UTF-8 width: flat, tree and ``validate_py`` all count code points."""
    from jsonschema_spark.plans.pyeval import validate_py

    values = [ch * n for ch in _WIDTHS for n in (k - 1, k, k + 1)]
    flat = spark.createDataFrame(list(enumerate(values)), "i long, s string")
    tree = spark.createDataFrame([(i, json.dumps(v, ensure_ascii=False)) for i, v in enumerate(values)],
                                 "i long, doc string")
    for kw, holds in (("minLength", lambda n: n >= k), ("maxLength", lambda n: n <= k)):
        schema = {"type": "string", kw: k}
        got_flat = [r.valid for r in validate(flat, {"properties": {"s": schema}}).orderBy("i").collect()]
        got_tree = [r.valid for r in validate(tree, schema, doc_col="doc").orderBy("i").collect()]
        got_py = [validate_py(schema, v) for v in values]
        assert got_flat == got_tree == got_py == [holds(len(v)) for v in values], kw


def test_anchor_scope_flat(spark):
    """The flat path resolves ANCHOR_SCOPE's `#foo` in the root resource
    too, as validate_py does."""
    from jsonschema_spark.plans.pyeval import validate_py

    schema = {**{k: v for k, v in ANCHOR_SCOPE.items() if k != "$ref"},
              "properties": {"a": {"$ref": "#foo"}}}
    got = [(validate(spark.createDataFrame([(a,)], f"a {dtype}"), schema).first()["valid"],
            validate_py(schema, {"a": a}))
           for a, dtype in (("x", "string"), (1, "long"))]
    assert got == [(True, True), (False, False)]


ADVERSARIAL = [
    ("int64 const beyond 2^53 is exact",
     {"const": 9007199254740993},
     [("9007199254740993", True), ("9007199254740992", False), ("9007199254740993.0", False)]),
    ("enum with big ints", {"enum": [9007199254740993, 1]},
     [("9007199254740993", True), ("9007199254740992", False), ("1", True), ("1.0", True)]),
    ("uniqueItems nested arrays", {"uniqueItems": True},
     [("[[1],[2]]", True), ("[[1],[1]]", False), ('[[1],[1.0]]', False), ('[{"a":[1]},{"a":[1]}]', False)]),
    ("enum 1.0 matches 1", {"enum": [1]}, [("1.0", True), ("1.5", False)]),
    ("pattern with regex metachars", {"pattern": "^a\\.b$"},
     [('"a.b"', True), ('"axb"', False)]),
    ("escaped property names in pointers",
     {"properties": {"a/b": {"type": "integer"}, "c~d": {"type": "integer"}},
      "required": ["a/b"]},
     [('{"a/b": 1, "c~d": 2}', True), ('{"a/b": "x"}', False), ('{"c~d": 1}', False)]),
    ("contains exactly zero", {"contains": {"type": "string"}, "minContains": 0, "maxContains": 0},
     [("[1,2]", True), ('["a"]', False), ("[]", True)]),
    ("deeply nested properties",
     {"properties": {"a": {"properties": {"b": {"properties": {"c": {"const": 1}}}}}}},
     [('{"a":{"b":{"c":1}}}', True), ('{"a":{"b":{"c":2}}}', False), ('{"a":{}}', True)]),
    ("allOf of objects merges constraints",
     {"allOf": [{"required": ["a"]}, {"properties": {"a": {"minimum": 5}}}]},
     [('{"a": 7}', True), ('{"a": 3}', False), ("{}", False)]),
    ("oneOf with subschema objects",
     {"oneOf": [{"required": ["a"]}, {"required": ["b"]}]},
     [('{"a":1}', True), ('{"b":1}', True), ('{"a":1,"b":1}', False), ("{}", False)]),
    ("nested arrays items of items",
     {"items": {"items": {"type": "integer"}}},
     [("[[1],[2,3]]", True), ('[[1],["x"]]', False), ("[]", True)]),
    # integers beyond int64 parse as DECIMAL(p,0) (or DOUBLE for 1e20)
    ("const integer beyond int64",
     {"const": 100000000000000000000},
     [("100000000000000000000", True), ("100000000000000000001", False), ("1e20", True),
      ("1", False)]),
    ("enum with an integer beyond int64", {"enum": [100000000000000000000, 1]},
     [("100000000000000000000", True), ("100000000000000000001", False), ("1e20", True),
      ("1", True)]),
    ("const beyond int64 not double-representable",
     {"const": 100000000000000000001},
     [("100000000000000000001", True), ("100000000000000000000", False),
      ("100000000000000000000.5", False), ("1e20", False)]),
    ("boolean and array tags", {"type": ["boolean", "array"]},
     [("true", True), ("[]", True), ("[1, {}]", True), ("1", False), ("1.0", False), ("1e0", False),
      ("-0.0", False), ("1.5E300", False), ("12345678901234567890123", False), ("0.10", False),
      ('""', False), ('"1"', False), ("null", False), ("{}", False)]),
    ("required and properties match member names exactly",
     {"required": ["sku"], "properties": {"sku": {"type": "null"}, "a.b": {"const": 2}}},
     [('{"Sku": 1}', False), ('{"sku": null}', True), ('{"sku": null, "a.b": 2}', True),
      ('{"sku": null, "a.b": 3}', False), ('{"sku": null, "a": {"b": 3}}', True)]),
    ("member loop binds the names its body reads",
     {"additionalProperties": {"required": ["sku"], "properties": {"sku": {"type": "null"},
                                                                   "a.b": {"type": "string"}}}},
     [('{"m": {"sku": null}}', True), ('{"m": {"Sku": null}}', False), ('{"m": {"sku": 1}}', False),
      ('{"m": {"sku": null, "a.b": "x"}}', True), ('{"m": {"sku": null, "a.b": 1}}', False),
      ('{"m": {"sku": null, "a": {"b": 1}}}', True), ('{"m": 1, "n": "x", "o": []}', True)]),
    ("items type tags", {"items": {"type": ["string", "boolean", "null", "object", "array"]}},
     [('["", "1", true, null, {}, []]', True), ("[1]", False), ("[1.0]", False), ("[1e0]", False),
      ("[0.10]", False), ("[-0.0]", False)]),
    ("element loop binds the names its body reads",
     {"items": {"required": ["sku"], "properties": {"sku": {"type": "integer"}, "Sku": {"type": "string"},
                                                    "a.b": {"type": "string"}}}},
     [('[{"Sku": "x"}]', False), ('[{"sku": null}]', False), ('[{"sku": 1, "a.b": "x"}]', True),
      ('[{"sku": 1, "a.b": 1}]', False), ('[{"sku": 1, "Sku": "x"}]', True),
      ('[{"sku": 1, "Sku": 2}]', False), ('[1, "x", null, []]', True), ('[{"sku": 1.0}]', True),
      ('[{"sku": 1, "a": {"b": 1}}]', True)]),
    ("container const inside an element loop", {"properties": {"os": {"items": {"const": {}}}}},
     [('{"os": []}', True), ('{"os": [{}]}', True), ('{"os": [{}, {"a": 1}]}', False),
      ('{"os": [[]]}', False), ('{"os": [null]}', False), ("{}", True)]),
    ("container enum inside element and member loops",
     {"items": {"enum": [{"a": 1, "b": [1, {"c": None}]}, [1, "x"], {}, []]},
      "additionalProperties": {"enum": [{"a": 1.0}, [[2]]]}},
     [('[{"b": [1.0, {"c": null}], "a": 1}]', True), ('[[1.0, "x"], {}, []]', True),
      ('[{"a": 1, "b": [1, {"c": 0}]}]', False), ('[{"a": 1}]', False), ("[[1]]", False),
      ('[["x", 1]]', False), ('[{"a": 1, "b": [1, {"c": null}], "d": 2}]', False), ("[1]", False),
      ('[{"a": 1, "b": [1, {}]}]', False), ('{"m": {"a": 1}, "n": [[2.0]]}', True),
      ('{"m": {"a": 1, "b": 1}}', False), ('{"m": [[2], []]}', False), ('{"m": {"A": 1}}', False)]),
    # the loop's member-name scan resolves $ref inside the items resource,
    # whose allOf has two entries, not against the root's one
    ("$ref inside an embedded resource of an element loop",
     {"allOf": [{}], "items": {"$id": "http://e/x", "allOf": [{}, {"required": ["a"]}], "$ref": "#/allOf/1"}},
     [('[{"a": 1}]', True), ("[{}]", False), ('[{"b": 1}, {"a": 2}]', False), ("[1]", True), ("{}", True)]),
    ("container const in a branch next to unevaluatedProperties",
     {"anyOf": [{"properties": {"a": {"const": [1, {"b": 2}]}}}, {"required": ["c"]}],
      "unevaluatedProperties": False},
     [('{"a": [1, {"b": 2}]}', True), ('{"a": [1.0, {"b": 2.0}]}', True), ("{}", True),
      ('{"a": [2], "c": 1}', False), ('{"a": [1, {"b": 2}], "c": 1}', False), ('{"c": 1}', False)]),
    ("container consts in branches next to unevaluatedItems",
     {"anyOf": [{"prefixItems": [{"const": {"a": 1}}]}, {"contains": {"const": [1]}}],
      "unevaluatedItems": False},
     [('[{"a": 1}]', True), ('[{"a": 1.0}, [1]]', True), ('[{"a": 1}, 2]', False), ("[[1], [1.0]]", True),
      ("[]", True), ("[2]", False)]),
    # uniqueItems and a decimal multipleOf inside element and member
    # loops, the lambdas of higher-order functions
    ("uniqueItems inside an element loop", {"properties": {"a": {"items": {"uniqueItems": True}}}},
     [('{"a": [[1, 1.0], [1e0, 2]]}', False), ('{"a": [[{"x": 1}, {"x": 1.0}]]}', False),
      ('{"a": [[1, 2], [1e0, 2.5], []]}', True), ('{"a": [[{"x": 1}, {"x": 1.5}], ["1", 1]]}', True),
      ('{"a": [[{"x": 1, "y": 2}, {"y": 2, "x": 1}]]}', False)]),
    ("decimal multipleOf inside an element loop", {"properties": {"a": {"items": {"multipleOf": 0.01}}}},
     [('{"a": [0.07]}', True), ('{"a": [0.075]}', False), ('{"a": [1e-2]}', True),
      ('{"a": [12345678.91]}', True), ('{"a": [0.07, 0.075]}', False), ('{"a": [3, "x", null]}', True)]),
    ("uniqueItems and decimal multipleOf inside a member loop",
     {"additionalProperties": {"items": {"uniqueItems": True, "multipleOf": 0.01}}},
     [('{"a": [[1, 1.0]]}', False), ('{"a": [[{"x": 1}, {"x": 1.0}]]}', False), ('{"a": [0.07, [1, 2]]}', True),
      ('{"a": [0.075]}', False), ('{"a": [1e-2, 12345678.91], "b": [[1e0, 2]]}', True)]),
    # a real is read by its shortest decimal digits, as validate_py reads
    # it, not by the binary value of its double
    ("integer multipleOf of a real beyond int64", {"properties": {"a": {"multipleOf": 100000000000000000000}}},
     [('{"a": 1e40}', True), ('{"a": 1e20}', True), ('{"a": 1.5e20}', False), ('{"a": 2.5e40}', True)]),
    ("power-of-two multipleOf of a real beyond int64", {"properties": {"a": {"multipleOf": 9223372036854775808}}},
     [('{"a": 1e40}', False), ('{"a": 0}', True), ('{"a": 9223372036854775808}', True)]),
    # JDK 17's Double.toString gives 9.999999999999999E22 and
    # 2.82879384806159008E17 for these, not the shortest digits
    ("multipleOf of reals whose Java string is not the shortest",
     {"properties": {"a": {"multipleOf": 1e22}, "b": {"multipleOf": 1000}}},
     [('{"a": 1e23}', True), ('{"b": 2.82879384806159E17}', True), ('{"b": 2.82879384806159008E17}', True),
      ('{"a": 1.5e22}', False), ('{"b": 2.828793848061591E17}', False)]),
    # a length bound beyond int64 compiles (as a bound no string reaches)
    ("length bounds beyond int64", {"properties": {"a": {"minLength": 10**30}, "b": {"maxLength": 10**30}}},
     [('{"a": "x"}', False), ('{"b": "x"}', True), ('{"a": 1, "b": ""}', True)]),
]


@pytest.mark.parametrize("desc,schema,checks", ADVERSARIAL, ids=[c[0] for c in ADVERSARIAL])
def test_conformance_adversarial(spark, desc, schema, checks):
    docs = spark.createDataFrame(
        [(i, payload) for i, (payload, _) in enumerate(checks)], "i long, doc string"
    )
    rows = _verdicts(docs, schema)
    got = {i: r["valid"] for i, r in rows.items()}
    mismatches = {
        checks[i][0]: (got[i], want)
        for i, (_, want) in enumerate(checks)
        if got[i] != want
    }
    assert not mismatches, f"{desc}: instance -> (got, want): {mismatches}"
    bad = _annotate_mismatches(rows, checks)
    assert not bad, f"{desc}: (instance, short_circuit) -> (valid, #violations): {bad}"


@pytest.mark.parametrize("desc,schema,checks", CASES + ADVERSARIAL,
                         ids=[c[0] + " (pyeval)" for c in CASES + ADVERSARIAL])
def test_conformance_python_evaluator(desc, schema, checks):
    """The SAME corpus through the driver-side evaluator — engine and
    evaluator must agree with the spec independently."""
    from jsonschema_spark.plans.pyeval import validate_py

    mismatches = {
        payload: (validate_py(schema, json.loads(payload)), want)
        for payload, want in checks
        if validate_py(schema, json.loads(payload)) != want
    }
    assert not mismatches, f"{desc}: instance -> (got, want): {mismatches}"
