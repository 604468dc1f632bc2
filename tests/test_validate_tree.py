"""Nested/JSON-tree path: documents in a string column, parsed to VARIANT.

Exercises the loop operators (items, prefixItems, contains, uniqueItems,
patternProperties, propertyNames, additionalProperties) the reference
implements in evaluator_dispatch.h Groups C/E.
"""

import json

import pytest

from jsonschema_spark import annotate, validate, validate_py, violations


def docs(spark, *payloads):
    return spark.createDataFrame([(i, p) for i, p in enumerate(payloads)], "i long, doc string")


def verdicts(spark, schema, *payloads):
    out = validate(docs(spark, *payloads), schema, doc_col="doc").orderBy("i").collect()
    return [r.valid for r in out]


def test_tree_type_and_required(spark):
    schema = {"type": "object", "required": ["a"], "properties": {"a": {"type": "integer"}}}
    assert verdicts(
        spark, schema, '{"a": 1}', '{"a": 1.0}', '{"a": 1.5}', '{"a": "x"}', "{}", "[1]", "3"
    ) == [True, True, False, False, False, False, False]


def test_tree_integers_beyond_int64(spark):
    """Integral values past int64 are integers; fractions stay numbers."""
    big = str(2**70)
    assert verdicts(spark, {"type": "integer"}, big, "-" + big, "1e20", "2.5") == [
        True, True, True, False]


def test_tree_null_vs_missing(spark):
    # JSON null satisfies presence (required) but fails type checks
    schema = {"required": ["a"], "properties": {"a": {"type": "null"}}}
    assert verdicts(spark, schema, '{"a": null}', "{}", '{"a": 1}') == [True, False, False]


def test_tree_string_constraints(spark):
    schema = {"properties": {"s": {"minLength": 2, "maxLength": 4, "pattern": "^a"}}}
    assert verdicts(
        spark, schema, '{"s": "ab"}', '{"s": "a"}', '{"s": "abcde"}', '{"s": "bb"}', '{"s": 5}'
    ) == [True, False, False, False, True]


def test_tree_items(spark):
    schema = {"properties": {"xs": {"type": "array", "items": {"type": "integer", "minimum": 0}}}}
    assert verdicts(
        spark, schema, '{"xs": [1,2,3]}', '{"xs": []}', '{"xs": [1,-2]}', '{"xs": [1,"a"]}'
    ) == [True, True, False, False]


def test_tree_prefix_items(spark):
    schema = {
        "properties": {
            "t": {
                "prefixItems": [{"type": "string"}, {"type": "integer"}],
                "items": {"type": "boolean"},
            }
        }
    }
    assert verdicts(
        spark,
        schema,
        '{"t": ["a", 1, true, false]}',
        '{"t": ["a"]}',
        '{"t": [1, 1]}',
        '{"t": ["a", 1, "no"]}',
    ) == [True, True, False, False]


def test_tree_contains_min_max(spark):
    schema = {
        "properties": {
            "xs": {"contains": {"type": "integer"}, "minContains": 2, "maxContains": 3}
        }
    }
    assert verdicts(
        spark,
        schema,
        '{"xs": [1, 2, "a"]}',
        '{"xs": [1, "a"]}',
        '{"xs": [1,2,3,4]}',
    ) == [True, False, False]


def test_tree_unique_items(spark):
    schema = {"properties": {"xs": {"uniqueItems": True}}}
    assert verdicts(
        spark,
        schema,
        '{"xs": [1, 2, 3]}',
        '{"xs": [1, 2, 1]}',
        '{"xs": [{"a":1}, {"a":1}]}',
        '{"xs": [{"a":1}, {"a":2}]}',
    ) == [True, False, False, True]


def test_tree_min_max_items_and_props(spark):
    schema = {
        "properties": {"xs": {"minItems": 1, "maxItems": 2}},
        "minProperties": 1,
        "maxProperties": 2,
    }
    assert verdicts(
        spark, schema, '{"xs": [1]}', '{"xs": []}', '{"xs": [1,2,3]}', "{}", '{"a":1,"b":2,"c":3}'
    ) == [True, False, False, False, False]


def test_tree_pattern_properties(spark):
    schema = {"patternProperties": {"^x_": {"type": "integer"}}}
    assert verdicts(
        spark, schema, '{"x_a": 1, "y": "s"}', '{"x_a": "bad"}', '{"y": "ok"}'
    ) == [True, False, True]


def test_tree_additional_properties(spark):
    schema = {
        "properties": {"a": {}},
        "patternProperties": {"^x_": {}},
        "additionalProperties": False,
    }
    assert verdicts(
        spark, schema, '{"a": 1, "x_b": 2}', '{"a": 1, "z": 2}', "{}"
    ) == [True, False, True]
    out = violations(
        docs(spark, '{"a": 1, "z": 2}'), schema, id_cols=["i"], doc_col="doc"
    ).collect()
    assert out[0].instanceLocation == "/z"
    assert out[0].error == 'The object value was not expected to define the property "z"'


def test_tree_additional_properties_schema(spark):
    schema = {"properties": {"a": {}}, "additionalProperties": {"type": "integer"}}
    assert verdicts(
        spark, schema, '{"a": "s", "z": 2}', '{"a": "s", "z": "bad"}'
    ) == [True, False]


def test_tree_property_names(spark):
    schema = {"propertyNames": {"pattern": "^[a-z]+$", "maxLength": 3}}
    assert verdicts(
        spark, schema, '{"ab": 1}', '{"ABCD": 1}', '{"abcd": 1}', "{}"
    ) == [True, False, False, True]


def test_tree_nested_objects(spark):
    schema = {
        "properties": {
            "meta": {
                "type": "object",
                "required": ["id"],
                "properties": {
                    "id": {"type": "integer"},
                    "tags": {"type": "array", "items": {"type": "string"}},
                },
            }
        }
    }
    assert verdicts(
        spark,
        schema,
        '{"meta": {"id": 3, "tags": ["a"]}}',
        '{"meta": {"tags": ["a"]}}',
        '{"meta": {"id": 3, "tags": [1]}}',
        "{}",
    ) == [True, False, False, True]


def test_tree_instance_location_in_arrays(spark):
    schema = {"properties": {"xs": {"items": {"type": "integer"}}}}
    out = violations(
        docs(spark, '{"xs": [1, "bad", 3]}'), schema, id_cols=["i"], doc_col="doc"
    ).collect()
    locs = [(r.keywordLocation, r.instanceLocation) for r in out]
    assert ("/properties/xs/items/type", "/xs/1") in locs
    assert ("/properties/xs/items", "/xs") in locs


def test_tree_enum_const_deep(spark):
    schema = {"properties": {"v": {"enum": [1, "a", [1, 2], {"k": True}]}}}
    assert verdicts(
        spark,
        schema,
        '{"v": 1}',
        '{"v": "a"}',
        '{"v": [1,2]}',
        '{"v": {"k": true}}',
        '{"v": 2}',
        '{"v": [1,3]}',
    ) == [True, True, True, True, False, False]


def test_tree_combinators(spark):
    schema = {
        "properties": {
            "n": {
                "if": {"type": "integer"},
                "then": {"minimum": 0},
                "else": {"type": "string"},
            }
        }
    }
    assert verdicts(
        spark, schema, '{"n": 5}', '{"n": -5}', '{"n": "s"}', '{"n": 1.5}'
    ) == [True, False, True, False]


def test_tree_dependent_schemas(spark):
    schema = {"dependentSchemas": {"credit": {"required": ["billing"]}}}
    assert verdicts(
        spark, schema, '{"credit": 1, "billing": "x"}', '{"credit": 1}', "{}"
    ) == [True, False, True]


def test_tree_parse_failure(spark):
    out = annotate(docs(spark, "not json"), {"type": "object"}, doc_col="doc").collect()
    assert out[0].valid is False
    assert out[0].violations[0].error == "The instance could not be parsed as JSON"


def test_tree_number_semantics(spark):
    schema = {"properties": {"x": {"multipleOf": 0.5, "minimum": 0}}}
    assert verdicts(
        spark, schema, '{"x": 2.5}', '{"x": 2.3}', '{"x": 3}', '{"x": -1}'
    ) == [True, False, True, False]


@pytest.mark.parametrize("k,want", [(2, True), (3, False)])
def test_tree_multiple_of_beyond_int64(spark, k, want):
    """1e20 parses to a DOUBLE variant, its digits to DECIMAL(21,0); both
    agree with validate_py."""
    schema = {"properties": {"x": {"multipleOf": k}}}
    payloads = ['{"x": 1e20}', '{"x": 100000000000000000000}']
    assert verdicts(spark, schema, *payloads) == [want, want]
    assert [validate_py(schema, json.loads(p)) for p in payloads] == [want, want]


def test_multiple_of_is_exact_beyond_2_53(spark):
    """An integer-typed value takes its remainder exactly: 2^53+1 is odd on a
    flat bigint column (and in a bigint array), on the tree path and in
    validate_py alike, where a double reading rounds it to 2^53."""
    schema = {"properties": {"a": {"multipleOf": 2}, "xs": {"items": {"multipleOf": 2}}}}
    values = [9007199254740993, 9007199254740994]
    flat = spark.createDataFrame([(i, v, [v]) for i, v in enumerate(values)], "i long, a long, xs array<bigint>")
    got_flat = [r.valid for r in validate(flat, schema, instance_cols=["a", "xs"]).orderBy("i").collect()]
    payloads = [json.dumps({"a": v}) for v in values] + [json.dumps({"xs": [v]}) for v in values]
    assert got_flat == [False, True]
    assert verdicts(spark, schema, *payloads) == [False, True, False, True]
    assert [validate_py(schema, json.loads(p)) for p in payloads] == [False, True, False, True]


_SPELLINGS = ["1", "1.0", "1e0", "-0.0", "1.5E300", "12345678901234567890123", "0.10",
              '""', '"1"', "true", "null", "{}", "[]"]
_TAGS = ["integer", "number", "number", "number", "number", "number", "number",
         "string", "string", "boolean", "null", "object", "array"]


@pytest.mark.parametrize("wrap,where", [
    ("%s", lambda s: s), ("[%s]", lambda s: {"items": s}), ('{"k": %s}', lambda s: {"additionalProperties": s}),
], ids=["root", "items", "additionalProperties"])
def test_type_messages_name_each_value_type(spark, wrap, where):
    """The type violation names the value's JSON type for every spelling of
    a value, at the root and inside element and member loops, in both
    reporting modes: a VARIANT decimal without fraction (1.0) is a
    number, an int64 an integer."""
    schema = where({"allOf": [{"type": "boolean"}, {"type": "null"}]})
    out = docs(spark, *[wrap % v for v in _SPELLINGS])
    for sc in (True, False):
        out = annotate(out, schema, doc_col="doc", valid_col=f"valid_{sc}",
                       violations_col=f"viols_{sc}", short_circuit=sc)
    for sc in (True, False):
        for r in out.orderBy("i").collect():
            errors = {v.error for v in r[f"viols_{sc}"] if v.keywordLocation.endswith("/type")}
            expected = "boolean" if _TAGS[r.i] != "boolean" else "null"
            assert errors >= {f"The value was expected to be of type {expected} but it was of type {_TAGS[r.i]}"}, (
                sc, r.doc, errors)


def test_tree_deep_equality_key_order_and_numbers(spark):
    """Reference deep equality (dispatch.h:697-712): object key order is
    irrelevant and 1 == 1.0 — for const, enum, and uniqueItems."""
    schema = {"properties": {"c": {"const": {"a": 1, "b": [2, {"x": 3}]}}}}
    assert verdicts(
        spark, schema,
        '{"c": {"a": 1, "b": [2, {"x": 3}]}}',
        '{"c": {"b": [2, {"x": 3}], "a": 1}}',   # reordered keys: equal
        '{"c": {"a": 1.0, "b": [2.0, {"x": 3}]}}',  # 1.0 == 1: equal
        '{"c": {"a": 1, "b": [2, {"x": 4}]}}',
    ) == [True, True, True, False]
    enum_schema = {"properties": {"e": {"enum": [{"k": 1, "l": 2}, [10, 20]]}}}
    assert verdicts(
        spark, enum_schema,
        '{"e": {"l": 2, "k": 1}}',
        '{"e": [10.0, 20]}',
        '{"e": {"k": 1}}',
    ) == [True, True, False]


def test_tree_unique_items_deep(spark):
    schema = {"properties": {"xs": {"uniqueItems": True}}}
    assert verdicts(
        spark, schema,
        '{"xs": [1, 1.0]}',                           # 1 == 1.0 ⇒ duplicate
        '{"xs": [{"a":1,"b":2}, {"b":2,"a":1}]}',     # reordered ⇒ duplicate
        '{"xs": [1, "1"]}',                           # number vs string ⇒ unique
        '{"xs": [true, 1]}',                          # boolean vs number ⇒ unique
        '{"xs": [{"a":1}, {"a":2}]}',
    ) == [False, False, True, True, True]


def test_tree_property_verdicts(spark):
    """property_verdicts on JSON documents: one verdict per property, and
    a missing required key or an unparseable document fails it."""
    from jsonschema_spark import property_verdicts

    schema = {
        "required": ["id"],
        "properties": {"id": {"type": "integer"}, "tags": {"items": {"type": "string"}}},
    }
    df = docs(spark, '{"id": 1, "tags": ["a"]}', '{"id": "x", "tags": [1]}', '{"tags": []}', "{oops")
    out = property_verdicts(df, schema, doc_col="doc").orderBy("i")
    assert out.columns == ["i", "doc", "ok_id", "ok_tags"]
    assert [(r.ok_id, r.ok_tags) for r in out.collect()] == [
        (True, True), (False, False), (False, True), (False, False)]


def test_tree_property_verdicts_fail_unparsed_documents(spark):
    """A document that does not parse, or is NULL, fails every property
    column, as ``validate`` fails it."""
    from jsonschema_spark import property_verdicts

    schema = {"properties": {"a": {"type": "integer"}, "b": {"type": "string"}}}
    df = docs(spark, "not json", None, '{"a": 1}')
    out = validate(property_verdicts(df, schema, doc_col="doc"), schema, doc_col="doc")
    assert [(r.ok_a, r.ok_b, r.valid) for r in out.orderBy("i").collect()] == [
        (False, False, False), (False, False, False), (True, True, True)]


def test_operators_leave_callers_valid_column_alone(spark):
    """Operators built on validate/annotate keep their verdicts in reserved
    helper columns, so a caller's own ``valid`` column survives them."""
    from jsonschema_spark import standard_output, verdict_counts

    df = spark.createDataFrame([(1, "yes", '{"a": 1}'), (2, "no", '{"a": "x"}')],
                               "i long, valid string, doc string")
    schema = {"properties": {"a": {"type": "integer"}}}
    for kw in ({"fmt": "flag"}, {"fmt": "basic"}, {"fmt": "basic", "positions": True}):
        out = standard_output(df, schema, doc_col="doc", **kw)
        assert out.columns == ["i", "valid", "doc", "report"], kw
        rows = out.orderBy("i").collect()
        assert [(r.valid, json.loads(r.report)["valid"]) for r in rows] == [
            ("yes", True), ("no", False)], kw
    v = violations(df, schema, ["i", "valid"], doc_col="doc").collect()
    assert [(r.i, r.valid, r.keywordLocation) for r in v] == [
        (2, "no", "/properties/a/type"), (2, "no", "/properties")]
    counts = verdict_counts(df, schema, doc_col="doc", by=["valid"]).orderBy("valid").collect()
    assert [tuple(r) for r in counts] == [("no", 1, 0, 1), ("yes", 1, 1, 0)]


_IF_THEN_ELSE = {"if": {"type": "integer"}, "then": {"minimum": 5}, "else": {"type": "string"}}


@pytest.mark.parametrize("schema,doc,want", [
    ({"items": {"type": "integer"}}, '[1, "x", 3]', [("/items/type", "/1"), ("/items", "")]),
    ({"prefixItems": [{"type": "string"}], "items": {"type": "integer"}}, '["a", 1, "x"]',
     [("/items/type", "/2"), ("/items", "")]),
    ({"anyOf": [{"prefixItems": [{}]}], "unevaluatedItems": {"type": "integer"}}, '["a", 1, "x"]',
     [("/unevaluatedItems/type", "/2")]),
    ({"additionalProperties": {"type": "integer"}}, '{"a": 1, "b": "x"}',
     [("/additionalProperties/type", "/b")]),
    ({"patternProperties": {"^x": {"type": "integer"}}}, '{"x1": 1, "x2": "s"}',
     [("/patternProperties/^x/type", "/x2")]),
    ({"propertyNames": {"maxLength": 2}}, '{"ab": 1, "abc": 2}', [("/propertyNames/maxLength", "/abc")]),
    ({"anyOf": [{"properties": {"a": {}}}], "unevaluatedProperties": {"type": "integer"}},
     '{"a": "s", "b": 1, "c": "x"}', [("/unevaluatedProperties/type", "/c")]),
    ({"properties": {"a": {"type": "integer"}, "b": {"type": "integer"}}}, '{"a": 1, "b": "x"}',
     [("/properties/b/type", "/b"), ("/properties", "")]),
    (_IF_THEN_ELSE, "3", [("/then/minimum", ""), ("/if", "")]),
    (_IF_THEN_ELSE, "true", [("/else/type", ""), ("/if", "")]),
    ({"oneOf": [{"type": "integer"}, {"minimum": 2}]}, "3", [("/oneOf", "")]),
    ({"oneOf": [{"type": "integer"}, {"type": "string"}]}, "true",
     [("/oneOf/0/type", ""), ("/oneOf/1/type", ""), ("/oneOf", "")]),
])
def test_violations_name_only_failing_elements_and_parts(spark, schema, doc, want):
    """On a failing row, loops and conjunctions report the elements, keys
    and parts that fail, not the ones that pass beside them (violation
    arrays are gated per element and per part), in both reporting modes."""
    out = docs(spark, doc)
    for sc in (True, False):
        out = annotate(out, schema, doc_col="doc", valid_col=f"valid_{sc}",
                       violations_col=f"viols_{sc}", short_circuit=sc)
    row = out.collect()[0]
    for sc in (True, False):
        got = [(v.keywordLocation, v.instanceLocation) for v in row[f"viols_{sc}"]]
        assert (row[f"valid_{sc}"], got) == (False, want), sc
