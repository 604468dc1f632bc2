"""Dialect upgrade, external-$ref resolver/bundle, static unevaluated*."""

import json

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import validate, verdict_counts
from jsonschema_spark.plans.bundle import bundle
from jsonschema_spark.plans.compiler import SchemaError, compile_schema
from jsonschema_spark.plans.upgrade import needs_upgrade, subschemas, upgrade_schema


def test_upgrade_rewrites():
    legacy = {
        "$schema": "http://json-schema.org/draft-07/schema#",
        "definitions": {"pos": {"type": "integer", "minimum": 0, "exclusiveMinimum": True}},
        "properties": {
            "a": {"$ref": "#/definitions/pos"},
            "b": {"items": [{"type": "string"}], "additionalItems": {"type": "integer"}},
        },
        "dependencies": {"a": ["b"], "c": {"required": ["d"]}},
    }
    assert needs_upgrade(legacy)
    up = upgrade_schema(legacy)
    assert "definitions" not in up and "pos" in up["$defs"]
    assert up["properties"]["a"]["$ref"] == "#/$defs/pos"
    assert up["$defs"]["pos"]["exclusiveMinimum"] == 0 and "minimum" not in up["$defs"]["pos"]
    b = up["properties"]["b"]
    assert b["prefixItems"] == [{"type": "string"}] and b["items"] == {"type": "integer"}
    assert up["dependentRequired"] == {"a": ["b"]}
    assert up["dependentSchemas"] == {"c": {"required": ["d"]}}
    assert not needs_upgrade(up)


def test_external_ref_via_resolver(spark):
    registry = {
        "https://example.com/lang.json": {"enum": ["en", "de"]},
    }
    schema = {"properties": {"lang": {"$ref": "https://example.com/lang.json"}}}
    df = spark.createDataFrame([("en",), ("xx",)], "lang string")
    cs = compile_schema(schema, resolver=registry)
    rows = validate(df, cs).collect()
    got = {r["lang"]: r["valid"] for r in rows}
    assert got == {"en": True, "xx": False}


def test_external_ref_without_resolver_raises(spark):
    df = spark.createDataFrame([("x",)], "lang string")
    with pytest.raises(SchemaError, match="resolver"):
        validate(df, {"properties": {"lang": {"$ref": "https://nope/x.json"}}}).collect()


def test_bundle_inlines_and_validates(spark):
    registry = {
        "https://example.com/lang.json": {"$ref": "https://example.com/codes.json"},
        "https://example.com/codes.json": {"$defs": {"c": {"enum": ["en", "de"]}},
                                           "$ref": "#/$defs/c"},
    }
    schema = {"properties": {"lang": {"$ref": "https://example.com/lang.json"}}}
    closed = bundle(schema, registry)
    # fully closed: compiles with NO resolver
    df = spark.createDataFrame([("de",), ("zz",)], "lang string")
    got = {r["lang"]: r["valid"] for r in validate(df, closed).collect()}
    assert got == {"de": True, "zz": False}


def test_unevaluated_properties_static(spark):
    schema = {
        "allOf": [{"properties": {"a": {"type": "integer"}}}],
        "properties": {"b": {"type": "integer"}},
        "unevaluatedProperties": False,
    }
    df = spark.createDataFrame([(1, 2, None), (1, 2, 3)], "a long, b long, c long")
    got = [r["valid"] for r in validate(df, schema).collect()]
    assert got == [True, False]  # c present ⇒ unevaluated ⇒ fail


def test_unevaluated_properties_disjunctive_tree(spark):
    """anyOf branches contribute evaluated keys ONLY when they validate
    (the checkpoint/rewind analogue, evaluator.h:251-258)."""
    schema = {
        "anyOf": [
            {"properties": {"a": {"type": "integer"}}, "required": ["a"]},
            {"properties": {"b": {"type": "integer"}}, "required": ["b"]},
        ],
        "unevaluatedProperties": False,
    }
    docs = spark.createDataFrame(
        [
            (1, '{"a": 1}'),
            (2, '{"a": 1, "b": 2}'),   # both branches validate → both evaluated
            (3, '{"a": 1, "c": 3}'),   # c unevaluated
            (4, '{"b": "x"}'),         # both branches fail
        ],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: True, 3: False, 4: False}


def test_unevaluated_properties_if_then_else_tree(spark):
    schema = {
        "properties": {"kind": {"type": "string"}},
        "if": {"properties": {"kind": {"const": "x"}}, "required": ["kind"]},
        "then": {"properties": {"x1": {"type": "integer"}}},
        "else": {"properties": {"x2": {"type": "integer"}}},
        "unevaluatedProperties": False,
    }
    docs = spark.createDataFrame(
        [
            (1, '{"kind": "x", "x1": 1}'),
            (2, '{"kind": "x", "x2": 1}'),  # x2 only evaluated on the else arm
            (3, '{"kind": "y", "x2": 1}'),
            (4, '{"kind": "y", "x1": 1}'),
        ],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: True, 4: False}


def test_unevaluated_properties_disjunctive_flat(spark):
    schema = {
        "properties": {"a": {"type": "integer"}},
        "anyOf": [{"properties": {"b": {"type": "integer"}}, "required": ["b"]}],
        "unevaluatedProperties": False,
    }
    df = spark.createDataFrame(
        [(1, 2, None), (1, None, None), (1, 2, 3)], "a long, b long, c long"
    )
    got = [r["valid"] for r in validate(df, schema).collect()]
    assert got == [True, False, False]


def test_unevaluated_items_contains_tree(spark):
    """contains-matched elements count as evaluated for unevaluatedItems
    (LoopItemsUnevaluated, dispatch.h:2352)."""
    schema = {
        "properties": {
            "xs": {"contains": {"type": "string"}, "unevaluatedItems": {"type": "integer"}}
        }
    }
    docs = spark.createDataFrame(
        [
            (1, '{"xs": ["a", 1, 2]}'),
            (2, '{"xs": ["a", 1.5]}'),   # 1.5 neither matched nor integer
            (3, '{"xs": [1, 2]}'),       # contains itself fails
        ],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: False}


def test_unevaluated_items_static(spark):
    schema = {
        "properties": {
            "xs": {"prefixItems": [{"type": "integer"}], "unevaluatedItems": {"type": "integer"}}
        }
    }
    docs = spark.createDataFrame(
        [(1, '{"xs": [1, 2, 3]}'), (2, '{"xs": [1, "x"]}')], "id long, doc string"
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False}


def test_upgrade_draft3_keywords():
    legacy = {
        "extends": {"required": ["a"]},
        "divisibleBy": 3,
        "disallow": ["string", "null"],
    }
    assert needs_upgrade(legacy)
    up = upgrade_schema(legacy)
    assert up["allOf"] == [{"required": ["a"]}]
    assert up["multipleOf"] == 3 and "divisibleBy" not in up
    assert up["not"] == {"anyOf": [{"type": "string"}, {"type": "null"}]}
    # a schema entry in disallow survives as a branch
    up2 = upgrade_schema({"disallow": [{"minimum": 3}, "string"]})
    assert up2["not"] == {"anyOf": [{"minimum": 3}, {"type": "string"}]}


def test_upgrade_walker_is_schema_location_aware():
    """Keyword renames must not apply inside properties-map entries (a
    property NAMED 'definitions'/'dependencies' is data) or inside
    const/enum data values."""
    legacy = {
        "properties": {
            "definitions": {"type": "object"},
            "dependencies": {"type": "string"},
        },
        "const": {"id": "x", "definitions": {"a": 1}},
    }
    up = upgrade_schema(legacy)
    assert set(up["properties"]) == {"definitions", "dependencies"}
    assert "dependentSchemas" not in up["properties"]
    assert up["const"] == {"id": "x", "definitions": {"a": 1}}
    # and the marker scan must not fire on those either
    assert not needs_upgrade({"$schema": "https://json-schema.org/draft/2020-12/schema",
                              "properties": {"definitions": {"type": "object"}},
                              "const": {"id": 1}})


def test_bundle_preserves_anchor_refs(spark):
    """An inlined document's '#name' anchor refs must stay plain-name refs
    (anchors resolve document-wide); only '#/' pointer refs get rebased."""
    registry = {
        "https://example.com/geo.json": {
            "$defs": {"lat": {"$anchor": "pos", "enum": ["en", "de"]}},
            "$ref": "#pos",
        },
    }
    schema = {"properties": {"lang": {"$ref": "https://example.com/geo.json"}}}
    closed = bundle(schema, registry)
    df = spark.createDataFrame([("en",), ("zz",)], "lang string")
    got = {r["lang"]: r["valid"] for r in validate(df, closed).collect()}
    assert got == {"en": True, "zz": False}


def test_subschemas_yields_schema_positions_only():
    """Direct schema positions with escaped pointer suffixes; data under
    const/enum/default/examples, unknown keywords and the property-name
    lists of `dependencies` is never yielded."""
    node = {
        "properties": {"a/b": {"type": "integer"}, "c~d": True},
        "items": [{"minimum": 0}],
        "unevaluatedProperties": False,
        "anyOf": [{"$anchor": "x"}],
        "dependencies": {"p": ["q"], "r": {"required": ["s"]}},
        "const": {"$id": "https://example.com/data"},
        "enum": [{"$anchor": "y"}],
        "default": {"$ref": "#/nowhere"},
        "examples": [{"type": "string"}],
        "x-unknown": {"type": "string"},
    }
    assert [ptr for ptr, _ in subschemas(node)] == [
        "/properties/a~1b", "/properties/c~0d", "/items/0",
        "/unevaluatedProperties", "/anyOf/0", "/dependencies/r",
    ]
    assert list(subschemas(True)) == []


def test_bundle_ignores_refs_in_data():
    """`$ref`s under const/default are data: no lookup, no rewrite."""
    assert bundle({"const": {"$ref": "https://example.com/x"}}, {}) == {
        "const": {"$ref": "https://example.com/x"}}
    uri = "https://example.com/int.json"
    closed = bundle({"$ref": uri, "default": {"$ref": uri}}, {uri: {"type": "integer"}})
    assert closed["$ref"].startswith("#/$defs/")
    assert closed["default"] == {"$ref": uri}


RECURSIVE = {
    "$defs": {
        "node": {
            "type": "object",
            "required": ["v"],
            "properties": {
                "v": {"type": "integer", "minimum": 0},
                "next": {"$ref": "#/$defs/node"},
            },
        }
    },
    "$ref": "#/$defs/node",
}


def test_recursive_ref_tree_path(spark):
    docs = spark.createDataFrame(
        [
            (1, '{"v": 1, "next": {"v": 2, "next": {"v": 3}}}'),
            (2, '{"v": 1, "next": {"v": -2}}'),   # invalid deep value
            (3, '{"v": 5}'),
            (4, '{"v": 1, "next": {"v": 2}}'),
        ],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, RECURSIVE, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: True, 4: True}


def test_recursive_ref_depth_exceeded_rejects(spark):
    """Data nesting deeper than max_ref_depth is conservatively rejected
    with the documented depth message — never silently passed."""
    deep = '{"v": 1, "next": ' * 3 + '{"v": 1}' + "}" * 3
    shallow = '{"v": 1, "next": {"v": 2}}'
    docs = spark.createDataFrame([(1, deep), (2, shallow)], "id long, doc string")
    cs = compile_schema(RECURSIVE, max_ref_depth=2)
    got = {r["id"]: r["valid"] for r in validate(docs, cs, doc_col="doc").collect()}
    assert got == {1: False, 2: True}
    from jsonschema_spark import violations

    rows = violations(docs, cs, id_cols=["id"], doc_col="doc").collect()
    assert any("recursion depth" in r["error"] for r in rows)


def test_recursive_ref_flat_path_terminates_on_struct_depth(spark):
    """On the flat path the physical struct schema ends the unroll (absent
    child ⇒ static pass) — no depth message needed for bounded columns."""
    df = spark.createDataFrame(
        [((1, (2, None)),), ((1, (-5, None)),)],
        "root struct<v: long, next: struct<v: long, next: string>>",
    )
    schema = {"$defs": RECURSIVE["$defs"], "properties": {"root": {"$ref": "#/$defs/node"}}}
    got = [r["valid"] for r in validate(df, schema).collect()]
    assert got == [True, False]


def test_anchor_ref(spark):
    schema = {
        "$defs": {"code": {"$anchor": "langcode", "enum": ["en", "de"]}},
        "properties": {"lang": {"$ref": "#langcode"}},
    }
    df = spark.createDataFrame([("en",), ("xx",)], "lang string")
    got = {r["lang"]: r["valid"] for r in validate(df, schema).collect()}
    assert got == {"en": True, "xx": False}


def test_upgrade_draft0123_property_level_keywords():
    legacy = {
        "properties": {
            "a": {"type": "string", "required": True},     # draft-3 boolean required
            "b": {"type": "integer", "optional": False},   # draft-0/2 optional flag
            "c": {"requires": "a"},                        # draft-0/2 requires
            "d": {"requires": {"required": ["e"]}},
        },
        "maxDecimal": 2,
    }
    assert needs_upgrade(legacy)
    up = upgrade_schema(legacy)
    assert up["required"] == ["a", "b"]
    assert up["dependentRequired"] == {"c": ["a"]}
    assert up["dependentSchemas"] == {"d": {"required": ["e"]}}
    assert up["multipleOf"] == 0.01
    assert "required" not in up["properties"]["a"]
    assert "requires" not in up["properties"]["c"]


def test_upgrade_draft3_string_dependencies_and_format():
    """Residual drafts 0-3 keywords (VERDICT r4 directive 7): the
    dependencies STRING form means 'a requires b'
    (upgrade_draft_3_to_draft_4.h:383), and the legacy format names
    host-name / ip-address rename (ibid.:404)."""
    legacy = {
        "dependencies": {"a": "b", "c": ["d"], "e": {"type": "object"}},
        "properties": {
            "h": {"type": "string", "format": "host-name"},
            "i": {"type": "string", "format": "ip-address"},
            "k": {"type": "string", "format": "date-time"},
        },
    }
    assert needs_upgrade(legacy)
    up = upgrade_schema(legacy)
    assert up["dependentRequired"] == {"a": ["b"], "c": ["d"]}
    assert up["dependentSchemas"] == {"e": {"type": "object"}}
    assert up["properties"]["h"]["format"] == "hostname"
    assert up["properties"]["i"]["format"] == "ipv4"
    assert up["properties"]["k"]["format"] == "date-time"  # untouched
    # a data property NAMED 'format' is not a keyword: never renamed
    data = {"properties": {"format": {"enum": ["host-name"]}}}
    assert upgrade_schema(data)["properties"]["format"]["enum"] == [
        "host-name"]


def test_entrypoint_subschema(spark):
    schema = {
        "$id": "https://example.com/root.json",
        "$defs": {
            "item": {"type": "object", "required": ["sku"],
                     "properties": {"sku": {"$ref": "#/$defs/code"}}},
            "code": {"type": "string", "pattern": "^C-"},
        },
        "type": "array",
    }
    from jsonschema_spark import compile_entrypoint

    cs = compile_entrypoint(schema, "#/$defs/item")
    docs = spark.createDataFrame(
        [(1, '{"sku": "C-9"}'), (2, '{"sku": "X-9"}'), (3, "{}")], "id long, doc string"
    )
    got = {r["id"]: r["valid"] for r in validate(docs, cs, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: False}
    # $ref inside the entrypoint resolved against the FULL document
    rows = validate(docs, cs, doc_col="doc").collect()
    assert rows  # compiled without SchemaError


def test_custom_keyword_registry(spark):
    from pyspark.sql import functions as F
    from jsonschema_spark import register_keyword, unregister_keyword

    register_keyword(
        "x-even",
        build=lambda value, ctx: (ctx.num_val() % 2 == 0) if value else True,
        message=lambda ctx, value: F.lit("The number value was expected to be even"),
        type_guard="number",
    )
    try:
        schema = {"properties": {"n": {"x-even": True}}}
        docs = spark.createDataFrame(
            [(1, '{"n": 4}'), (2, '{"n": 5}'), (3, '{"n": "s"}')], "id long, doc string"
        )
        got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
        assert got == {1: True, 2: False, 3: True}  # non-number passes vacuously
        from jsonschema_spark import violations

        errs = violations(docs, schema, ["id"], doc_col="doc").collect()
        assert any("expected to be even" in r["error"] for r in errs)
    finally:
        unregister_keyword("x-even")


def test_registered_builtin_name_changes_nothing(spark):
    """A built-in keyword cannot be overridden: registering its name
    leaves every verdict and violation row as it was."""
    from jsonschema_spark import register_keyword, unregister_keyword, violations

    schema = {"properties": {"s": {"minLength": 3}}}
    docs = spark.createDataFrame(
        [(1, '{"s": "abcd"}'), (2, '{"s": "ab"}'), (3, '{"s": 5}')], "id long, doc string")

    def run():
        got = sorted((r["id"], r["valid"]) for r in validate(docs, schema, doc_col="doc").collect())
        viols = sorted(tuple(r) for r in violations(docs, schema, ["id"], doc_col="doc").collect())
        return got, viols

    before = run()
    register_keyword("minLength", build=lambda value, ctx: False,
                     message=lambda ctx, value: F.lit("overridden"))
    try:
        assert run() == before
    finally:
        unregister_keyword("minLength")
    assert before[0] == [(1, True), (2, False), (3, True)]


def test_registered_keyword_traces_after_builtins(spark):
    from jsonschema_spark import register_keyword, trace, unregister_keyword

    register_keyword("x-short", build=lambda value, ctx: F.length(ctx.str_val()) <= value,
                     type_guard="string")
    try:
        schema = {"x-short": 2, "type": "string", "minLength": 1}
        docs = spark.createDataFrame([(1, '"abc"')], "id long, doc string")
        rows = sorted(trace(docs, schema, ["id"], doc_col="doc").collect(), key=lambda r: r["step"])
        assert [(r["keywordLocation"], r["ok"]) for r in rows] == [
            ("/type", True), ("/minLength", True), ("/x-short", False)]
    finally:
        unregister_keyword("x-short")


def test_config_file_resolver(tmp_path, spark):
    import json as _json
    from jsonschema_spark import compile_schema, find_config, load_config, resolver_from_config

    (tmp_path / "schemas").mkdir()
    (tmp_path / "schemas" / "lang.json").write_text('{"enum": ["en", "de"]}')
    (tmp_path / "jsonschema.json").write_text(_json.dumps({
        "defaultDialect": "https://json-schema.org/draft/2020-12/schema",
        "resolve": {"https://example.com/lang.json": "./schemas/lang.json"},
        "ignore": ["build"],
    }))
    sub = tmp_path / "nested" / "deeper"
    sub.mkdir(parents=True)
    cfg_path = find_config(str(sub))
    assert cfg_path == str(tmp_path / "jsonschema.json")
    cfg = load_config(cfg_path)
    registry = resolver_from_config(cfg)
    cs = compile_schema({"properties": {"lang": {"$ref": "https://example.com/lang.json"}}},
                        resolver=registry)
    df = spark.createDataFrame([("en",), ("xx",)], "lang string")
    got = {r["lang"]: r["valid"] for r in validate(df, cs).collect()}
    assert got == {"en": True, "xx": False}


def test_regex_residual_routing(spark):
    """Permissive-dialect empty classes hold end-to-end: [] never matches,
    [^] matches anything. Both stay JVM-side, rendered as (?!) / (?s:.),
    and so do a dangling brace (an escaped literal) and \\cJ (one
    character): only a token java.util.regex lacks routes to the pandas
    UDF (tests/test_regex_dialect.py is the full corpus)."""
    schema = {"properties": {"s": {"pattern": "a[^]z"}}}
    docs = spark.createDataFrame(
        [(1, '{"s": "a!z"}'), (2, '{"s": "az"}')], "id long, doc string"
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False}
    from jsonschema_spark.functions.strings import pattern_in_python

    assert not pattern_in_python("^a{2,3}b$")
    assert not pattern_in_python("[]")     # rendered (?!) — JVM route
    assert not pattern_in_python("[^]")    # rendered (?s:.)
    assert not pattern_in_python("a{")     # a literal brace, escaped for Java
    assert not pattern_in_python(r"\cJ")   # the control character U+000A


def test_dynamic_ref_static_resolution(spark):
    """Single-document dynamic scope: $dynamicRef resolves statically to
    the document's unique $dynamicAnchor, with bounded-depth unrolling."""
    schema = {
        "$id": "https://example.com/tree.json",
        "$dynamicAnchor": "node",
        "type": "object",
        "required": ["data"],
        "properties": {
            "data": {"type": "integer"},
            "children": {"type": "array", "items": {"$dynamicRef": "#node"}},
        },
    }
    docs = spark.createDataFrame(
        [
            (1, '{"data": 1, "children": [{"data": 2}, {"data": 3, "children": []}]}'),
            (2, '{"data": 1, "children": [{"data": "bad"}]}'),
            (3, '{"children": [{"data": 1}]}'),
        ],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: False}


def test_recursive_ref_2019_09(spark):
    schema = {
        "type": "object",
        "properties": {"v": {"type": "integer"}, "next": {"$recursiveRef": "#"}},
    }
    docs = spark.createDataFrame(
        [(1, '{"v": 1, "next": {"v": 2}}'), (2, '{"v": 1, "next": {"v": "x"}}')],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False}


def test_dynamic_ref_cross_resource_override(spark):
    """The 2020-12 generic-list pattern: an extending resource's
    $dynamicAnchor overrides the base list's element schema because the
    extension is OUTERMOST in the dynamic scope (core §8.2.3.2; reference
    runtime stack ControlDynamicAnchorJump, dispatch.h:1523-1549 —
    resolved statically here because every ref is inlined)."""
    list_schema = {
        "$id": "https://example.com/list.json",
        "$defs": {"default-elem": {"$dynamicAnchor": "elem"}},
        "type": "array",
        "items": {"$dynamicRef": "#elem"},
    }
    int_list = {
        "$id": "https://example.com/intlist.json",
        "$defs": {"int-elem": {"$dynamicAnchor": "elem", "type": "integer"}},
        "$ref": "https://example.com/list.json",
    }
    registry = {"https://example.com/list.json": list_schema}
    docs = spark.createDataFrame(
        [(1, '[1, 2, 3]'), (2, '[1, "x"]'), (3, '[]')],
        "id long, doc string",
    )
    cs = compile_schema(int_list, resolver=registry)
    got = {r["id"]: r["valid"] for r in validate(docs, cs, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: True}
    # the base list alone accepts anything (its own anchor is the fallback)
    base_only = {r["id"]: r["valid"]
                 for r in validate(docs, list_schema, doc_col="doc").collect()}
    assert base_only == {1: True, 2: True, 3: True}


def test_recursive_ref_cross_resource_override(spark):
    """2019-09 $recursiveAnchor: the outermost resource with
    $recursiveAnchor: true captures $recursiveRef '#' jumps from the base."""
    base = {
        "$id": "https://example.com/base.json",
        "$recursiveAnchor": True,
        "type": "object",
        "properties": {"v": {"type": "integer"},
                       "next": {"$recursiveRef": "#"}},
    }
    ext = {
        "$id": "https://example.com/ext.json",
        "$recursiveAnchor": True,
        "required": ["tag"],
        "$ref": "https://example.com/base.json",
    }
    registry = {"https://example.com/base.json": base}
    docs = spark.createDataFrame(
        [(1, '{"tag": "t", "v": 1, "next": {"tag": "u", "v": 2}}'),
         (2, '{"tag": "t", "v": 1, "next": {"v": 2}}')],  # inner lacks tag
        "id long, doc string",
    )
    cs = compile_schema(ext, resolver=registry)
    got = {r["id"]: r["valid"] for r in validate(docs, cs, doc_col="doc").collect()}
    assert got == {1: True, 2: False}
    # base alone: $recursiveRef stays within base; no tag requirement
    got_base = {r["id"]: r["valid"]
                for r in validate(docs, base, doc_col="doc").collect()}
    assert got_base == {1: True, 2: True}


def test_dynamic_ref_ambiguous_raises(spark):
    schema = {
        "$defs": {"a": {"$dynamicAnchor": "n"}, "b": {"$dynamicAnchor": "n"}},
        "properties": {"x": {"$dynamicRef": "#n"}},
    }
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(SchemaError, match="exactly one"):
        validate(df, schema).collect()


def test_canonicalize_rules(spark):
    from jsonschema_spark import canonicalize

    s = canonicalize({
        "allOf": [{"allOf": [{"minLength": 2}]}, {}, {"maxLength": 5}],
        "enum": ["only", "only"],
        "minimum": 1, "exclusiveMinimum": 3,
        "type": ["string"],
        "if": {"type": "string"},
        "minItems": 0, "uniqueItems": False,
    })
    # round-3 rule set folds the whole thing: numeric bounds are dead
    # against a string const, "only" satisfies minLength 2 / maxLength 5,
    # type ["string"] is implied by the const (const_with_type)
    assert s == {"const": "only"}
    # unsatisfiable → false schema; compiler folds it to a constant
    dead = canonicalize({"properties": {"x": {"minimum": 5, "maximum": 1}}})
    assert dead["properties"]["x"] == {"not": {}}
    df = spark.createDataFrame([(1,)], "x long")
    assert validate(df, dead).collect()[0]["valid"] is False
    # double negation (then hoisted by the singleton-allOf rule)
    dn = canonicalize({"not": {"not": {"type": "string"}}})
    assert dn == {"type": "string"}
    # semantics preserved end-to-end
    orig = {"allOf": [{"allOf": [{"minLength": 2}]}], "maxLength": 3}
    d2 = spark.createDataFrame([("ab",), ("a",), ("abcd",)], "s string")
    wrapped = {"properties": {"s": orig}}
    canon = {"properties": {"s": canonicalize(orig)}}
    assert [r["valid"] for r in validate(d2, wrapped).collect()] == \
           [r["valid"] for r in validate(d2, canon).collect()] == [True, False, False]


def test_embedded_id_resolution_scope(spark):
    """A nested $id opens its own resolution scope: fragment refs inside
    it resolve against the subdocument, and other parts of the schema can
    $ref the embedded resource by absolute or base-relative URI."""
    schema = {
        "$id": "https://example.com/root.json",
        "properties": {
            "item": {
                "$id": "https://example.com/item.json",
                "$defs": {"code": {"type": "string", "pattern": "^C-"}},
                "type": "object",
                "required": ["sku"],
                # '#/$defs/code' resolves inside item.json, not root.json
                "properties": {"sku": {"$ref": "#/$defs/code"}},
            },
            # base-relative ref to the embedded resource
            "alt": {"$ref": "item.json"},
        },
    }
    docs = spark.createDataFrame(
        [
            (1, '{"item": {"sku": "C-1"}}'),
            (2, '{"item": {"sku": "X-1"}}'),
            (3, '{"alt": {"sku": "C-2"}}'),
            (4, '{"alt": {}}'),
        ],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: True, 4: False}


def test_embedded_id_anchor_scope(spark):
    """$anchor inside an embedded resource is found within that resource's
    scope."""
    schema = {
        "$id": "https://example.com/r.json",
        "properties": {
            "x": {
                "$id": "https://example.com/sub.json",
                "$defs": {"c": {"$anchor": "pos", "minimum": 1}},
                "$ref": "#pos",
            }
        },
    }
    docs = spark.createDataFrame([(1, '{"x": 5}'), (2, '{"x": 0}')], "id long, doc string")
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False}


def test_dynamic_ref_cross_resource_target_fragment_ref(spark):
    """A $dynamicRef won by an OUTER resource compiles under THAT resource:
    fragment $refs inside the winning target resolve against the document
    that declared the anchor, not the referencing one (ADVICE r2)."""
    base = {
        "$id": "https://example.com/base2.json",
        "$defs": {"default-elem": {"$dynamicAnchor": "elem"}},
        "type": "array",
        "items": {"$dynamicRef": "#elem"},
    }
    ext = {
        "$id": "https://example.com/ext2.json",
        "$defs": {
            "elem": {"$dynamicAnchor": "elem", "$ref": "#/$defs/payload"},
            "payload": {"type": "integer"},   # only exists in ext
        },
        "$ref": "https://example.com/base2.json",
    }
    registry = {"https://example.com/base2.json": base}
    docs = spark.createDataFrame([(1, '[1, 2]'), (2, '["x"]')], "id long, doc string")
    cs = compile_schema(ext, resolver=registry)
    got = {r["id"]: r["valid"] for r in validate(docs, cs, doc_col="doc").collect()}
    assert got == {1: True, 2: False}


def test_unevaluated_through_dynamic_ref(spark):
    """Properties evaluated via a $dynamicRef target must count as
    evaluated for unevaluatedProperties (ADVICE r2: spurious rejection)."""
    schema = {
        "$defs": {"core": {"$dynamicAnchor": "core",
                           "properties": {"a": {"type": "integer"}}}},
        "$dynamicRef": "#core",
        "unevaluatedProperties": False,
    }
    docs = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, '{"b": 1}'), (3, '{"a": 1, "b": 2}')],
        "id long, doc string",
    )
    got = {r["id"]: r["valid"] for r in validate(docs, schema, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: False}


def test_draft3_type_union_of_schemas_upgrade(spark):
    """drafts 0-3 allow SCHEMA entries in a `type` union
    (type_union_to_schemas.h operates on this shape): upgrade converts
    the union to anyOf branches conjoined with the remaining siblings,
    and the compiled Spark plan validates it end-to-end."""
    from jsonschema_spark.plans.upgrade import needs_upgrade, upgrade_schema

    legacy = {"$schema": "http://json-schema.org/draft-03/schema#",
              "type": ["string", {"type": "integer", "minimum": 3}],
              "minLength": 2}
    assert needs_upgrade(legacy)
    modern = upgrade_schema(legacy)
    assert "type" not in modern and len(modern["anyOf"]) == 2
    docs = spark.createDataFrame(
        [(1, '"ab"'), (2, '"a"'), (3, '5'), (4, '2'), (5, 'null')],
        "id long, doc string")
    got = {r["id"]: r["valid"] for r in
           validate(docs, modern, doc_col="doc").collect()}
    assert got == {1: True, 2: False, 3: True, 4: False, 5: False}


def test_type_union_of_schemas_without_upgrade_is_schema_error():
    """Feeding the legacy dict-union shape straight to the compiler must
    raise the documented SchemaError (pointing at upgrade_schema), never
    a raw TypeError."""
    import pytest

    from jsonschema_spark.plans.compiler import SchemaError, compile_schema

    cs = compile_schema({"type": ["string", {"minimum": 1}]})
    # compile happens at plan-build time: use the flat path
    import pyspark.sql.types as T
    with pytest.raises(SchemaError, match="upgrade_schema"):
        cs.compile_flat(T.StructType([T.StructField("a", T.LongType())]))


def test_draft_0_2_properties_required_by_default():
    """drafts 0-2: properties are REQUIRED unless `optional: true`
    (draft-01/02 spec: "optional … is false by default"). The rule
    activates only on a declared draft-0/1/2 $schema; draft-3+ and
    undeclared documents keep the explicit-only behavior."""
    from jsonschema_spark.plans.pyeval import validate_py
    from jsonschema_spark.plans.upgrade import upgrade_schema

    for n in ("00", "01", "02"):
        legacy = {"$schema": f"http://json-schema.org/draft-{n}/schema#",
                  "type": "object",
                  "properties": {"a": {"type": "string"},
                                 "b": {"type": "integer",
                                       "optional": True}}}
        m = upgrade_schema(legacy)
        assert m["required"] == ["a"], (n, m)
        assert "optional" not in m["properties"]["b"]
        assert validate_py(m, {"a": "x"}) is True
        assert validate_py(m, {"b": 1}) is False

    # draft-3 declared: boolean `required` rules, optional absent ≠ required
    d3 = upgrade_schema({"$schema": "http://json-schema.org/draft-03/schema#",
                         "type": "object",
                         "properties": {"a": {"type": "string"}}})
    assert "required" not in d3
    # undeclared dialect: only the explicit optional:false form requires
    und = upgrade_schema({"properties": {"a": {"type": "string"},
                                         "c": {"optional": False}}})
    assert und.get("required") == ["c"]


def test_anchor_outside_its_resource_raises(spark):
    """`#foo` names an anchor of the resource the reference is in: the
    embedded resource's `foo` is not the root's, so nothing resolves, on
    validate as on an entrypoint (validate_py raises too)."""
    from jsonschema_spark import compile_entrypoint
    from jsonschema_spark.plans.pyeval import EvalError, validate_py

    schema = {
        "$id": "https://example.com/root.json",
        "$defs": {"inner": {"$id": "inner.json",
                            "$defs": {"x": {"$anchor": "foo", "type": "integer"}}}},
        "$ref": "#foo",
    }
    docs = spark.createDataFrame([(1, "1")], "id long, doc string")
    with pytest.raises(SchemaError, match="cannot resolve"):
        validate(docs, schema, doc_col="doc").collect()
    with pytest.raises(SchemaError, match="cannot resolve"):
        compile_entrypoint(schema, "#foo")
    with pytest.raises(EvalError):
        validate_py(schema, 1)


EMBEDDED = {
    "$id": "https://e.com/root.json",
    "$defs": {"i": {"$id": "inner.json", "type": "integer"}},
    "properties": {"x": {"$ref": "inner.json"}},
}
BASE_RELATIVE = {"$id": "https://e.com/a.json", "properties": {"x": {"$ref": "b.json"}}}
BASE_RELATIVE_REGISTRY = {"https://e.com/b.json": {
    "$id": "https://e.com/b.json", "$defs": {"p": {"minimum": 0}}, "$ref": "#/$defs/p"}}
EMBEDDED_EXTERNAL = {
    "$id": "https://e.com/root.json",
    "$defs": {"i": {"$id": "inner.json", "$ref": "https://e.com/b.json"}},
    "properties": {"x": {"$ref": "inner.json"}},
}


@pytest.mark.parametrize("schema,registry", [(EMBEDDED, {}), (BASE_RELATIVE, BASE_RELATIVE_REGISTRY),
                                             (EMBEDDED_EXTERNAL, BASE_RELATIVE_REGISTRY)],
                         ids=["embedded resource", "base-relative ref", "external ref in embedded resource"])
def test_bundle_resolves_refs_like_compile(spark, schema, registry):
    """bundle resolves a `$ref` against its resource's base URI, and finds
    an embedded `$id` resource in the document: the bundle gives the
    verdicts of the schema compiled with the registry and of validate_py.
    An external ref inside an embedded resource reaches the root's $defs:
    the bundle refers to nothing outside itself."""
    from jsonschema_spark.plans.pyeval import validate_py
    from jsonschema_spark.sources.http_resolver import resolve_remote_refs

    def fetch(uri):
        raise AssertionError(f"fetched {uri}")

    closed = bundle(schema, registry)
    assert resolve_remote_refs(closed, fetch=fetch) == {}

    insts = [{"x": 1}, {"x": -1}, {"x": "a"}, {}]
    docs = spark.createDataFrame([(i, json.dumps(v)) for i, v in enumerate(insts)],
                                 "i long, doc string")

    def verdicts(cs):
        return [r["valid"] for r in validate(docs, cs, doc_col="doc").orderBy("i").collect()]

    want = [validate_py(schema, v, resolver=registry) for v in insts]
    assert verdicts(closed) == verdicts(compile_schema(schema, resolver=registry)) == want
    assert len(set(want)) == 2


def test_bundle_needs_a_root_id_to_reach_it_from_an_embedded_resource():
    """Without a root `$id` nothing inside an embedded resource can name
    the root's $defs: bundle raises rather than write a ref that resolves
    inside the embedded resource."""
    schema = {k: v for k, v in EMBEDDED_EXTERNAL.items() if k != "$id"}
    with pytest.raises(SchemaError, match="root needs an `\\$id`"):
        bundle(schema, BASE_RELATIVE_REGISTRY)


def test_remote_refs_skip_embedded_resources():
    """An `$id` resource of the document is no remote reference: nothing
    is fetched for it."""
    from jsonschema_spark.sources.http_resolver import resolve_remote_refs

    def fetch(uri):
        raise AssertionError(f"fetched {uri}")

    assert resolve_remote_refs(EMBEDDED, fetch=fetch) == {}
    assert bundle(EMBEDDED, {}) == EMBEDDED


_LINT_REFS = [
    ("base-relative ref", BASE_RELATIVE, BASE_RELATIVE_REGISTRY, False),
    ("registry key relative to a root without $id",
     {"properties": {"x": {"$ref": "b.json"}}}, {"b.json": {"type": "integer"}}, False),
    ("embedded-resource ref", EMBEDDED, None, False),
    ("uri#anchor",
     {"$id": "https://e.com/root.json",
      "$defs": {"i": {"$id": "inner.json", "$defs": {"x": {"$anchor": "foo"}}}},
      "properties": {"x": {"$ref": "inner.json#foo"}}}, None, False),
    ("uri#pointer that misses",
     {"$id": "https://e.com/root.json", "$defs": {"i": {"$id": "inner.json"}},
      "properties": {"x": {"$ref": "inner.json#/nope"}}}, None, True),
    ("unknown URI", {"properties": {"x": {"$ref": "https://e.com/nope.json"}}}, None, True),
]


@pytest.mark.parametrize("schema,registry,raises", [c[1:] for c in _LINT_REFS],
                         ids=[c[0] for c in _LINT_REFS])
def test_lint_flags_a_ref_exactly_when_compile_raises(spark, schema, registry, raises):
    from jsonschema_spark.plans.lint import lint_schema

    flagged = any(f["rule"] == "invalid_external_ref" for f in lint_schema(schema, resolver=registry))
    try:
        compile_schema(schema, resolver=registry).compile_variant(F.col("v"))
        raised = False
    except SchemaError:
        raised = True
    assert (flagged, raised) == (raises, raises)
