"""rdf command analogue (operators/rdf.py): x-jsonld-* annotations →
JSON-LD expanded form, gated on validity."""

import json

from pyspark.sql import functions as F

from jsonschema_spark.operators.rdf import rdf_df, to_jsonld

SCHEMA = {
    "type": "object",
    "x-jsonld-type": "https://schema.org/Person",
    "required": ["name"],
    "properties": {
        "name": {
            "type": "string",
            "x-jsonld-id": "https://schema.org/name",
            "x-jsonld-language": "en",
        },
        "born": {
            "type": "string",
            "x-jsonld-id": "https://schema.org/birthDate",
            "x-jsonld-datatype": "http://www.w3.org/2001/XMLSchema#date",
        },
        "age": {"type": "integer", "x-jsonld-id": "https://schema.org/age"},
        "internal_note": {"type": "string"},  # no mapping → dropped
        "knows": {
            "type": "array",
            "x-jsonld-id": "https://schema.org/knows",
            "items": {
                "type": "object",
                "x-jsonld-type": "https://schema.org/Person",
                "properties": {
                    "name": {"type": "string", "x-jsonld-id": "https://schema.org/name"},
                },
            },
        },
        "blob": {"x-jsonld-id": "https://example.com/blob", "x-jsonld-json": True},
    },
}


def test_expanded_form_driver_side():
    inst = {"name": "Ada", "born": "1815-12-10", "age": 36,
            "internal_note": "secret", "knows": [{"name": "Charles"}],
            "blob": {"any": ["shape", 1]}}
    node = to_jsonld(SCHEMA, inst)
    assert node["@type"] == ["https://schema.org/Person"]
    assert node["https://schema.org/name"] == [{"@value": "Ada", "@language": "en"}]
    assert node["https://schema.org/birthDate"] == [
        {"@value": "1815-12-10", "@type": "http://www.w3.org/2001/XMLSchema#date"}]
    assert node["https://schema.org/age"] == [{"@value": 36}]
    assert "internal_note" not in json.dumps(node)
    assert node["https://schema.org/knows"] == [
        {"@type": ["https://schema.org/Person"],
         "https://schema.org/name": [{"@value": "Charles"}]}]
    assert node["https://example.com/blob"] == [
        {"@value": {"any": ["shape", 1]}, "@type": "@json"}]


def test_rdf_df_gates_on_validity(spark):
    df = spark.createDataFrame(
        [(1, '{"name": "Ada", "age": 36}'),
         (2, '{"age": 99}')],  # missing required name → invalid → NULL
        "id long, doc string",
    )
    rows = {r["id"]: (r["valid"], r["jsonld"])
            for r in rdf_df(df, SCHEMA, "doc").collect()}
    assert rows[2] == (False, None)
    valid, jsonld = rows[1]
    assert valid is True
    node = json.loads(jsonld)
    assert node["https://schema.org/age"] == [{"@value": 36}]


def test_rdf_df_reads_the_named_verdict_column(spark):
    df = spark.createDataFrame([(1, '{"name": "Ada"}'), (2, '{"age": 99}')], "id long, doc string")
    rows = {r["id"]: (r["ok"], r["jsonld"] is not None)
            for r in rdf_df(df, SCHEMA, "doc", valid_col="ok").collect()}
    assert rows == {1: (True, True), 2: (False, False)}


# --- flatten / compact goldens (test/rdf/pass_flatten.sh, pass_compact.sh,
# pass_flatten_compact.sh — expected documents copied verbatim) ---------------

_TRIO_SCHEMA = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "type": "object",
    "x-jsonld-type": "https://schema.org/Person",
    "properties": {
        "name": {"type": "string", "x-jsonld-id": "https://schema.org/name"},
    },
}
_TRIO_INSTANCE = {"name": "Ada"}
_TRIO_CONTEXT = {"name": "https://schema.org/name"}


def test_flatten_golden():
    from jsonschema_spark.operators.rdf import jsonld_flatten, to_jsonld

    expanded = to_jsonld(_TRIO_SCHEMA, _TRIO_INSTANCE)
    assert jsonld_flatten(expanded) == [
        {
            "@id": "_:b0",
            "@type": ["https://schema.org/Person"],
            "https://schema.org/name": [{"@value": "Ada"}],
        }
    ]


def test_compact_golden():
    from jsonschema_spark.operators.rdf import jsonld_compact, to_jsonld

    expanded = to_jsonld(_TRIO_SCHEMA, _TRIO_INSTANCE)
    got = jsonld_compact(expanded, _TRIO_CONTEXT)
    assert got == {
        "@type": "https://schema.org/Person",
        "name": "Ada",
        "@context": {"name": "https://schema.org/name"},
    }
    # reference key order: @type, terms, @context last
    assert list(got) == ["@type", "name", "@context"]


def test_flatten_compact_golden():
    from jsonschema_spark.operators.rdf import (jsonld_compact,
                                                jsonld_flatten, to_jsonld)

    expanded = to_jsonld(_TRIO_SCHEMA, _TRIO_INSTANCE)
    got = jsonld_compact(jsonld_flatten(expanded), _TRIO_CONTEXT)
    assert got == {
        "@id": "_:b0",
        "@type": "https://schema.org/Person",
        "name": "Ada",
        "@context": {"name": "https://schema.org/name"},
    }
    assert list(got) == ["@id", "@type", "name", "@context"]


def test_flatten_nested_nodes_and_graph_compact():
    """Nested node objects extract to _:b1…; multi-node compaction nests
    under @graph."""
    from jsonschema_spark.operators.rdf import (jsonld_compact,
                                                jsonld_flatten, to_jsonld)

    schema = {
        "type": "object",
        "x-jsonld-type": "https://schema.org/Person",
        "properties": {
            "name": {"type": "string", "x-jsonld-id": "https://schema.org/name"},
            "knows": {
                "type": "object",
                "x-jsonld-id": "https://schema.org/knows",
                "x-jsonld-type": "https://schema.org/Person",
                "properties": {
                    "name": {"type": "string",
                             "x-jsonld-id": "https://schema.org/name"},
                },
            },
        },
    }
    flat = jsonld_flatten(to_jsonld(schema, {"name": "Ada", "knows": {"name": "Charles"}}))
    assert [n["@id"] for n in flat] == ["_:b0", "_:b1"]
    assert flat[0]["https://schema.org/knows"] == [{"@id": "_:b1"}]
    assert flat[1]["https://schema.org/name"] == [{"@value": "Charles"}]
    comp = jsonld_compact(flat, _TRIO_CONTEXT)
    assert set(comp) == {"@graph", "@context"}
    assert comp["@graph"][0]["https://schema.org/knows"] == {"@id": "_:b1"}


def test_rdf_df_forms(spark):
    df = spark.createDataFrame([(1, '{"name": "Ada"}')], "id long, doc string")
    flat = json.loads(rdf_df(df, _TRIO_SCHEMA, "doc", form="flattened")
                      .collect()[0]["jsonld"])
    assert flat[0]["@id"] == "_:b0"
    comp = json.loads(rdf_df(df, _TRIO_SCHEMA, "doc",
                             form="flattened-compacted",
                             context=_TRIO_CONTEXT).collect()[0]["jsonld"])
    assert comp["name"] == "Ada" and comp["@id"] == "_:b0"
