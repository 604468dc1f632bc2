"""Schemas the workloads validate against, and which planted defects each
one rejects.

``REJECTS[name]`` is the defect bitmask a schema catches: a row is invalid
under that schema exactly when ``row_defects & REJECTS[name] != 0``.
``VIOLATIONS[name]`` maps each defect bit to the keyword locations its
exhaustive (``short_circuit=False``) violation rows carry, failing
applicators included — the expected violation rows of any input follow
from its defect histogram.
"""

from __future__ import annotations

from jsonschema_spark.sources.pages import LANGS, WEBPAGE_SCHEMA

from perfbench.gen import (
    J_AGE, J_CONTAINS, J_EXTRA, J_KIND, J_NAME, J_QTY, J_SCORE, J_SKU, J_TS, KINDS,
    P_EMPTY_TEXT, P_LANG, P_NULL_TEXT, P_TS, P_URL,
)

# the pages table carries a partition `day` column beside WEBPAGE_SCHEMA's
# properties; the schema is closed (additionalProperties: false), so the
# benchmark's copy declares it
PAGES = {**WEBPAGE_SCHEMA, "properties": {**WEBPAGE_SCHEMA["properties"],
                                          "day": {"type": "string", "format": "date"}}}

ITEM = {
    "type": "object",
    "required": ["sku", "qty"],
    "properties": {
        "sku": {"type": "string", "pattern": "^SKU-[0-9]{4}$"},
        "qty": {"type": "integer", "minimum": 1},
        "price": {"type": "number", "minimum": 0},
    },
}

USER = {
    "type": "object",
    "required": ["name", "age"],
    "properties": {
        "name": {"type": "string", "pattern": "^[a-z]+_[0-9]+$"},
        "age": {"type": "integer", "minimum": 0, "maximum": 150},
    },
    "additionalProperties": False,
}

EVENTS = {
    "$schema": "https://json-schema.org/draft/2020-12/schema",
    "$id": "https://example.com/event.schema.json",
    "type": "object",
    "required": ["id", "ts", "kind", "user", "items", "score"],
    "properties": {
        "id": {"type": "integer", "minimum": 0},
        "ts": {"type": "string", "format": "date-time"},
        "kind": {"enum": KINDS},
        "user": USER,
        "items": {
            "type": "array",
            "minItems": 1,
            "maxItems": 8,
            "items": ITEM,
            "contains": {"properties": {"qty": {"minimum": 3}}},
        },
        "score": {"type": "number"},
    },
}

# small_jobs rotation: flat schemas run over pages slices, tree schemas over
# JSON-document slices; together they cover $ref, the combinators and format
SMALL_FLAT = {
    "flat_webpage": PAGES,
    "flat_ref_enum": {
        "$defs": {"lang": {"type": "string", "enum": LANGS}},
        "properties": {"lang": {"$ref": "#/$defs/lang"}},
    },
    "flat_anyof_url": {
        "properties": {"url": {"anyOf": [
            {"type": "string", "format": "uri", "pattern": "^https://"},
            {"type": "string", "pattern": "^http://[a-z]"},
        ]}},
    },
    "flat_combinators": {
        "required": ["warc_ts", "text"],
        "properties": {
            "warc_ts": {"type": "string", "format": "date-time"},
            "day": {"format": "date"},
            "text": {"allOf": [{"type": "string"}, {"minLength": 1}]},
            "lang": {"oneOf": [{"enum": LANGS[:5]}, {"enum": LANGS[5:]}]},
            "html": {"not": {"type": "integer"}},
        },
    },
}
SMALL_TREE = {
    "tree_events": EVENTS,
    "tree_ref_user": {
        "$defs": {"user": USER},
        "properties": {"user": {"$ref": "#/$defs/user"}},
    },
    "tree_items_contains": {
        "properties": {"items": EVENTS["properties"]["items"]},
    },
}

REJECTS = {
    "pages": P_URL | P_TS | P_EMPTY_TEXT | P_LANG | P_NULL_TEXT,
    "events": J_TS | J_KIND | J_NAME | J_AGE | J_QTY | J_SCORE | J_CONTAINS | J_SKU | J_EXTRA,
    "flat_webpage": P_URL | P_TS | P_EMPTY_TEXT | P_LANG | P_NULL_TEXT,
    "flat_ref_enum": P_LANG,
    "flat_anyof_url": P_URL,
    "flat_combinators": P_TS | P_EMPTY_TEXT | P_NULL_TEXT | P_LANG,
    "tree_events": J_TS | J_KIND | J_NAME | J_AGE | J_QTY | J_SCORE | J_CONTAINS | J_SKU | J_EXTRA,
    "tree_ref_user": J_NAME | J_AGE | J_EXTRA,
    "tree_items_contains": J_QTY | J_CONTAINS | J_SKU,
}

VIOLATIONS = {
    "pages": {
        P_URL: ("/properties", "/properties/url/format", "/properties/url/pattern"),
        P_TS: ("/required",),
        P_EMPTY_TEXT: ("/properties", "/properties/text/minLength"),
        P_LANG: ("/properties", "/properties/lang/enum"),
        P_NULL_TEXT: ("/required",),
    },
    "events": {
        J_TS: ("/properties", "/properties/ts/format"),
        J_KIND: ("/properties", "/properties/kind/enum"),
        J_NAME: ("/properties", "/properties/user/properties",
                 "/properties/user/properties/name/pattern"),
        J_AGE: ("/properties", "/properties/user/properties",
                "/properties/user/properties/age/maximum"),
        J_QTY: ("/properties", "/properties/items/items", "/properties/items/items/properties",
                "/properties/items/items/properties/qty/type"),
        J_SCORE: ("/required",),
        J_CONTAINS: ("/properties", "/properties/items/contains"),
        J_SKU: ("/properties", "/properties/items/items", "/properties/items/items/properties",
                "/properties/items/items/properties/sku/pattern"),
        J_EXTRA: ("/properties", "/properties/user/additionalProperties"),
    },
    "tree_ref_user": {
        J_NAME: ("/properties", "/properties/user/$ref", "/properties/user/$ref/properties",
                 "/properties/user/$ref/properties/name/pattern"),
        J_AGE: ("/properties", "/properties/user/$ref", "/properties/user/$ref/properties",
                "/properties/user/$ref/properties/age/maximum"),
        J_EXTRA: ("/properties", "/properties/user/$ref", "/properties/user/$ref/additionalProperties"),
    },
}


def expected_locations(kind: str, defects: int) -> list[str]:
    """Sorted keyword locations of one row's exhaustive violation rows: the
    union over its planted defects (a failing applicator such as
    ``/properties`` reports once however many of its children fail)."""
    return sorted({loc for bit, locs in VIOLATIONS[kind].items() if defects & bit for loc in locs})
