"""Compiled plans are built without PySpark's per-Column call-site capture.

PySpark records the Python call site of every Column method and ``F.col``
in the JVM (about five py4j round trips per expression node). The engine
turns that off while it builds its own Columns and turns it back on after,
also when a compile raises.
"""

import pytest
import pyspark.errors.utils as eu
from pyspark.sql import functions as F

from jsonschema_spark import (
    annotate,
    property_verdicts,
    standard_output,
    trace,
    validate,
    violations,
)
from jsonschema_spark.plans.compiler import SchemaError

SCHEMA = {
    "type": "object",
    "required": ["a"],
    "properties": {
        "a": {"type": "integer", "minimum": 0},
        "b": {"type": "string", "minLength": 2, "pattern": "^x"},
    },
    "title": "call sites",
}


@pytest.fixture
def captures(spark, monkeypatch):
    """Count ``_capture_call_site`` calls; capture must be on to begin with,
    so a count of 0 means the engine turned it off."""
    calls = []
    real = eu._capture_call_site

    def counted(depth):
        calls.append(depth)
        return real(depth)

    monkeypatch.setattr(eu, "_capture_call_site", counted)
    assert eu.is_debugging_enabled()
    F.col("a") & F.col("b")
    assert calls, "call-site capture is off for this session; the test would pass vacuously"
    calls.clear()
    return calls


def _builds(df, doc_col):
    return [
        lambda: validate(df, SCHEMA, doc_col=doc_col),
        lambda: annotate(df, SCHEMA, doc_col=doc_col, short_circuit=False),
        lambda: violations(df, SCHEMA, ["i"], doc_col=doc_col),
        lambda: standard_output(df, SCHEMA, doc_col=doc_col, annotations=True),
        lambda: property_verdicts(df, SCHEMA, doc_col=doc_col),
        lambda: trace(df, SCHEMA, ["i"], doc_col=doc_col),
    ]


def test_operators_build_without_call_sites(spark, captures):
    flat = spark.createDataFrame([(0, 1, "xy"), (1, -1, "a")], "i long, a long, b string")
    docs = spark.createDataFrame([(0, '{"a": 1, "b": "xy"}'), (1, '{"b": 3}')],
                                 "i long, doc string")
    for df, doc_col in ((flat, None), (docs, "doc")):
        for i, build in enumerate(_builds(df, doc_col)):
            build()
            assert captures == [], (doc_col, i)
    # the caller's own Columns still record their call sites afterwards
    F.col("a") & F.col("b")
    assert captures


def test_capture_restored_after_failed_compile(spark, captures):
    df = spark.createDataFrame([(1, "xy")], "a long, b string")
    bad = {"properties": {"b": {"minLength": 1}, "a": {"type": "nope"}}}
    with pytest.raises(SchemaError):
        validate(df, bad)
    assert captures == []
    F.col("a") & F.col("b")
    assert captures
