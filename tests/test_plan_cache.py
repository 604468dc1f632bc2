"""The plan cache: each schema compiles once per session.

The public operators keep the ``(valid, violations)`` Columns ``_verdict``
builds, keyed by the schema's JSON in its own key order, every
``CompiledSchema`` field, the mode, ``short_circuit`` and the instance
binding. A repeated call reuses them; any change to one of those misses.
"""

import pytest
import py4j.clientserver as cs_mod
from pyspark.sql import functions as F

import jsonschema_spark.operators.validate as V
from jsonschema_spark import annotate, validate, violations
from jsonschema_spark.plans import plan_cache
from jsonschema_spark.plans.compiler import CompiledSchema, SchemaError
from jsonschema_spark.plans.registry import register_keyword, unregister_keyword

SCHEMA = {
    "type": "object",
    "required": ["a"],
    "properties": {
        "a": {"type": "integer", "minimum": 0, "multipleOf": 2},
        "b": {"type": "string", "minLength": 2, "pattern": "^x"},
    },
}


@pytest.fixture
def compiles(monkeypatch):
    """The number of plans ``_verdict`` compiled, from an empty cache."""
    plan_cache.PLANS.clear()
    calls = []
    real = V.compile_node

    def counted(*args, **kwargs):
        calls.append(args[0])
        return real(*args, **kwargs)

    monkeypatch.setattr(V, "compile_node", counted)
    yield calls
    plan_cache.PLANS.clear()


@pytest.fixture
def flat(spark):
    return spark.createDataFrame([(0, 4, "xy"), (1, -1, "a"), (2, 3, None), (3, None, "xz")],
                                 "i long, a long, b string")


def _commands(build) -> int:
    """py4j call and reflection commands sent while ``build()`` runs."""
    sent = []
    real = cs_mod.ClientServerConnection.send_command

    def counted(self, command):
        sent.append(command[:1])
        return real(self, command)

    cs_mod.ClientServerConnection.send_command = counted
    try:
        build()
    finally:
        cs_mod.ClientServerConnection.send_command = real
    return sum(c in ("c", "r") for c in sent)


def _rows(df, cols=("i", "valid", "violations")):
    return sorted(df.select(*cols).collect())


def test_identical_call_hits(spark, flat, compiles):
    docs = spark.createDataFrame([(0, '{"a": 2, "b": "xy"}'), (1, '{"a": "z"}'), (2, "[")],
                                 "i long, doc string")
    for df, doc_col in ((flat, None), (docs, "doc")):
        first = _commands(lambda: annotate(df, SCHEMA, doc_col=doc_col, short_circuit=False))
        second = _commands(lambda: annotate(df, SCHEMA, doc_col=doc_col, short_circuit=False))
        assert second * 4 < first, (doc_col, first, second)
    assert len(compiles) == 2
    # the reused plan binds to a second DataFrame by column name
    other = spark.createDataFrame([(7, 6, "xq"), (8, 5, "x")], "i long, a long, b string")
    reused = _rows(annotate(other, SCHEMA, short_circuit=False))
    assert len(compiles) == 2
    plan_cache.PLANS.clear()
    assert _rows(annotate(other, SCHEMA, short_circuit=False)) == reused
    assert len(compiles) == 3


def test_mutated_schema_misses(flat, compiles):
    schema = {"properties": {"a": {"minimum": 0}}}
    assert validate(flat, schema).filter(~F.col("valid")).count() == 1
    schema["properties"]["a"]["minimum"] = 4
    assert validate(flat, schema).filter(~F.col("valid")).count() == 2
    assert len(compiles) == 2


def test_property_order_is_part_of_the_key(spark, compiles):
    df = spark.createDataFrame([(1, 1)], "a long, b long")
    ab = {"properties": {"a": {"minimum": 5}, "b": {"minimum": 5}}}
    ba = {"properties": {"b": {"minimum": 5}, "a": {"minimum": 5}}}
    for sc, want_ab, want_ba in (
        (False, ["/properties/a/minimum", "/properties/b/minimum", "/properties"],
         ["/properties/b/minimum", "/properties/a/minimum", "/properties"]),
        (True, ["/properties/a/minimum", "/properties"], ["/properties/b/minimum", "/properties"]),
    ):
        for schema, want in ((ab, want_ab), (ba, want_ba)):
            got = [r.keywordLocation for r in violations(df, schema, ["a"], short_circuit=sc).collect()]
            assert got == want, (sc, schema)
    assert len(compiles) == 4


def test_binding_is_part_of_the_key(spark, flat, compiles):
    validate(flat, SCHEMA)
    validate(flat, SCHEMA, instance_cols=["a", "b"])
    validate(flat.select("a", "b", "i"), SCHEMA)  # the same columns in another order
    validate(flat.withColumn("a", F.col("a").cast("double")), SCHEMA)
    validate(flat.select(F.to_json(F.struct("a", "b")).alias("doc")), SCHEMA, doc_col="doc")
    assert len(compiles) == 5
    validate(flat.select("i", "a", "b"), SCHEMA)  # the first struct again
    validate(flat.select(F.to_json(F.struct("a")).alias("j")), SCHEMA, doc_col="j")
    assert len(compiles) == 5


@pytest.mark.parametrize("option", [
    {"base_uri": "https://example.com/s.json"},
    {"format_assertion": False},
    {"resolver": {"https://example.com/x": {"minimum": 1}}},
    {"max_ref_depth": 3},
    {"resolution_root": {"$defs": {"x": SCHEMA}}},
])
def test_each_compiled_schema_field_is_part_of_the_key(flat, compiles, option):
    validate(flat, CompiledSchema(SCHEMA))
    validate(flat, CompiledSchema(SCHEMA, **option))
    validate(flat, SCHEMA)  # a dict compiles as CompiledSchema(SCHEMA)
    assert len(compiles) == 2


def test_mode_and_short_circuit_are_part_of_the_key(flat, compiles):
    validate(flat, SCHEMA)
    annotate(flat, SCHEMA)
    annotate(flat, SCHEMA, short_circuit=False)
    annotate(flat, SCHEMA, short_circuit=True)
    violations(flat, SCHEMA, ["i"])
    assert len(compiles) == 3


def test_keyword_registration_empties_the_cache(flat, compiles):
    schema = {"properties": {"a": {"x-even": True}}}
    assert validate(flat, schema).filter(~F.col("valid")).count() == 0
    register_keyword("x-even", build=lambda value, ctx: (ctx.num_val() % 2 == 0) if value else True,
                     type_guard="number")
    try:
        assert validate(flat, schema).filter(~F.col("valid")).count() == 2
    finally:
        unregister_keyword("x-even")
    assert validate(flat, schema).filter(~F.col("valid")).count() == 0
    assert len(compiles) == 3


def test_another_spark_context_misses(flat, compiles, monkeypatch):
    validate(flat, SCHEMA)
    monkeypatch.setattr(plan_cache, "_active_context", object)
    validate(flat, SCHEMA)
    assert len(compiles) == 2


def test_schema_that_is_not_plain_json_bypasses(flat, compiles):
    tupled = {"properties": {"a": {"enum": (0, 1, 2)}}}
    listed = {"properties": {"a": {"enum": [0, 1, 2]}}}
    int_key = {"properties": {"a": {"minimum": 0}}, 1: "x"}
    for schema in (tupled, tupled, listed, listed, int_key, int_key):
        validate(flat, schema)
    assert len(compiles) == 5
    assert plan_cache.json_text(tupled) is None and plan_cache.json_text(int_key) is None
    assert plan_cache.json_text(listed) is not None


def test_failed_compile_stores_nothing(flat, compiles):
    bad = {"properties": {"a": {"$ref": "#/$defs/missing"}}}
    for _ in range(2):
        with pytest.raises(SchemaError):
            validate(flat, bad)
    assert len(compiles) == 2
    assert len(plan_cache.PLANS) == 0


def test_cache_is_bounded(spark):
    cache = plan_cache.PlanCache(2)
    built = []
    for key in ("a", "b", "a", "c", "b"):
        cache.get(key, lambda k=key: built.append(k) or k.upper())
    assert built == ["a", "b", "c", "b"]  # "b" was the least recently used when "c" came
    assert len(cache) == 2
    assert cache.get("c", lambda: "new") == "C"


def test_cache_under_concurrent_threads():
    """Eight threads share one small cache: every get returns its key's own
    value and the bound holds."""
    import sys
    import threading

    cache = plan_cache.PlanCache(3)
    wrong, sizes = [], []

    def worker(seed: int) -> None:
        for n in range(2000):
            key = (seed * 7 + n) % 6
            if cache.get(key, lambda k=key: ("plan", k)) != ("plan", key):
                wrong.append(key)
            sizes.append(len(cache))

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=60)
    finally:
        sys.setswitchinterval(prev)
    assert not any(t.is_alive() for t in threads)
    assert not wrong and max(sizes) <= 3 and len(sizes) == 8 * 2000
