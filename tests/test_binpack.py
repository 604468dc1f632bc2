"""encode/decode analogue (operators/binpack.py): wire primitives,
schema-driven plan selection + compactness, schema-less mode, and the
Spark binary-column round trip."""

import json
import random

from pyspark.sql import functions as F

from jsonschema_spark.operators.binpack import (
    decode_df,
    decode_instance,
    encode_df,
    encode_instance,
    encoding_plan,
)


def _rt(v, schema=None):
    return decode_instance(encode_instance(v, schema), schema)


def test_schemaless_roundtrip_matrix():
    values = [None, True, False, 0, 1, -1, 15, -16, 127, 300, -100000, 2**40,
              0.5, -2.25, 1e100, 3.14159, "", "héllo wörld", "x" * 100,
              [], [1, [2, [3]]], {}, {"a": 1, "b": [True, None, "s"]},
              {"nested": {"deep": {"k": 2.0}}}]
    for v in values:
        got = _rt(v)
        assert got == v and type(got) is type(v), (v, got)


def test_schemaless_random_documents():
    rng = random.Random(7)

    def rand_val(depth=0):
        kinds = ["int", "num", "str", "bool", "null"]
        if depth < 3:
            kinds += ["arr", "obj"] * 2
        k = rng.choice(kinds)
        if k == "int":
            return rng.randint(-10**9, 10**9)
        if k == "num":
            return round(rng.uniform(-1000, 1000), rng.randint(0, 6))
        if k == "str":
            return "".join(rng.choice("abé ") for _ in range(rng.randint(0, 40)))
        if k == "bool":
            return rng.random() < 0.5
        if k == "null":
            return None
        if k == "arr":
            return [rand_val(depth + 1) for _ in range(rng.randint(0, 5))]
        return {f"k{i}": rand_val(depth + 1) for i in range(rng.randint(0, 5))}

    for _ in range(200):
        v = rand_val()
        assert _rt(v) == v


def test_plan_selection_and_sizes():
    # const: 0 bytes (CONST_NONE)
    assert encode_instance({"x": 1}, {"const": {"x": 1}}) == b""
    assert decode_instance(b"", {"const": {"x": 1}}) == {"x": 1}
    # small enum: 1 byte index
    sch = {"enum": ["red", "green", "blue"]}
    assert len(encode_instance("blue", sch)) == 1
    assert _rt("green", sch) == "green"
    # bounded int with range < 256: exactly 1 byte
    sch = {"type": "integer", "minimum": 10, "maximum": 250}
    assert len(encode_instance(200, sch)) == 1
    assert _rt(10, sch) == 10 and _rt(250, sch) == 250
    # multipleOf divides the offset
    sch = {"type": "integer", "minimum": 0, "maximum": 10000, "multipleOf": 100}
    assert len(encode_instance(9900, sch)) == 1
    assert _rt(9900, sch) == 9900
    # floor / roof / arbitrary
    assert _rt(1000000, {"type": "integer", "minimum": 5}) == 1000000
    assert _rt(-77, {"type": "integer", "maximum": 0}) == -77
    assert _rt(-12345, {"type": "integer"}) == -12345
    # string: varint length prefix
    assert len(encode_instance("abcd", {"type": "string"})) == 5


def test_object_positional_and_optionals():
    sch = {
        "type": "object",
        "required": ["k", "lang"],
        "additionalProperties": False,
        "properties": {
            "k": {"type": "integer", "minimum": 0, "maximum": 250},
            "lang": {"enum": ["de", "en", "es", "fr"]},
            "note": {"type": "string"},
        },
    }
    # required-only doc: 1 presence varint + 1 + 1 bytes
    v = {"k": 7, "lang": "en"}
    buf = encode_instance(v, sch)
    assert len(buf) == 3
    assert _rt(v, sch) == v
    v2 = {"k": 0, "lang": "fr", "note": "hi"}
    assert _rt(v2, sch) == v2
    # open object: unknown keys survive through the schema-less tail
    sch_open = dict(sch)
    sch_open.pop("additionalProperties")
    v3 = {"k": 1, "lang": "de", "extra": [1, 2]}
    assert _rt(v3, sch_open) == v3


def test_array_fixed_and_prefix():
    fixed = {"type": "array", "minItems": 3, "maxItems": 3,
             "items": {"type": "integer", "minimum": 0, "maximum": 255}}
    assert len(encode_instance([1, 2, 3], fixed)) == 3  # no length prefix
    assert _rt([9, 8, 7], fixed) == [9, 8, 7]
    tup = {"prefixItems": [{"type": "string"}, {"type": "integer"}],
           "items": {"type": "boolean"}}
    v = ["id", 5, True, False]
    assert _rt(v, tup) == v


def test_combinator_schema_falls_back_to_any():
    sch = {"anyOf": [{"type": "integer"}, {"type": "string"}]}
    assert encoding_plan(sch).kind == "any"
    assert _rt("x", sch) == "x" and _rt(3, sch) == 3


def test_schema_driven_beats_json_size():
    sch = {
        "type": "object", "required": ["id", "status", "score"],
        "additionalProperties": False,
        "properties": {
            "id": {"type": "integer", "minimum": 0},
            "status": {"enum": ["ok", "warn", "err"]},
            "score": {"type": "integer", "minimum": 0, "maximum": 100},
        },
    }
    v = {"id": 123456, "status": "warn", "score": 88}
    packed = encode_instance(v, sch)
    assert len(packed) < len(json.dumps(v)) / 5  # 5 bytes vs 48
    assert _rt(v, sch) == v


def test_spark_encode_decode_roundtrip(spark):
    sch = {
        "type": "object", "required": ["k", "lang"],
        "additionalProperties": False,
        "properties": {
            "k": {"type": "integer", "minimum": 0, "maximum": 250},
            "lang": {"enum": ["de", "en", "es", "fr"]},
            "msg": {"type": "string"},
        },
    }
    df = spark.range(0, 500).select(
        F.col("id"),
        F.concat(
            F.lit('{"k": '), (F.col("id") % 251).cast("string"),
            F.lit(', "lang": "'),
            F.element_at(F.array(F.lit("de"), F.lit("en"), F.lit("es"), F.lit("fr")),
                         (F.col("id") % 4 + 1).cast("int")),
            F.lit('", "msg": "m'), F.col("id").cast("string"), F.lit('"}'),
        ).alias("doc"),
    )
    enc = encode_df(df, "doc", schema=sch)
    out = decode_df(enc, "bin", schema=sch, out_col="doc2")
    from jsonschema_spark.functions.canonical import canonical

    def canon(col):
        return canonical(F.try_parse_json(col))

    mismatches = out.filter(
        ~canon(F.col("doc")).eqNullSafe(canon(F.col("doc2")))
    ).count()
    assert mismatches == 0
    sizes = out.agg(F.sum(F.length("bin")).alias("b"),
                    F.sum(F.length("doc")).alias("j")).first()
    assert sizes["b"] * 4 < sizes["j"]  # >4x smaller than the JSON text
    # schema-less mode round-trips too (the CLI's default)
    enc2 = encode_df(df, "doc", schema=None)
    out2 = decode_df(enc2, "bin", schema=None, out_col="doc2")
    assert out2.filter(~canon(F.col("doc")).eqNullSafe(canon(F.col("doc2")))).count() == 0


def test_schemaless_roundtrip_hypothesis():
    from hypothesis import given, settings, strategies as st

    json_vals = st.recursive(
        st.none() | st.booleans()
        | st.integers(min_value=-2**62, max_value=2**62)
        | st.floats(allow_nan=False, allow_infinity=False, width=64)
        | st.text(max_size=40),
        lambda children: st.lists(children, max_size=5)
        | st.dictionaries(st.text(max_size=8), children, max_size=5),
        max_leaves=20,
    )

    @settings(max_examples=150, deadline=None)
    @given(json_vals)
    def check(v):
        got = decode_instance(encode_instance(v), None)
        assert got == v and type(got) is type(v)

    check()


def test_bounded_int_roundtrip_hypothesis():
    from hypothesis import given, settings, strategies as st

    @settings(max_examples=100, deadline=None)
    @given(st.integers(-1000, 1000), st.integers(-1000, 1000), st.data())
    def check(a, b, data):
        lo, hi = min(a, b), max(a, b)
        sch = {"type": "integer", "minimum": lo, "maximum": hi}
        v = data.draw(st.integers(lo, hi))
        assert decode_instance(encode_instance(v, sch), sch) == v

    check()


def test_nonconforming_values_rejected():
    import pytest as _pytest

    from jsonschema_spark.operators.binpack import EncodeError

    sch = {"type": "integer", "minimum": 0, "maximum": 5}
    with _pytest.raises(EncodeError, match="boolean"):
        encode_instance(True, sch)  # bool is not a number (despite bool ⊂ int)
    with _pytest.raises(EncodeError):
        encode_instance(99, sch)    # out of bounds
    with _pytest.raises(EncodeError):
        encode_instance("x", {"enum": [1, 2]})


def test_const_and_multiple_violations_rejected():
    import pytest as _pytest

    from jsonschema_spark.operators.binpack import EncodeError

    with _pytest.raises(EncodeError, match="const"):
        encode_instance(5, {"const": 3})
    with _pytest.raises(EncodeError, match="multiple|x2"):
        encode_instance(5, {"type": "integer", "minimum": 0, "maximum": 10,
                            "multipleOf": 2})
    with _pytest.raises(EncodeError, match="null"):
        encode_instance(0, {"type": "null"})


def test_unaligned_bounds_with_multipleof():
    # multipleOf constrains v % mult == 0, not (v - minimum) % mult == 0:
    # bounds are snapped to the multiple at plan time so every schema-valid
    # value encodes and round-trips (ADVICE r2: v=2 under min=1 raised)
    from jsonschema_spark.operators.binpack import EncodeError

    schema = {"type": "integer", "minimum": 1, "maximum": 9, "multipleOf": 2}
    for v in (2, 4, 6, 8):
        assert decode_instance(encode_instance(v, schema), schema) == v
    for bad in (1, 3, 9, 10, 0):
        try:
            encode_instance(bad, schema)
            assert False, f"{bad} should not encode"
        except EncodeError:
            pass
    # floor-only and roof-only variants
    fs = {"type": "integer", "minimum": 1, "multipleOf": 2}
    assert decode_instance(encode_instance(2, fs), fs) == 2
    rs = {"type": "integer", "maximum": 9, "multipleOf": 2}
    assert decode_instance(encode_instance(-4, rs), rs) == -4
    assert decode_instance(encode_instance(8, rs), rs) == 8
