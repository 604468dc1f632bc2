"""Flat-column fast-path validation: keyword semantics + violation rows.

Mirrors the reference's golden-output test style
(/root/reference/test/validate/fail_2020_12.sh, fail_json.sh): exact error
wording, locations, and evaluation order.
"""

import pytest
from pyspark.sql import Row, functions as F

from jsonschema_spark import annotate, validate, violations, verdict_counts


def rows(spark, data, schema_ddl):
    return spark.createDataFrame(data, schema_ddl)


def test_type_mismatch_golden(spark):
    # the reference's flagship golden: {"foo": 1} vs properties.foo type string
    # (/root/reference/test/validate/fail_json.sh)
    df = rows(spark, [(1,)], "foo long")
    schema = {"type": "object", "properties": {"foo": {"type": "string"}}}
    out = violations(df, schema, id_cols=["foo"]).collect()
    assert len(out) == 2
    assert out[0].keywordLocation == "/properties/foo/type"
    assert out[0].instanceLocation == "/foo"
    assert out[0].error == "The value was expected to be of type string but it was of type integer"
    assert out[1].keywordLocation == "/properties"
    assert out[1].instanceLocation == ""
    assert (
        out[1].error
        == "The object value was expected to validate against the single defined property subschema"
    )


def test_double_beyond_int64_is_integer(spark):
    df = rows(spark, [(1e20,), (-3.0,), (2.5,)], "a double")
    out = validate(df, {"properties": {"a": {"type": "integer"}}}).collect()
    assert [r.valid for r in out] == [True, True, False]


def test_required(spark):
    df = rows(spark, [("a", None), (None, None), ("b", "x")], "u string, t string")
    schema = {"type": "object", "required": ["u", "t"]}
    got = annotate(df, schema).select("valid", "violations").collect()
    assert [r.valid for r in got] == [False, False, True]
    # missing one property
    assert got[0].violations[0].error == (
        'The object value was expected to define properties "u", and "t"'
        ' but did not define the property "t"'
    )
    # missing both (missing list sorted, per the reference's std::set)
    assert got[1].violations[0].error == (
        'The object value was expected to define properties "u", and "t"'
        ' but did not define properties "t", and "u"'
    )
    assert got[1].violations[0].keywordLocation == "/required"


def test_required_single(spark):
    df = rows(spark, [(None,)], "u string")
    out = annotate(df, {"required": ["u"]}).collect()
    assert out[0].violations[0].error == 'The object value was expected to define the property "u"'


def test_enum_and_pattern(spark):
    df = rows(spark, [("en", "https://x.com/a"), ("zz", "ftp:bad")], "lang string, url string")
    schema = {
        "properties": {
            "lang": {"enum": ["en", "de", "fr"]},
            "url": {"pattern": "^https?://"},
        }
    }
    out = annotate(df, schema).collect()
    assert out[0].valid is True
    assert out[1].valid is False
    errs = [v.error for v in out[1].violations]
    assert (
        'The string value "zz" was expected to equal one of the following values: "de", "en", and "fr"'
        in errs
    )


def test_pattern_prefix_fastpath_message(spark):
    df = rows(spark, [("ftp:bad",)], "url string")
    out = annotate(df, {"properties": {"url": {"pattern": "^https://"}}}).collect()
    assert out[0].violations[0].error == (
        'The string value "ftp:bad" was expected to match the regular expression "^https://"'
    )


def test_length_code_points(spark):
    # 'café中' = 5 code points (7 utf-8 bytes) — must count code points
    # (json_value.cc:509-524 semantics)
    df = rows(spark, [("café中",)], "t string")
    ok = validate(df, {"properties": {"t": {"minLength": 5, "maxLength": 5}}}).collect()
    assert ok[0].valid is True
    out = annotate(df, {"properties": {"t": {"maxLength": 4}}}).collect()
    assert out[0].violations[0].error == (
        'The string value "café中" was expected to consist of at most 4 characters'
        " but it consisted of 5 characters"
    )


def test_numeric_bounds(spark):
    df = rows(spark, [(5.0,), (49.5,), (51.0,)], "q double")
    schema = {"properties": {"q": {"minimum": 1, "maximum": 50}}}
    got = [r.valid for r in validate(df, schema).collect()]
    assert got == [True, True, False]
    out = annotate(df, schema).collect()
    assert out[2].violations[0].error == (
        "The number value 51.0 was expected to be less than or equal to the integer 50"
    )


def test_exclusive_bounds_equal_message(spark):
    df = rows(spark, [(50,)], "q long")
    out = annotate(df, {"properties": {"q": {"exclusiveMinimum": 50}}}).collect()
    assert out[0].violations[0].error == (
        "The integer value 50 was expected to be greater than the integer 50, but they were equal"
    )


def test_multiple_of(spark):
    df = rows(spark, [(10,), (7,)], "n long")
    got = [r.valid for r in validate(df, {"properties": {"n": {"multipleOf": 5}}}).collect()]
    assert got == [True, False]
    # real column, 0.5 divisor (the x.0 % 0.5 exact case, json_value.cc:801-857)
    df2 = rows(spark, [(2.5,), (2.53,)], "x double")
    got2 = [r.valid for r in validate(df2, {"properties": {"x": {"multipleOf": 0.5}}}).collect()]
    assert got2 == [True, False]
    # a divisor that is no binary fraction divides the decimal digits
    df3 = rows(spark, [(0.3,), (0.35,)], "x double")
    got3 = [r.valid for r in validate(df3, {"properties": {"x": {"multipleOf": 0.1}}}).collect()]
    assert got3 == [True, False]
    # a real divisor on an integer column reads it as a double
    for k, want in ((0.5, [True, True]), (0.1, [True, True]), (0.75, [False, False])):
        got4 = [r.valid for r in validate(df, {"properties": {"n": {"multipleOf": k}}}).collect()]
        assert got4 == want, k


@pytest.mark.parametrize("k,want", [(2, True), (3, False), (0.5, True)])
def test_multiple_of_beyond_int64(spark, k, want):
    """1e20 is divisible by 2 and not by 3, as in validate_py: the test is
    the exact double remainder, not a quotient floored through int64."""
    from jsonschema_spark import validate_py

    schema = {"properties": {"x": {"multipleOf": k}}}
    df = rows(spark, [(1e20,), (-1e20,)], "x double")
    assert [r.valid for r in validate(df, schema).collect()] == [want, want]
    assert validate_py(schema, {"x": 1e20}) is want


def test_const_and_enum_beyond_int64_on_integer_column(spark):
    df = rows(spark, [(5,)], "a long")
    for sub, want in (({"const": 10**20}, False), ({"enum": [10**20]}, False),
                      ({"enum": [10**20, 5]}, True)):
        out = validate(df, {"properties": {"a": sub}}).collect()
        assert [r.valid for r in out] == [want], sub


def test_type_integer_accepts_integral_real(spark):
    df = rows(spark, [(3.0,), (3.5,)], "x double")
    got = [r.valid for r in validate(df, {"properties": {"x": {"type": "integer"}}}).collect()]
    assert got == [True, False]


def test_const_and_type_list(spark):
    df = rows(spark, [("a", 1.0)], "s string, n double")
    assert validate(df, {"properties": {"s": {"const": "a"}}}).collect()[0].valid is True
    assert validate(df, {"properties": {"s": {"const": "b"}}}).collect()[0].valid is False
    assert validate(df, {"properties": {"n": {"type": ["string", "number"]}}}).collect()[0].valid


def test_additional_properties_false(spark):
    df = rows(spark, [("a", "b")], "x string, y string")
    schema = {"properties": {"x": {}}, "additionalProperties": False}
    out = annotate(df, schema).collect()
    assert out[0].valid is False
    v = out[0].violations[0]
    assert v.keywordLocation == "/additionalProperties"
    assert v.instanceLocation == "/y"
    assert v.error == 'The object value was not expected to define the property "y"'


def test_dependent_required(spark):
    df = rows(spark, [("h", None), ("h", "t"), (None, None)], "html string, text string")
    schema = {"dependentRequired": {"html": ["text"]}}
    got = annotate(df, schema).collect()
    assert [r.valid for r in got] == [False, True, True]
    assert got[0].violations[0].error == (
        'Because the object value defined the property "html",'
        ' it was also expected to define the property "text"'
    )


def test_logical_combinators(spark):
    df = rows(spark, [("zh", "x"), ("zh", ""), ("en", "")], "lang string, text string")
    schema = {
        "if": {"properties": {"lang": {"const": "zh"}}},
        "then": {"properties": {"text": {"minLength": 1}}},
    }
    got = [r.valid for r in validate(df, schema).collect()]
    assert got == [True, False, True]

    any_of = {"anyOf": [{"properties": {"lang": {"const": "zh"}}}, {"properties": {"text": {"minLength": 1}}}]}
    got2 = [r.valid for r in validate(df, any_of).collect()]
    assert got2 == [True, True, False]

    one_of = {"oneOf": [{"properties": {"lang": {"const": "zh"}}}, {"properties": {"text": {"minLength": 1}}}]}
    got3 = [r.valid for r in validate(df, one_of).collect()]
    assert got3 == [False, True, False]

    not_s = {"not": {"properties": {"lang": {"const": "zh"}}}}
    got4 = [r.valid for r in validate(df, not_s).collect()]
    assert got4 == [False, False, True]


def test_ref_inlining(spark):
    df = rows(spark, [("en",), ("zz",)], "lang string")
    schema = {
        "$defs": {"lang": {"enum": ["en", "de"]}},
        "properties": {"lang": {"$ref": "#/$defs/lang"}},
    }
    got = [r.valid for r in validate(df, schema).collect()]
    assert got == [True, False]
    out = annotate(df, schema).collect()
    assert out[1].violations[0].keywordLocation == "/properties/lang/$ref/enum"


def test_false_schema(spark):
    df = rows(spark, [("x",)], "a string")
    out = annotate(df, {"properties": {"a": False}}).collect()
    assert out[0].valid is False
    assert out[0].violations[0].error == "No instance is expected to succeed against the false schema"


def test_format_uri_datetime(spark):
    df = rows(
        spark,
        [("https://x.com/a", "2021-06-01T12:00:00Z"), ("not a uri", "2021-13-01T99:00:00Z")],
        "u string, ts string",
    )
    schema = {"properties": {"u": {"format": "uri"}, "ts": {"format": "date-time"}}}
    got = [r.valid for r in validate(df, schema).collect()]
    assert got == [True, False]
    out = annotate(df, schema).collect()
    errs = [v.error for v in out[1].violations]
    assert 'The string value "not a uri" was expected to represent a valid URI' in errs


def test_verdict_counts(spark):
    df = rows(spark, [("en",), ("zz",), ("de",)], "lang string")
    got = verdict_counts(df, {"properties": {"lang": {"enum": ["en", "de"]}}}).collect()[0]
    assert (got.n_rows, got.n_valid, got.n_invalid) == (3, 2, 1)


def _days_from_civil(y: int, m: int, d: int) -> int:
    """Days from 1970-01-01 to y-m-d, proleptic Gregorian, for any year."""
    y -= m <= 2
    era, yoe = divmod(y, 400)
    doy = (153 * (m - 3 if m > 2 else m + 9) + 2) // 5 + d - 1
    return era * 146097 + yoe * 365 + yoe // 4 - yoe // 100 + doy - 719468


_US_PER_DAY = 86_400 * 10**6
_YEAR1, _LAST_DAY, _YEAR10K = _days_from_civil(1, 1, 1), _days_from_civil(9999, 12, 31), _days_from_civil(10000, 1, 1)
# session timezones: both extreme offsets, a +14:00 zone whose early years
# run on local mean time (-10:29:20), and a DST zone
_ZONES = ["UTC", "+18:00", "-18:00", "Pacific/Kiritimati", "America/New_York"]


@pytest.fixture
def session_zone(spark):
    """Set the session timezone for the test; restored afterwards."""
    prev = spark.conf.get("spark.sql.session.timeZone")
    yield lambda tz: spark.conf.set("spark.sql.session.timeZone", tz)
    spark.conf.set("spark.sql.session.timeZone", prev)


def _typed_format_verdicts(spark, session_zone, fmt, to_typed, rendering, values) -> dict:
    """(zone, value) -> (engine verdict, the session's rendering) of
    ``format: fmt`` over ``to_typed(value)``, checked against ``validate_py``
    of that rendering."""
    from jsonschema_spark import validate_py

    sub = {"type": "string", "format": fmt}
    out = {}
    for tz in _ZONES:
        session_zone(tz)
        df = rows(spark, list(enumerate(values)), "i long, n long").select("i", to_typed(F.col("n")).alias("t"))
        got = validate(df, {"properties": {"t": sub}}).select("i", "valid", F.date_format("t", rendering).alias("text"))
        for r in got.collect():
            out[(tz, values[r.i])] = (r.valid, r.text)
            assert r.valid is validate_py(sub, r.text), (tz, values[r.i], r.text, r.valid)
    return out


def test_timestamp_column_as_datetime_string(spark, session_zone):
    df = spark.sql("select timestamp'2021-06-01 12:00:00' as warc_ts")
    schema = {"properties": {"warc_ts": {"type": "string", "format": "date-time"}}}
    assert validate(df, schema).collect()[0].valid is True
    # a timestamp is valid iff the text the session renders is: by a range
    # test inside [0001-01-01T00:00Z, 9999-12-31T00:00Z), by the regex outside
    edges = [_days_from_civil(0, 6, 15) * _US_PER_DAY, _YEAR1 * _US_PER_DAY - 1, _YEAR1 * _US_PER_DAY,
             _YEAR1 * _US_PER_DAY + 1, _LAST_DAY * _US_PER_DAY - 1, _LAST_DAY * _US_PER_DAY,
             _YEAR10K * _US_PER_DAY - 1, _YEAR10K * _US_PER_DAY, _days_from_civil(-44, 3, 15) * _US_PER_DAY,
             0, _days_from_civil(2021, 6, 1) * _US_PER_DAY + 12 * 3600 * 10**6]
    got = _typed_format_verdicts(spark, session_zone, "date-time", F.timestamp_micros,
                                 "yyyy-MM-dd'T'HH:mm:ss'Z'", edges)
    # the rendering is local wall time with a literal Z, so the verdict at
    # the edges depends on the zone
    last = _YEAR10K * _US_PER_DAY - 1
    assert got[("UTC", last)] == (True, "9999-12-31T23:59:59Z")
    assert got[("+18:00", last)] == (False, "+10000-01-01T17:59:59Z")
    assert got[("UTC", _YEAR1 * _US_PER_DAY - 1)] == (True, "0000-12-31T23:59:59Z")
    assert got[("-18:00", _days_from_civil(0, 6, 15) * _US_PER_DAY)] == (True, "0000-06-14T06:00:00Z")
    assert got[("America/New_York", 0)] == (True, "1969-12-31T19:00:00Z")
    assert got[("UTC", _YEAR10K * _US_PER_DAY)][0] is False


def test_date_column_as_date_string(spark, session_zone):
    """A date is valid under `format: date` iff its rendering is, in every
    session timezone: by a range test inside [0001-01-01, 9999-12-31)."""
    edges = [_days_from_civil(0, 6, 15), _YEAR1 - 1, _YEAR1, _YEAR1 + 1, _LAST_DAY - 1, _LAST_DAY,
             _YEAR10K, _days_from_civil(-44, 3, 15), 0, _days_from_civil(2024, 2, 29)]
    got = _typed_format_verdicts(spark, session_zone, "date", F.date_from_unix_date, "yyyy-MM-dd", edges)
    for tz in _ZONES:
        assert got[(tz, _LAST_DAY)] == (True, "9999-12-31")
        assert got[(tz, _YEAR10K)] == (False, "+10000-01-01")
        assert got[(tz, _YEAR1 - 1)] == (True, "0000-12-31")
        assert got[(tz, _days_from_civil(-44, 3, 15))][0] is False


def test_standard_output_shapes(spark):
    import json as _json

    from jsonschema_spark import standard_output

    df = spark.createDataFrame([("en",), ("zz",)], "lang string")
    schema = {"$id": "https://x/s.json", "properties": {"lang": {"enum": ["en"]}}}
    out = {r["lang"]: _json.loads(r["report"]) for r in standard_output(df, schema).collect()}
    assert out["en"] == {"valid": True}
    assert out["zz"]["valid"] is False
    errs = out["zz"]["errors"]
    assert errs and errs[-1]["keywordLocation"] == "/properties"
    assert errs[0]["instanceLocation"] == "/lang"
    assert errs[0]["absoluteKeywordLocation"].startswith("https://x/s.json#")
    flag = {r["lang"]: _json.loads(r["report"]) for r in standard_output(df, schema, fmt="flag").collect()}
    assert flag == {"en": {"valid": True}, "zz": {"valid": False}}


def test_property_verdicts(spark):
    from jsonschema_spark import property_verdicts

    df = spark.createDataFrame(
        [(1, "en", 10), (2, "zz", 10), (3, "en", -5), (None, "en", 10)],
        "doc_id long, lang string, n long",
    )
    schema = {
        "required": ["doc_id"],
        "properties": {
            "lang": {"enum": ["en", "de"]},
            "n": {"minimum": 0},
        },
    }
    byid = {(r["doc_id"], r["lang"], r["n"]): (r["ok_doc_id"], r["ok_lang"], r["ok_n"]) for r in property_verdicts(df, schema).collect()}
    assert byid[(1, "en", 10)] == (True, True, True)
    assert byid[(2, "zz", 10)] == (True, False, True)
    assert byid[(3, "en", -5)] == (True, True, False)
    assert byid[(None, "en", 10)][0] is False  # required doc_id missing


def test_instance_cols_restricts_flat_instance(spark):
    """Bookkeeping columns outside instance_cols are invisible to
    closed-object keywords."""
    from jsonschema_spark import validate

    df = spark.createDataFrame([(1, "meta", 5)], "_id long, _tag string, v long")
    closed = {"properties": {"v": {"type": "integer"}},
              "unevaluatedProperties": False}
    # full row: _id/_tag are unevaluated extras -> invalid
    assert validate(df, closed).first()["valid"] is False
    assert validate(df, closed, instance_cols=["v"]).first()["valid"] is True
    counted = {"maxProperties": 1}
    assert validate(df, counted).first()["valid"] is False
    assert validate(df, counted, instance_cols=["v"]).first()["valid"] is True


def test_instance_cols_typo_raises(spark):
    import pytest as _pytest

    from jsonschema_spark import validate

    df = spark.createDataFrame([(1,)], "v long")
    with _pytest.raises(ValueError, match="instance_cols"):
        validate(df, {"required": ["v"]}, instance_cols=["vv"])


def test_root_inapplicable_keywords_vacuous(spark):
    """The flat row is statically an object: scalar/array keywords at the
    ROOT must compile to a vacuous pass (EVALUATE_BEGIN precondition-skip),
    never crash — regression for FlatRowCtx scalar accessors."""
    from jsonschema_spark import validate

    df = spark.createDataFrame([(1,)], "x long")
    vacuous = [
        {"minLength": 3}, {"pattern": "^a"}, {"format": "email"},
        {"minimum": 5}, {"exclusiveMaximum": 0}, {"multipleOf": 2},
        {"minItems": 1}, {"uniqueItems": True},
        {"contains": {"type": "integer"}},
        {"prefixItems": [{"type": "string"}]},
        {"items": {"type": "string"}},
    ]
    for sch in vacuous:
        assert validate(df, sch).first()["valid"] is True, sch
    # but keywords that DO apply to objects still assert
    for sch in ({"const": 3}, {"enum": [1, 2]}, {"type": "string"}):
        assert validate(df, sch).first()["valid"] is False, sch


def test_verdict_counts_cube_granularities(spark):
    """cube() verdicts: the grand total (gid=3) equals the sum of the most
    detailed level (gid=0); per-dim roll-ups carry the right gid bits; a
    rolled-up NULL is distinguishable from a NULL data value by gid."""
    from jsonschema_spark.operators.validate import verdict_counts_cube

    df = spark.createDataFrame(
        [(1, "a", "en"), (2, "a", None), (3, "b", "de"), (4, "b", "de")],
        "doc_id long, source string, lang string",
    )
    schema = {"properties": {"lang": {"enum": ["en", "de"]}}, "required": ["lang"]}
    rows = verdict_counts_cube(df, schema, ["source", "lang"]).collect()
    by_gid: dict = {}
    for r in rows:
        by_gid.setdefault(r["gid"], []).append(r)
    assert sum(r["n_rows"] for r in by_gid[0]) == 4
    total = by_gid[3][0]
    assert (total["n_rows"], total["n_valid"], total["n_invalid"]) == (4, 3, 1)
    # gid=0 contains the REAL (a, NULL) cell; gid=1 the lang roll-ups
    assert any(r["source"] == "a" and r["lang"] is None and r["n_rows"] == 1
               for r in by_gid[0])
    assert any(r["source"] == "a" and r["n_rows"] == 2 for r in by_gid[1])


def test_integer_const_is_exact_on_decimal_and_double_columns(spark):
    """An integer constant compares exactly with a decimal column (no trip
    through double) and equals a double only when the double holds it; a
    constant no column value can hold is simply unequal."""
    from decimal import Decimal

    from jsonschema_spark.plans.pyeval import validate_py

    big = 2**53  # 9007199254740992: the double of 2**53 + 1 too
    df = rows(spark, [(Decimal(big), float(big))], "d decimal(38,0), x double")
    for sub, want in (({"const": big + 1}, False), ({"const": big}, True),
                      ({"enum": [big + 1, big]}, True), ({"const": 10**400}, False),
                      ({"const": 10**38}, False)):
        for col in ("d", "x"):
            schema = {"properties": {col: sub}}
            assert validate_py(schema, {col: big}) is want, (col, sub)
            assert [r.valid for r in validate(df, schema).collect()] == [want], (col, sub)


def test_member_keywords_on_scalar_and_map_columns(spark):
    """Object keywords pass vacuously on a column that is not an object,
    and loop over a map column's keys as the tree path does over an
    object's."""
    df = spark.createDataFrame([(7, {"k": 1, "d/e": -1})], "n long, m map<string,bigint>")
    df = df.withColumn("doc", F.to_json(F.struct("n", "m")))
    for sub in ({"additionalProperties": False}, {"patternProperties": {"^k": {"minimum": 2}}},
                {"additionalProperties": {"minimum": 0}}, {"unevaluatedProperties": False}):
        for col in ("n", "m"):
            schema = {"properties": {col: sub}}
            flat = annotate(df, schema, short_circuit=False).drop("doc").collect()[0]
            tree = annotate(df, schema, doc_col="doc", short_circuit=False).collect()[0]
            assert flat.valid is tree.valid is (col == "n"), (schema, flat, tree)
            assert sorted(flat.violations) == sorted(tree.violations), (schema, flat, tree)



def _flat_tree_py(df, schema):
    """Each row of ``df`` three ways, in row order: flat ``annotate`` over its
    columns, tree ``annotate`` over the row rendered by ``to_json``, and
    ``validate_py`` over that JSON. The first two give ``(valid, sorted
    violations)``, the last a verdict."""
    import json

    from jsonschema_spark.plans.pyeval import validate_py

    cols = [F.col("`" + c.replace("`", "``") + "`") for c in df.columns]
    docs = df.select(F.to_json(F.struct(*cols)).alias("doc"))
    flat = [(r.valid, sorted(r.violations)) for r in annotate(df, schema, short_circuit=False).collect()]
    tree = [(r.valid, sorted(r.violations)) for r in
            annotate(docs, schema, doc_col="doc", short_circuit=False).collect()]
    py = [validate_py(schema, json.loads(r.doc)) for r in docs.collect()]
    return flat, tree, py


def test_dotted_and_backticked_column_names(spark):
    """A column name with a dot or a backtick names a row member; the dot
    is no struct-field access."""
    df = spark.createDataFrame([(7, 2, 1), (1, 9, None), (None, 1, 5)], "`a.b` long, `a``b` long, c long")
    for schema in (
        {"required": ["a.b"], "properties": {"a.b": {"minimum": 5}}},
        {"required": ["a`b"], "properties": {"a`b": {"maximum": 3}}},
        {"properties": {"a.b": {"minimum": 0}}, "additionalProperties": {"maximum": 3}},
        {"properties": {"a.b": {}, "c": {}}, "additionalProperties": False},
    ):
        flat, tree, py = _flat_tree_py(df, schema)
        assert flat == tree, schema
        assert [v for v, _ in flat] == py, schema
    assert [r.valid for r in validate(df, {"required": ["a.b"], "properties": {"a.b": {"minimum": 5}}})
            .collect()] == [True, False, False]


def test_null_elements_and_map_values_are_json_null(spark):
    """A NULL array element or map value is JSON null, as on the tree path;
    a NULL struct field stays an absent member."""
    df = spark.createDataFrame([
        ([None, 2], [None, {"p": 1}], {"k": None, "j": 1}),
        ([1, 2], [{"p": None}, {"p": 1}], {"j": 1}),
        ([None, None], [], {}),
    ], "xs array<bigint>, os array<struct<p: bigint>>, m map<string,bigint>")
    for schema in (
        {"properties": {"xs": {"items": {"type": "integer"}}}},
        {"properties": {"xs": {"items": {"type": ["integer", "null"]}}}},
        {"properties": {"xs": {"items": {"enum": [2, None]}}}},
        {"properties": {"xs": {"items": {"const": 2}}}},
        {"properties": {"xs": {"items": {"not": {"type": "null"}}, "uniqueItems": True}}},
        {"properties": {"xs": {"contains": {"type": "null"}, "prefixItems": [{"type": "number"}]}}},
        {"properties": {"os": {"items": {"type": "object"}}}},
        {"properties": {"os": {"items": {"required": ["p"]}}}},
        {"properties": {"m": {"additionalProperties": {"type": "integer"}}}},
        {"properties": {"m": {"required": ["k"], "properties": {"k": {"type": "null"}}}}},
        {"properties": {"m": {"properties": {"k": {"minimum": 1}}}}},
    ):
        flat, tree, py = _flat_tree_py(df, schema)
        assert flat == tree, schema
        assert [v for v, _ in flat] == py, schema
    flat, _, _ = _flat_tree_py(df, {"properties": {"xs": {"items": {"type": "integer"}}}})
    assert [v for v, _ in flat] == [False, True, False]


def test_container_constants_on_nested_array_and_map_elements(spark):
    """A container ``const``/``enum`` on the elements of an array of arrays
    or of maps compares inside the element loop's lambda, as the tree path
    does: key order is irrelevant and 1 equals 1.0."""
    df = spark.createDataFrame([
        ([[1], [1]], [{"x": 1, "y": 2}]),
        ([[1], [2]], [{"y": 2, "x": 1}, {"x": 1}]),
        ([], [None]),
    ], "a array<array<bigint>>, m array<map<string,bigint>>")
    for schema in (
        {"properties": {"a": {"items": {"const": [1]}}}},
        {"properties": {"a": {"items": {"enum": [[2], [1.0], "x"]}}}},
        {"properties": {"a": {"uniqueItems": True}}},
        {"properties": {"m": {"items": {"const": {"x": 1, "y": 2.0}}}}},
        {"properties": {"m": {"items": {"enum": [{"x": 1}, {"y": 2, "x": 1}]}}}},
        {"properties": {"m": {"uniqueItems": True, "items": {"not": {"const": {}}}}}},
    ):
        flat, tree, py = _flat_tree_py(df, schema)
        assert flat == tree, schema
        assert [v for v, _ in flat] == py, schema
    flat, _, _ = _flat_tree_py(df, {"properties": {"a": {"items": {"const": [1]}}}})
    assert [v for v, _ in flat] == [True, False, True]


def test_long_strings_compare_as_containers(spark):
    """A 100k-character string with ``.`` in it, inside an array or a map,
    renders for ``uniqueItems`` and a container ``const``/``enum`` on the
    flat and the tree path alike."""
    s = "a.b " * 25_000
    df = spark.createDataFrame([
        ([[s], [s]], [{"d": s}, {"d": s}]),
        ([[s], [s + "x"]], [{"d": s}, {"d": s + "x"}]),
    ], "a array<array<string>>, m array<map<string,string>>")
    for schema in (
        {"properties": {"a": {"uniqueItems": True}, "m": {"uniqueItems": True}}},
        {"properties": {"a": {"const": [[s], [s + "x"]]}}},
        {"properties": {"m": {"items": {"enum": [{"d": s}, 1.5]}}}},
        {"properties": {"m": {"items": {"const": {"d": s + "x"}}}}},
    ):
        flat, tree, py = _flat_tree_py(df, schema)
        assert flat == tree, schema
        assert [v for v, _ in flat] == py, schema
    flat, _, _ = _flat_tree_py(df, {"properties": {"a": {"uniqueItems": True}, "m": {"uniqueItems": True}}})
    assert [v for v, _ in flat] == [False, True]
