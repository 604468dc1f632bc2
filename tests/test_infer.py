"""JSON-Schema inference (operators/infer.py): hand-computed type
lattice, enum window guard, required-ness, the KEY_RE path-safety
filter, the infer→validate round-trip property, and a DuckDB parity
check of the lattice mapping on the same corpus."""
import duckdb
import pytest  # noqa: F401

from jsonschema_spark import validate
from jsonschema_spark.operators.infer import (
    census_keys,
    infer_json_schema,
    infer_json_stats,
)

CORPUS = [
    '{"i": 3, "s": "aa", "f": 1.5, "b": true, "n": null, '
    '"o": {"x": 1}, "a": [1], "mix": 1}',
    '{"i": -7, "s": "bb", "f": 2.25, "b": false, "n": "txt", '
    '"o": {}, "a": [], "mix": "one"}',
    '{"i": 40, "s": "aa", "f": -0.5, "b": true, "n": null, '
    '"o": {"y": 2}, "a": [1, 2], "mix": null}',
    '{oops',          # malformed: contributes nothing
    '[1, 2]',         # top-level array: not an object row
    '"scalar"',       # top-level string: not an object row
    None,             # NULL payload
]


def _stats(spark, rows=CORPUS, **kw):
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    out = infer_json_stats(df, "p", **kw)
    return {r["json_key"]: r.asDict() for r in out.collect()}


def test_lattice_and_bounds_hand_computed(spark):
    st = _stats(spark)
    assert set(st) == {"i", "s", "f", "b", "n", "o", "a", "mix"}
    # every key present in all 3 object rows → required
    assert all(r["required"] for r in st.values())
    assert all(r["n_present"] == 3 for r in st.values())

    assert st["i"]["types_csv"] == "integer"
    assert (st["i"]["int_lo"], st["i"]["int_hi"]) == (-7, 40)
    assert (st["i"]["num_lo_milli"], st["i"]["num_hi_milli"]) == (-7000, 40000)

    assert st["s"]["types_csv"] == "string"
    assert st["s"]["str_maxlen"] == 2
    assert st["s"]["n_distinct_str"] == 2
    assert st["s"]["enum_csv"] == "aa|bb"

    assert st["f"]["types_csv"] == "number"
    assert st["f"]["int_lo"] is None  # never integer-typed
    assert (st["f"]["num_lo_milli"], st["f"]["num_hi_milli"]) == (-500, 2250)

    assert st["b"]["types_csv"] == "boolean"
    # json null is a PRESENT key of lattice type 'null'
    assert st["n"]["types_csv"] == "null,string"
    assert st["n"]["n_null"] == 2
    assert st["n"]["n_distinct_str"] == 1 and st["n"]["enum_csv"] == "txt"

    assert st["o"]["types_csv"] == "object"
    assert st["a"]["types_csv"] == "array"
    assert st["mix"]["types_csv"] == "integer,null,string"


def test_duckdb_lattice_parity(spark):
    """The DuckDB json_type spelling of the same corpus maps onto the
    identical lattice — the two engines' independent typings agree per
    (key, types_csv) pair."""
    st = _stats(spark)
    con = duckdb.connect()
    rows = con.execute(
        """
        WITH src AS (SELECT try_cast(p AS JSON) AS j
                     FROM (SELECT unnest(?) AS p)),
        obj AS (SELECT j FROM src
                WHERE j IS NOT NULL AND json_type(j) = 'OBJECT'),
        pairs AS (SELECT k AS json_key,
                         coalesce(json_type(o.j, '$."' || k || '"'),
                                  'NULL') AS dt
                  FROM obj o, LATERAL (SELECT unnest(json_keys(o.j)) AS k))
        SELECT json_key, array_to_string(list_sort(list(DISTINCT
          CASE dt WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
                  WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
                  WHEN 'DOUBLE' THEN 'number' WHEN 'NULL' THEN 'null'
                  WHEN 'UBIGINT' THEN 'integer' WHEN 'BIGINT' THEN 'integer'
                  WHEN 'HUGEINT' THEN 'integer' ELSE 'other' END)), ',')
        FROM pairs GROUP BY 1
        """,
        [[c for c in CORPUS if c is not None]],
    ).fetchall()
    duck = dict(rows)
    assert duck == {k: v["types_csv"] for k, v in st.items()}


def test_required_and_presence(spark):
    rows = ['{"always": 1, "some": "x"}', '{"always": 2}', "null"]
    st = _stats(spark, rows)
    assert st["always"]["required"] is True
    assert st["some"]["required"] is False
    assert st["some"]["n_present"] == 1


def test_enum_window_guard(spark):
    """A key past max_enum distinct values reports the exact distinct
    count but NULL enum — and the plan never collects more than
    max_enum+1 values per key (partitioned-window cap)."""
    rows = ['{"hi": "v%02d", "lo": "w%d"}' % (i, i % 3) for i in range(40)]
    st = _stats(spark, rows, max_enum=16)
    assert st["hi"]["n_distinct_str"] == 40 and st["hi"]["enum_csv"] is None
    assert st["lo"]["n_distinct_str"] == 3
    assert st["lo"]["enum_csv"] == "w0|w1|w2"


def test_key_re_skip_and_census(spark):
    rows = ['{"ok": 1, "weird.key": 2, "qu\'ote": 3}'] * 2
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    typed, skipped, n_objects = census_keys(df, "p")
    assert typed == ["ok"]
    assert sorted(skipped) == ["qu'ote", "weird.key"]
    assert n_objects == 2
    st = _stats(spark, rows)
    assert set(st) == {"ok"}  # census sees the weird keys, stats skip them


def test_max_keys_cap_rank(spark):
    """Cap ranks by (presence desc, key asc) BEFORE the KEY_RE filter —
    the mirror replays the same two steps in the same order."""
    rows = ['{"a": 1, "b": 2}', '{"a": 3}']
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    typed, _, _ = census_keys(df, "p", max_keys=1)
    assert typed == ["a"]


def test_empty_and_no_objects(spark):
    st = _stats(spark, ["[1]", "{oops", None])
    assert st == {}


def test_infer_validate_round_trip(spark):
    """The assembled draft 2020-12 schema accepts every object row that
    produced it — required keys, types, bounds and enums all observed."""
    df = spark.createDataFrame([(r,) for r in CORPUS], "p string")
    schema = infer_json_schema(df, "p")
    assert schema["type"] == "object"
    assert sorted(schema["required"]) == ["a", "b", "f", "i", "mix", "n", "o", "s"]
    assert schema["properties"]["i"] == {
        "type": "integer", "minimum": -7, "maximum": 40}
    assert schema["properties"]["s"] == {
        "type": "string", "maxLength": 2, "enum": ["aa", "bb"]}
    assert sorted(schema["properties"]["mix"]["type"]) == [
        "integer", "null", "string"]
    objs = df.where(
        "p is not null and p not like '{oops%' and p like '{%'")
    v = validate(objs, schema, doc_col="p")
    got = v.groupBy("valid").count().collect()
    assert {r["valid"]: r["count"] for r in got} == {True: 3}
    # and a type-mutated doc fails
    bad = spark.createDataFrame(
        [('{"i": "not an int", "s": "aa", "f": 1.5, "b": true, "n": null, '
          '"o": {}, "a": [], "mix": 1}',)], "p string")
    assert validate(bad, schema, doc_col="p").collect()[0]["valid"] is False


def test_enum_values_containing_separator_round_trip(spark):
    """Enum values travel as an array: a value holding the '|' that
    enum_csv joins on stays one member, and its document validates."""
    rows = ['{"s": "a|b"}', '{"s": "c"}']
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    schema = infer_json_schema(df, "p")
    assert schema["properties"]["s"]["enum"] == ["a|b", "c"]
    v = validate(df, schema, doc_col="p")
    assert [r["valid"] for r in v.collect()] == [True, True]
    assert _stats(spark, rows)["s"]["enum_csv"] == "a|b|c"


def test_integer_beyond_int64_round_trip(spark):
    """A key mixing int64 and wider integers gets no int64 bounds (the
    wide value would NULL out of them), so every document validates."""
    rows = ['{"n": 5}', '{"n": %d}' % 2**70]
    df = spark.createDataFrame([(r,) for r in rows], "p string")
    schema = infer_json_schema(df, "p")
    assert schema["properties"]["n"] == {"type": "integer"}
    v = validate(df, schema, doc_col="p")
    assert [r["valid"] for r in v.collect()] == [True, True]
    st = _stats(spark, rows)["n"]
    assert (st["int_lo"], st["int_hi"]) == (5, 5)
    assert "int_exact" not in st
