"""Metamorphic consistency: flat path ≡ tree path on the same data.

The engine compiles every schema twice — against typed columns (flat) and
against parsed JSON (VARIANT tree). For any schema over the same logical
rows, both compilations MUST give identical verdicts (the reference has
one evaluator; we have two compilation targets — this pins them to each
other). Schemas are generated from a seeded RNG across the full keyword
surface; rows carry nulls, duplicates, unicode, and nested values.

Also checks fast mode ≡ exhaustive mode verdicts (the --fast invariant:
detail level never changes the verdict).
"""

import random

from pyspark.sql import functions as F

from jsonschema_spark import annotate, validate

COLS = "a long, b double, s string, xs array<bigint>, o struct<p: bigint>"


def _rows(rng: random.Random, n: int):
    langs = ["en", "de", "héllo", "x" * 20, ""]
    out = []
    for i in range(n):
        a = rng.choice([None, 0, 1, 2, 7, -3, 100])
        b = rng.choice([None, 0.0, 0.5, 2.0, 3.3, -1.25, 1e6])
        s = rng.choice([None] + langs)
        xs = rng.choice([None, [], [1], [1, 1], [1, 2, 3], [5, -2], [0] * 4])
        o = rng.choice([None, (None,), (1,), (9,)])
        out.append((a, b, s, xs, o))
    return out


def _num_schema(rng):
    return rng.choice([
        {"type": "integer"},
        {"type": "number"},
        {"minimum": rng.choice([0, 1, 2])},
        {"maximum": rng.choice([1, 3, 100])},
        {"exclusiveMinimum": 0},
        {"multipleOf": rng.choice([1, 2, 0.5])},
        {"const": rng.choice([1, 2.0, 0])},
        {"enum": [0, 1, 2.0]},
    ])


def _str_schema(rng):
    return rng.choice([
        {"type": "string"},
        {"minLength": rng.choice([0, 1, 3])},
        {"maxLength": rng.choice([2, 5, 20])},
        {"pattern": rng.choice(["^en", "l+", "^.{2,5}$", "^x"])},
        {"const": "en"},
        {"enum": ["en", "de", "héllo"]},
    ])


def _arr_schema(rng):
    return rng.choice([
        {"type": "array"},
        {"minItems": rng.choice([0, 1, 2])},
        {"maxItems": rng.choice([1, 3])},
        {"items": {"type": "integer", "minimum": rng.choice([-5, 0, 1])}},
        {"uniqueItems": True},
        {"contains": {"minimum": 2}},
        {"contains": {"minimum": 2}, "minContains": 0, "maxContains": 2},
        {"prefixItems": [{"minimum": 1}], "items": {"maximum": 10}},
        {"allOf": [{"minItems": 1}, {"items": {"multipleOf": 1}}]},
        {"not": {"contains": {"const": 0}}},
        {"prefixItems": [{"type": "integer"}], "unevaluatedItems": {"maximum": 5}},
    ])


def _obj_schema(rng):
    return rng.choice([
        {"type": "object"},
        {"required": ["p"]},
        {"properties": {"p": {"minimum": 2}}},
        {"minProperties": 1},
        {"patternProperties": {"^p": {"type": "integer"}}},
        {"propertyNames": {"maxLength": 1}},
        {"additionalProperties": {"minimum": 0}},
        {"dependentRequired": {"p": ["p"]}},
    ])


def _rand_schema(rng: random.Random) -> dict:
    props = {}
    if rng.random() < 0.9:
        props["a"] = _num_schema(rng)
    if rng.random() < 0.7:
        props["b"] = _num_schema(rng)
    if rng.random() < 0.8:
        props["s"] = _str_schema(rng)
    if rng.random() < 0.7:
        props["xs"] = _arr_schema(rng)
    if rng.random() < 0.5:
        props["o"] = _obj_schema(rng)
    schema: dict = {"type": "object", "properties": props}
    if rng.random() < 0.5:
        schema["required"] = rng.sample(list(props), k=min(len(props), rng.randint(1, 2)))
    r = rng.random()
    if r < 0.2:
        schema["anyOf"] = [{"required": ["a"]}, {"required": ["s"]}]
    elif r < 0.35:
        schema["oneOf"] = [{"required": ["a"]}, {"required": ["b"]}]
    elif r < 0.5:
        schema["not"] = {"required": ["o"]}
    elif r < 0.65:
        schema["if"] = {"required": ["a"]}
        schema["then"] = {"required": ["s"]}
        schema["else"] = {"properties": {"b": {"minimum": 0}}}
    if rng.random() < 0.3:
        schema["dependentRequired"] = {"s": ["a"]}
    if rng.random() < 0.25:
        schema["dependentSchemas"] = {"b": {"required": ["a"]}}
    if rng.random() < 0.15:
        # disjunctive-unevaluated shape: branches + runtime mark tracking
        schema["unevaluatedProperties"] = rng.choice([False, {"type": "integer"}])
        schema.setdefault("properties", props)
    if rng.random() < 0.2:
        schema["allOf"] = [{"minProperties": 0},
                          {"properties": {"a": {"not": {"const": -3}}}}]
    return schema


def test_flat_and_tree_paths_agree(spark):
    rng = random.Random(20260817)
    df = spark.createDataFrame(_rows(rng, 80), COLS)
    # tree side: the SAME rows as JSON documents (to_json drops nulls →
    # absent property, matching flat NULL-column semantics)
    both = df.withColumn("_id", F.monotonically_increasing_id()).withColumn(
        "doc", F.to_json(F.struct("a", "b", "s", "xs", "o"))
    ).localCheckpoint(eager=True)
    disagreements = []
    for i in range(25):
        schema = _rand_schema(random.Random(1000 + i))
        flat = {
            r["_id"]: r["valid"]
            for r in validate(both, schema, instance_cols=["a", "b", "s", "xs", "o"])
            .select("_id", "valid").collect()
        }
        tree = {
            r["_id"]: r["valid"]
            for r in validate(both, schema, doc_col="doc").select("_id", "valid").collect()
        }
        for k in flat:
            if flat[k] != tree[k]:
                row = both.filter(F.col("_id") == k).first()
                disagreements.append((i, schema, row["doc"], flat[k], tree[k]))
    assert not disagreements, f"{len(disagreements)} path disagreements; first 3: {disagreements[:3]}"


def test_root_const_null_member_is_not_a_null_column(spark):
    """A NULL column is an absent member on the flat path, as ``to_json``
    makes it on the tree path: it never matches a ``null`` member of a
    root-level const/enum object. Flat ≡ tree ≡ validate_py."""
    import json

    from jsonschema_spark.plans.pyeval import validate_py

    df = spark.createDataFrame([(0, 1, None), (1, 1, 5)], "id long, i long, a long")
    df = df.withColumn("doc", F.to_json(F.struct("i", "a")))
    docs = [json.loads(r["doc"]) for r in df.orderBy("id").collect()]
    for schema, want in (
        ({"const": {"i": 1, "a": None}}, [False, False]),
        ({"enum": [{"i": 1, "a": None}, {"i": 9}]}, [False, False]),
        ({"enum": [{"i": 1}, {"i": 1, "a": None}]}, [True, False]),
    ):
        flat = [r["valid"] for r in validate(df, schema, instance_cols=["i", "a"])
                .orderBy("id").collect()]
        tree = [r["valid"] for r in validate(df, schema, doc_col="doc").orderBy("id").collect()]
        assert flat == tree == [validate_py(schema, d) for d in docs] == want, schema


def test_tree_path_matches_python_evaluator(spark):
    """Third independent leg: the compiled VARIANT tree path must agree
    with the driver-side reference evaluator (plans/pyeval.py) — the
    analogue of cross-checking the compiled evaluator against a separate
    implementation, as the reference does with the official suite."""
    import json

    from jsonschema_spark.plans.pyeval import validate_py

    rng = random.Random(42)
    df = spark.createDataFrame(_rows(rng, 60), COLS)
    doc_df = df.withColumn("_id", F.monotonically_increasing_id()).withColumn(
        "doc", F.to_json(F.struct("a", "b", "s", "xs", "o"))
    ).localCheckpoint(eager=True)
    docs = {r["_id"]: r["doc"] for r in doc_df.select("_id", "doc").collect()}
    disagreements = []
    for i in range(20):
        schema = _rand_schema(random.Random(9000 + i))
        tree = {
            r["_id"]: r["valid"]
            for r in validate(doc_df, schema, doc_col="doc").select("_id", "valid").collect()
        }
        for k, doc in docs.items():
            py = validate_py(schema, json.loads(doc))
            if py != tree[k]:
                disagreements.append((i, schema, doc, py, tree[k]))
    assert not disagreements, (
        f"{len(disagreements)} engine-vs-evaluator disagreements; "
        f"first 3: {disagreements[:3]}")


def test_fast_and_exhaustive_verdicts_agree(spark):
    rng = random.Random(7)
    df = spark.createDataFrame(_rows(rng, 60), COLS)
    doc_df = df.withColumn("_id", F.monotonically_increasing_id()).withColumn(
        "doc", F.to_json(F.struct("a", "b", "s", "xs", "o"))
    ).localCheckpoint(eager=True)
    for i in range(8):
        schema = _rand_schema(random.Random(500 + i))
        fast = [r["valid"] for r in validate(doc_df, schema, doc_col="doc").orderBy("_id").collect()]
        exh = [
            r["valid"]
            for r in annotate(doc_df, schema, doc_col="doc", short_circuit=False)
            .orderBy("_id")
            .collect()
        ]
        assert fast == exh, f"schema {i}: fast vs exhaustive verdicts diverge: {schema}"


def _violation_rows(df, schema, short_circuit, doc_col=None, with_error=False):
    """``Counter((keywordLocation, instanceLocation[, error]))`` of each row
    of ``annotate``, in row order: over ``df``'s columns (flat), or over
    ``doc_col`` (tree)."""
    from collections import Counter

    out = annotate(df, schema, doc_col=doc_col, short_circuit=short_circuit).select("violations")
    return [Counter((v["keywordLocation"], v["instanceLocation"])
                    + ((v["error"],) if with_error else ()) for v in r["violations"])
            for r in out.collect()]


def test_flat_and_tree_violations_agree(spark):
    """Flat ≡ tree on violation rows, not only verdicts: the same
    (keywordLocation, instanceLocation) multiset per row, in both
    ``short_circuit`` modes. Error text is left out: VARIANT normalises
    decimals, so a flat double prints ``0.0`` where the tree prints ``0``."""
    rng = random.Random(20260817)
    cols = ["a", "b", "s", "xs", "o"]
    both = spark.createDataFrame(_rows(rng, 80), COLS).withColumn(
        "doc", F.to_json(F.struct(*cols))).localCheckpoint(eager=True)
    flat_df, tree_df = both.select(*cols), both.select("doc")
    disagreements = []
    for i in range(25):
        schema = _rand_schema(random.Random(1000 + i))
        for sc in (True, False):
            flat = _violation_rows(flat_df, schema, sc)
            tree = _violation_rows(tree_df, schema, sc, doc_col="doc")
            disagreements += [(1000 + i, sc, k, f, t) for k, (f, t) in enumerate(zip(flat, tree)) if f != t]
    assert not disagreements, f"{len(disagreements)} rows differ; first 3: {disagreements[:3]}"


def test_member_loops_report_every_failing_member(spark):
    """A keyword that loops over object members reports every failing
    member on both paths, whatever ``short_circuit`` says: it is a loop,
    like ``items``, not a conjunction of keywords."""
    df = spark.createDataFrame([(1, "x", "y", 5)], "a long, b string, c string, e long")
    tree_df = df.select(F.to_json(F.struct(*df.columns)).alias("doc"))
    cases = [
        ({"properties": {"a": {}}, "additionalProperties": False},
         {("/additionalProperties", "/b"), ("/additionalProperties", "/c"), ("/additionalProperties", "/e")}),
        ({"properties": {"a": {}}, "additionalProperties": {"type": "integer"}},
         {("/additionalProperties/type", "/b"), ("/additionalProperties/type", "/c")}),
        ({"patternProperties": {"^[bc]": {"maxLength": 0}}},
         {("/patternProperties/^[bc]/maxLength", "/b"), ("/patternProperties/^[bc]/maxLength", "/c")}),
        ({"properties": {"a": {}}, "unevaluatedProperties": False},
         {("/unevaluatedProperties", "/b"), ("/unevaluatedProperties", "/c"),
          ("/unevaluatedProperties", "/e")}),
        ({"anyOf": [{"properties": {"a": {}}}], "unevaluatedProperties": {"type": "integer"}},
         {("/unevaluatedProperties/type", "/b"), ("/unevaluatedProperties/type", "/c")}),
    ]
    for schema, want in cases:
        for sc in (True, False):
            flat = _violation_rows(df, schema, sc)[0]
            tree = _violation_rows(tree_df, schema, sc, doc_col="doc")[0]
            assert flat == tree and set(flat) == want and max(flat.values()) == 1, (schema, sc, flat, tree)


def test_member_names_escape_alike_on_both_paths(spark):
    """Member names with ``/``, ``~`` and ``"`` read the same on both paths:
    instance locations escape per RFC 6901, messages escape the quote."""
    from pyspark.sql import types as T

    names = ["a", "d/e", "c~d", 'q"x']
    df = spark.createDataFrame([("", "v", "w", "z")], T.StructType(
        [T.StructField(n, T.StringType()) for n in names]))
    tree_df = df.select(F.to_json(F.struct(*[F.col(n) for n in names])).alias("doc"))
    escaped = {"/d~1e", "/c~0d", '/q"x'}
    for schema in (
        {"properties": {"a": {}}, "additionalProperties": False},
        {"patternProperties": {"[/~\"]": {"maxLength": 0}}},
        {"properties": {"a": {}}, "unevaluatedProperties": False},
        {"anyOf": [{"properties": {"a": {}}}], "unevaluatedProperties": False},
        {"propertyNames": {"maxLength": 1}},
    ):
        for sc in (True, False):
            flat = _violation_rows(df, schema, sc, with_error=True)[0]
            tree = _violation_rows(tree_df, schema, sc, doc_col="doc", with_error=True)[0]
            assert flat == tree, (schema, sc, flat, tree)
            assert {loc for _, loc, _ in flat} == escaped, (schema, flat)
    errors = {e for _, loc, e in _violation_rows(
        tree_df, {"additionalProperties": False}, True, doc_col="doc", with_error=True)[0] if loc == '/q"x'}
    assert errors == {'The object value was not expected to define the property "q\\"x"'}


def test_flat_containers_render_and_compare_like_the_tree(spark):
    """Flat duplicate items print as JSON, as on the tree path, and a
    nested struct compares with an object constant member by member (a
    NULL field is an absent member): flat ≡ tree ≡ validate_py."""
    import json

    from jsonschema_spark.plans.pyeval import validate_py

    df = spark.createDataFrame(
        [(["a", "a"], (1, None)), (["a", "b", "b"], (1, "x")), ([], (None, None)), (["x"], (2, "x"))],
        "ss array<string>, o struct<p: bigint, q: string>")
    tree_df = df.select(F.to_json(F.struct("ss", "o")).alias("doc"))
    docs = [json.loads(r["doc"]) for r in tree_df.collect()]
    uniq = {"properties": {"ss": {"uniqueItems": True}}}
    flat = _violation_rows(df, uniq, True, with_error=True)
    assert flat == _violation_rows(tree_df, uniq, True, doc_col="doc", with_error=True)
    assert ("/properties/ss/uniqueItems", "/ss",
            'The array value contained the following duplicate item: "a"') in flat[0]
    for sub in ({"const": {"p": 1}}, {"const": {"p": 1, "q": None}}, {"const": {}},
                {"const": {"p": 1.0, "q": "x"}}, {"enum": [{"p": 2, "q": "x"}, {"p": 1}, 3]},
                {"const": [1]}, {"const": {"p": 1, "r": 2}}):
        schema = {"properties": {"o": sub}}
        flat = [r["valid"] for r in validate(df, schema).collect()]
        tree = [r["valid"] for r in validate(tree_df, schema, doc_col="doc").collect()]
        assert flat == tree == [validate_py(schema, d) for d in docs], (sub, flat, tree)
