"""Tests for referential blooms, checkpoint resume, streaming, readers,
test runner, lint/metaschema/codegen/inspect/serialize, multimodal."""

import json
import os

import pytest
from pyspark.sql import functions as F

from jsonschema_spark.operators.checkpoint import run_validation_checkpointed
from jsonschema_spark.operators.referential import (
    anti_join_orphans,
    build_bloom,
    bloom_might_contain,
    referential_violations,
    salted_counts,
)
from jsonschema_spark.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    media_from_documents,
)
from jsonschema_spark.operators.testrunner import run_suite
from jsonschema_spark.plans.codegen import struct_type_for
from jsonschema_spark.plans.inspect import inspect_schema
from jsonschema_spark.plans.lint import lint_fix, lint_schema
from jsonschema_spark.plans.metaschema import is_valid_schema, metaschema_errors
from jsonschema_spark.plans.serialize import (
    load_plan,
    dump_plan,
    plan_from_json,
    plan_to_json,
    schema_fingerprint,
)
from jsonschema_spark.plans.compiler import compile_schema
from jsonschema_spark.sources.readers import read_instances, read_jsonl
from jsonschema_spark.streaming.validate import violation_stream, windowed_verdict_counts


# --- referential -------------------------------------------------------------


def test_bloom_no_false_negatives_and_parity(spark):
    dim = spark.range(0, 500).select(F.concat(F.lit("key-"), F.col("id")).alias("k"))
    fact = spark.range(0, 1000).select(
        F.col("id"), F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    bloom = build_bloom(dim, "k", expected=500, fpp=0.001)
    probed = fact.withColumn("maybe", bloom_might_contain(spark, bloom, F.col("k"))).collect()
    for r in probed:
        if int(r["k"].split("-")[1]) < 500:
            assert r["maybe"] is True  # bloom NEVER misses a member
    exact = {r["id"] for r in anti_join_orphans(fact, "k", dim, "k").collect()}
    with_bloom = {r["id"] for r in referential_violations(spark, fact, "k", dim, "k", bloom).collect()}
    assert exact == with_bloom == set(range(500, 1000))


def test_salted_counts_match_plain(spark):
    df = spark.createDataFrame([("hot",)] * 50 + [("cold",)] * 3, "k string")
    got = {r["k"]: r["n"] for r in salted_counts(df, "k", n_salts=8).collect()}
    assert got == {"hot": 50, "cold": 3}


# --- checkpoint resume --------------------------------------------------------


def test_checkpoint_resume_skips_done(spark, tmp_path):
    schema = {"properties": {"v": {"type": "integer", "minimum": 0}}}
    df = spark.range(0, 100).select(
        (F.col("id") % 4).alias("day"), (F.col("id") - 50).alias("v")
    )
    out, man = str(tmp_path / "out"), str(tmp_path / "manifests")
    r1 = run_validation_checkpointed(df.filter(F.col("day") < 2), schema, "day", out, man, sketch_col="v")
    assert sorted(r1.processed_partitions) == [0, 1] and r1.skipped_partitions == []
    r2 = run_validation_checkpointed(df, schema, "day", out, man)
    assert sorted(r2.processed_partitions) == [2, 3]
    assert sorted(r2.skipped_partitions) == [0, 1]
    total = spark.read.parquet(out)
    assert total.count() == 100  # no partition written twice
    with open(os.path.join(man, "part-0.json")) as f:
        m = json.load(f)
    assert m["n_rows"] == 25 and m["schema_fingerprint"] == schema_fingerprint(schema)
    assert m["sketch"]["column"] == "v" and m["sketch"]["approx_distinct"] >= 20
    # changed schema fingerprint ⇒ everything reruns, REPLACING stale
    # partition output (dynamic overwrite — no duplicate rows)
    r3 = run_validation_checkpointed(
        df, {"properties": {"v": {"minimum": 1}}}, "day", out, man
    )
    assert len(r3.processed_partitions) == 4
    assert spark.read.parquet(out).count() == 100


def test_checkpoint_waves_commit_incrementally_and_survive_crash(spark, tmp_path):
    """wave_size bounds the blast radius: a crash after wave 1 leaves wave
    1's manifests committed, and the rerun skips those partitions."""
    schema = {"properties": {"v": {"type": "integer", "minimum": 0}}}
    df = spark.range(0, 120).select(
        (F.col("id") % 6).alias("day"), (F.col("id") - 60).alias("v")
    )
    out, man = str(tmp_path / "out"), str(tmp_path / "manifests")

    # crash mid-run: fail the second wave's write by poisoning the scope
    # filter after one successful wave
    import jsonschema_spark.operators.checkpoint as cp

    real = cp._run_scope
    calls = []

    def crashing(*a, **k):
        calls.append(1)
        if len(calls) == 2:
            raise RuntimeError("killed")
        return real(*a, **k)

    cp._run_scope = crashing
    try:
        with pytest.raises(RuntimeError):
            run_validation_checkpointed(df, schema, "day", out, man, wave_size=2)
    finally:
        cp._run_scope = real

    done_after_crash = sorted(
        json.load(open(os.path.join(man, f)))["partition"] for f in os.listdir(man)
    )
    assert done_after_crash == [0, 1]  # exactly one wave committed

    # resume: completed wave skipped, remaining 4 partitions run in 2 waves
    r2 = run_validation_checkpointed(df, schema, "day", out, man, wave_size=2)
    assert sorted(r2.skipped_partitions) == [0, 1]
    assert sorted(r2.processed_partitions) == [2, 3, 4, 5]
    assert spark.read.parquet(out).count() == 120  # no dupes, nothing lost
    assert len(os.listdir(man)) == 6


# --- streaming ----------------------------------------------------------------


def test_streaming_windowed_verdicts(spark, tmp_path):
    src = str(tmp_path / "stream_src")
    batch = spark.createDataFrame(
        [(i, f"2021-06-01 0{i % 3}:15:00", "ok" if i % 2 else "") for i in range(30)],
        "id long, ts_s string, text string",
    ).select("id", F.col("ts_s").cast("timestamp").alias("ts"), "text")
    batch.write.parquet(src)
    schema = {"properties": {"text": {"minLength": 1}}}
    sdf = spark.readStream.schema(batch.schema).parquet(src)
    out = windowed_verdict_counts(sdf, schema, "ts", window="1 hour", watermark="2 hours")
    q = (
        out.writeStream.format("memory")
        .queryName("verdicts")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    rows = {str(r["window_start"]): (r["n_rows"], r["n_valid"]) for r in spark.sql("select * from verdicts").collect()}
    assert len(rows) == 3
    assert rows["2021-06-01 00:00:00"] == (10, 5)


def test_violation_stream_matches_batch_violations(spark, tmp_path):
    from jsonschema_spark import violations

    src = str(tmp_path / "viol_src")
    batch = spark.createDataFrame(
        [(1, '{"a": 1, "b": "x"}'), (2, '{"a": "no"}'), (3, '{"b": 5}'), (4, "[1]")],
        "id long, doc string")
    batch.write.parquet(src)
    schema = {"type": "object", "required": ["a"],
              "properties": {"a": {"type": "integer"}, "b": {"type": "string"}}}
    sdf = spark.readStream.schema(batch.schema).parquet(src)
    q = (
        violation_stream(sdf, schema, ["id"], doc_col="doc")
        .writeStream.format("memory")
        .queryName("violation_rows")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from violation_rows").collect()
    want = violations(batch, schema, ["id"], doc_col="doc").collect()
    assert len(want) >= 3
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


# --- readers ------------------------------------------------------------------


def test_readers_jsonl_and_dir(spark, tmp_path):
    jl = tmp_path / "docs.jsonl"
    jl.write_text('{"a": 1}\n\n{"a": 2}\n')
    assert read_jsonl(spark, str(jl)).count() == 2
    d = tmp_path / "tree" / "sub"
    d.mkdir(parents=True)
    (d / "one.json").write_text('{"a": 1}')
    (d / "skip.txt").write_text("nope")
    df = read_instances(spark, str(tmp_path / "tree"))
    rows = df.collect()
    assert len(rows) == 1 and json.loads(rows[0]["doc"]) == {"a": 1}


# --- test runner --------------------------------------------------------------


def test_run_suite_reports(spark):
    suite = {
        "target": {"required": ["a"], "properties": {"a": {"type": "integer"}}},
        "tests": [
            {"description": "good", "valid": True, "data": {"a": 1}},
            {"description": "bad type", "valid": False, "data": {"a": "x"}},
            {"description": "wrong expectation", "valid": True, "data": {}},
        ],
    }
    rep = run_suite(spark, suite)["results"]
    assert rep["summary"] == {"tests": 3, "passed": 2, "failed": 1}
    failing = [t for t in rep["tests"] if t["status"] == "failed"][0]
    assert failing["name"] == "wrong expectation" and failing["errors"]


# --- lint / metaschema / codegen / inspect / serialize ------------------------


def test_lint_rules_and_fix():
    schema = {
        "type": "string",
        "enum": ["a", "a", "b"],
        "allOf": [{"minLength": 5, "maxLength": 2}],
        "if": {"type": "string"},
    }
    rules = {f["rule"] for f in lint_schema(schema)}
    assert {"enum_with_type", "duplicate_enum_values", "unsatisfiable_bounds",
            "single_branch_combinator", "if_without_consequence"} <= rules
    fixed = lint_fix(schema)
    assert "type" not in fixed and fixed["enum"] == ["a", "b"]
    assert "allOf" not in fixed and fixed["minLength"] == 5 and "if" not in fixed


def test_lint_visits_every_schema_position():
    """lint_schema reports where lint_fix rewrites: unevaluated* included."""
    schema = {"unevaluatedProperties": {"type": "string", "enum": ["a"]}}
    found = {(f["path"], f["rule"]) for f in lint_schema(schema)}
    assert ("/unevaluatedProperties", "enum_with_type") in found
    assert "type" not in lint_fix(schema)["unevaluatedProperties"]
    assert not any(f["path"].startswith("/const") for f in lint_schema(
        {"const": {"type": "string", "enum": ["a"]}}))


def test_lint_fix_ignores_data_positions():
    """Properties literally named 'enum'/'const'/'type' are data, not
    keywords — fix() must leave their sibling definitions alone; const/enum
    data values are never treated as schema nodes."""
    schema = {
        "properties": {
            "enum": {"type": "string"},
            "type": {"type": "integer"},
            "const": {"type": "boolean"},
        },
        "const": {"enum": ["keep"], "type": "me"},
    }
    fixed = lint_fix(schema)
    assert fixed["properties"]["type"] == {"type": "integer"}
    assert fixed["properties"]["enum"] == {"type": "string"}
    assert fixed["properties"]["const"] == {"type": "boolean"}
    assert fixed["const"] == {"enum": ["keep"], "type": "me"}


def test_checkpoint_null_partition_rows_never_dropped(spark, tmp_path):
    """NULL partition values must survive resumed runs (the naive
    ~isin(done) filter is NULL for them and silently drops the rows)."""
    schema = {"properties": {"v": {"type": "integer", "minimum": 0}}}
    df = spark.createDataFrame(
        [(0, 1), (0, 2), (1, 3), (None, 4), (None, -5)], "day int, v int"
    )
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    run_validation_checkpointed(df.filter(F.col("day") == 0), schema, "day", out, man)
    r2 = run_validation_checkpointed(df, schema, "day", out, man)
    assert r2.skipped_partitions == [0]
    # NULL-partition rows were processed on the resumed run, not dropped
    got = spark.read.parquet(out)
    assert got.count() == 5
    assert got.filter(F.col("day").isNull()).count() == 2


def test_metaschema_errors():
    assert is_valid_schema({"type": "string", "minLength": 0})
    errs = metaschema_errors({"type": "str", "minLength": -1, "pattern": "("})
    assert len(errs) == 3
    assert not is_valid_schema({"properties": {"a": {"enum": "notalist"}}})


def test_metaschema_checks_every_schema_position():
    assert metaschema_errors({"unevaluatedProperties": {"type": "bogus"}}) == [
        "/unevaluatedProperties: type must be one of "
        "['array', 'boolean', 'integer', 'null', 'number', 'object', 'string'] "
        "or a list thereof"]
    assert metaschema_errors({"properties": {"a/b": {"minLength": -1}}}) == [
        "/properties/a~1b: minLength must be a non-negative integer"]
    # data is not a schema
    assert metaschema_errors({"const": {"type": "bogus"}, "default": {"minLength": -1}}) == []


def test_codegen_struct_type():
    st = struct_type_for(
        {
            "type": "object",
            "required": ["id"],
            "properties": {
                "id": {"type": "integer"},
                "name": {"type": "string"},
                "scores": {"type": "array", "items": {"type": "number"}},
                "nested": {"type": "object", "properties": {"flag": {"type": "boolean"}}},
            },
        }
    )
    assert st["id"].dataType.typeName() == "long" and not st["id"].nullable
    assert st["name"].nullable
    assert st["scores"].dataType.elementType.typeName() == "double"
    assert st["nested"].dataType["flag"].dataType.typeName() == "boolean"
    # references resolve through the frame: an anchor, and a pointer
    # inside an embedded `$id` resource
    anchored = struct_type_for({"$defs": {"p": {"$anchor": "pos", "type": "integer"}},
                                "properties": {"a": {"$ref": "#pos"}}})
    assert anchored["a"].dataType.typeName() == "long"
    embedded = struct_type_for({
        "$id": "https://e.com/root.json",
        "properties": {"a": {"$ref": "#/$defs/inner"}, "b": {"$ref": "inner.json"}},
        "$defs": {"inner": {"$id": "inner.json", "$defs": {"q": {"type": "boolean"}},
                            "$ref": "#/$defs/q"}},
    })
    assert [f.dataType.typeName() for f in embedded] == ["boolean", "boolean"]
    # a $ref back to a schema on the derivation path is the lossy fallback
    linked = struct_type_for({"$defs": {"n": {"properties": {"v": {"type": "integer"},
                                                             "next": {"$ref": "#/$defs/n"}}}},
                              "$ref": "#/$defs/n"})
    assert [(f.name, f.dataType.typeName()) for f in linked] == [("v", "long"), ("next", "string")]
    tree = struct_type_for({"properties": {"kids": {"type": "array", "items": {"$ref": "#"}}}})
    assert tree["kids"].dataType.elementType.typeName() == "string"


def test_only_the_frame_and_the_oracle_join_uris():
    """Every reference resolves through plans/frame.py; plans/pyeval.py
    keeps its own resolution as the independent oracle. No other module
    joins URIs."""
    root = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "jsonschema_spark")
    joiners = sorted(
        os.path.relpath(os.path.join(d, f), root)
        for d, _, files in os.walk(root) for f in files
        if f.endswith(".py") and "urljoin" in open(os.path.join(d, f)).read()
    )
    assert joiners == ["plans/frame.py", "plans/pyeval.py"]


def test_inspect_strategies(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    entries = inspect_schema(
        {"type": "object", "properties": {"lang": {"type": "string", "pattern": "^[a-z]+$"}}},
        docs.schema,
    )
    by_loc = {e["keywordLocation"]: e["strategy"] for e in entries}
    assert by_loc["/properties/lang/type"] == "static"
    assert by_loc["/properties/lang/pattern"] == "column"
    assert by_loc["/properties"] == "applicator"
    # every keyword with subschema positions, and every reference keyword,
    # is an applicator; a pattern holding a token java.util.regex lacks
    # (here a subroutine call), and the compile-try `format: regex`, run
    # in a pandas UDF; a Unicode property runs as `rlike`
    schema = {
        "$defs": {"n": {"$dynamicAnchor": "n"}},
        "allOf": [{"$dynamicRef": "#n"}, {"$recursiveRef": "#"}, {"$ref": "#/$defs/n"}],
        "unevaluatedProperties": {"type": "integer"},
        "unevaluatedItems": {"type": "string"},
        "properties": {
            "u": {"pattern": "^\\p{L}+$"},
            "v": {"pattern": "^(a|b(?1))$"},
            "r": {"format": "regex"},
            "d": {"format": "date"},
        },
    }
    by_loc = {e["keywordLocation"]: e["strategy"] for e in inspect_schema(schema)}
    for loc in ("/unevaluatedProperties", "/unevaluatedItems", "/allOf/0/$dynamicRef",
                "/allOf/1/$recursiveRef", "/allOf/2/$ref", "/allOf"):
        assert by_loc[loc] == "applicator", loc
    assert by_loc["/properties/u/pattern"] == "column"
    assert by_loc["/properties/v/pattern"] == "pandas"
    assert by_loc["/properties/r/format"] == "pandas"
    assert by_loc["/properties/d/format"] == "column"
    assert by_loc["/unevaluatedItems/type"] == "column"


def test_plan_serialize_roundtrip(tmp_path):
    cs = compile_schema({"$id": "https://x/s.json", "type": "object"})
    doc = plan_to_json(cs)
    cs2 = plan_from_json(doc)
    assert cs2.base_uri == "https://x/s.json" and cs2.schema == cs.schema
    p = str(tmp_path / "plan.json")
    dump_plan(cs, p)
    assert load_plan(p).schema == cs.schema
    doc["schema"]["type"] = "string"
    with pytest.raises(Exception, match="fingerprint"):
        plan_from_json(doc)


# --- multimodal ---------------------------------------------------------------


def test_multimodal_features_and_frames(spark):
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(30)
    media = media_from_documents(docs)
    feats = extract_features(media)
    rows = feats.collect()
    assert len(rows) == 30
    img = [r for r in rows if r["kind"] == "image"][0]
    assert img["width"] and img["height"] and img["duration_ms"] is None
    assert img["n_bytes"] > 0 and len(img["sha"]) == 64
    # determinism: second run identical
    assert feats.exceptAll(extract_features(media)).count() == 0
    frames = frame_sample_plan(media, every_ms=60000)
    vid = frames.groupBy("media_id").count().collect()
    assert all(r["count"] >= 1 for r in vid)


# --- per-row invariant (byte-identical text per url) --------------------------


def test_text_invariant_jvm_and_arrow(spark):
    from jsonschema_spark.operators.invariants import text_invariant_violations
    from jsonschema_spark.sources.pages import pages_df

    pages = pages_df(spark, 2000)
    assert text_invariant_violations(pages, mode="jvm").count() == 0
    assert text_invariant_violations(pages, mode="arrow").count() == 0
    # plant a corruption: html edited → both modes flag exactly those rows
    corrupted = pages.withColumn(
        "html",
        F.when(F.col("text").isNotNull() & (F.length("text") > 0),
               F.encode(F.concat(F.lit("<html><body>X"), F.col("text"), F.lit("</body></html>")), "UTF-8"))
        .otherwise(F.col("html")),
    )
    n_bad = corrupted.filter(F.col("text").isNotNull() & (F.length("text") > 0)).count()
    assert text_invariant_violations(corrupted, mode="jvm").count() == n_bad
    assert text_invariant_violations(corrupted, mode="arrow").count() == n_bad


def test_stream_dedup_exact(spark, tmp_path):
    from jsonschema_spark.streaming.validate import stream_dedup_exact

    src = str(tmp_path / "dedup_src")
    batch = spark.createDataFrame(
        [(i % 7, f"2021-06-01 00:{i:02d}:00") for i in range(20)],
        "k long, ts_s string",
    ).select("k", F.col("ts_s").cast("timestamp").alias("ts"))
    batch.write.parquet(src)
    sdf = spark.readStream.schema("k long, ts timestamp").parquet(src)
    q = (
        stream_dedup_exact(sdf, ["k"], "ts", watermark="10 minutes")
        .writeStream.format("memory").queryName("dedup_out")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination(120)
    rows = spark.sql("select k, count(*) c from dedup_out group by k").collect()
    assert {r["k"] for r in rows} == set(range(7))
    assert all(r["c"] == 1 for r in rows)


def test_reader_jsonl_gz(spark, tmp_path):
    import gzip

    gz = tmp_path / "docs.jsonl.gz"
    with gzip.open(gz, "wt") as f:
        f.write('{"a": 1}\n{"a": 2}\n{"a": 3}\n')
    df = read_instances(spark, str(gz))
    assert df.count() == 3  # Spark decodes the gzip codec transparently


# --- annotations + instancePosition (golden-shape parity) ---------------------


def test_instance_position_golden_shape(spark):
    """Replicates test/validate/fail_json.sh: the Basic error entries
    carry [startLine, startCol, endLine, endCol] of the instance location,
    with object-member spans starting at the member key."""
    from jsonschema_spark import standard_output, violations_with_positions

    schema = {
        "$schema": "https://json-schema.org/draft/2020-12/schema",
        "title": "Test",
        "description": "Test schema",
        "type": "object",
        "properties": {"foo": {"type": "string"}},
    }
    df = spark.createDataFrame([(1, '{ "foo": 1 }')], "id long, doc string")
    rows = violations_with_positions(df, schema, ["id"], doc_col="doc").collect()
    by_kw = {r["keywordLocation"]: r for r in rows}
    assert by_kw["/properties/foo/type"]["instancePosition"] == [1, 3, 1, 10]
    assert by_kw["/properties/foo/type"]["error"] == (
        "The value was expected to be of type string but it was of type integer"
    )
    assert by_kw["/properties"]["instancePosition"] == [1, 1, 1, 12]
    rep = json.loads(
        standard_output(df, schema, doc_col="doc", positions=True, annotations=True)
        .collect()[0]["report"]
    )
    assert rep["valid"] is False
    errs = {e["keywordLocation"]: e for e in rep["errors"]}
    assert errs["/properties/foo/type"]["instancePosition"] == [1, 3, 1, 10]


def test_annotations_golden_shape(spark):
    """Replicates test/validate/pass_json.sh: valid instances report
    title/description/properties annotations."""
    from jsonschema_spark import annotations, standard_output

    schema = {
        "$id": "https://example.com",
        "title": "Test",
        "description": "Test schema",
        "type": "object",
        "properties": {"foo": {"type": "string"}},
    }
    df = spark.createDataFrame([(1, '{ "foo": "bar" }')], "id long, doc string")
    rows = annotations(df, schema, ["id"], doc_col="doc", positions=True).collect()
    got = {r["keywordLocation"]: (r["annotation"], r["instancePosition"]) for r in rows}
    assert got["/title"] == ('["Test"]', [1, 1, 1, 16])
    assert got["/description"] == ('["Test schema"]', [1, 1, 1, 16])
    assert got["/properties"] == ('["foo"]', [1, 1, 1, 16])
    rep = json.loads(
        standard_output(df, schema, doc_col="doc", positions=True, annotations=True)
        .collect()[0]["report"]
    )
    assert rep["valid"] is True
    anns = {a["keywordLocation"]: a["annotation"] for a in rep["annotations"]}
    assert anns == {"/title": ["Test"], "/description": ["Test schema"], "/properties": ["foo"]}


_RAW_SCHEMA = {"default": 1.0, "properties": {"a": {"type": "integer", "examples": [1e20]}}}


def _drop_positions(report: dict) -> dict:
    return {k: [{f: x for f, x in e.items() if f != "instancePosition"} for e in v]
            if isinstance(v, list) else v for k, v in report.items()}


def test_basic_output_one_path(spark):
    """The Basic report is one shape with and without positions: the
    positioned report is the plain one plus ``instancePosition`` on each
    entry; annotation values are their JSON text byte for byte; a valid
    row without annotations is ``{"valid":true}``; an entry of a document
    that did not parse carries no position."""
    from jsonschema_spark import annotations, standard_output, violations_with_positions

    df = spark.createDataFrame(
        [(1, '{"a": 1}'), (2, "not json"), (3, None), (4, '{\n "a": "x"}')],
        "id long, doc string")

    def reports(schema, **kw):
        out = standard_output(df, schema, doc_col="doc", annotations=True, **kw)
        return {r.id: r.report for r in out.collect()}

    plain, spanned = reports(_RAW_SCHEMA), reports(_RAW_SCHEMA, positions=True)
    for i in (1, 2, 3, 4):
        assert json.loads(plain[i]) == _drop_positions(json.loads(spanned[i])), i
    for rep in (plain[1], spanned[1]):
        assert '"keywordLocation":"/default"' in rep and '"annotation":[1.0]' in rep
        assert '"annotation":[[1e+20]]' in rep and '"annotation":["a"]' in rep
    assert '"instanceLocation":"/a","instancePosition":[1,2,1,7],"annotation":[[1e+20]]}' in spanned[1]
    errs = json.loads(spanned[4])["errors"]
    assert [e["instancePosition"] for e in errs] == [[2, 2, 2, 9], [1, 1, 2, 10]]
    for i in (2, 3):
        assert plain[i] == spanned[i] == (
            '{"valid":false,"errors":[{"keywordLocation":"","absoluteKeywordLocation":"#",'
            '"instanceLocation":"","error":"The instance could not be parsed as JSON"}]}'), i
    rows = violations_with_positions(df, _RAW_SCHEMA, ["id"], doc_col="doc").orderBy("id").collect()
    assert [(r.id, r.instancePosition) for r in rows if r.id in (2, 3)] == [(2, None), (3, None)]
    # a valid row with no annotations, in both modes, with and without the block
    for ann in (False, True):
        for pos in (False, True):
            out = standard_output(df, {"type": "object"}, doc_col="doc", annotations=ann, positions=pos)
            assert {r.id: r.report for r in out.collect()}[1] == '{"valid":true}', (ann, pos)
    ann_rows = annotations(df, _RAW_SCHEMA, ["id"], doc_col="doc", positions=True).collect()
    assert {(r.keywordLocation, r.annotation, tuple(r.instancePosition)) for r in ann_rows} == {
        ("/default", "[1.0]", (1, 1, 1, 8)), ("/properties", '["a"]', (1, 1, 1, 8)),
        ("/properties/a/examples", "[[1e+20]]", (1, 2, 1, 7))}


def test_positions_need_doc_col(spark):
    """Flat rows have no source text: asking them for positions is an
    error, not a report without them."""
    from jsonschema_spark import annotations, standard_output

    df = spark.createDataFrame([(1, 2)], "id long, a long")
    with pytest.raises(ValueError, match="doc_col"):
        standard_output(df, _RAW_SCHEMA, positions=True)
    with pytest.raises(ValueError, match="doc_col"):
        standard_output(df, _RAW_SCHEMA, annotations=True, positions=True)
    with pytest.raises(ValueError, match="doc_col"):
        annotations(df, _RAW_SCHEMA, ["id"], positions=True)


def test_annotations_dropped_from_failing_branches(spark):
    from jsonschema_spark import annotations

    schema = {
        "anyOf": [
            {"title": "int branch", "type": "integer"},
            {"title": "str branch", "type": "string"},
        ]
    }
    df = spark.createDataFrame([(1, "5")], "id long, doc string")
    rows = annotations(df, schema, ["id"], doc_col="doc").collect()
    kws = {r["keywordLocation"] for r in rows}
    assert "/anyOf/0/title" in kws and "/anyOf/1/title" not in kws


def test_annotations_follow_dynamic_refs(spark):
    """Annotations are collected from every applied subschema, including
    $dynamicRef / $recursiveRef targets."""
    from jsonschema_spark import annotations

    schema = {
        "$dynamicRef": "#node",
        "$defs": {"node": {"$dynamicAnchor": "node", "title": "dynamic target",
                           "type": "object"}},
    }
    df = spark.createDataFrame([(1, "{}"), (2, "5")], "id long, doc string")
    rows = annotations(df, schema, ["id"], doc_col="doc").collect()
    got = {(r["id"], r["keywordLocation"], r["annotation"]) for r in rows}
    # a failing target (id 2 is not an object) drops its annotations
    assert got == {(1, "/$dynamicRef/title", '["dynamic target"]')}

    recursive = {"$recursiveAnchor": True, "title": "root",
                 "properties": {"child": {"$recursiveRef": "#"}}}
    df = spark.createDataFrame([(1, '{"child": {}}')], "id long, doc string")
    rows = annotations(df, recursive, ["id"], doc_col="doc").collect()
    locs = {(r["keywordLocation"], r["instanceLocation"]) for r in rows}
    assert ("/properties/child/$recursiveRef/title", "/child") in locs


def test_format_annotation_mode(spark):
    from jsonschema_spark import annotations, compile_schema

    cs = compile_schema({"format": "uuid"}, format_assertion=False)
    df = spark.createDataFrame([(1, '"not-a-uuid"')], "id long, doc string")
    # annotation mode: format never asserts, only annotates
    from jsonschema_spark import validate

    assert validate(df, cs, doc_col="doc").collect()[0]["valid"] is True
    rows = annotations(df, cs, ["id"], doc_col="doc").collect()
    assert [r["annotation"] for r in rows if r["keywordLocation"] == "/format"] == ['["uuid"]']


def test_lint_reference_rule_analogues():
    schema = {
        "title": " Padded ",
        "properties": {
            "a": {"type": "integer", "minimum": 3, "maximum": 3},
            "b": {"enum": ["only"]},
            "c": {"pattern": "(unclosed", "format": "nope"},
            "d": {"if": {"type": "string"}, "then": {}},
            "e": {"const": 5, "enum": [1, 2]},
            "f": {"readOnly": True, "writeOnly": True, "examples": [1, 1]},
            "g": {"additionalProperties": False, "minProperties": 2,
                  "properties": {"x": {}}},
        },
        "definitions": {},
    }
    rules = {f["rule"] for f in lint_schema(schema)}
    assert {
        "title_trim", "equal_numeric_bounds_to_const", "enum_to_const",
        "pattern_non_ecma_regex", "unknown_format_prefix", "then_empty",
        "const_not_in_enum", "conflicting_readonly_writeonly",
        "duplicate_examples", "unsatisfiable_min_properties",
        "definitions_to_defs", "top_level_description",
    } <= rules
    fixed = lint_fix({"title": " x ", "enum": ["only"], "then": {},
                      "multipleOf": 1, "examples": [2, 2]})
    # multipleOf 1 is NOT a no-op without type integer (0.5 % 1 != 0) —
    # the reference gates multiple_of_default.h on type == "integer"
    assert fixed == {"title": "x", "const": "only", "examples": [2],
                     "multipleOf": 1}
    fixed_int = lint_fix({"type": "integer", "multipleOf": 1})
    assert fixed_int == {"type": "integer"}


# one minimal trigger fixture per reference linter rule file
# (/root/reference/vendor/blaze/src/alterschema/linter/<name>.h) — rule
# names match the reference file names one-for-one
_REF_LINT_FIXTURES = {
    "comment_trim": {"$comment": " x "},
    "conflicting_readonly_writeonly": {"readOnly": True, "writeOnly": True},
    "const_not_in_enum": {"const": 5, "enum": [1]},
    "content_schema_default": {"contentSchema": True},
    "definitions_to_defs": {"definitions": {"a": {}}},
    "dependencies_default": {"dependencies": {}},
    "dependent_required_default": {"dependentRequired": {}},
    "description_trailing_period": {"description": "x."},
    "description_trim": {"description": " x "},
    "disallow_default": {"disallow": []},
    "divisible_by_default": {"type": "integer", "divisibleBy": 1},
    "duplicate_examples": {"examples": [1, 1]},
    "else_empty": {"if": {}, "else": {}},
    "enum_to_const": {"enum": [1]},
    "equal_numeric_bounds_to_const": {"type": "integer", "minimum": 1, "maximum": 1},
    "forbid_empty_enum": {"enum": []},
    "incoherent_min_max_contains": {"contains": {}, "minContains": 2, "maxContains": 1},
    "invalid_external_ref": {"$ref": "https://nope.invalid/x.json"},
    "items_array_default": {"items": []},
    "items_schema_default": {"items": True},
    "multiple_of_default": {"type": "integer", "multipleOf": 1},
    "pattern_non_ecma_regex": {"pattern": "("},
    "pattern_properties_default": {"patternProperties": {}},
    "pattern_properties_non_ecma_regex": {"patternProperties": {"(": {}}},
    "portable_anchor_names": {"$anchor": "9bad"},
    "properties_default": {"properties": {}},
    "property_names_default": {"propertyNames": {}},
    "property_names_type_default": {"propertyNames": {"type": "string"}},
    "simple_properties_identifiers": {"properties": {"a-b": {}}},
    "then_empty": {"if": {}, "then": {}},
    "title_description_equal": {"title": "x", "description": "x"},
    "title_trailing_period": {"title": "x."},
    "title_trim": {"title": " x "},
    "top_level_description": {},
    "top_level_examples": {},
    "top_level_title": {},
    "unevaluated_items_default": {"unevaluatedItems": True},
    "unevaluated_properties_default": {"unevaluatedProperties": True},
    "unknown_format_prefix": {"format": "frobnicate"},
    "unnecessary_allof_ref_wrapper_modern": {"allOf": [{"$ref": "#/$defs/a"}],
                                             "$defs": {"a": {}}},
    "unnecessary_allof_wrapper": {"allOf": [{"required": ["a"]}]},
    "unnecessary_extends_wrapper": {"extends": {"$ref": "#/definitions/a"},
                                    "definitions": {"a": {}}},
    "unsatisfiable_max_contains": {"contains": {}, "maxContains": 3, "maxItems": 3},
    "unsatisfiable_min_properties": {"additionalProperties": False, "minProperties": 1},
    "valid_default": {"type": "integer", "default": "nope"},
    "valid_examples": {"type": "integer", "examples": ["nope"]},
}


def test_lint_full_reference_rule_parity():
    """Every one of the reference's 46 linter rules has a same-named
    analogue that fires on a minimal trigger fixture."""
    assert len(_REF_LINT_FIXTURES) == 46
    import os
    ref_dir = "/root/reference/vendor/blaze/src/alterschema/linter"
    if os.path.isdir(ref_dir):  # name-set parity against the actual files
        ref_names = {f[:-2] for f in os.listdir(ref_dir) if f.endswith(".h")}
        assert set(_REF_LINT_FIXTURES) == ref_names
    for name, fixture in _REF_LINT_FIXTURES.items():
        rules = {f["rule"] for f in lint_schema(fixture)}
        assert name in rules, f"{name} did not fire on {fixture}"


def test_lint_round3_closure_rules():
    """forbid_empty_enum / incoherent_min_max_contains /
    items_schema_default / top_level_examples / unnecessary_allof_wrapper
    — the last five reference analogues (linter/*.h cited in lint.py)."""
    s = {
        "type": "object",
        "allOf": [{"required": ["a"]}, {"minProperties": 1, "title": "x"}],
        "properties": {
            "a": {"enum": []},
            "b": {"contains": {}, "minContains": 2, "maxContains": 1},
            "c": {"items": True},
        },
    }
    rules = {f["rule"] for f in lint_schema(s)}
    assert {"forbid_empty_enum", "incoherent_min_max_contains",
            "items_schema_default", "top_level_examples",
            "unnecessary_allof_wrapper"} <= rules
    # enum:[] with sibling `not` is NOT reported (reference gate) and the
    # fix must not clobber the existing not
    assert "forbid_empty_enum" not in {
        f["rule"] for f in lint_schema({"enum": [], "not": {"type": "string"}})}
    assert lint_fix({"enum": []}) == {"not": {}}
    assert lint_fix({"enum": [], "not": {"type": "string"}}) == \
        {"enum": [], "not": {"type": "string"}}
    # min>max contains without a sibling contains keyword: silent (gated)
    assert "incoherent_min_max_contains" not in {
        f["rule"] for f in lint_schema({"minContains": 2, "maxContains": 1})}
    # top_level_examples fires at the ROOT only, absent or empty both count,
    # and a non-empty root examples silences it
    assert "top_level_examples" in {f["rule"] for f in lint_schema({"examples": []})}
    assert "top_level_examples" not in {
        f["rule"] for f in lint_schema({"examples": [1]})}
    # draft-4 has no examples vocabulary — rule gated off
    assert "top_level_examples" not in {
        f["rule"] for f in lint_schema(
            {"$schema": "http://json-schema.org/draft-04/schema#"})}
    # allOf elevation: unique non-conflicting keywords hoist, the annotation
    # stays, the emptied branch disappears
    fixed = lint_fix({"type": "object",
                      "allOf": [{"required": ["a"]},
                                {"minProperties": 1, "title": "t"}]})
    assert fixed == {"type": "object", "required": ["a"],
                     "minProperties": 1, "allOf": [{"title": "t"}]}
    # keyword present in TWO branches never elevates (frequency guard)
    dup = {"allOf": [{"required": ["a"]}, {"required": ["b"]}]}
    assert lint_fix(dup) == dup
    # unevaluated* anywhere in the parent suppresses elevation
    ue = {"unevaluatedProperties": False, "allOf": [{"required": ["a"]}]}
    assert "unnecessary_allof_wrapper" not in {f["rule"] for f in lint_schema(ue)}


def test_yaml_reader_and_schema(spark, tmp_path):
    pytest.importorskip("yaml")
    from jsonschema_spark.sources.readers import load_schema_file, read_yaml_dir

    d = tmp_path / "docs"
    d.mkdir()
    (d / "one.yaml").write_text("a: 1\nb: [x, y]\n")
    (d / "two.yml").write_text("a: 2\n")
    (d / "skip.json").write_text('{"a": 3}')
    df = read_yaml_dir(spark, str(d))
    docs = sorted(json.loads(r["doc"])["a"] for r in df.collect())
    assert docs == [1, 2]
    from jsonschema_spark import validate

    got = validate(df, {"required": ["a"], "properties": {"a": {"minimum": 2}}}, doc_col="doc")
    assert sorted(r["valid"] for r in got.collect()) == [False, True]
    (tmp_path / "s.yaml").write_text("type: object\nrequired: [a]\n")
    assert load_schema_file(str(tmp_path / "s.yaml")) == {"type": "object", "required": ["a"]}


def test_trace_rows(spark):
    from jsonschema_spark import trace

    schema = {"required": ["a"], "properties": {"a": {"type": "integer", "minimum": 5}}}
    docs = spark.createDataFrame([(1, '{"a": 3}'), (2, '{"a": 7}')], "id long, doc string")
    rows = trace(docs, schema, ["id"], doc_col="doc").collect()
    by_id = {}
    for r in rows:
        by_id.setdefault(r["id"], []).append((r["step"], r["keywordLocation"], r["ok"]))
    steps1 = sorted(by_id[1])
    # evaluation order: required, then properties child keywords, then /properties
    kws = [k for _, k, _ in steps1]
    assert kws == ["/required", "/properties/a/type", "/properties/a/minimum", "/properties"]
    oks = {k: ok for _, k, ok in steps1}
    assert oks["/required"] is True and oks["/properties/a/type"] is True
    assert oks["/properties/a/minimum"] is False and oks["/properties"] is False
    assert all(ok for _, _, ok in by_id[2])


def test_annotations_and_trace_keep_caller_column_names(spark):
    """Id columns may carry any name, helper-like ones included."""
    from jsonschema_spark import annotations, trace

    schema = {"title": "T", "properties": {"a": {"minimum": 5}}}
    docs = spark.createDataFrame([(1, 2, 3, 4, '{"a": 7}')],
                                 "_a long, __anns long, _s long, __steps long, doc string")
    ids = ["_a", "__anns", "_s", "__steps"]
    rows = annotations(docs, schema, ids, doc_col="doc").collect()
    assert {tuple(r[c] for c in ids) for r in rows} == {(1, 2, 3, 4)}
    assert sorted(r["keywordLocation"] for r in rows) == ["/properties", "/title"]
    rows = trace(docs, schema, ids, doc_col="doc").collect()
    assert {tuple(r[c] for c in ids) for r in rows} == {(1, 2, 3, 4)}
    assert [r["keywordLocation"] for r in sorted(rows, key=lambda r: r["step"])] == [
        "/properties/a/minimum", "/properties"]


def test_json_dir_multiline_files_whole(spark, tmp_path):
    """Regression: wholetext must be the reader kwarg — multi-line JSON
    files are ONE document, not one per line."""
    d = tmp_path / "ml"
    d.mkdir()
    (d / "doc.json").write_text('{\n  "a": 1,\n  "b": 2\n}\n')
    rows = read_instances(spark, str(d)).collect()
    assert len(rows) == 1 and json.loads(rows[0]["doc"]) == {"a": 1, "b": 2}


def test_spark_submit_py_files_job(tmp_path):
    """End-to-end spark-submit deployment shape (north_rule): the engine
    shipped as a --py-files zip, the job run in a fresh JVM from the zip
    (cwd moved so the repo copy is NOT importable), manifests written."""
    import shutil
    import subprocess
    import sys

    submit = shutil.which("spark-submit")
    if submit is None:
        pytest.skip("spark-submit not on PATH")
    sys.path.insert(0, "/root/repo/scripts")
    from package import build

    zip_path = build(str(tmp_path / "dist"))
    (tmp_path / "s.json").write_text(json.dumps(
        {"required": ["doc_id"], "properties": {"lang": {"enum": ["en", "de", "fr", "es"]}}}
    ))
    out, man = str(tmp_path / "out"), str(tmp_path / "man")
    proc = subprocess.run(
        [submit, "--master", "local[2]", "--py-files", zip_path,
         "/root/repo/scripts/submit_validate.py",
         "--input", "/root/testdata/sf0.001/documents.parquet",
         "--schema", str(tmp_path / "s.json"),
         "--output", out, "--manifests", man, "--partition-col", "lang"],
        capture_output=True, text=True, timeout=300, cwd=str(tmp_path),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    report = json.loads([ln for ln in proc.stdout.splitlines() if ln.startswith("{")][-1])
    assert sorted(report["processed_partitions"]) == ["de", "en", "es", "fr", "zh"]
    assert os.path.isfile(os.path.join(man, "part-en.json"))


def test_stream_drift_monitor_stateful(spark, tmp_path):
    """applyInPandasWithState: the second microbatch's baseline must be
    the first batch's accumulated histogram (real cross-batch state)."""
    from jsonschema_spark.streaming.validate import stream_drift_monitor

    src = str(tmp_path / "src")
    os.makedirs(src)
    b1 = spark.createDataFrame([("g", "en")] * 6 + [("g", "de")] * 2, "grp string, lang string")
    b2 = spark.createDataFrame([("g", "en")] * 2 + [("g", "de")] * 6, "grp string, lang string")
    b1.coalesce(1).write.parquet(src + "/b1")
    sdf = (
        spark.readStream.schema(b1.schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b*")
    )
    b2.coalesce(1).write.parquet(src + "/b2")
    out = stream_drift_monitor(sdf, "grp", "lang")
    q = (
        out.writeStream.format("memory").queryName("drift")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.sql("select * from drift").collect()
    # batch 1: empty baseline (n_base 0, diff NULL); batch 2: baseline = batch 1
    first = {(r["category"]): r for r in rows if r["n_base"] == 0 and r["diff_ppm"] is None}
    assert {c for c in first} >= {"en", "de"}
    second = {r["category"]: r for r in rows if r["n_base"] > 0}
    assert second["en"]["n_base"] == 6 and second["en"]["n_batch"] == 2
    # drift ppm: |6*8 - 2*8| * 1e6 // (8*8) = 500000
    assert second["en"]["diff_ppm"] == 500000


def test_trace_with_array_loops(spark):
    """Regression: loop applicators trace at their (static-loc) parent
    node; per-element compiles inside transform lambdas must NOT leak
    lambda-bound columns into the trace entries."""
    from jsonschema_spark import trace

    schema = {"properties": {"xs": {"type": "array", "minItems": 1,
                                    "items": {"type": "integer"}}}}
    docs = spark.createDataFrame([(1, '{"xs": [1, "b"]}')], "id long, doc string")
    rows = trace(docs, schema, ["id"], doc_col="doc").collect()
    kws = [r["keywordLocation"] for r in rows]
    assert "/properties/xs/type" in kws and "/properties/xs/items" in kws
    oks = {r["keywordLocation"]: r["ok"] for r in rows}
    assert oks["/properties/xs/items"] is False and oks["/properties/xs/minItems"] is True


def test_http_resolver_local_server(spark):
    """Remote $ref resolution against a real (localhost) HTTP server —
    transitive fetch, then compile+validate end-to-end."""
    import http.server
    import threading

    docs = {
        "/a.json": {"$ref": "http://HOST/b.json"},
        "/b.json": {"type": "integer", "minimum": 0},
    }

    class H(http.server.BaseHTTPRequestHandler):
        def do_GET(self):
            import json as _json

            body = _json.dumps(docs[self.path]).encode()
            self.send_response(200)
            self.send_header("Content-Type", "application/schema+json")
            self.end_headers()
            self.wfile.write(body)

        def log_message(self, *a):
            pass

    srv = http.server.HTTPServer(("127.0.0.1", 0), H)
    port = srv.server_address[1]
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    try:
        host = f"http://127.0.0.1:{port}"
        docs["/a.json"] = {"$ref": f"{host}/b.json"}
        from jsonschema_spark import compile_schema, validate
        from jsonschema_spark.sources.http_resolver import resolve_remote_refs

        schema = {"properties": {"n": {"$ref": f"{host}/a.json"}}}
        registry = resolve_remote_refs(schema)
        assert set(registry) == {f"{host}/a.json", f"{host}/b.json"}
        df = spark.createDataFrame([(5,), (-2,)], "n long")
        got = [r["valid"] for r in
               validate(df, compile_schema(schema, resolver=registry)).collect()]
        assert got == [True, False]
    finally:
        srv.shutdown()


def test_http_resolver_injected_fetch():
    from jsonschema_spark.sources.http_resolver import http_resolver, resolve_remote_refs

    store = {
        "https://e.com/x.json": '{"$ref": "https://e.com/y.json"}',
        "https://e.com/y.json": '{"type": "string"}',
    }
    reg = http_resolver(["https://e.com/x.json"], fetch=store.__getitem__)
    assert reg == {"https://e.com/x.json": {"$ref": "https://e.com/y.json"}}
    full = resolve_remote_refs({"$ref": "https://e.com/x.json"}, fetch=store.__getitem__)
    assert full["https://e.com/y.json"] == {"type": "string"}
    # fetch budget guards runaway transitive chains
    import pytest as _pytest

    loop = {"https://e.com/a.json": '{"$ref": "https://e.com/b.json"}',
            "https://e.com/b.json": '{"$ref": "https://e.com/a.json"}'}
    full2 = resolve_remote_refs({"$ref": "https://e.com/a.json"}, fetch=loop.__getitem__)
    assert set(full2) == {"https://e.com/a.json", "https://e.com/b.json"}
    many = {f"https://e.com/{i}.json": f'{{"$ref": "https://e.com/{i+1}.json"}}'
            for i in range(200)}
    with _pytest.raises(ValueError, match="budget"):
        resolve_remote_refs({"$ref": "https://e.com/0.json"},
                            fetch=many.__getitem__, max_fetches=8)


def test_lint_dangling_local_ref_reports_not_crashes():
    # pyeval._pointer used to raise raw KeyError on a dangling local $ref,
    # crashing lint_schema out of valid_default (ADVICE r2)
    out = lint_schema({"default": 1, "$ref": "#/$defs/nope",
                       "$defs": {"other": {"type": "integer"}}})
    assert isinstance(out, list)  # must not raise
    out2 = lint_schema({"examples": [1], "$ref": "#/$defs/a/9",
                        "$defs": {"a": []}})
    assert isinstance(out2, list)


def test_media_header_parsers_golden():
    """Hand-built container fixtures — independent of synth_media_bytes —
    plus malformed/truncated negatives."""
    import struct

    from jsonschema_spark.operators.multimodal import (
        parse_image_header, parse_media_header, parse_mp4_header,
        parse_wav_header)

    # PNG: 640x480
    png = (b"\x89PNG\r\n\x1a\n" + struct.pack(">I", 13) + b"IHDR"
           + struct.pack(">II", 640, 480) + b"\x08\x06\x00\x00\x00" + b"Z" * 4)
    assert parse_image_header(png) == {"format": "png", "width": 640, "height": 480}
    # GIF87a little-endian dims
    gif = b"GIF87a" + struct.pack("<HH", 320, 200) + b"\x91\x00\x00"
    assert parse_image_header(gif) == {"format": "gif", "width": 320, "height": 200}
    # JPEG with DQT + DHT segments BEFORE the SOF2 (progressive) marker,
    # and a restart marker thrown in
    dqt = b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + b"\x01" * 64
    dht = b"\xff\xc4" + struct.pack(">H", 19) + b"\x00" + b"\x02" * 16
    sof2 = b"\xff\xc2" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 1080, 1920) + b"\x01\x22\x00"
    jpg = b"\xff\xd8" + dqt + dht + b"\xff\x01" + sof2 + b"\xff\xd9"
    assert parse_image_header(jpg) == {"format": "jpeg", "width": 1920, "height": 1080}
    # WAV 44.1k stereo 16-bit, 1s of data declared (odd-size chunk padding)
    fmt = struct.pack("<HHIIHH", 1, 2, 44100, 176400, 4, 16)
    junk = b"LIST" + struct.pack("<I", 3) + b"abc\x00"  # odd size → pad byte
    wav = (b"RIFF" + struct.pack("<I", 36 + 176400) + b"WAVE"
           + b"fmt " + struct.pack("<I", 16) + fmt + junk
           + b"data" + struct.pack("<I", 176400))
    got = parse_wav_header(wav)
    assert got == {"format": "wav", "sample_rate_hz": 44100, "channels": 2,
                   "duration_ms": 1000}
    # MP4 mvhd version 1 (64-bit duration), timescale 90000
    mvhd1 = (struct.pack(">I", 120) + b"mvhd" + b"\x01\x00\x00\x00"
             + struct.pack(">QQ", 0, 0) + struct.pack(">I", 90000)
             + struct.pack(">Q", 90000 * 7) + b"\x00" * 80)
    moov = struct.pack(">I", 8 + 120) + b"moov" + mvhd1
    ftyp = struct.pack(">I", 16) + b"ftyp" + b"mp42" + struct.pack(">I", 0)
    got = parse_mp4_header(ftyp + moov)
    assert got["format"] == "mp4" and got["duration_ms"] == 7000
    # negatives: wrong magic, truncated SOF, short buffers
    assert parse_media_header(b"plain text")["format"] is None
    assert parse_media_header(b"\xff\xd8\xff\xc0\x00\x0b\x08")["format"] is None
    assert parse_media_header(b"RIFFxxxxWAVE")["format"] is None
    assert parse_media_header(b"")["format"] is None
    assert parse_media_header(b"GIF89a\x01")["format"] is None


def test_media_headers_end_to_end(spark):
    """payload="media" + decoder="headers": every parsed field equals the
    planted arithmetic value (the oracle query's pytest twin)."""
    from jsonschema_spark.operators.multimodal import synth_media_fields

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(60)
    media = media_from_documents(docs, payload="media")
    feats = extract_features(media, decoder="headers")
    for r in feats.collect():
        exp = synth_media_fields(r["media_id"])
        for k in ("kind", "format", "width", "height", "duration_ms",
                  "sample_rate_hz", "channels"):
            assert r[k] == exp[k], (r["media_id"], k, r[k], exp[k])
        assert r["n_bytes"] > 0 and len(r["sha"]) == 64


def test_lint_fix_type_drop_gated_on_value_conformance():
    """enum_with_type.h / const_with_type.h drop `type` ONLY when every
    enum value / the const conforms to it; const_not_in_enum.h is
    report-only (mutates=false). Unconditional drops widened the schema
    (fuzz-caught verdict flips)."""
    from jsonschema_spark.plans.pyeval import validate_py

    # mixed-type enum: type must survive (it still rejects "ab" and 2.5)
    s = {"enum": [10, "ab", 2.5], "type": ["integer", "boolean"]}
    f = lint_fix(s)
    assert validate_py(f, 2.5) is False and validate_py(f, "ab") is False
    assert validate_py(f, 10) is True
    # all-conforming enum: type drops
    assert lint_fix({"enum": [1, 2], "type": "integer"}) == {"enum": [1, 2]}
    # inside `not` the widening inverts the verdict — the original repro
    s2 = {"not": {"enum": ["a1", 1.5, 1.0], "type": "string"}}
    assert validate_py(lint_fix(s2), 1.5) is validate_py(s2, 1.5) is True
    # const not in enum: keep both (divergence is a finding, not a fix)
    s3 = {"enum": [-3, True], "type": "integer", "const": 10}
    f3 = lint_fix(s3)
    assert validate_py(f3, 10) is False
    # const in enum: enum drops; conforming type drops too
    assert lint_fix({"const": 2, "enum": [1, 2], "type": "integer"}) == {"const": 2}


def test_stream_sessionize_matches_batch(spark, tmp_path):
    """Streaming session_window under a watermark must produce exactly the
    batch sessionize() sessions once the stream is drained
    (availableNow + append = every session finalized)."""
    from jsonschema_spark.operators.stats import sessionize
    from jsonschema_spark.streaming.validate import stream_sessionize

    src = str(tmp_path / "sess_src")
    # user 99 is a far-future sentinel: it advances the final watermark
    # past every June-1 session end so append mode FINALIZES them; its
    # own (still-open) session is the one row allowed to differ.
    rows = [(i % 5, f"2021-06-01 00:{(i * 7) % 60:02d}:00", float(i)) for i in range(40)]
    rows.append((99, "2021-06-02 00:00:00", 0.0))
    batch = spark.createDataFrame(
        rows, "user_id long, ts_s string, value double",
    ).select("user_id", F.col("ts_s").cast("timestamp").alias("ts"), "value")
    batch.write.parquet(src)
    sdf = spark.readStream.schema(batch.schema).parquet(src)
    out = stream_sessionize(sdf, "user_id", "ts", gap="5 minutes",
                            watermark="1 second", value_col="value")
    q = (out.writeStream.format("memory").queryName("sessions")
         .outputMode("append").trigger(availableNow=True).start())
    q.awaitTermination(120)
    got = {tuple(r) for r in spark.sql("select * from sessions").collect()
           if r["user_id"] != 99}
    want = {tuple(r) for r in sessionize(
        batch, "user_id", "ts", gap="5 minutes", value_col="value").collect()
        if r["user_id"] != 99}
    assert got == want and len(want) > 5


def test_sniff_mime_magic_bytes(spark):
    """Hand-built magic prefixes for every detected format, plus the
    synthetic container headers, the garbage/empty/NULL fallthroughs and
    the container-before-codec zip case."""
    import pyspark.sql.functions as F

    from jsonschema_spark.operators.multimodal import (sniff_mime,
                                                       synth_media_bytes)

    rows = [
        (1, synth_media_bytes(0), "image/png"),
        (2, synth_media_bytes(3), "image/gif"),
        (3, synth_media_bytes(6), "image/jpeg"),
        (4, synth_media_bytes(1), "audio/x-wav"),
        (5, synth_media_bytes(2), "video/mp4"),
        (6, b"%PDF-1.5 blah", "application/pdf"),
        (7, b"\x1f\x8b\x08rest", "application/gzip"),
        (8, b"PK\x03\x04docx-is-a-zip", "application/zip"),
        (9, b"RIFF\x00\x00\x00\x00WEBPVP8 ", "image/webp"),
        (10, b"\xde\xad\xbe\xef", "application/octet-stream"),
        (11, b"", "application/octet-stream"),
        (12, None, None),
        # truncated magic must NOT match (png prefix cut short)
        (13, b"\x89PNG\r\n", "application/octet-stream"),
    ]
    df = spark.createDataFrame(
        [(i, b) for i, b, _ in rows], "media_id long, payload binary")
    got = {r["media_id"]: r["mime"]
           for r in df.select("media_id",
                              sniff_mime(F.col("payload")).alias("mime"))
           .collect()}
    for i, _, want in rows:
        assert got[i] == want, (i, got[i], want)


def test_mime_profile_census(spark):
    from jsonschema_spark.operators.multimodal import mime_profile_df

    df = spark.createDataFrame(
        [(b"%PDF-x",), (b"%PDF-yy",), (b"\xde\xad",)],
        "payload binary")
    got = {r["mime"]: (r["n"], r["total_bytes"])
           for r in mime_profile_df(df).collect()}
    assert got["application/pdf"] == (2, 13)
    assert got["application/octet-stream"] == (1, 2)
