"""Physical-plan regression guards — the scale-discipline contract.

These assert the properties the 100 TB posture depends on, so a refactor
can't silently regress them: the hot validation path stays inside
whole-stage codegen with no Python eval, filters and column pruning
reach the parquet scan, candidate-pair joins never degenerate to a
cross product, and the codec path uses Arrow batching (never
row-at-a-time BatchEvalPython)."""

import contextlib
import io
import re

import pytest
from pyspark.sql import functions as F

from jsonschema_spark import validate

DOCS = "/root/testdata/sf0.001/documents.parquet"

SCHEMA = {"required": ["doc_id"],
          "properties": {"lang": {"enum": ["en", "de", "fr", "es"]},
                         "n_chars": {"minimum": 1, "maximum": 400}}}


@pytest.fixture
def no_codegen_fallback(spark):
    """Run the test with ``spark.sql.codegen.fallback`` off: a plan whose
    generated code does not compile fails its job instead of running
    interpreted without a signal."""
    prev = spark.conf.get("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try:
        yield
    finally:
        spark.conf.set("spark.sql.codegen.fallback", prev)


def _plan(df, mode="formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode)
    return buf.getvalue()


def test_fast_validate_is_pure_codegen(spark, no_codegen_fallback):
    df = validate(spark.read.parquet(DOCS), SCHEMA)
    plan = _plan(df)
    # formatted mode marks whole-stage-codegen stages as "[codegen id : N]"
    # (simple mode shows them as the "*(N)" prefix)
    assert "[codegen id : 1]" in plan and "*(1)" in _plan(df, "simple")
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # verdict column = zero shuffles
    assert df.filter(~F.col("valid")).count() >= 0


def test_filter_pushdown_reaches_scan(spark):
    df = spark.read.parquet(DOCS).filter(F.col("lang") == "en")
    plan = _plan(validate(df, SCHEMA))
    assert "PushedFilters: [IsNotNull(lang), EqualTo(lang,en)]" in plan


def test_column_pruning_reaches_scan(spark):
    df = validate(spark.read.parquet(DOCS), SCHEMA).select("doc_id", "valid")
    plan = _plan(df)
    # html/text-sized columns are never read for this projection
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln][0]
    assert "text" not in read_schema and "source" not in read_schema
    assert "doc_id" in read_schema and "lang" in read_schema


def test_pair_join_is_not_cross_product(spark):
    from jsonschema_spark.operators.dedup import minhash_lsh_pairs

    pairs = minhash_lsh_pairs(spark.read.parquet(DOCS), "doc_id", "text")
    plan = _plan(pairs, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_codec_path_is_arrow_batched(spark):
    from jsonschema_spark.operators.binpack import binpack_encode

    df = spark.read.parquet(DOCS).select(
        F.to_json(F.struct("doc_id", "lang")).alias("doc"))
    plan = _plan(df.select(binpack_encode(F.col("doc"))))
    assert "ArrowEvalPython" in plan
    assert "BatchEvalPython" not in plan  # row-at-a-time Python is banned


def test_quality_filter_is_python_free(spark):
    from jsonschema_spark.operators.textstats import webtext_filters

    plan = _plan(webtext_filters(spark.read.parquet(DOCS), "doc_id", "text"))
    assert "EvalPython" not in plan  # neither Batch- nor Arrow-


def test_sessionize_single_exchange_no_python(spark):
    from jsonschema_spark.operators.stats import sessionize

    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    df = sessionize(ev, "user_id", "ts", gap="12 hours", value_col="value")
    # native session windows: partial agg map-side, ONE exchange, then
    # Sort + MergingSessions — and never a per-event Python stage
    simple = _plan(df, "simple")
    assert simple.count("Exchange") == 1
    assert "MergingSessions" in simple
    assert "EvalPython" not in _plan(df)


def test_semantic_dedup_pairs_no_cross_product_arrow_only(spark):
    from jsonschema_spark.operators.similarity import semantic_dedup_pairs

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = semantic_dedup_pairs(emb, "vec_id", "embedding", n_centroids=4)
    plan = _plan(pairs, "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    full = _plan(pairs)
    # cell assignment + in-cell scoring are Arrow-batched, never row-at-a-time
    assert "BatchEvalPython" not in full


def test_prototypicality_zero_shuffle_projection(spark):
    from jsonschema_spark.operators.similarity import prototypicality

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(prototypicality(emb, "vec_id", "embedding", n_centroids=4), "simple")
    # after the collected centroid agg, scoring is a pure projection:
    # no exchange, no join in the returned plan
    assert "Exchange" not in plan
    assert "Join" not in plan


def test_leakage_split_pure_projection(spark):
    from jsonschema_spark.operators.curate import leakage_safe_split

    d = spark.read.parquet(DOCS)
    plan = _plan(leakage_safe_split(d, "doc_id", "source"), "simple")
    assert "Exchange" not in plan and "EvalPython" not in plan


def test_tfidf_no_cross_product(spark):
    from jsonschema_spark.operators.textstats import tfidf_top_terms

    d = spark.read.parquet(DOCS)
    plan = _plan(tfidf_top_terms(d, "doc_id", "text"), "simple")
    assert "CartesianProduct" not in plan
    # the one-row N aggregate joins via broadcast nested loop ON PURPOSE
    # (a single-row build side); the term join must be a hash join
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_html_extract_pure_codegen_projection(spark):
    from jsonschema_spark.operators.htmltext import html_text_df

    pages = spark.createDataFrame(
        [(1, b"<p>x</p>")], "doc_id long, html binary")
    plan = _plan(html_text_df(pages), "simple")
    # the whole regex chain runs inside the scan projection
    assert "Exchange" not in plan and "EvalPython" not in plan
    assert "*(1)" in plan


def test_bm25_broadcast_only_filter_on_explode(spark):
    """bm25: query-term filter fused with the explode (the corpus never
    shuffles unfiltered), joins broadcast-only, zero Python."""
    from jsonschema_spark.operators.search import bm25_topk

    df = spark.read.parquet(DOCS)
    plan = _plan(bm25_topk(df, "doc_id", "text", ["data", "spark", "row"], k=5),
                 "simple")
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert "Python" not in plan
    # the tf table is checkpointed (one corpus explode feeds both the
    # df-counts aggregate and the scoring join) — the filtered explode
    # lives inside the RDD lineage, so the SQL plan scans ExistingRDD
    assert "Scan ExistingRDD" in plan
    # the only parquet scan left is the N/Σdl scalar agg, pruned to text
    assert plan.count("FileScan parquet") == 1
    assert "ReadSchema: struct<text:string>" in plan


def test_script_profile_zero_exchange_projection(spark):
    from jsonschema_spark.operators.textstats import script_profile

    df = spark.read.parquet(DOCS)
    plan = _plan(script_profile(df, "doc_id", "text"), "simple")
    assert "Exchange" not in plan and "Python" not in plan


def test_robots_filter_no_cross_product(spark):
    from jsonschema_spark.operators.robots import robots_filter, robots_rules_df

    robots = spark.createDataFrame(
        [("a.org", "User-agent: *\nDisallow: /x\n")], ["host", "robots_txt"])
    urls = spark.createDataFrame([(1, "https://a.org/x")], ["doc_id", "url"])
    plan = _plan(robots_filter(urls, robots_rules_df(robots)), "simple")
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_top_ngrams_no_full_vocabulary_window(spark):
    """top_ngrams must rank via TakeOrderedAndProject (parallel
    per-partition top-k), NEVER a row_number window over the full
    distinct-gram table — at crawl scale that funnels billions of rows
    through one task (VERDICT r3 finding #1)."""
    from jsonschema_spark.operators.textstats import top_ngrams

    df = spark.read.parquet(DOCS)
    plan = _plan(top_ngrams(df, "doc_id", "text", n=2, k=5), "simple")
    assert "TakeOrderedAndProject" in plan
    # the single-partition funnel is gone entirely: the only Window sits
    # ABOVE the limit (ranks the k survivors), so no SinglePartition
    # exchange exists anywhere in the plan
    assert "Exchange SinglePartition" not in plan
    lines = plan.splitlines()
    w_idx = [i for i, ln in enumerate(lines) if "Window" in ln]
    t_idx = [i for i, ln in enumerate(lines) if "TakeOrderedAndProject" in ln]
    assert len(w_idx) == 1 and len(t_idx) == 1
    assert w_idx[0] < t_idx[0]  # tree prints root-first: window above limit


def test_frontier_interleave_no_global_window(spark):
    """frontier_interleave's fetch_order must come from range-partition +
    per-partition row_number + broadcast offsets — the only
    SinglePartition exchange allowed is the tiny (≤ shuffle partitions)
    offsets cumsum on the broadcast side (VERDICT r3 finding #2)."""
    from jsonschema_spark.operators.urltools import frontier_interleave

    urls = spark.read.parquet(DOCS).select(
        F.concat(F.lit("https://h"), (F.col("doc_id") % 7).cast("string"),
                 F.lit(".org/p/"), F.col("doc_id").cast("string")).alias("url"),
        (F.col("doc_id") % 13).alias("prio"),
    )
    plan = _plan(frontier_interleave(urls, priority_col="prio"), "simple")
    # the corpus-side window is partitioned by the range-partition id
    assert "windowspecdefinition(_pid" in plan
    assert "BroadcastHashJoin" in plan
    lines = plan.splitlines()
    sp = [i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln]
    be = [i for i, ln in enumerate(lines) if "BroadcastExchange" in ln]
    assert len(sp) == 1 and len(be) == 1
    assert sp[0] > be[0]  # the funnel lives INSIDE the broadcast subtree


def test_warc_jvm_path_python_free(spark):
    from jsonschema_spark.sources.warc import warc_records

    df = spark.createDataFrame([(1, "WARC/1.0\r\n\r\nx\r\n\r\n")],
                               ["file_id", "warc"])
    assert "Python" not in _plan(warc_records(df), "simple")


def _small_jobs(table: dict) -> list:
    """``(schema, exhaustive)`` of each ``small_jobs`` job whose schema is
    in ``table``, in the mode the job runs it: fast for verdict counts,
    exhaustive without short-circuit otherwise."""
    from perfbench.workloads import SmallJobs

    return [(table[name], call != "verdicts")
            for name, call in dict(SmallJobs.ROTATION).items() if name in table]


def _run_twice(dfs, schema, exhaustive: bool, doc_col=None) -> None:
    """Run the plan of one ``small_jobs`` job over each of ``dfs``: the
    second build reuses the first's cached plan."""
    from jsonschema_spark import annotate

    for df in dfs:
        if exhaustive:
            out = annotate(df, schema, doc_col=doc_col, short_circuit=False).select(F.size("violations"))
        else:
            out = validate(df, schema, doc_col=doc_col).select("valid")
        assert len(out.collect()) == df.count(), schema


def test_exhaustive_plans_stay_in_codegen(spark, no_codegen_fallback):
    """Exhaustive ``annotate`` plans, and every ``small_jobs`` tree plan in
    the mode its job runs, compile within janino's 64 KB method limit.
    Spark normally falls back to interpreted evaluation, without a signal,
    when generated code does not compile; with ``spark.sql.codegen.fallback``
    off such a plan fails the job instead. Each ``small_jobs`` plan runs over
    two DataFrames, so a plan-cache hit stays in codegen too."""
    from perfbench.schemas import EVENTS, SMALL_TREE
    from test_conformance import ADVERSARIAL

    from jsonschema_spark import annotate

    kind = EVENTS["properties"]["kind"]["enum"][0]
    event_docs = [
        '{"id": 1, "ts": "2024-01-01T00:00:00Z", "kind": "%s", "user": {"name": "ann_1", '
        '"age": 30}, "items": [{"sku": "SKU-0001", "qty": 3}], "score": 1.5}' % kind,
        '{"id": -1, "ts": "x", "kind": "?", "user": {"name": "A", "age": 200, "x": 1}, '
        '"items": [{"sku": "bad", "qty": 0}], "score": "s"}',
        "{}", "[1]",
    ]
    cases = [("perfbench EVENTS", EVENTS, event_docs)]
    cases += [(desc, schema, [doc for doc, _ in checks]) for desc, schema, checks in ADVERSARIAL
              if desc in ("deeply nested properties", "escaped property names in pointers")]
    assert len(cases) == 3
    jobs = _small_jobs(SMALL_TREE)
    assert len(jobs) == len(SMALL_TREE)
    doc_dfs = [spark.createDataFrame([(d,) for d in docs], "doc string")
               for docs in (event_docs, event_docs[1:] + ['{"user": {"name": "bo_2", "age": 9}}'])]
    for desc, schema, docs in cases:
        df = spark.createDataFrame([(d,) for d in docs], "doc string")
        for sc in (True, False):
            out = annotate(df, schema, doc_col="doc", short_circuit=sc)
            n = out.select(F.size("violations").alias("n")).collect()
            assert len(n) == len(docs), (desc, sc)
    for schema, exhaustive in jobs:
        _run_twice(doc_dfs, schema, exhaustive, doc_col="doc")


def test_flat_struct_const_is_python_free(spark, no_codegen_fallback):
    """A nested struct compares with an object constant member by member,
    inside the JVM: no Arrow round trip through a canonical-JSON UDF."""
    df = spark.createDataFrame([((1, "x"),)], "o struct<p: bigint, q: string>")
    for sub, want in (({"const": {"p": 1}}, False), ({"enum": [{"p": 1, "q": "x"}, {"q": "y"}]}, True)):
        out = validate(df, {"properties": {"o": sub}})
        assert "EvalPython" not in _plan(out), sub
        assert [r.valid for r in out.collect()] == [want], sub


def test_standard_output_python_only_for_positions(spark, no_codegen_fallback):
    """A Basic report with annotations is built in the JVM: no Python
    evaluation without positions, and with them exactly one Arrow UDF,
    the one returning the source spans."""
    from jsonschema_spark import standard_output

    df = spark.createDataFrame([(1, '{"a": 1}'), (2, '{"a": "x"}'), (3, "not json")],
                               "id long, doc string")
    schema = {"title": "t", "properties": {"a": {"type": "integer", "examples": [1]}}}
    plain = standard_output(df, schema, doc_col="doc", annotations=True)
    assert "EvalPython" not in _plan(plain)
    spanned = _plan(standard_output(df, schema, doc_col="doc", annotations=True, positions=True), "simple")
    assert spanned.count("ArrowEvalPython") == 1 and "BatchEvalPython" not in spanned
    assert spanned.count("_spans_udf(") == 1
    assert len(plain.collect()) == 3


def test_flat_plans_stay_in_codegen(spark, no_codegen_fallback):
    """Exhaustive flat ``annotate`` of the
    perfbench pages schema and of the seeded metamorphic schemas over their
    typed row, and every ``small_jobs`` flat plan in the mode its job runs
    (over two DataFrames, so a plan-cache hit is covered), compile within
    janino's limits: with ``spark.sql.codegen.fallback`` off, a plan that
    does not fails the job."""
    import datetime
    import random

    from perfbench.schemas import PAGES, SMALL_FLAT
    from test_metamorphic import COLS, _rand_schema, _rows

    from jsonschema_spark import annotate

    pages_ddl = "url string, warc_ts timestamp, html binary, text string, lang string, day date"
    pages = spark.createDataFrame([
        ("https://a.example/x", datetime.datetime(2024, 1, 1), b"<p>x</p>", "x", "en",
         datetime.date(2024, 1, 1)),
        ("ftp://bad", None, None, "", "xx", None),
    ], pages_ddl)
    more_pages = spark.createDataFrame([
        ("http://b.example/", datetime.datetime(2024, 2, 3, 4, 5), b"", None, "de",
         datetime.date(2024, 2, 3)),
    ], pages_ddl)
    jobs = _small_jobs(SMALL_FLAT)
    assert len(jobs) == len(SMALL_FLAT)
    cols_df = spark.createDataFrame(_rows(random.Random(3), 12), COLS)
    cases = [(PAGES, pages)] + [(_rand_schema(random.Random(1000 + i)), cols_df) for i in range(25)]
    for schema, df in cases:
        for sc in (True, False):
            n = annotate(df, schema, short_circuit=sc).select(F.size("violations").alias("n")).collect()
            assert len(n) == df.count(), (schema, sc)
    for schema, exhaustive in jobs:
        _run_twice([pages, more_pages], schema, exhaustive)


def _closing(text: str, at: int) -> int:
    """The index just past the parenthesis closing the one at ``at``."""
    depth = 0
    for end in range(at, len(text)):
        depth += {"(": 1, ")": -1}.get(text[end], 0)
        if depth == 0:
            return end + 1
    raise ValueError("unbalanced plan text")


def _lambda_bodies(text: str) -> str:
    """The outermost ``lambdafunction(...)`` calls in a plan's text."""
    bodies, start = [], 0
    while (at := text.find("lambdafunction(", start)) >= 0:
        start = _closing(text, at + len("lambdafunction"))
        bodies.append(text[at:start])
    return "".join(bodies)


def _enclosing_call(text: str, at: int) -> str:
    """The name of the call whose argument list holds ``text[at]``."""
    depth = 0
    for i in range(at - 1, -1, -1):
        depth += {")": 1, "(": -1}.get(text[i], 0)
        if depth < 0:
            return re.search(r"\w*$", text[max(0, i - 64):i]).group()
    return ""


def _variant_reads_in_lambdas(df) -> tuple:
    """``(member type tests, type-name reads, path reads)`` inside the
    lambda functions of ``df``'s analyzed plan: ``schema_of_variant`` of a
    bound member (``b.o.<name>``), ``schema_of_variant`` looked up in the
    scalar type names by ``try_element_at`` (``tag()``, whose CASE reaches
    it only on a scalar), and ``try_variant_get(…, $.<name>, …)``. Any
    other ``schema_of_variant`` fails the test: it may render a whole
    object or array."""
    text = _lambda_bodies(df._jdf.queryExecution().analyzed().toString())
    members = tags = 0
    for m in re.finditer(r"schema_of_variant\(", text):
        arg = text[m.end():_closing(text, m.end() - 1) - 1]
        if re.fullmatch(r"lambda \w+#\d+\.o\.\w+", arg):
            members += 1
        elif _enclosing_call(text, m.start()) == "try_element_at":
            tags += 1
        else:
            raise AssertionError(f"schema_of_variant of a loop value that is not a member: {arg}")
    return members, tags, len(re.findall(r", \$\.\w", text))


def test_tree_loops_read_each_element_once(spark, no_codegen_fallback):
    """The element loops of the perfbench ``EVENTS`` tree plans bind each
    element once: no type test renders an object or array, no member is
    read by path, and each scalar type test on a member reads one
    ``schema_of_variant`` of that member. The member reads are bounded by
    their count when loops were first bound: the fast plan makes one per
    type test (sku, qty and price each have a type and a guarded keyword,
    and contains tests qty), both exhaustive plans repeat a part's test in
    its parent's pick of failing parts, and at most one type name is read,
    for the message of an element that is not an object. A higher count
    is a repeated read. Each plan runs with ``spark.sql.codegen.fallback``
    off."""
    from perfbench.schemas import EVENTS

    from jsonschema_spark import annotate

    df = spark.createDataFrame([
        ('{"items": [{"sku": "SKU-0001", "qty": 3, "price": 1.5}, {"sku": 1, "qty": "x"}, [], null]}',),
        ("[1]",)], "doc string")
    plans = {
        "fast": (validate(df, EVENTS, doc_col="doc"), 7),
        "exhaustive": (annotate(df, EVENTS, doc_col="doc"), 45),
        "exhaustive, short_circuit=False": (annotate(df, EVENTS, doc_col="doc", short_circuit=False), 64),
    }
    for name, (out, bound) in plans.items():
        members, tags, paths = _variant_reads_in_lambdas(out)
        assert (members <= bound, tags <= 1, paths) == (True, True, 0), (name, members, tags, paths)
        assert len(out.collect()) == 2, name


_DEEP = {"uniqueItems": True, "multipleOf": 0.01, "enum": [[1, 2.0], {"x": 1}, 0.07, [[1]], "s"],
         "not": {"const": {"x": [1.0]}}}


def test_deep_equality_and_divisibility_are_python_free(spark, no_codegen_fallback):
    """``uniqueItems``, a container ``const``/``enum`` and a decimal
    ``multipleOf``, at the root and inside element and member loops, plan
    no Python evaluation on the tree or the flat path, fast or exhaustive
    in both ``short_circuit`` modes, and run within generated code."""
    from jsonschema_spark import annotate

    tree = spark.createDataFrame([(d,) for d in (
        "[1, 2.0]", '{"x": 1}', "0.07", '[[1], [1.0]]', '{"a": [0.075, {"x": 1}]}', '[{"x": 1}, [1, 2]]',
    )], "doc string")
    tree_schema = {**_DEEP, "items": _DEEP, "additionalProperties": _DEEP}
    flat = spark.createDataFrame([
        (0.07, [1, 2], [[1], [1]], [{"x": 1}], {"k": [0.07, 0.075]}),
        (0.075, [2, 2], [[2, 1]], [{"x": 2}, None], {}),
    ], "n double, a array<bigint>, aa array<array<bigint>>, am array<map<string,bigint>>, "
       "mm map<string,array<double>>")
    flat_schema = {"additionalProperties": _DEEP,
                   "properties": {"aa": {"items": _DEEP}, "am": {"items": _DEEP},
                                  "mm": {"additionalProperties": _DEEP}}}
    for df, schema, doc_col in ((tree, tree_schema, "doc"), (flat, flat_schema, None)):
        outs = [validate(df, schema, doc_col=doc_col).select("valid")]
        outs += [annotate(df, schema, doc_col=doc_col, short_circuit=sc).select(F.size("violations"))
                 for sc in (True, False)]
        for out in outs:
            assert "EvalPython" not in _plan(out), (doc_col, _plan(out))
            assert len(out.collect()) == df.count()


def test_formats_are_python_free(spark, no_codegen_fallback, tmp_path):
    """Every `format` but `regex` is a JVM expression: on the flat and the
    tree path, fast and exhaustive, its plan has no Python evaluation and
    runs in one whole-stage codegen stage."""
    import json

    from jsonschema_spark import annotate
    from jsonschema_spark.functions.formats import FORMATS

    fmts = sorted(f for f, spec in FORMATS.items() if not spec.in_python)
    assert len(fmts) == 20
    schema = {"properties": {f: {"type": "string", "format": f} for f in fmts}}
    values = ["2024-01-01", "example.com", "not a uri"]
    flat = str(tmp_path / "flat")
    spark.createDataFrame([tuple([v] * len(fmts)) for v in values],
                          ", ".join(f"`{f}` string" for f in fmts)).write.parquet(flat)
    tree = str(tmp_path / "tree")
    spark.createDataFrame([(json.dumps(dict.fromkeys(fmts, v)),) for v in values],
                          "doc string").write.parquet(tree)
    for path, doc_col in ((flat, None), (tree, "doc")):
        df = spark.read.parquet(path)
        for out in (validate(df, schema, doc_col=doc_col).select("valid"),
                    annotate(df, schema, doc_col=doc_col).select(F.size("violations"))):
            plan = _plan(out)
            assert "EvalPython" not in plan, (doc_col, plan)
            assert set(re.findall(r"\[codegen id : (\d+)\]", plan)) == {"1"}, (doc_col, plan)
            assert len(out.collect()) == len(values)


def test_unicode_property_pattern_is_python_free(spark, no_codegen_fallback, tmp_path):
    """A `\\p{…}` `pattern` runs as `rlike`: flat and tree, its plan has no
    Python evaluation and one whole-stage codegen stage, and
    ``plans/inspect.py`` labels it a column expression, not ``pandas``."""
    import json

    from jsonschema_spark import inspect_schema

    pattern = r"^\p{Lu}\p{Ll}+$"
    values = ["Émile", "émile", "ÉMILE"]
    flat = str(tmp_path / "flat")
    spark.createDataFrame([(v,) for v in values], "name string").write.parquet(flat)
    tree = str(tmp_path / "tree")
    spark.createDataFrame([(json.dumps({"name": v}),) for v in values], "doc string").write.parquet(tree)
    schema = {"properties": {"name": {"type": "string", "pattern": pattern}}}
    for path, doc_col in ((flat, None), (tree, "doc")):
        out = validate(spark.read.parquet(path), schema, doc_col=doc_col).select("valid")
        plan = _plan(out)
        assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan, (doc_col, plan)
        assert set(re.findall(r"\[codegen id : (\d+)\]", plan)) == {"1"}, (doc_col, plan)
        assert sorted(r.valid for r in out.collect()) == [False, False, True], doc_col
    strategies = {r["keyword"]: r["strategy"] for r in inspect_schema(schema)}
    assert strategies["pattern"] == "column"


def test_pages_string_keywords_take_cheap_kernels(spark, no_codegen_fallback):
    """In the fast plan of the perfbench pages schema every string keyword
    runs its cheap exact kernel first: a typed `format` renders its value
    only outside the range test's interval, a code-point count sits behind
    a byte-count test, the bad-`%` regex behind ``Contains(url, %)``, and
    `^https?://` is two ``StartsWith``. The verdicts of edge rows that take
    the slow branches equal ``validate_py``'s."""
    from perfbench.schemas import PAGES

    from jsonschema_spark import validate_py

    # (i, url, warc_ts as µs and as this UTC session renders it, text, day as days and rendered)
    ts, day = (1704067200 * 10**6, "2024-01-01T00:00:00Z"), (19723, "2024-01-01")
    data = [(0, "https://a.example/%41", *ts, "é" * 3, *day),
            (1, "https://a.example/%4", *ts, "x", *day),
            (2, "ftp://a.example/", *ts, "x", *day),
            (3, "http://a.example/", -62135596800 * 10**6 - 1, "0000-12-31T23:59:59Z", "😀", 2932896, "9999-12-31"),
            (4, "http://a.example/", *ts, "", *day)]
    df = spark.createDataFrame([(i, u, us, x, d) for i, u, us, _, x, d, _ in data],
                               "i long, url string, us long, text string, d long")
    df = df.select("i", "url", F.timestamp_micros("us").alias("warc_ts"), F.lit("h").alias("html"), "text",
                   F.lit("en").alias("lang"), F.date_from_unix_date("d").alias("day"))
    schema = {**PAGES, "properties": {**PAGES["properties"], "i": {"type": "integer"}}}
    out = validate(df, schema)
    (line,) = [ln for ln in _plan(out).splitlines() if " AS valid#" in ln]
    ranged = re.findall(r"CASE WHEN \(\(unix_(micros|date)\((\w+#\d+)\) >= -?\d+\) AND \(unix_\1\(\2\) < \d+\)\) "
                        r"THEN true ELSE RLIKE\(date_format\((?:cast\()?\2", line)
    assert len(ranged) == line.count("date_format(") == 2, line
    bounded = re.findall(r"\(octet_length\((\w+#\d+)\) [<>]= \d+\) OR \(length\(\1\) [<>]= \d+\)", line)
    assert len(bounded) == len(re.findall(r"(?<!octet_)length\(", line)) == 2, line  # url and text
    gated = re.findall(r"NOT Contains\((url#\d+), %\) OR NOT RLIKE\(\1, %", line)
    assert len(gated) == line.count(", %(") == 1, line
    assert "https?" not in line and re.search(r"StartsWith\((url#\d+), http://\) OR StartsWith\(\1, https://\)", line)
    rows = {r.i: r.valid for r in out.select("i", "valid").collect()}
    want = {i: validate_py(schema, {"i": i, "url": u, "warc_ts": t, "html": "h", "text": x, "lang": "en", "day": d})
            for i, u, _, t, x, _, d in data}
    assert rows == want == {0: True, 1: False, 2: False, 3: True, 4: False}
