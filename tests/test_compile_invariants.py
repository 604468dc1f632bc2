"""Compiler invariants the plan builder relies on.

- A verdict (`ok`) does not depend on the mode: higher-order loop bodies
  compile their `ok` once in fast mode even inside an exhaustive plan, so
  fast and exhaustive compiles of one schema must yield the same `ok`.
- Plans are deterministic: the same schema compiles to the same Column
  text in every Python process, whatever its string-hash seed.
"""

import os
import re
import subprocess
import sys

import pytest
from pyspark.sql import functions as F, types as T

from jsonschema_spark.plans.compiler import compile_schema
from jsonschema_spark.plans.context import B
from perfbench import schemas
from test_conformance import ADVERSARIAL, CASES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

PAGES_ROW = T.StructType([
    T.StructField("url", T.StringType()), T.StructField("warc_ts", T.TimestampType()),
    T.StructField("html", T.BinaryType()), T.StructField("text", T.StringType()),
    T.StructField("lang", T.StringType()), T.StructField("day", T.DateType()),
])

FLAT = {"pages": schemas.PAGES, **schemas.SMALL_FLAT}
TREE = {**schemas.SMALL_TREE,
        **{desc: schema for desc, schema, _ in (CASES + ADVERSARIAL)[::3]}}


def _norm(text: str) -> str:
    # lambda variables carry a process-global counter suffix (x_12), and
    # Python UDF call sites a JVM object id (StackTraceElement;@1a2b3c)
    return re.sub(r"@[0-9a-f]+", "@", re.sub(r"\b([a-zA-Z]+)_\d+\b", r"\1", text))


def _text(ok) -> str:
    return _norm(str(B(ok)))


@pytest.mark.parametrize("name", sorted(FLAT))
def test_flat_ok_is_mode_independent(spark, name):
    cs = compile_schema(FLAT[name])
    fast = cs.compile_flat(PAGES_ROW, mode="fast").ok
    assert _text(cs.compile_flat(PAGES_ROW, mode="exhaustive").ok) == _text(fast)


@pytest.mark.parametrize("name", sorted(TREE))
def test_tree_ok_is_mode_independent(spark, name):
    cs, doc = compile_schema(TREE[name]), F.col("v")
    fast = cs.compile_variant(doc, mode="fast").ok
    for short_circuit in (True, False):
        exhaustive = cs.compile_variant(doc, mode="exhaustive", short_circuit=short_circuit).ok
        assert _text(exhaustive) == _text(fast)


_COMPILE_SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession, functions as F
SparkSession.builder.master("local[1]").config("spark.ui.enabled", "false").getOrCreate()
from jsonschema_spark.plans.compiler import compile_schema
from perfbench.schemas import EVENTS
closed = {{"properties": {{"b": {{}}, "a": {{}}, "c": {{}}, "d": {{}}}},
          "allOf": [{{"properties": {{"e": {{}}, "f": {{}}}}}}],
          "unevaluatedProperties": False}}
for schema in (EVENTS, closed):
    print(str(compile_schema(schema).compile_variant(F.col("v"), mode="fast").ok))
"""


def test_plan_text_is_hash_seed_independent():
    """additionalProperties / unevaluatedProperties list declared names in
    schema order, not in string-hash order (seeds 0 and 1 iterate both
    name sets in different orders)."""
    procs = [
        subprocess.Popen([sys.executable, "-c", _COMPILE_SCRIPT.format(repo=REPO)],
                         env={**os.environ, "PYTHONHASHSEED": seed},
                         stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        for seed in ("0", "1")
    ]
    try:
        outs = [p.communicate(timeout=300)[0] for p in procs]
    finally:
        for p in procs:
            p.kill()
    assert all(p.returncode == 0 for p in procs)
    texts = [_norm(o) for o in outs]
    assert texts[0].count("\n") == 2 and texts[0] == texts[1]
