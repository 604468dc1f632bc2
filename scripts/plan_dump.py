#!/usr/bin/env python
"""Plan-identity dump: the compiled expression text of every benchmark and
conformance schema, one line per case, for diffing two trees.

Cases:
- every ``perfbench/schemas.py`` schema: PAGES and SMALL_FLAT compiled
  flat against the pages row (url, warc_ts, html, text, lang, day),
  SMALL_TREE compiled over a VARIANT column;
- every ``tests/test_conformance.py`` CASES/ADVERSARIAL schema over a
  VARIANT column (the tree path the conformance tests run);
- the same conformance schemas and the 25 seeded ``tests/test_metamorphic.py``
  schemas (seeds 1000-1024) compiled flat against that test's ``COLS`` row
  plus a ``d/e`` column (``flat:`` labels), and the seeded schemas over a
  VARIANT column too, so nested-struct and member-loop flat plans are
  covered;

each × fast/exhaustive × short_circuit True/False, printing ``str(B(ok))``
and ``str(viols_col())``, or the message of a ``SchemaError``. Each
conformance schema also gets one line with ``canonicalize(s)`` and one
with ``upgrade_schema(s)``.

Lambda-variable suffixes (``x_12``) and JVM object ids (``@1a2b3c``) are
normalised away, and the script re-runs itself under PYTHONHASHSEED=0, so
two runs of the same tree print the same bytes. Compare a change with its
parent by running the script in a checkout of each and diffing:

    python scripts/plan_dump.py > change.txt
    (cd ../parent && python /path/to/scripts/plan_dump.py --repo .) > parent.txt
    diff parent.txt change.txt

``--repo DIR`` imports the package, perfbench and tests from DIR instead
of this script's own checkout. ``perfbench/`` is only read.
"""
from __future__ import annotations

import argparse
import json
import os
import random
import re
import sys


def _norm(text: str) -> str:
    return re.sub(r"@[0-9a-f]+", "@", re.sub(r"\b([a-zA-Z]+)_\d+\b", r"\1", text))


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--repo", default=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                    help="checkout whose package, perfbench and tests are dumped")
    args = ap.parse_args()
    if os.environ.get("PYTHONHASHSEED") != "0":
        os.execve(sys.executable, [sys.executable, *sys.argv],
                  {**os.environ, "PYTHONHASHSEED": "0"})
    repo = os.path.abspath(args.repo)
    sys.path[:0] = [repo, os.path.join(repo, "tests")]

    from pyspark.sql import SparkSession, functions as F, types as T

    spark = (SparkSession.builder.master("local[1]")
             .config("spark.ui.enabled", "false").getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")

    from jsonschema_spark.plans.canonicalize import canonicalize
    from jsonschema_spark.plans.compiler import SchemaError, compile_schema
    from jsonschema_spark.plans.context import B
    from jsonschema_spark.plans.upgrade import upgrade_schema
    from perfbench import schemas
    from test_conformance import ADVERSARIAL, CASES
    from test_metamorphic import COLS, _rand_schema

    pages_row = T.StructType([
        T.StructField("url", T.StringType()), T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()), T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()), T.StructField("day", T.DateType()),
    ])
    flat = {"pages": schemas.PAGES, **schemas.SMALL_FLAT}
    tree = [(f"perfbench:{name}", s) for name, s in schemas.SMALL_TREE.items()]
    tree += [(f"conformance:{desc}", s) for desc, s, _ in CASES + ADVERSARIAL]
    seeded = [(f"metamorphic:{1000 + i}", _rand_schema(random.Random(1000 + i))) for i in range(25)]
    cols_row = T.StructType([*T._parse_datatype_string(COLS).fields, T.StructField("d/e", T.LongType())])

    def dump(label, compile_):
        for mode in ("fast", "exhaustive"):
            for sc in (True, False):
                try:
                    c = compile_(mode, sc)
                except SchemaError as e:
                    print(f"{label}\t{mode}\tsc={sc}\tSchemaError: {e}")
                    continue
                print(f"{label}\t{mode}\tsc={sc}\tok={_norm(str(B(c.ok)))}"
                      f"\tviols={_norm(str(c.viols_col()))}")

    for name, s in flat.items():
        cs = compile_schema(s)
        dump(f"perfbench:{name}", lambda m, sc: cs.compile_flat(pages_row, mode=m, short_circuit=sc))
    for label, s in [(f"conformance:{d}", s) for d, s, _ in CASES + ADVERSARIAL] + seeded:
        cs = compile_schema(s)
        dump(f"flat:{label}", lambda m, sc: cs.compile_flat(cols_row, mode=m, short_circuit=sc))
    tree += seeded
    for label, s in tree:
        cs = compile_schema(s)
        dump(label, lambda m, sc: cs.compile_variant(F.col("__v"), mode=m, short_circuit=sc))
    for desc, s, _ in CASES + ADVERSARIAL:
        print(f"conformance:{desc}\tcanonicalize\t{json.dumps(canonicalize(s))}")
        print(f"conformance:{desc}\tupgrade_schema\t{json.dumps(upgrade_schema(s))}")
    spark.stop()


if __name__ == "__main__":
    main()
