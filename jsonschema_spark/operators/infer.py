"""JSON-Schema inference from data — the discovery half of the
validate ⇄ discover loop.

The reference engine (sourcemeta/jsonschema) validates documents
against a hand-written schema; at crawl scale nobody HAS the schema
for a third-party payload column yet. ``infer_json_stats`` distills a
per-key typed profile of a JSON text column (type lattice, required-
ness, numeric bounds, string lengths, low-cardinality enums) and
``infer_json_schema`` assembles it into a draft 2020-12 schema that
``jsonschema_spark.validate`` consumes directly — the contract-
discovery step ``checks.suggest_checks`` performs for relational
columns, lifted to semi-structured payloads
(``checks.json_key_census`` is the presence-only precursor).

Two-phase plan, designed for the 10^12-row table:

1. **Key census** (one cheap pass, bounded output): distinct top-level
   keys with presence counts — ``json_object_keys`` explode + map-side
   partial groupBy; the collect is capped at ``max_keys`` rows (the
   ``suggest_checks`` bounded-profile precedent).
2. **One wide typed scan**: for each censused key a literal-path
   ``variant_get`` projects (present, lattice type, integer value,
   milli-quantized double, string value) into ONE array-of-struct
   column; a single explode + filter + groupBy(key) computes counts,
   type sets and bounds with map-side partials. Enums ride a second
   aggregation over the same exploded frame — (key, value) partial
   counts first, then a PARTITIONED window keeps ``max_enum + 1``
   values per key before any collect, so a million-distinct key can
   never materialize an unbounded array (the LSH hot-band guard
   pattern). The two aggregates join on the ≤``max_keys``-row key
   table (broadcast).

Typing is the cross-engine JSON lattice {object, array, string,
integer, number, boolean, null}: Spark reads it off
``schema_of_variant`` (DECIMAL(p,0) → integer, DECIMAL(p,s>0)/DOUBLE
→ number), DuckDB mirrors read ``json_type`` (UBIGINT/BIGINT/HUGEINT
→ integer, DOUBLE → number) — the engine-specific spellings are
pinned by tests. One probed token divergence: ``1.0`` parses to
DECIMAL(1,0) in Spark (→ integer — the draft 2020-12 reading, where
``integer`` matches any number with a zero fractional part) but to
DOUBLE in DuckDB (→ number); exponent tokens (``1e3``) and >int64
integers agree (number / integer respectively). Documented
divergence, like the json_key_census failure-mode split. JSON ``null`` is a PRESENT key with lattice type
'null' — distinct from an absent key (presence comes from the key
array, not from the extracted value).

Enum values and distinct counts cover STRING-typed occurrences only:
number rendering differs across engines ('1.5' vs '1.500000'), string
content does not.

Phase-2 keys are restricted to ``KEY_RE`` (letters, digits, ``_ @ -``)
— path metacharacters (dots, quotes, brackets) would change the
extraction path's meaning mid-string; such keys still appear in the
census (and in ``skipped_keys``) but carry no typed profile.
"""

from __future__ import annotations

import re
from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

KEY_RE = re.compile(r"^[A-Za-z0-9_@\-]+$")

#: lattice order used for deterministic type-set rendering
LATTICE = ("array", "boolean", "integer", "null", "number", "object", "string")


def _is_object(json_col: Column) -> Column:
    # json_object_keys: NULL for malformed / non-object / NULL input
    return F.json_object_keys(json_col).isNotNull()


def _lattice_type(variant_type: Column) -> Column:
    """Map a ``schema_of_variant`` rendering onto the JSON type lattice.

    DECIMAL(p,0) is an integer-valued JSON number (Spark parses plain
    int tokens past int64, and some float tokens, to DECIMAL); any
    positive scale means a fractional part was written.
    """
    t = variant_type
    return (
        F.when(t.startswith("OBJECT") | t.startswith("STRUCT"),
               F.lit("object"))
        .when(t.startswith("ARRAY"), F.lit("array"))
        .when(t == "STRING", F.lit("string"))
        .when(t == "BOOLEAN", F.lit("boolean"))
        .when(t.isin("TINYINT", "SMALLINT", "INT", "BIGINT"), F.lit("integer"))
        .when(t.rlike(r"^DECIMAL\([0-9]+, ?0\)$"), F.lit("integer"))
        .when(t.startswith("DECIMAL"), F.lit("number"))
        .when(t.isin("FLOAT", "DOUBLE"), F.lit("number"))
        .when(t == "VOID", F.lit("null"))
        .otherwise(F.lit("other"))
    )


def census_keys(
    df: DataFrame, json_col: str, max_keys: int = 64
) -> tuple[list[str], list[str], int]:
    """Phase 1: (typed_keys, skipped_keys, n_objects) — the bounded
    driver-side census. Keys rank by (presence desc, name asc); the
    cap keeps the phase-2 projection width (and this collect)
    model-sized. ``n_objects`` is the required-ness denominator: rows
    whose payload parses as a JSON object."""
    g = (
        df.select(F.explode(F.json_object_keys(F.col(json_col))).alias("k"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("k").asc())
        .limit(max_keys)
    )
    rows = g.collect()
    typed = [r["k"] for r in rows if KEY_RE.match(r["k"])]
    skipped = [r["k"] for r in rows if not KEY_RE.match(r["k"])]
    n_objects = df.where(_is_object(F.col(json_col))).count()
    return typed, skipped, n_objects


def _key_struct(key: str) -> Column:
    # variant_get requires a FOLDABLE path, so each censused key gets its
    # own literal-path expression; the variant parse itself is shared
    # through a named projected column (the Python try_variant_get
    # wrapper force-casts to a target type — the SQL form keeps VARIANT).
    # The struct carries only the RAW readings (type rendering + the
    # variant); the lattice/bounds projection happens ONCE after the
    # explode — inlining it here repeats schema_of_variant ~10× per key
    # and the Generate's task binary blows past a megabyte.
    v = F.expr(f"try_variant_get(_var, '$.{key}')")
    return F.struct(
        F.lit(key).alias("json_key"),
        F.array_contains(F.json_object_keys(F.col("_doc")), key)
        .alias("present"),
        F.schema_of_variant(v).alias("vt"),
        v.alias("v"),
    )


def _exploded(df: DataFrame, json_col: str, keys: Sequence[str]) -> DataFrame:
    base = df.select(
        F.col(json_col).alias("_doc"),
        F.try_parse_json(F.col(json_col)).alias("_var"),
    )
    arr = F.array(*[_key_struct(k) for k in keys])
    ex = (
        base.select(F.explode(arr).alias("e"))
        .select("e.*")
        .where(F.col("present"))
    )
    jtype = _lattice_type(F.col("vt"))
    v = F.col("v")
    # bound the milli quantization so floor(x*1000) stays castable to
    # int64 under ANSI (a 20-digit JSON integer would otherwise abort
    # the job); beyond the bound the milli stats are NULL, the ival
    # path already NULLs via try_cast overflow
    d = v.try_cast("double")
    sval = F.when(jtype == "string", v.try_cast("string"))
    return ex.select(
        "json_key",
        jtype.alias("jtype"),
        F.when(jtype == "integer", v.try_cast("bigint")).alias("ival"),
        F.when(
            jtype.isin("integer", "number") & (F.abs(d) < F.lit(9.0e15)),
            F.floor(d * F.lit(1000)).cast("long"),
        ).alias("milli"),
        F.when(jtype == "string", F.length(sval)).alias("slen"),
        sval.alias("sval"),
    )


def infer_json_stats(
    df: DataFrame,
    json_col: str,
    max_keys: int = 64,
    max_enum: int = 16,
) -> DataFrame:
    """Per-key typed profile of a JSON text column (phase 1 + 2).

    Output, one row per censused well-formed key, ordered by key:
    (json_key, n_present, required, types_csv, n_null, int_lo, int_hi,
    num_lo_milli, num_hi_milli, str_maxlen, n_distinct_str, enum_csv).
    ``required`` = present in every object row. ``enum_csv`` is the
    sorted '|'-joined string values when a pure-string key has ≤
    ``max_enum`` distinct values, else NULL. All floats are
    milli-quantized bigints (oracle bit-stability convention).
    """
    prof = _profile(df, json_col, max_keys, max_enum)
    return (
        prof.withColumn("enum_csv", F.array_join("enum_vals", "|"))
        .drop("enum_vals", "int_exact")
        .orderBy("json_key")
    )


def _profile(df: DataFrame, json_col: str, max_keys: int, max_enum: int) -> DataFrame:
    """``infer_json_stats`` rows, unordered, with the enum carried as
    ``enum_vals``: the sorted string values as an array (no separator
    can collide with a value), and ``int_exact``: whether every integer
    occurrence fit int64, so int_lo/int_hi bound them all."""
    keys, _skipped, n_objects = census_keys(df, json_col, max_keys)
    if not keys:
        schema = (
            "json_key string, n_present long, required boolean, "
            "types_csv string, n_null long, int_lo long, int_hi long, "
            "num_lo_milli long, num_hi_milli long, str_maxlen long, "
            "n_distinct_str long, enum_vals array<string>, int_exact boolean"
        )
        return df.sparkSession.createDataFrame([], schema)
    ex = _exploded(df, json_col, keys)

    prof = ex.groupBy("json_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_present"),
        F.array_join(F.array_sort(F.collect_set("jtype")), ",").alias("types_csv"),
        F.sum(F.when(F.col("jtype") == "null", 1).otherwise(0))
        .cast("long").alias("n_null"),
        F.min("ival").alias("int_lo"),
        F.max("ival").alias("int_hi"),
        (F.count("ival") == F.count(F.when(F.col("jtype") == "integer", 1)))
        .alias("int_exact"),
        F.min("milli").alias("num_lo_milli"),
        F.max("milli").alias("num_hi_milli"),
        F.max("slen").alias("str_maxlen"),
    )

    # enum / distinct over STRING occurrences: (key, sval) partial counts
    # first (map-side combine bounds the exchange at per-task-distinct),
    # then a PARTITIONED top-(max_enum+1) window before any collect.
    sv = (
        ex.where(F.col("jtype") == "string")
        .groupBy("json_key", "sval")
        .agg(F.count(F.lit(1)).alias("_c"))
    )
    nd = sv.groupBy("json_key").agg(
        F.count(F.lit(1)).cast("long").alias("n_distinct_str"))
    w = Window.partitionBy("json_key").orderBy(F.col("sval").asc())
    topv = (
        sv.withColumn("_r", F.row_number().over(w))
        .where(F.col("_r") <= max_enum + 1)
        .groupBy("json_key")
        .agg(F.array_sort(F.collect_list("sval")).alias("_enum_all"))
    )
    enum = (
        nd.join(topv, "json_key", "left")
        .select(
            "json_key", "n_distinct_str",
            F.when(F.col("n_distinct_str") <= max_enum, F.col("_enum_all"))
            .alias("enum_vals"),
        )
    )

    return (
        prof.join(F.broadcast(enum), "json_key", "left")
        .select(
            "json_key", "n_present",
            (F.col("n_present") == F.lit(n_objects)).alias("required"),
            "types_csv", "n_null", "int_lo", "int_hi",
            "num_lo_milli", "num_hi_milli", "str_maxlen",
            F.coalesce("n_distinct_str", F.lit(0)).cast("long")
            .alias("n_distinct_str"),
            "enum_vals", "int_exact",
        )
    )


def infer_json_schema(
    df: DataFrame,
    json_col: str,
    max_keys: int = 64,
    max_enum: int = 16,
    bounds: bool = True,
) -> dict:
    """Assemble a draft 2020-12 schema dict from ``infer_json_stats``
    (bounded collect: ≤ ``max_keys`` rows). The result feeds
    ``jsonschema_spark.validate`` unchanged, and by construction every
    object row that contributed to the profile validates against it
    (round-trip property, test-pinned).

    Bounds/enums are the OBSERVED envelope — the standard inference
    trade-off (new data may legally exceed them); pass ``bounds=False``
    for a types+required-only contract.
    """
    rows = _profile(df, json_col, max_keys, max_enum).orderBy("json_key").collect()
    props: dict = {}
    required = []
    for r in rows:
        types = r["types_csv"].split(",") if r["types_csv"] else []
        sub: dict = {}
        if len(types) == 1:
            sub["type"] = types[0]
        elif types:
            sub["type"] = types
        if bounds and types == ["integer"]:
            if r["int_lo"] is not None and r["int_exact"]:
                sub["minimum"] = r["int_lo"]
                sub["maximum"] = r["int_hi"]
        if bounds and types == ["string"]:
            if r["str_maxlen"] is not None:
                sub["maxLength"] = r["str_maxlen"]
            if r["enum_vals"]:
                sub["enum"] = list(r["enum_vals"])
        props[r["json_key"]] = sub
        if r["required"]:
            required.append(r["json_key"])
    schema: dict = {"type": "object", "properties": props}
    if required:
        schema["required"] = sorted(required)
    return schema
