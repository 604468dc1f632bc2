"""Validation operators — the engine's `jsonschema validate` analogue.

The reference loops instances through a compiled template
(/root/reference/src/command_validate.cc:374-415). Here the compiled schema
becomes Column expressions evaluated in a single pass over the DataFrame:

- ``validate``    — fast mode: one boolean ``valid`` column, pure codegen
  (the `--fast` / Mode::FastValidation analogue — main.cc:46-51)
- ``annotate``    — exhaustive mode: ``valid`` + ``violations`` array column
- ``violations``  — exploded violation rows in the standard Basic shape
  (output_standard.cc:47-100): keywordLocation, absoluteKeywordLocation,
  instanceLocation, error

Only failing rows ever materialize violation structs (hot/cold split — the
InstructionExtra analogue, evaluator_instruction.h:256-271). A compiled
plan's violation array is meaningful only where its verdict fails, so it
is gated on the verdict in exactly three places: once over the whole plan
in ``_verdict`` here, per element in the compiler's ``_loop_body``, and per
part in its non-short-circuit ``_and_combine``. No keyword gates its own.

A schema compiles once per session: every operator reaches the compiler
through ``_verdict``, which keeps its ``(valid, violations)`` Columns in
``plans/plan_cache.py`` under the schema's JSON in its own key order, every
``CompiledSchema`` field, the mode, ``short_circuit`` and the instance
binding (the flat row's ``StructType``, or the parsed VARIANT column). A
repeated request reuses them instead of rebuilding every expression over
py4j.

Operators that build on ``validate``/``annotate`` (``standard_output``,
``violations``, the verdict counts) hold the verdict in reserved
``__jss_``-prefixed helper columns, so a caller's own ``valid`` or
``violations`` column passes through untouched.
"""

from __future__ import annotations

from dataclasses import fields
from typing import Optional, Sequence, Union

from pyspark.sql import Column, DataFrame, functions as F, types as T

from jsonschema_spark.plans.compiler import (
    CompiledSchema,
    VIOLS_DT,
    compile_node,
    compile_schema,
    empty_viols,
    without_call_sites,
    _viol_struct,
)
from jsonschema_spark.plans import plan_cache
from jsonschema_spark.plans.context import B, Cond, Ctx, FlatColCtx, VariantCtx, and_


def _as_compiled(schema: Union[dict, bool, CompiledSchema]) -> CompiledSchema:
    if isinstance(schema, CompiledSchema):
        return schema
    return compile_schema(schema)


_PARSE_FAIL_MSG = "The instance could not be parsed as JSON"
_VARIANT_TMP = "__jss_variant"
_VALID_TMP = "__jss_valid"
_VIOLS_TMP = "__jss_violations"
_ANNS_TMP = "__jss_annotations"
_SPANS_TMP = "__jss_spans"


def _bind(
    df: DataFrame, doc_col: Optional[str], instance_cols: Optional[Sequence[str]] = None
) -> tuple[DataFrame, Ctx, Cond]:
    """Where the instance lives: ``(df', ctx, parse_ok)``.

    Flat rows are the DataFrame's own columns (``instance_cols`` narrows
    the instance object) and ``df' is df``. JSON documents are parsed ONCE
    into a VARIANT column behind a projection: a compiled plan references
    the document many times (guards, accessors, message text), and parsing
    inline re-runs parse_json per reference (measured ~3x). A NULL or
    unparseable document fails ``parse_ok``. ``_unbind`` drops the column."""
    if doc_col is None:
        fields = df.schema.fields
        if instance_cols is not None:
            keep = set(instance_cols)
            missing = keep - {f.name for f in fields}
            if missing:
                # a silently-dropped typo would make required properties
                # "absent" and flip every verdict
                raise ValueError(f"instance_cols not in DataFrame: {sorted(missing)}")
            fields = [f for f in fields if f.name in keep]
        return df, FlatColCtx.row(T.StructType(fields)), True
    pre = df.withColumn(_VARIANT_TMP, F.try_parse_json(F.col(doc_col)))
    v = F.col(_VARIANT_TMP)
    return pre, VariantCtx(v, ""), v.isNotNull()


def _unbind(df: DataFrame, doc_col: Optional[str], *cols: str) -> DataFrame:
    """Drop ``cols`` and the column ``_bind`` parsed ``doc_col`` into."""
    gone = [*cols, _VARIANT_TMP] if doc_col is not None else list(cols)
    return df.drop(*gone) if gone else df


def _plan_key(cs: CompiledSchema, ctx: Ctx, mode: str, short_circuit: bool) -> Optional[tuple]:
    """Everything ``_verdict``'s Columns depend on: each ``CompiledSchema``
    field as JSON text in its own key order, the mode, ``short_circuit``
    and the binding ``_bind`` made. None (no reuse) when a field is not
    plain JSON."""
    texts = [plan_cache.json_text(getattr(cs, f.name)) for f in fields(cs)]
    if None in texts:
        return None
    binding = ctx.dtype.json() if isinstance(ctx, FlatColCtx) else _VARIANT_TMP
    return (*texts, mode, short_circuit, binding)


def _verdict(cs: CompiledSchema, ctx: Ctx, parse_ok: Cond, mode: str,
             short_circuit: bool = True) -> tuple[Column, Optional[Column]]:
    """``(valid, violations)`` columns of ``cs`` over an instance ``_bind``
    bound (violations None in fast mode); an unparseable document fails
    with the parse message alone. The plan's violations are gated on
    ``valid`` here, once: they are meaningful only where it fails. The
    Columns are built once per plan key and session (``_plan_key``)."""
    return plan_cache.PLANS.get(_plan_key(cs, ctx, mode, short_circuit),
                                lambda: _build_verdict(cs, ctx, parse_ok, mode, short_circuit))


def _build_verdict(cs: CompiledSchema, ctx: Ctx, parse_ok: Cond, mode: str,
                   short_circuit: bool) -> tuple[Column, Optional[Column]]:
    compiled = compile_node(cs.schema, ctx, "", cs._cfg(mode, short_circuit))
    ok = B(and_(parse_ok, compiled.ok))
    if mode == "fast":
        return ok, None
    viols = F.when(ok, empty_viols())
    if parse_ok is not True:
        parse_viol = F.array(_viol_struct(cs.base_uri, "", "", F.lit(_PARSE_FAIL_MSG))).cast(VIOLS_DT)
        viols = viols.when(~parse_ok, parse_viol)
    return ok, viols.otherwise(compiled.viols_col())


@without_call_sites()
def annotate(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    doc_col: Optional[str] = None,
    valid_col: str = "valid",
    violations_col: str = "violations",
    short_circuit: bool = True,
) -> DataFrame:
    """Exhaustive validation: adds `valid` boolean + `violations` array.

    ``short_circuit=True`` follows the reference's LogicalAnd first-failure
    reporting; ``False`` reports every failing conjunct (oracle-friendly)."""
    cs = _as_compiled(schema)
    pre, ctx, parse_ok = _bind(df, doc_col)
    ok, viols = _verdict(cs, ctx, parse_ok, "exhaustive", short_circuit)
    return _unbind(pre.withColumns({valid_col: ok, violations_col: viols}), doc_col)


@without_call_sites()
def validate(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    doc_col: Optional[str] = None,
    valid_col: str = "valid",
    instance_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Fast validation: adds only the boolean verdict (no violation detail),
    keeping the whole plan inside whole-stage codegen.

    ``instance_cols`` (flat path only) restricts the instance object to a
    column subset — id/bookkeeping columns outside it are invisible to the
    schema (matters for closed-object keywords: additionalProperties,
    unevaluatedProperties, propertyNames, min/maxProperties)."""
    cs = _as_compiled(schema)
    pre, ctx, parse_ok = _bind(df, doc_col, instance_cols)
    ok, _ = _verdict(cs, ctx, parse_ok, "fast")
    return _unbind(pre.withColumn(valid_col, ok), doc_col)


@without_call_sites()
def violations(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    id_cols: Sequence[str],
    doc_col: Optional[str] = None,
    short_circuit: bool = True,
) -> DataFrame:
    """Violation rows: (id_cols..., keywordLocation, absoluteKeywordLocation,
    instanceLocation, error) — one row per failed assertion, in evaluation
    order. Only failing rows are exploded."""
    annotated = annotate(df, schema, doc_col=doc_col, valid_col=_VALID_TMP,
                         violations_col=_VIOLS_TMP, short_circuit=short_circuit)
    return (
        annotated.filter(~F.col(_VALID_TMP))
        .select(*id_cols, F.explode(_VIOLS_TMP).alias("__jss_v"))
        .select(
            *id_cols,
            F.col("__jss_v.keywordLocation").alias("keywordLocation"),
            F.col("__jss_v.absoluteKeywordLocation").alias("absoluteKeywordLocation"),
            F.col("__jss_v.instanceLocation").alias("instanceLocation"),
            F.col("__jss_v.error").alias("error"),
        )
    )


@without_call_sites()
def violations_with_positions(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    id_cols: Sequence[str],
    doc_col: str,
    short_circuit: bool = True,
) -> DataFrame:
    """Violation rows with the reference's ``instancePosition`` column —
    1-based [startLine, startCol, endLine, endCol] span of the instance
    location in the SOURCE document text (output_standard.cc:85; golden
    test/validate/fail_json.sh). Positions come from one scan of each
    FAILING document's text (cold path), NULL where it did not parse.
    doc_col sources only: flat rows have no source text to span."""
    cs = _as_compiled(schema)
    pre, ctx, parse_ok = _bind(df, doc_col)
    ok, viols = _verdict(cs, ctx, parse_ok, "exhaustive", short_circuit)
    failing = pre.withColumns({_VALID_TMP: ok, _VIOLS_TMP: viols}).filter(~F.col(_VALID_TMP))
    spanned = _with_spans(failing, doc_col, parse_ok, F.col(_VIOLS_TMP)["instanceLocation"])
    return spanned.select(*id_cols, F.inline(_positioned(F.col(_VIOLS_TMP), "error")))


def _with_spans(df: DataFrame, doc_col: str, parse_ok: Column, locs: Column) -> DataFrame:
    """``df`` plus ``_SPANS_TMP``: the source span of each instance
    location in ``locs``, from one scan of the document, before any
    explode or inline."""
    from jsonschema_spark.functions.positions import instance_spans

    return df.withColumn(_SPANS_TMP, instance_spans(F.col(doc_col), parse_ok, locs))


def _positioned(entries: Column, value_field: str) -> Column:
    """Each Basic-output entry of ``entries`` with its span from
    ``_SPANS_TMP`` as ``instancePosition``, before ``value_field``
    (``error`` or ``annotation``). A NULL span is omitted by ``to_json``."""
    spans = F.col(_SPANS_TMP)
    return F.transform(entries, lambda e, i: F.struct(
        *[e[n].alias(n) for n in ("keywordLocation", "absoluteKeywordLocation", "instanceLocation")],
        F.get(spans, i).alias("instancePosition"), e[value_field].alias(value_field)))


@without_call_sites()
def property_verdicts(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    doc_col: Optional[str] = None,
    prefix: str = "ok_",
) -> DataFrame:
    """Per-property boolean verdict columns (``ok_<name>``) — the
    data-quality-dashboard projection: each schema property's subschema
    (plus its required bit) evaluated independently, all in the same
    single pass. A property column is True when the value is absent-and-
    not-required or present-and-valid; every column fails where the
    document does not parse."""
    from jsonschema_spark.plans.compiler import _apply_subschema

    cs = _as_compiled(schema)
    node = cs.schema if isinstance(cs.schema, dict) else {}
    props = node.get("properties", {}) or {}
    required = set(node.get("required", []) or [])
    cfg = cs._cfg("fast")
    pre, ctx, parse_ok = _bind(df, doc_col)
    cols = {}
    for name, sub_schema in props.items():
        child = ctx.get_prop(name)
        ok = _apply_subschema(sub_schema, child, f"/properties/{name}", cfg, ()).ok
        if name in required:
            ok = and_(ok, child.present)
        cols[f"{prefix}{name}"] = B(and_(parse_ok, ok))
    for name in required - set(props):
        cols[f"{prefix}{name}"] = B(and_(parse_ok, ctx.get_prop(name).present))
    return _unbind(pre.withColumns(cols), doc_col)


@without_call_sites()
def standard_output(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    doc_col: Optional[str] = None,
    fmt: str = "basic",
    out_col: str = "report",
    annotations: bool = False,
    positions: bool = False,
) -> DataFrame:
    """Standard JSON output column — the `--json` analogue
    (output_standard.cc:47-100): fmt='flag' → {"valid": bool};
    fmt='basic' → {"valid": bool, "errors": [{keywordLocation,
    absoluteKeywordLocation, instanceLocation, error}, ...]} (errors
    omitted for valid rows, matching the reference's Flag/Basic shapes).

    ``annotations=True`` adds the golden ``annotations[]`` block to valid
    rows that have annotations (test/validate/pass_json.sh), each value
    its JSON text verbatim; ``positions=True`` (doc_col only) inserts
    ``instancePosition`` spans into every entry of a parsed document
    (test/validate/fail_json.sh) — the full field-for-field Basic shape.
    Every report is built in the JVM; positions add one Arrow UDF that
    returns the spans."""
    if positions and doc_col is None:
        raise ValueError("positions=True needs doc_col: flat rows have no source text to span")
    if fmt == "flag":
        v = validate(df, schema, doc_col=doc_col, valid_col=_VALID_TMP)
        report = F.to_json(F.struct(F.col(_VALID_TMP).alias("valid")))
        return v.withColumn(out_col, report).drop(_VALID_TMP)
    if fmt != "basic":
        raise ValueError(f"unknown output format {fmt!r} (flag|basic)")
    cs = _as_compiled(schema)
    pre, ctx, parse_ok = _bind(df, doc_col)
    ok, viols = _verdict(cs, ctx, parse_ok, "exhaustive")
    a = pre.withColumns({_VALID_TMP: ok, _VIOLS_TMP: viols})
    valid, errors = F.col(_VALID_TMP), F.col(_VIOLS_TMP)
    anns = None
    if annotations:
        from jsonschema_spark.operators.annotations import annotations_col

        a, anns = a.withColumn(_ANNS_TMP, annotations_col(cs, ctx)), F.col(_ANNS_TMP)
    if positions:
        locs = errors["instanceLocation"]
        if anns is not None:
            locs = F.when(valid, anns["instanceLocation"]).otherwise(locs)
        a = _with_spans(a, doc_col, parse_ok, locs)
        errors = _positioned(errors, "error")
        anns = _positioned(anns, "annotation") if anns is not None else None
    valid_report = F.to_json(F.struct(valid.alias("valid")))
    if anns is not None:
        valid_report = F.when(F.size(_ANNS_TMP) > 0, _annotations_report(anns)).otherwise(valid_report)
    report = F.when(valid, valid_report).otherwise(
        F.to_json(F.struct(valid.alias("valid"), errors.alias("errors"))))
    return _unbind(a.withColumn(out_col, report), doc_col,
                   _VALID_TMP, _VIOLS_TMP, _ANNS_TMP, _SPANS_TMP)


def _annotations_report(anns: Column) -> Column:
    """``{"valid":true,"annotations":[...]}`` with each entry's annotation
    JSON text spliced in verbatim in place of the closing brace of the
    entry's ``to_json``: a trip through VARIANT would rewrite ``1.0`` as
    ``1`` and ``1e+20`` as ``1.0E20``."""
    def entry(e: Column) -> Column:
        head = F.to_json(e.dropFields("annotation"))
        return F.concat(head.substr(F.lit(1), F.length(head) - 1),
                        F.lit(',"annotation":'), e["annotation"], F.lit("}"))

    return F.concat(F.lit('{"valid":true,"annotations":['),
                    F.array_join(F.transform(anns, entry), ","), F.lit("]}"))


@without_call_sites()
def verdict_counts(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    doc_col: Optional[str] = None,
    by: Sequence[str] = (),
) -> DataFrame:
    """Per-group (or global) pass/fail counts — the per-partition verdict
    aggregate from the north_rule. One pass, map-side partial aggregation."""
    v = validate(df, schema, doc_col=doc_col, valid_col=_VALID_TMP)
    if by:
        return v.groupBy(*by).agg(*_verdict_aggs(_VALID_TMP))
    return v.agg(*_verdict_aggs(_VALID_TMP))


def _verdict_aggs(valid_col: str) -> list[Column]:
    valid = F.col(valid_col)
    return [
        F.count(F.lit(1)).alias("n_rows"),
        F.coalesce(F.sum(valid.cast("long")), F.lit(0)).alias("n_valid"),
        F.coalesce(F.sum((~valid).cast("long")), F.lit(0)).alias("n_invalid"),
    ]


@without_call_sites()
def verdict_counts_cube(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    dims: Sequence[str],
    doc_col: Optional[str] = None,
) -> DataFrame:
    """Pass/fail verdict counts at EVERY grouping granularity of ``dims``
    in one pass — ``cube()``: per (dim1, dim2, …), per each dim alone,
    and the grand total. ``gid`` is the grouping id (bitmask of rolled-up
    dims, 0 = most detailed, 2^len(dims)−1 = grand total): it
    disambiguates a rolled-up NULL from a NULL dim VALUE in the data —
    required for an exact oracle, since DuckDB's CUBE emits both.

    Scale shape: Spark expands the cube map-side (one row per input row
    per grouping set, partially aggregated before the single exchange) —
    2^d × the agg rows, not 2^d scans. The reference has no grouping
    sets at all (SURVEY §2.6); this is the north_rule's per-partition
    verdict aggregate generalized to roll-up reporting."""
    v = validate(df, schema, doc_col=doc_col, valid_col=_VALID_TMP)
    return (
        v.cube(*dims)
        .agg(F.grouping_id().cast("long").alias("gid"), *_verdict_aggs(_VALID_TMP))
        .select(*dims, "gid", "n_rows", "n_valid", "n_invalid")
    )


@without_call_sites()
def sampled_verdict(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    key_col: str,
    sample_ppm: int,
    doc_col: Optional[str] = None,
    instance_cols: Optional[Sequence[str]] = None,
) -> DataFrame:
    """Deterministic-sample validation estimate — the cheap gate BEFORE
    committing a 100 TB validation run: validate only rows whose
    portable 56-bit key hash lands under ``sample_ppm``, report the
    sampled verdict counts and the extrapolated invalid rate. The
    sample is a pure function of the key (no RNG, no seed state), so
    any engine — and any later re-run — selects the identical rows;
    reference: `jsonschema validate` gives per-document verdicts
    (src/command_validate.cc), this answers "roughly how bad is the
    table" at 1/N the cost.

    One scan, one global aggregation: (n_total, n_sampled, n_valid,
    n_invalid, est_invalid_ppm = floor(1e6·invalid/sampled)).
    """
    from jsonschema_spark.operators.dedup import hash56

    v = validate(df, schema, doc_col=doc_col, valid_col=_VALID_TMP,
                 instance_cols=instance_cols)
    ins = (hash56(F.col(key_col).cast("string"))
           % 1_000_000) < sample_ppm
    n_inv = F.sum((ins & ~F.col(_VALID_TMP)).cast("long")).cast("long")
    return v.agg(
        F.count(F.lit(1)).cast("long").alias("n_total"),
        F.sum(ins.cast("long")).cast("long").alias("n_sampled"),
        F.sum((ins & F.col(_VALID_TMP)).cast("long")).cast("long")
        .alias("n_valid"),
        n_inv.alias("n_invalid"),
    ).select(
        "*",
        # ANSI Spark throws DIVIDE_BY_ZERO even for double division:
        # guard the empty-sample case (NULL est, the NULL-metric-fails
        # convention) instead of aborting the job.
        F.when(
            F.col("n_sampled") > 0,
            F.floor((F.col("n_invalid") * 1_000_000).cast("double")
                    / F.col("n_sampled")).cast("long"))
        .alias("est_invalid_ppm"),
    )


@without_call_sites()
def violation_pareto(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    id_cols: Sequence[str],
    k: int = 10,
    doc_col: Optional[str] = None,
) -> DataFrame:
    """Violation Pareto: the top-k failing keyword locations with
    counts and corpus share — "which constraint is responsible for the
    damage" before anyone reads a million violation rows. Counts the
    EXHAUSTIVE violation set (short_circuit=False): a Pareto over
    short-circuited rows would under-count every constraint evaluated
    after another failure and skew the ranking. Plan shape is the
    hot_keys recipe: groupBy(keywordLocation) with map-side partials,
    orderBy+limit = TakeOrderedAndProject (per-partition top-k, never
    a global sort), share from a broadcast one-row total, rank window
    over only the k survivors; ties break to the ascending location
    cross-engine.
    """
    from pyspark.sql import Window

    v = violations(df, schema, id_cols=list(id_cols), doc_col=doc_col,
                   short_circuit=False)
    g = v.groupBy("keywordLocation").agg(
        F.count(F.lit(1)).cast("long").alias("n_violations"))
    tot = g.agg(F.sum("n_violations").alias("_t"))
    top = g.orderBy(F.col("n_violations").desc(),
                    F.col("keywordLocation")).limit(k)
    w = Window.orderBy(F.col("n_violations").desc(),
                       F.col("keywordLocation"))
    return top.crossJoin(F.broadcast(tot)).select(
        "keywordLocation", "n_violations",
        F.floor((F.col("n_violations") * 1_000_000).cast("double")
                / F.col("_t")).cast("long").alias("share_ppm"),
    ).withColumn("rnk", F.row_number().over(w).cast("long"))
