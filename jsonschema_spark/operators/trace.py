"""Evaluation trace — the `--trace` analogue.

The reference's trace prints a Pre/Post line per executed instruction with
its keyword location and outcome (/root/reference/vendor/blaze/src/output/
output_trace.cc; flag src/main.cc). Batch re-expression: one row per
(instance, keyword instruction) with the instruction's verdict, in the
exact order the compiler emits instructions (= the reference's evaluation
order for the inlined plan). Nested applicators' own child steps appear
because compilation recurses; internal fast-mode recompiles (not/if
conditions) do not double-report.
"""

from __future__ import annotations

from dataclasses import replace
from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, functions as F

from jsonschema_spark.plans.compiler import CompiledSchema, compile_node, without_call_sites
from jsonschema_spark.plans.context import B, S

TRACE_DT = "array<struct<step:int,keywordLocation:string,instanceLocation:string,ok:boolean>>"


@without_call_sites()
def trace(
    df: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    id_cols: Sequence[str],
    doc_col: Optional[str] = None,
) -> DataFrame:
    """Per-instruction trace rows: (id_cols..., step, keywordLocation,
    instanceLocation, ok) in evaluation order."""
    from jsonschema_spark.operators.validate import _as_compiled, _bind

    cs = _as_compiled(schema)
    sink: list = []
    cfg = replace(cs._cfg("fast"), trace_sink=sink)
    pre, ctx, _ = _bind(df, doc_col)
    compile_node(cs.schema, ctx, "", cfg)
    entries = F.array(
        *[
            F.struct(
                F.lit(i).alias("step"),
                F.lit(kwp).alias("keywordLocation"),
                S(loc).alias("instanceLocation"),
                B(ok).alias("ok"),
            )
            for i, (kwp, loc, ok) in enumerate(sink)
        ]
    ).cast(TRACE_DT)
    # inline names each struct field a column: no helper column to collide
    return pre.select(*id_cols, F.inline(entries))
