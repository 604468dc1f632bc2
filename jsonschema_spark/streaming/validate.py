"""Structured-Streaming validation — continuous verdicts over a stream.

The compiled schema is pure Column expressions, so the SAME plan runs on
a streaming DataFrame unchanged (`validate`/`annotate` are
stream-compatible by construction — stateless projections). This module
adds the stateful stream pieces: watermarked windowed verdict aggregation
(late-data-tolerant per-window pass/fail counts) and a violation stream.

At scale: the windowed agg is the only stateful operator; state size =
(#windows in watermark horizon × #groups) counters, bounded by the
watermark. Output mode 'update' for live dashboards, 'append' for sinks
that need finalized windows.
"""

from __future__ import annotations

from typing import Optional, Sequence, Union

from pyspark.sql import DataFrame, functions as F

from jsonschema_spark.operators.validate import _VALID_TMP, _verdict_aggs, validate, violations
from jsonschema_spark.plans.compiler import CompiledSchema


def windowed_verdict_counts(
    sdf: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    ts_col: str,
    window: str = "1 hour",
    watermark: str = "2 hours",
    by: Sequence[str] = (),
    doc_col: Optional[str] = None,
) -> DataFrame:
    """Tumbling-window pass/fail counts with a watermark for late data:
    (window_start, window_end, by..., n_rows, n_valid, n_invalid)."""
    v = validate(sdf, schema, doc_col=doc_col, valid_col=_VALID_TMP)
    agg = (
        v.withWatermark(ts_col, watermark)
        .groupBy(F.window(F.col(ts_col), window), *by)
        .agg(*_verdict_aggs(_VALID_TMP))
    )
    return agg.select(
        F.col("window.start").alias("window_start"),
        F.col("window.end").alias("window_end"),
        *by,
        "n_rows",
        "n_valid",
        "n_invalid",
    )


def stream_dedup_exact(
    sdf: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Stateful cross-microbatch exact dedup: keep the first row per key
    within the watermark horizon (`dropDuplicatesWithinWatermark` — state
    per key, expired by the watermark, so memory is bounded by the key
    arrival rate × horizon, not the stream length)."""
    return sdf.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(list(key_cols))


def stream_drift_monitor(
    sdf: DataFrame,
    group_col: str,
    category_col: str,
) -> DataFrame:
    """Custom stateful operator (`applyInPandasWithState`): per-group
    categorical drift of each microbatch against the accumulated history.

    State per group = the category→count histogram of everything seen so
    far (two parallel arrays — bounded by the category cardinality, not
    the stream length). Each batch emits (group, category, n_base,
    n_batch, diff_ppm) where diff_ppm is the same integer-ppm KS-style
    proportion difference as the batch operator ``stats.category_drift``,
    then folds the batch into the state. The streaming analogue of the
    north_rule's drift scoring against a baseline snapshot.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupStateTimeout
    from pyspark.sql.types import (
        ArrayType, LongType, StringType, StructField, StructType,
    )

    out_schema = StructType(
        [
            StructField("group", StringType()),
            StructField("category", StringType()),
            StructField("n_base", LongType()),
            StructField("n_batch", LongType()),
            StructField("diff_ppm", LongType()),
        ]
    )
    state_schema = StructType(
        [
            StructField("cats", ArrayType(StringType())),
            StructField("counts", ArrayType(LongType())),
        ]
    )

    def monitor(key, pdfs, state):
        base: dict = {}
        if state.exists:
            cats, counts = state.get
            base = dict(zip(cats, counts))
        batch: dict = {}
        for pdf in pdfs:
            for c, n in pdf[category_col].value_counts().items():
                batch[str(c)] = batch.get(str(c), 0) + int(n)
        tot_base = sum(base.values())
        tot_batch = sum(batch.values())
        rows = []
        for c in sorted(batch):
            nb, nc = base.get(c, 0), batch[c]
            diff = (
                abs(nb * tot_batch - nc * tot_base) * 1_000_000 // (tot_base * tot_batch)
                if tot_base and tot_batch
                else None
            )
            rows.append((key[0], c, nb, nc, diff))
        for c, nc in batch.items():
            base[c] = base.get(c, 0) + nc
        state.update((list(base.keys()), list(base.values())))
        yield pd.DataFrame(rows, columns=["group", "category", "n_base", "n_batch", "diff_ppm"])

    # applyInPandasWithState requires plain column grouping keys
    keyed = sdf.withColumn("__grp", F.col(group_col).cast("string"))
    return keyed.groupBy("__grp").applyInPandasWithState(
        monitor, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def violation_stream(
    sdf: DataFrame,
    schema: Union[dict, bool, CompiledSchema],
    id_cols: Sequence[str],
    doc_col: Optional[str] = None,
) -> DataFrame:
    """Streaming violation rows: ``violations`` over a stream (a
    stateless explode of failing rows)."""
    return violations(sdf, schema, id_cols, doc_col=doc_col)


def stream_sessionize(
    sdf: DataFrame,
    user_col: str,
    ts_col: str,
    gap: str = "30 minutes",
    watermark: str = "1 hour",
    value_col: Optional[str] = None,
) -> DataFrame:
    """Streaming gap-based sessionization — the same native
    ``session_window`` aggregation as the batch operator
    (operators/stats.py:sessionize), under a watermark: open sessions
    live in the state store and FINALIZE once the watermark passes
    session end + gap, so state is bounded by (active users × horizon),
    not stream length. Late events inside the watermark merge/extend
    their session exactly as in batch (inclusive gap boundary); use
    outputMode('append') so only finalized sessions emit.

    Output: (user, session_start, session_end, n_events[, value_milli])
    with the batch operator's engine-portable formatting."""
    aggs = [F.count(F.lit(1)).alias("n_events")]
    if value_col is not None:
        aggs.append(
            F.sum(F.floor(F.col(value_col) * 1000).cast("long")).alias("value_milli")
        )
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return (
        sdf.withWatermark(ts_col, watermark)
        .groupBy(F.col(user_col), F.session_window(F.col(ts_col), gap).alias("_w"))
        .agg(*aggs)
        .select(
            F.col(user_col),
            F.date_format(F.col("_w.start"), fmt).alias("session_start"),
            F.date_format(F.col("_w.end"), fmt).alias("session_end"),
            *[F.col(c) for c in ("n_events",) + (("value_milli",) if value_col else ())],
        )
    )


def drain_sketch_state(
    spark,
    df: DataFrame,
    build,
    path: str,
    query_name: str = "sketch_drain",
    files_per_trigger: int = 1,
    n_files: int = 3,
    timeout_s: int = 300,
) -> DataFrame:
    """Batch-replay attestation harness for the streaming sketch
    monitors: materialize ``df`` to parquet in ``n_files`` files,
    re-read the SAME rows as a stream with ``maxFilesPerTrigger`` (so
    the state genuinely merges across multiple micro-batches), push it
    through ``build(stream_df)`` (one of the ``stream_*_sketch``
    monitors), drain with ``availableNow`` into a complete-mode memory
    sink, and return the FINAL state table.

    Because every monitor's state is the portable sketch itself (an
    associative/commutative aggregate over a stateless projection),
    the returned table is bit-identical to the batch operator over the
    drained rows — which is exactly what lets a plain SQL oracle
    attest the STREAMING path: the driver's DuckDB replay of the batch
    recipe must hash-match this drained state.
    """
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    batch = spark.read.parquet(path)
    for q in spark.streams.active:
        if q.name == query_name:
            q.stop()
    sdf = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(path)
    )
    q = (
        build(sdf)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName(query_name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(timeout_s)
    return spark.table(query_name)


def stream_hll_sketch(sdf: DataFrame, col: str, p: int = 12) -> DataFrame:
    """Streaming url-uniqueness sketch (north_rule: one-pass per-partition
    sketches, merged): the SAME stateless (bucket, rank) projection as the
    batch ``stats.hll_sketch``, then a streaming ``groupBy(bucket)
    max(rank)`` — Spark's aggregation state IS the portable HLL, bounded
    at 2^p rows FOREVER regardless of stream length (no watermark needed:
    the state cannot grow). In complete output mode every trigger emits
    the sketch of everything seen so far; ``stats.hll_estimate`` applies
    to the emitted table unchanged, and the result is bit-identical to
    running the batch operator over the drained stream (test-proven) —
    max() is associative/commutative, so micro-batch arrival order can
    never change the sketch."""
    from jsonschema_spark.operators.stats import hll_sketch

    return hll_sketch(sdf, col, p)


def stream_cms_sketch(
    sdf: DataFrame, col: str, d: int = 4, w: int = 1024
) -> DataFrame:
    """Streaming count-min sketch: the batch operator's stateless
    (row, bucket) probes, then a streaming sum — aggregation state ≤ d·w
    counters forever (counters only ADD; no watermark needed). Complete-
    mode output is the sketch of everything seen; ``stats.cms_lookup``
    applies to the emitted table unchanged and, because integer sums are
    associative/commutative, the drained-stream sketch is bit-identical
    to the batch one (test-proven with hll's harness)."""
    from jsonschema_spark.operators.stats import cms_sketch

    return cms_sketch(sdf, col, d, w)


def stream_hist_sketch(
    sdf: DataFrame, col: str, lo: int, hi: int, n_bins: int = 256
) -> DataFrame:
    """Streaming histogram sketch: stateless clamp+bin projection, then a
    streaming count per bin — state ≤ n_bins rows forever. The emitted
    complete-mode table feeds ``stats.hist_quantiles`` / the hist_drift
    CDF math unchanged: live quantile and drift monitoring with bounded
    state, per the north_rule's snapshot-drift scoring."""
    from jsonschema_spark.operators.stats import hist_sketch

    return hist_sketch(sdf, col, lo, hi, n_bins)


def stream_bloom_sketch(
    sdf: DataFrame, col: str, m_bits: int = 65536, k_hashes: int = 3
) -> DataFrame:
    """Streaming Bloom membership state: the SAME stateless k-salted
    bit-position projection as batch ``stats.bloom_sketch``, then a
    streaming ``groupBy(bit)`` count — state ≤ m_bits rows FOREVER (the
    bit domain is finite; no watermark needed). The batch form is a
    distinct(); streaming groupBy-count emits the same bit set plus a
    hit count per bit (harmless extra column — ``stats.bloom_probe``
    joins on ``bit`` only), and because set-union is associative/
    commutative the drained-stream bit set is identical to the batch
    sketch (test-proven). Live use: maintain the seen-url / benchmark-
    contamination filter as the crawl streams in."""
    from jsonschema_spark.operators.stats import bloom_cols

    return (
        sdf.where(F.col(col).isNotNull())
        .select(F.explode(bloom_cols(col, m_bits, k_hashes)).alias("bit"))
        .groupBy("bit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
