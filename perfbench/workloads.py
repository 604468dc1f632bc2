"""The workloads: inputs, the job each one repeats, and its checks.

Every job goes through the engine's public API with the schema passed as a
dict, as a new request would, and its output is compared with what the
planted defects predict (``schemas.REJECTS`` / ``schemas.VIOLATIONS``).
Checks aggregate over the computed columns: ``df.count()`` would let
Catalyst prune the very validation expression being measured.
"""

from __future__ import annotations

import base64
import json
import os
from collections import defaultdict
from dataclasses import dataclass, field
from typing import Callable, Optional

import numpy as np
import pyarrow as pa
from pyspark.sql import Column, DataFrame, functions as F

from jsonschema_spark import (annotate, compile_schema, validate, validate_py, verdict_counts,
                              violations)

from perfbench import gen, schemas

SAMPLE_ROWS = 200
# local[2] on a 4-vCPU box: the driver JVM's own threads (JIT, GC, py4j,
# planning) get the other two vCPUs instead of preempting tasks, which at
# local[4] made job walls swing with the scheduler. A small job's slice is
# split over as many files, one task each.
CORES = 2


@dataclass
class Outcome:
    """What one job delivered; ``error`` is set when it disagrees with the
    expected output. ``check`` runs after the job's wall closes (untimed)."""

    docs: int
    error: Optional[str] = None
    check: Optional[Callable[[], Optional[str]]] = None
    frames: list = field(default_factory=list)


class Steps:
    """The calls of one job, each inside a span when tracing is on:
    build (the public call returning a DataFrame) → plan → execute/write."""

    def __init__(self, tracer, job: str):
        self.tracer, self.job, self.frames = tracer, job, []

    def build(self, fn: Callable[[], DataFrame]) -> DataFrame:
        with self.tracer.span(self.job, "build"):
            df = fn()
        self.frames.append(df)
        if self.tracer.enabled:
            with self.tracer.span(self.job, "plan"):
                df._jdf.queryExecution().executedPlan()
        return df

    def collect(self, df: DataFrame) -> list:
        with self.tracer.span(self.job, "execute"):
            return df.collect()

    def write(self, df: DataFrame, path: str) -> None:
        with self.tracer.span(self.job, "write"):
            df.write.mode("overwrite").parquet(path)


def _row_hash(cols: list[str]) -> Column:
    """Order-independent multiset hash term: 32-bit row hashes summed as
    bigint (no ANSI overflow below 2^31 rows)."""
    return F.sum(F.xxhash64(*cols).bitwiseAND(F.lit(0xFFFFFFFF)))


VIOL_COLS = ["keywordLocation", "absoluteKeywordLocation", "instanceLocation", "error"]


def _expected_rows(kind: str, hist: dict[int, int]) -> int:
    return sum(n * len(schemas.expected_locations(kind, d)) for d, n in hist.items())


def _invalid(hist: dict[int, int], mask: int) -> int:
    return sum(n for d, n in hist.items() if d & mask)


def _page_instance(row) -> dict:
    """A pages row as the flat path sees it: NULL column = absent property,
    timestamps/dates as their RFC 3339 text, binary as base64."""
    inst = {"url": row.url, "warc_ts": row.ts_text, "text": row.text, "lang": row.lang,
            "day": row.day_text,
            "html": base64.b64encode(row.html).decode() if row.html is not None else None}
    return {k: v for k, v in inst.items() if v is not None}


def _sample(df: DataFrame, n_rows: int) -> DataFrame:
    return df.filter(F.col("_gen_rid") % max(1, n_rows // SAMPLE_ROWS) == 0)


def _page_sample_rows(df: DataFrame, n_rows: int) -> list:
    return _sample(df, n_rows).select(
        "url", "text", "lang", "html", "_gen_defects",
        F.date_format("warc_ts", "yyyy-MM-dd'T'HH:mm:ss'Z'").alias("ts_text"),
        F.col("day").cast("string").alias("day_text")).collect()


def _interpreter_errors(schema: dict, mask: int, rows: list, instance) -> list[str]:
    """Planted truth vs the independent driver-side interpreter."""
    return [f"validate_py disagrees with planted defects {r._gen_defects} on {instance(r)!r}"
            for r in rows if validate_py(schema, instance(r)) != (r._gen_defects & mask == 0)]


def _location_errors(kind: str, rows: list, engine_rows: list, key: str) -> list[str]:
    """The engine's exhaustive violation rows vs the planted keyword locations."""
    got = defaultdict(list)
    for r in engine_rows:
        got[r[key]].append(r.keywordLocation)
    return [f"violation rows {sorted(got.get(r[key], []))} != planted "
            f"{schemas.expected_locations(kind, r._gen_defects)} on {r[key]!r}"
            for r in rows
            if sorted(got.get(r[key], [])) != schemas.expected_locations(kind, r._gen_defects)]


class Workload:
    name = ""
    batch = 1  # the timed phase runs whole batches, so every run does the same job mix
    # jobs run before timing, the set-up's first job included: every
    # distinct job at least once (cold planning and codegen); pages_verdicts
    # repeats its one job until walls stop falling (JIT of the scan path)
    warmup_jobs = 1

    def __init__(self, work: str, seed: int):
        self.work, self.seed = work, seed
        self.ref_hash: dict = {}

    def kind(self, k: int) -> str:
        """The schema job k runs (jobs of one kind share a plan shape)."""
        return self.name

    def _input(self, kind: str, rows: int) -> str:
        return os.path.join(self.work, "inputs", f"{kind}-s{self.seed}-n{rows}")

    def _hash_check(self, key, h: int) -> Optional[str]:
        """The first run of a job records its output hash; every later run
        must reproduce it (its row count is checked against planted truth)."""
        ref = self.ref_hash.setdefault(key, h)
        return None if ref == h else f"violation-row hash {h} != reference {ref} ({key})"

    def ablation(self) -> tuple[DataFrame, dict, Optional[str], list[str]]:
        """(input, schema, doc_col, id_cols) the traced run's ablation jobs use."""
        raise NotImplementedError

    def compile_targets(self) -> list[tuple[dict, DataFrame, Optional[str], bool]]:
        """(schema, input, doc_col, exhaustive) of every schema the workload's
        jobs compile, in the mode they compile it."""
        df, schema, doc_col, _ = self.ablation()
        return [(schema, df, doc_col, False)]


class PagesVerdicts(Workload):
    """Fast-mode pass/fail counts per day over a flat pages table."""

    name = "pages_verdicts"
    rows = 200_000
    warmup_jobs = 12

    def prepare(self) -> None:
        self.path, self.hist = gen.materialize(
            self._input("pages_verdicts", self.rows),
            lambda: gen.pages_table(self.seed, self.rows, gen.PAGES_VERDICTS_RATES, True),
            key="day", n_files=8)
        by_day = defaultdict(lambda: [0, 0])
        for (day, d), n in self.hist.items():
            by_day[day][0] += n
            by_day[day][1] += n if d else 0
        self.expected = sorted((day, n, n - bad, bad) for day, (n, bad) in by_day.items())

    def open(self, spark) -> None:
        self.raw = spark.read.parquet(self.path)
        self.df = self.raw.select(*gen.PAGE_COLS)

    def run_job(self, k: int, tracer, job: str) -> Outcome:
        st = Steps(tracer, job)
        res = st.collect(st.build(lambda: verdict_counts(self.df, schemas.PAGES, by=["day"])))
        got = sorted((str(r.day), r.n_rows, r.n_valid, r.n_invalid) for r in res)
        err = None if got == self.expected else f"verdict counts {got} != planted {self.expected}"
        return Outcome(self.rows, err, frames=st.frames)

    def sample_check(self, spark) -> list[str]:
        rows = _page_sample_rows(self.raw, self.rows)
        sub = _sample(self.raw, self.rows).select(*gen.PAGE_COLS)
        valid = {r.url: r.valid for r in validate(sub, schemas.PAGES).select("url", "valid").collect()}
        return _interpreter_errors(schemas.PAGES, schemas.REJECTS["pages"], rows, _page_instance) + [
            f"engine verdict {valid.get(r.url)} != planted defects {r._gen_defects} on {r.url!r}"
            for r in rows if valid.get(r.url) != (r._gen_defects == 0)]

    def ablation(self):
        return self.df, schemas.PAGES, None, ["url"]


class SmallJobs(Workload):
    """Many small requests: each reads one 5-10k-row slice and runs one of
    seven schema jobs in rotation (flat and tree, fast and exhaustive)."""

    name = "small_jobs"
    # (schema, call): "verdicts" = fast verdict_counts, "annotate" = exhaustive
    # annotate aggregated, "write" = exhaustive violation rows to parquet.
    # One batch of eight slices: three cheap flat jobs, three heavy ones
    # and, between them in cost, two `tree_items_contains` jobs, so the
    # median wall falls on that one kind's samples rather than at the edge
    # between two kinds. The warm-up runs the batch twice: jobs run a third
    # time or later are timed.
    ROTATION = [("flat_webpage", "write"), ("tree_events", "verdicts"),
                ("flat_ref_enum", "verdicts"), ("tree_items_contains", "verdicts"),
                ("tree_ref_user", "annotate"), ("flat_anyof_url", "verdicts"),
                ("tree_items_contains", "verdicts"), ("flat_combinators", "verdicts")]
    warmup_jobs = 2 * len(ROTATION)
    slices = batch = len(ROTATION)

    def prepare(self) -> None:
        # the same sizes (5k..10k rows) on every seed: a batch of jobs pairs
        # each slice with the same schema, so only the data varies by seed
        self.sizes = [5000 + i * 5000 // (self.slices - 1) for i in range(self.slices)]
        n = sum(self.sizes)
        slice_ids = pa.array(np.repeat(np.arange(self.slices), self.sizes))
        self.paths, self.hists = {}, {}
        for kind, build in (
            ("flat", lambda: gen.pages_table(self.seed, n, gen.SMALL_PAGES_RATES, False)),
            ("tree", lambda: gen.json_table(self.seed, n, gen.SMALL_JSON_RATES)),
        ):
            path, hist = gen.materialize(
                self._input(f"small_{kind}", n),
                lambda build=build: build().append_column("gen_slice", slice_ids),
                key="gen_slice", partition_by="gen_slice", n_files=CORES)
            self.paths[kind] = path
            self.hists[kind] = {(int(sl), d): c for (sl, d), c in hist.items()}
        self.out = os.path.join(self.work, "out", f"violations-{os.getpid()}")

    def open(self, spark) -> None:
        self.spark = spark
        # a new request lists and reads its own slice: nothing to open up front

    def _slice(self, kind: str, s: int) -> DataFrame:
        cols = gen.PAGE_COLS if kind == "flat" else ["doc"]
        return self.spark.read.parquet(os.path.join(self.paths[kind], f"gen_slice={s}")).select(*cols)

    def kind(self, k: int) -> str:
        return self.ROTATION[k % len(self.ROTATION)][0]

    def run_job(self, k: int, tracer, job: str) -> Outcome:
        name, call = self.ROTATION[k % len(self.ROTATION)]
        kind = name.split("_", 1)[0]
        s = k % self.slices
        schema = (schemas.SMALL_FLAT if kind == "flat" else schemas.SMALL_TREE)[name]
        doc_col = None if kind == "flat" else "doc"
        hist = {d: c for (sl, d), c in self.hists[kind].items() if sl == s}
        exp = _invalid(hist, schemas.REJECTS[name])
        n = self.sizes[s]
        st = Steps(tracer, job)
        if call == "write":
            st.write(st.build(lambda: violations(self._slice(kind, s), schema, ["url"],
                                                 short_circuit=False)), self.out)
            exp_rows = _expected_rows("pages", hist)

            def check() -> Optional[str]:
                got, h = self.spark.read.parquet(self.out).agg(
                    F.count(F.lit(1)), _row_hash(["url", *VIOL_COLS])).first()
                if got != exp_rows:
                    return f"slice {s}: wrote {got} violation rows, planted defects give {exp_rows}"
                return self._hash_check(s, h)

            return Outcome(n, None, check, st.frames)
        if call == "annotate":
            r = st.collect(st.build(lambda: annotate(
                self._slice(kind, s), schema, doc_col=doc_col, short_circuit=False).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum((~F.col("valid")).cast("long")).alias("n_invalid"),
                F.sum((F.size("violations") > 0).cast("long")).alias("n_flagged"),
                F.sum(F.size("violations")).alias("n_viols"))))[0]
            want = (n, exp, exp, _expected_rows(name, hist))
            ok = (r.n_rows, r.n_invalid, r.n_flagged, r.n_viols) == want
        else:
            r = st.collect(st.build(lambda: verdict_counts(self._slice(kind, s), schema, doc_col=doc_col)))[0]
            want = (n, exp)
            ok = (r.n_rows, r.n_invalid) == want
        err = None if ok else f"{name} on slice {s}: {r} != planted {want}"
        return Outcome(n, err, frames=st.frames)

    def sample_check(self, spark) -> list[str]:
        flat_raw = spark.read.parquet(self.paths["flat"])
        flat = _page_sample_rows(flat_raw, sum(self.sizes))
        tree = _sample(spark.read.parquet(self.paths["tree"]), sum(self.sizes)).collect()
        errs = []
        for name in (*schemas.SMALL_FLAT, *schemas.SMALL_TREE):
            if name.startswith("flat"):
                errs += _interpreter_errors(schemas.SMALL_FLAT[name], schemas.REJECTS[name], flat,
                                            _page_instance)
            else:
                errs += _interpreter_errors(schemas.SMALL_TREE[name], schemas.REJECTS[name], tree,
                                            lambda r: json.loads(r.doc))
        sub = _sample(flat_raw, sum(self.sizes)).select(*gen.PAGE_COLS)
        eng = violations(sub, schemas.PAGES, ["url"], short_circuit=False).collect()
        return errs + _location_errors("pages", flat, eng, "url")

    def ablation(self):
        # one tree slice under the exhaustive tree kind: the ablations stay
        # request-sized, as the workload's jobs are
        df = self.spark.read.parquet(os.path.join(self.paths["tree"], "gen_slice=0"))
        return (df.select(F.col("_gen_rid").alias("id"), "doc"), schemas.SMALL_TREE["tree_ref_user"],
                "doc", ["id"])

    def compile_targets(self):
        out = []
        for name, call in dict(self.ROTATION).items():
            kind = name.split("_", 1)[0]
            schema = (schemas.SMALL_FLAT if kind == "flat" else schemas.SMALL_TREE)[name]
            out.append((schema, self._slice(kind, 0), None if kind == "flat" else "doc",
                        call != "verdicts"))
        return out


WORKLOADS = {w.name: w for w in (PagesVerdicts, SmallJobs)}


def compile_only(schema: dict, df: DataFrame, doc_col: Optional[str], exhaustive: bool) -> None:
    """The compiler alone, no DataFrame: compile_schema plus the plan of the
    mode a job uses (fast, or exhaustive without short-circuit)."""
    cs = compile_schema(schema)
    mode = {"mode": "exhaustive", "short_circuit": False} if exhaustive else {"mode": "fast"}
    if doc_col is None:
        cs.compile_flat(df.schema, **mode)
    else:
        cs.compile_variant(F.col("__v"), **mode)
