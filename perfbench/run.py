"""Validation benchmark: one workload, one seed, one closed-loop run.

    python3 perfbench/run.py --workload pages_verdicts --seed 1 --seconds 10 --trace 0

One client keeps one Spark job in flight at a time (``local[2]``, a single
driver process). The run generates its seeded inputs without Spark (cached
under ``.perfbench/`` per seed and size), starts its Spark session cold and
runs its first job (set-up), finishes the warm-up, checks a sample of the
input against the driver-side interpreter, then repeats the workload's jobs
for ``--seconds`` seconds of job wall time in whole batches, checking every
job's output. A host-speed probe runs before every timed job, and the
reported times are scaled to a reference host speed (``trace.HostSpeed``).
The last stdout line is one JSON object: {"correct", "attempted", "failed",
"metrics"}.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` runs the same
loop with spans around every call into the engine, Spark's event log and
codegen counters on, plus ablation jobs, and reports the per-layer metrics.
See perfbench/README.md for what each workload and metric is for.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ABLATION_REPEATS = 3
KEEP_INPUTS = 6


def _args() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=["pages_verdicts", "small_jobs"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    return p.parse_args()


def _session(work: str, eventlog: str | None):
    """The engine's own session settings; only scratch directories are
    pointed into the work directory."""
    from jsonschema_spark.session import get_spark
    from perfbench.workloads import CORES

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}",
    }
    if eventlog:
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": "file://" + eventlog})
    return get_spark("perfbench", cores=CORES, extra_conf=conf)


def _evict_inputs(work: str) -> None:
    """Keep the most recently used cached inputs only (disk stays bounded)."""
    d = os.path.join(work, "inputs")
    entries = sorted((os.path.getmtime(os.path.join(d, e)), e) for e in os.listdir(d))
    for _, e in entries[:-KEEP_INPUTS]:
        shutil.rmtree(os.path.join(d, e), ignore_errors=True)


class Run:
    """Counts every job the run checks, and what failed."""

    def __init__(self, wl, tracer, rss_kb):
        self.wl, self.tracer, self.rss_kb = wl, tracer, rss_kb
        self.attempted = self.failed = 0
        self.errors: list[str] = []
        self.peak_rss_kb = 0
        self.last_end = 0.0  # perf_counter when the last job's wall closed

    def record(self, err) -> None:
        self.attempted += 1
        if err:
            self.failed += 1
            self.errors.append(err)

    def job(self, spark, k: int, job_id: str):
        """Run job k; return (outcome or None, wall seconds). Checking
        happens after the wall closes."""
        if self.tracer.enabled:
            spark.sparkContext.setJobGroup(job_id, self.wl.name)
        t = time.perf_counter()
        try:
            with self.tracer.span(job_id, "job"):
                out = self.wl.run_job(k, self.tracer, job_id)
        except Exception:  # a job that raises counts as failed; the run goes on
            self.last_end = time.perf_counter()
            self.record(f"{job_id} raised:\n{traceback.format_exc(limit=3)}")
            return None, self.last_end - t
        self.last_end = time.perf_counter()
        wall = self.last_end - t
        err = out.error
        if err is None and out.check is not None:
            try:
                err = out.check()
            except Exception:
                err = f"{job_id} check raised:\n{traceback.format_exc(limit=3)}"
        self.record(err)
        # between jobs: the footprint a job leaves, not transient spikes
        # inside one (JIT compiler arenas came and went run to run)
        self.peak_rss_kb = max(self.peak_rss_kb, self.rss_kb())
        return out, wall


def _ablations(spark, wl, out_dir: str) -> dict[str, float]:
    """Layer costs from ablation jobs over the same input (traced run only):
    differences between two jobs, or the layer alone (compile, sink)."""
    from pyspark.sql import functions as F

    from jsonschema_spark import verdict_counts, violations
    from perfbench.trace import median
    from perfbench.workloads import compile_only

    df, schema, doc_col, id_cols = wl.ablation()
    cols = [c for c in df.columns if c not in id_cols or doc_col is None]
    text = F.col(doc_col) if doc_col else F.to_json(F.struct(*cols))
    scan_aggs = [F.sum(F.length(c)) if t in ("string", "binary") else F.count(c)
                 for c, t in df.select(*cols).dtypes]
    exhaustive = lambda: violations(df, schema, id_cols, doc_col=doc_col, short_circuit=False)  # noqa: E731
    rows = exhaustive().localCheckpoint(eager=True)
    jobs = {
        "scan": lambda: df.agg(*scan_aggs).collect(),
        "text": lambda: df.agg(F.sum(F.length(text))).collect(),
        "parse": lambda: df.agg(F.count(F.try_parse_json(text))).collect(),
        "fast": lambda: verdict_counts(df, schema, doc_col=doc_col).collect(),
        "exhaustive": lambda: exhaustive().agg(
            F.count(F.lit(1)), F.sum(F.length("error") + F.length("instanceLocation"))).collect(),
        # the sink alone: write violation rows already materialized
        "write": lambda: rows.write.mode("overwrite").parquet(out_dir),
    }
    t: dict[str, float] = {}
    res: dict[str, object] = {}
    for name, fn in jobs.items():
        spark.sparkContext.setJobGroup(f"ablation-{name}", wl.name)
        walls = []
        for _ in range(ABLATION_REPEATS):
            t0 = time.perf_counter()
            res[name] = fn()
            walls.append(time.perf_counter() - t0)
        t[name] = median(walls)
    # every schema the workload's jobs compile, once each, in their mode
    # (after the timed jobs: the compiler's code paths are warm)
    compile_walls = []
    for target in wl.compile_targets():
        t0 = time.perf_counter()
        compile_only(*target)
        compile_walls.append(time.perf_counter() - t0)
    print(f"# ablation walls (median of {ABLATION_REPEATS}) "
          f"{ {k: round(v, 3) for k, v in t.items()} } compile {[round(w, 3) for w in compile_walls]}")
    fast = res["fast"][0]
    n_rows = res["exhaustive"][0][0]
    size = sum(os.path.getsize(os.path.join(dp, f)) for dp, _, fs in os.walk(out_dir) for f in fs)
    shutil.rmtree(out_dir, ignore_errors=True)
    return {
        "sources.scan_s": t["scan"],
        "compiler.compile_s": median(compile_walls),
        "context.parse_s": t["parse"] - t["text"],
        "validate.eval_s": t["fast"] - t["scan"],
        "validate.violations_s": t["exhaustive"] - t["fast"],
        "validate.invalid_ratio": fast.n_invalid / max(1, fast.n_rows),
        "validate.rows_per_invalid_doc": n_rows / max(1, fast.n_invalid),
        "validate.violation_rows_per_s": n_rows / t["exhaustive"],
        "sink.write_s": t["write"],
        "sink.output_mb": size / (1 << 20),
    }


@contextlib.contextmanager
def _driver_log(path: str):
    """Send fd 2 to ``path``: the driver JVM inherits it, so its log (where
    codegen fallbacks are reported) lands in the file."""
    saved = os.dup(2)
    fd = os.open(path, os.O_WRONLY | os.O_CREAT | os.O_TRUNC, 0o644)
    os.dup2(fd, 2)
    os.close(fd)
    try:
        yield
    finally:
        os.dup2(saved, 2)
        os.close(saved)


def _traced_metrics(spark, wl, tracer, tr, walls, first, cold_codegen_s, gc_s, host_factor,
                    out_dir) -> dict:
    """Per-layer figures that need the live session (spans, plans, ablations)."""

    def per_job(name: str) -> float:
        acc: dict[str, float] = {}
        for s in tracer.spans:
            if s["name"] == name and s["job"].startswith("j"):
                acc[s["job"]] = acc.get(s["job"], 0.0) + s["end"] - s["start"]
        return tr.median(list(acc.values()))

    m = _ablations(spark, wl, out_dir)
    m.update({
        "compiler.expr_nodes": tr.median([sum(tr.expr_nodes(f) for f in fs) for fs in first.values()]),
        "codegen.source_kb": tr.median(
            [sum(tr.codegen_source_bytes(f) for f in fs) for fs in first.values()]) / 1024,
        "sources.input_mb": tr.median([sum(tr.input_bytes(f) for f in fs) for fs in first.values()])
        / (1 << 20),
        "codegen.compile_s": cold_codegen_s,
        "exec.gc_s": gc_s / len(walls),
        "compiler.build_s": per_job("build"),
        "catalyst.plan_s": per_job("plan"),
        # as job_s_p50 is: scaled to the reference host speed
        "trace.job_s_p50": _job_s_p50(tr, walls, wl.batch) * host_factor,
        "trace.job_s_p90": tr.percentile(walls, 0.9) * host_factor,
    })
    return m


def _job_s_p50(tr, walls: list[float], batch: int) -> float:
    """The median over batches of each batch's median job wall: the same
    statistic whether a run times one batch or several."""
    return tr.median([tr.median(walls[i:i + batch]) for i in range(0, len(walls), batch)])


def main() -> int:
    args = _args()
    sys.path.insert(0, ROOT)
    try:
        import jsonschema_spark  # noqa: F401
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from perfbench import trace as tr
    from perfbench.workloads import CORES, WORKLOADS

    work = os.path.join(ROOT, ".perfbench")
    for sub in ("inputs", "tmp", "spark-local", "out", "trace"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tag = f"{args.workload}-s{args.seed}-{os.getpid()}"
    eventlog = os.path.join(work, "eventlog", tag) if args.trace else None
    if eventlog:
        os.makedirs(eventlog)
    log_path = os.path.join(work, "trace", f"driver-{tag}.log")

    tracer = tr.Tracer(bool(args.trace))
    wl = WORKLOADS[args.workload](work, args.seed)
    run = Run(wl, tracer, tr.tree_rss_kb)
    # inputs are generated without Spark, before the session starts, so the
    # session and the first job below run on a cold JVM
    t_gen = time.perf_counter()
    wl.prepare()
    gen_s = time.perf_counter() - t_gen
    _evict_inputs(work)
    metrics: dict[str, float] = {}
    with _driver_log(log_path) if args.trace else contextlib.nullcontext():
        spark = host = None
        try:
            spark = _session(work, eventlog)
            cg0 = tr.codegen_compile_ns(spark)
            wl.open(spark)
            # set-up: process start to the first job done, input generation
            # excluded (JVM and session start, parquet footers, cold planning
            # and codegen of the first job)
            run.job(spark, 0, "warm0")
            t_first = run.last_end
            setup_s = t_first - T_START - gen_s
            # the rest of the warm-up: every distinct job, repeated until job
            # walls stop falling (JIT of the scan, codegen and planning paths)
            for k in range(1, wl.warmup_jobs):
                run.job(spark, k, f"warm{k}")
            cold_codegen_s = (tr.codegen_compile_ns(spark) - cg0) / 1e9
            t_warm = time.perf_counter()

            run.record("; ".join(wl.sample_check(spark)[:5]) or None)
            t_check = time.perf_counter()

            walls, docs, first = [], 0, {}
            host = tr.HostSpeed(CORES)
            gc0, cpu0 = tr.gc_seconds(spark), tr.tree_cpu_s()
            k = 0
            # --seconds of job wall at the reference host speed, in whole
            # batches: a slow host runs as many jobs as a quiet one
            while not walls or sum(walls) * host.factor() < args.seconds or k % wl.batch:
                host.probe()
                out, wall = run.job(spark, k, f"j{k}")
                walls.append(wall)
                if out is not None:
                    docs += out.docs
                    first.setdefault(wl.kind(k), out.frames)
                k += 1
            factor = host.factor()
            print(f"# {wl.name} seed={args.seed} trace={args.trace} jobs={len(walls)} "
                  f"setup_s={setup_s:.3f} input_gen_s={gen_s:.2f} warm_up_s={t_warm - t_first:.2f} "
                  f"sample_check_s={t_check - t_warm:.2f} "
                  f"timed_s={sum(walls):.2f} timed_cpu_s={tr.tree_cpu_s() - cpu0:.2f} "
                  f"timed_gc_s={tr.gc_seconds(spark) - gc0:.2f} host_factor={factor:.3f} "
                  f"host_given_share={host.given_share():.3f} "
                  f"raw_docs_per_s={docs / sum(walls):.0f} raw_job_s_p50={_job_s_p50(tr, walls, wl.batch):.3f} "
                  f"walls={[round(w, 2) for w in walls]} probe_cpu_ms={[round(c * 1e3) for c in host.cpu_s]}")
            if args.trace:
                metrics.update(_traced_metrics(
                    spark, wl, tracer, tr, walls, first, cold_codegen_s,
                    tr.gc_seconds(spark) - gc0, factor,
                    os.path.join(work, "out", f"ablation-{tag}")))
            else:
                metrics.update({
                    "docs_per_s": docs / sum(walls) / factor,
                    "job_s_p50": _job_s_p50(tr, walls, wl.batch) * factor,
                    "setup_s": setup_s * factor,
                })
        except Exception:
            run.record(f"run aborted:\n{traceback.format_exc()}")
        finally:
            if host is not None:
                host.close()
            if spark is not None:
                spark.stop()
                _stop_jvm()
        if args.trace:
            if not run.failed:
                groups = {f"j{i}": w for i, w in enumerate(walls)}
                metrics.update(tr.executor_metrics(tr.read_event_log(eventlog), groups, CORES))
                metrics["codegen.fallbacks"] = tr.count_fallbacks(log_path)
                metrics["peak_rss_mb"] = run.peak_rss_kb / 1024
            tracer.write(os.path.join(work, "trace", f"spans-{tag}.jsonl"))
            shutil.rmtree(os.path.join(work, "eventlog"), ignore_errors=True)

    for e in run.errors:
        print(f"# FAILED: {e}", file=sys.stderr)
    units = _units()
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in sorted(metrics.items())},
    }))
    return 0


def _units() -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        b = json.load(f)
    return {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the driver JVM (and the Python
    workers it forked) to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
