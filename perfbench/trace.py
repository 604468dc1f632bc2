"""Measurement helpers: spans, process-tree RSS, host speed, Spark
event-log and codegen readings.

Spans are recorded in the benchmark's own code around each call into a
layer of the engine (build → plan → execute → write). They stay in memory
and are written out when the run ends. With tracing off, ``span`` is a
no-op context manager and no job group is set.
"""

from __future__ import annotations

import contextlib
import json
import math
import os
import statistics
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np


class Tracer:
    """In-memory spans: (id, job, name, parent, start, end). A span's parent
    is the span open around it. Times are wall-clock seconds so they line up
    with event-log timestamps (epoch ms)."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []

    def span(self, job: str, name: str):
        if not self.enabled:
            return contextlib.nullcontext()
        return self._span(job, name)

    @contextlib.contextmanager
    def _span(self, job: str, name: str):
        sid = len(self.spans) + len(self._open) + 1
        parent = self._open[-1] if self._open else None
        self._open.append(sid)
        t0 = time.time()
        p0 = time.perf_counter()
        try:
            yield
        finally:
            self._open.pop()
            self.spans.append({"id": sid, "job": job, "name": name, "parent": parent,
                               "start": t0, "end": t0 + (time.perf_counter() - p0)})

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _descendants(pid: int) -> list[int]:
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        try:
            for tid in os.listdir(f"/proc/{p}/task"):
                with open(f"/proc/{p}/task/{tid}/children") as f:
                    todo.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def tree_rss_kb() -> int:
    """Summed RSS of this process and all its descendants (the driver JVM
    and any Python workers)."""
    return sum(_rss_kb(p) for p in _descendants(os.getpid()))


def tree_cpu_s() -> float:
    """Summed user+system CPU seconds of this process and its descendants."""
    total = 0
    for p in _descendants(os.getpid()):
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            total += int(fields[11]) + int(fields[12])
        except (OSError, IndexError, ValueError):
            continue
    return total / os.sysconf("SC_CLK_TCK")


class HostSpeed:
    """How fast the host runs the program right now, measured outside the
    engine and the JVM so that no change to the program can move it.

    Two things slow a job on a shared host. Neighbours loading the host make
    the same work take more CPU time; a probe run before every timed job
    measures that: ``threads`` threads each sort the same seeded 2M-double
    array (numpy releases the GIL), and the probe reads the largest
    per-thread CPU time (25 ms on a quiet stretch of a 4-vCPU VM, 35-45 ms
    while it was loaded). CPU time, not wall, so it does not count time spent
    waiting for the driver JVM's threads. And the hypervisor takes away
    ("steals") a share of the time the VM's CPUs want to run; /proc/stat
    counts it.

    ``factor()`` is the reference CPU time over the median probe so far,
    times the share of wanted CPU time the host gave: 1 on a quiet host,
    below 1 on a slower one."""

    REF_S = 0.025  # median probe on a quiet stretch of that VM
    ELEMS = 1 << 21

    def __init__(self, threads: int):
        self._arrays = [np.random.default_rng(i).random(self.ELEMS) for i in range(threads)]
        self._pool = ThreadPoolExecutor(threads, thread_name_prefix="hostspeed")
        self.cpu_s: list[float] = []
        self._ticks0 = host_ticks()

    def _sort_cpu_s(self, a) -> float:
        t = time.thread_time()
        np.sort(a)
        return time.thread_time() - t

    def probe(self) -> None:
        # the least of three rounds: the driver JVM's own threads, still busy
        # for a moment after a job, slow a round that overlaps them
        self.cpu_s.append(min(max(self._pool.map(self._sort_cpu_s, self._arrays))
                              for _ in range(3)))

    def given_share(self) -> float:
        """Share of the CPU time the VM wanted that the host gave it, since
        this object was made."""
        d = [b - a for a, b in zip(self._ticks0, host_ticks())]
        busy = sum(d) - d[3] - d[4] - d[7]  # not idle, iowait or stolen
        return busy / max(1, busy + d[7])

    def factor(self) -> float:
        return self.REF_S / median(self.cpu_s) * self.given_share()

    def close(self) -> None:
        self._pool.shutdown(wait=True)


def host_ticks() -> list[int]:
    """The machine's CPU time counters from /proc/stat (user nice system
    idle iowait irq softirq steal), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def percentile(xs: list[float], q: float) -> float:
    """Nearest-rank percentile (q in 0..1) of the samples."""
    s = sorted(xs)
    return s[max(0, math.ceil(round(q * len(s), 9)) - 1)]


# ---------------------------------------------------------------- JVM side

def codegen_compile_ns(spark) -> int:
    """Cumulative janino compile time of this JVM (CodeGenerator.compileTime)."""
    return int(spark.sparkContext._jvm.org.apache.spark.sql.catalyst.expressions.codegen
               .CodeGenerator.compileTime())


def codegen_source_bytes(df) -> int:
    """Generated Java source size of the DataFrame's executed plan, summed
    over its whole-stage-codegen subtrees (what ``explain("codegen")`` prints)."""
    jvm = df.sparkSession.sparkContext._jvm
    plan = df._jdf.queryExecution().executedPlan()
    seq = getattr(jvm.org.apache.spark.sql.execution.debug, "package").codegenStringSeq(plan)
    return sum(len(seq.apply(i)._2()) for i in range(seq.size()))


def expr_nodes(df) -> int:
    """Expression-tree nodes in the analyzed plan (one treeString line each)."""
    todo, total = [df._jdf.queryExecution().analyzed()], 0
    while todo:
        node = todo.pop()
        exprs = node.expressions()
        for i in range(exprs.size()):
            total += exprs.apply(i).treeString().count("\n")
        kids = node.children()
        todo.extend(kids.apply(i) for i in range(kids.size()))
    return total


def gc_seconds(spark) -> float:
    """Cumulative GC time of the driver JVM (executors share it in local mode)."""
    beans = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()
    return sum(beans.get(i).getCollectionTime() for i in range(beans.size())) / 1e3


def input_bytes(df) -> int:
    """On-disk size of the files the DataFrame reads."""
    return sum(os.path.getsize(f.removeprefix("file://")) for f in df.inputFiles())


FALLBACK_MARKERS = ("Whole-stage codegen disabled", "falling back to interpreter mode")


def count_fallbacks(log_path: str) -> int:
    """Codegen fallbacks to interpreted evaluation, counted from the driver log."""
    try:
        with open(log_path, errors="replace") as f:
            return sum(1 for line in f if any(m in line for m in FALLBACK_MARKERS))
    except OSError:
        return 0


# ---------------------------------------------------------------- event log

def read_event_log(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir`` (Spark 4
    writes each log as a directory of rolled event files)."""
    events = []
    for dp, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith("events_") or name.startswith("local-"):
                with open(os.path.join(dp, name)) as f:
                    events.extend(json.loads(line) for line in f if line.strip())
    return events


def executor_metrics(events: list[dict], groups: dict[str, float], cores: int) -> dict[str, float]:
    """Per-job executor figures for the Spark jobs of each job group.

    ``groups`` maps a job group id (one benchmark job) to its wall seconds.
    Returns medians per benchmark job, except ``core_busy_ratio`` (summed
    task time over summed wall × cores).
    """
    stage_group: dict[int, str] = {}
    for e in events:
        if e["Event"] == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get("spark.jobGroup.id")
            if g in groups:
                for sid in e["Stage IDs"]:
                    stage_group[sid] = g
    per = {g: {"cpu": 0.0, "run": 0.0, "shuffle": 0, "spill": 0, "tasks": 0, "stages": {}}
           for g in groups}
    for e in events:
        ev = e["Event"]
        if ev == "SparkListenerTaskEnd":
            g = stage_group.get(e["Stage ID"])
            m = e.get("Task Metrics")
            if g is None or not m:
                continue
            a = per[g]
            a["cpu"] += m["Executor CPU Time"] / 1e9
            a["run"] += m["Executor Run Time"] / 1e3
            a["shuffle"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
            a["spill"] += m["Disk Bytes Spilled"] + m["Memory Bytes Spilled"]
            a["tasks"] += 1
            info = e["Task Info"]
            st = a["stages"].setdefault(e["Stage ID"], {"durs": [], "span": [None, None]})
            st["durs"].append(info["Finish Time"] - info["Launch Time"])
        elif ev == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get(info["Stage ID"])
            if g is not None and "Submission Time" in info and "Completion Time" in info:
                st = per[g]["stages"].setdefault(info["Stage ID"], {"durs": [], "span": [None, None]})
                st["span"] = [info["Submission Time"] / 1e3, info["Completion Time"] / 1e3]
    skews, overheads = [], []
    for g, a in per.items():
        stages = [s for s in a["stages"].values() if s["durs"]]
        if stages:
            slow = max(stages, key=lambda s: max(s["durs"]))
            skews.append(max(slow["durs"]) / max(1.0, statistics.median(slow["durs"])))
        spans = sorted(s["span"] for s in a["stages"].values() if s["span"][0] is not None)
        covered, cur = 0.0, None
        for lo, hi in spans:
            if cur is None or lo > cur[1]:
                if cur:
                    covered += cur[1] - cur[0]
                cur = [lo, hi]
            else:
                cur[1] = max(cur[1], hi)
        if cur:
            covered += cur[1] - cur[0]
        overheads.append(max(0.0, groups[g] - covered))
    vals = list(per.values())
    mb = 1 / (1 << 20)
    return {
        "exec.task_cpu_s": median([a["cpu"] for a in vals]),
        "exec.core_busy_ratio": sum(a["run"] for a in vals) / max(1e-9, sum(groups.values()) * cores),
        "exec.shuffle_write_mb": median([a["shuffle"] * mb for a in vals]),
        "exec.spill_mb": median([a["spill"] * mb for a in vals]),
        "exec.task_skew": median(skews),
        "exec.tasks": median([a["tasks"] for a in vals]),
        "driver.overhead_s": median(overheads),
    }
