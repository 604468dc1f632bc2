"""Compare two versions of the engine on the benchmark (parent vs change).

Collect alternating pairs, same seed on both sides, into one JSON-lines file:

    python3 perfbench/compare.py run --parent ../parent --change . --pairs 10 \\
        --out /tmp/pairs.jsonl [--workload pages_verdicts ...] [--trace 1]

Report every (workload, metric) with both sides' median and quartiles, the
pairs the change won, and a verdict:

    python3 perfbench/compare.py report /tmp/pairs.jsonl

Verdicts (choosing-metrics §6.5 and §8):
- improved: the change wins at least 9/10 of the pairs run (ties count for
  neither; a pair whose change run failed a check is a loss) and the
  medians differ, in its favour, by more than the parent's own quartile
  spread — withheld when the change's runs failed more operations than the
  parent's;
- unresolved: the parent's spread (IQR / median) is wider than the
  metric's bound, and not every change run beats every parent run;
- regressed: the change's median is worse than the parent's by more than
  the bound;
- no-worse: otherwise.
Per-layer metrics (``--trace 1`` runs) have no bound: they get medians,
quartiles and pair wins only. Any run whose outputs failed a check is
listed first; its figures do not count towards the medians.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def _bench(path: str) -> dict:
    with open(os.path.join(path, "BENCHMARK.json")) as f:
        return json.load(f)


def _run_one(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "error": p.stderr[-2000:]}


def cmd_run(a: argparse.Namespace) -> None:
    bench = _bench(HERE + "/..")
    workloads = a.workload or [w["name"] for w in bench["workloads"]]
    with open(a.out, "a") as out:
        for w in workloads:
            for i in range(a.pairs):
                seed = a.seed + i
                sides = [("parent", a.parent), ("change", a.change)]
                for side, path in sides if i % 2 == 0 else sides[::-1]:
                    res = _run_one(path, w, seed, a.seconds or bench["run_seconds"], a.trace)
                    out.write(json.dumps({"side": side, "workload": w, "pair": i, "seed": seed,
                                          "trace": a.trace, "result": res}) + "\n")
                    out.flush()
                    print(f"{w} pair {i} {side}: correct={res['correct']}", file=sys.stderr)


def _quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q = statistics.quantiles(xs, n=4)
    return q[0], statistics.median(xs), q[2]


def verdict(parent: list[float], change: list[float], wins: int, pairs: int,
            better: str, bound: float | None, more_failures: bool = False) -> str:
    """The §8 verdict for one metric on one workload (see module doc)."""
    sign = 1 if better == "higher" else -1
    p1, pm, p3 = _quartiles(parent)
    _, cm, _ = _quartiles(change)
    gain = sign * (cm - pm)
    if not more_failures and pairs and wins >= 0.9 * pairs and gain > p3 - p1:
        return "improved"
    if bound is None:
        return "-"
    if pm and (p3 - p1) / abs(pm) > bound:
        if min(sign * c for c in change) > max(sign * p for p in parent):
            return "no-worse"
        return "unresolved"
    if pm and -gain / abs(pm) > bound:
        return "regressed"
    return "no-worse"


def cmd_report(a: argparse.Namespace) -> None:
    bench = _bench(HERE + "/..")
    spec = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    rows = [json.loads(line) for line in open(a.results) if line.strip()]
    for r in rows:
        if not r["result"]["correct"]:
            print(f"FAILED RUN: {r['side']} {r['workload']} seed {r['seed']} "
                  f"({r['result']['failed']} of {r['result']['attempted']} failed)")
    ok = [r for r in rows if r["result"]["correct"]]
    print(f"{'workload':16s} {'metric':30s} {'parent q1/med/q3':>32s} {'change q1/med/q3':>32s} "
          f"{'wins':>7s}  verdict")
    for w in sorted({r["workload"] for r in rows}):
        pairs = {r["pair"] for r in rows if r["workload"] == w}
        failed = {side: sum(r["result"]["failed"] for r in rows
                            if r["workload"] == w and r["side"] == side)
                  for side in ("parent", "change")}
        if failed["change"] > failed["parent"]:
            print(f"{w}: the change failed {failed['change']} operations, the parent "
                  f"{failed['parent']}: no gain can be claimed")
        names = sorted({m for r in ok if r["workload"] == w for m in r["result"]["metrics"]},
                       key=lambda m: (m not in {e["name"] for e in bench["end_to_end"]}, m))
        for m in names:
            if m not in spec:
                continue
            by = {"parent": {}, "change": {}}
            for r in ok:
                if r["workload"] == w and m in r["result"]["metrics"]:
                    by[r["side"]][r["pair"]] = r["result"]["metrics"][m]["value"]
            par, chg = list(by["parent"].values()), list(by["change"].values())
            if not par or not chg:
                continue
            sign = 1 if spec[m]["better"] == "higher" else -1
            # wins over every pair run: a pair missing either side's figure
            # (a failed run) is not a win
            both = set(by["parent"]) & set(by["change"])
            wins = sum(1 for i in both if sign * (by["change"][i] - by["parent"][i]) > 0)
            v = verdict(par, chg, wins, len(pairs), spec[m]["better"], spec[m].get("bound"),
                        failed["change"] > failed["parent"])
            fmt = lambda xs: "/".join(f"{x:.4g}" for x in _quartiles(xs))  # noqa: E731
            print(f"{w:16s} {m:30s} {fmt(par):>32s} {fmt(chg):>32s} {wins:>3d}/{len(pairs):<3d}  {v}")


def main() -> None:
    p = argparse.ArgumentParser(description="Compare parent and change on the benchmark.")
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run", help="run alternating parent/change pairs")
    r.add_argument("--parent", required=True, help="checkout of the parent commit")
    r.add_argument("--change", required=True, help="checkout of the change")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed", type=int, default=1000, help="first seed; pair i uses seed + i")
    r.add_argument("--seconds", type=int, default=0, help="default: run_seconds of BENCHMARK.json")
    r.add_argument("--trace", type=int, choices=[0, 1], default=0)
    r.add_argument("--workload", action="append", help="repeatable; default: every workload")
    r.add_argument("--out", required=True, help="JSON-lines file the runs are appended to")
    r.set_defaults(fn=cmd_run)
    s = sub.add_parser("report", help="medians, quartiles, pair wins and verdicts")
    s.add_argument("results")
    s.set_defaults(fn=cmd_report)
    a = p.parse_args()
    a.fn(a)


if __name__ == "__main__":
    main()
