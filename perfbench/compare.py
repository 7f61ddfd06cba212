"""Run-set comparison.

Collect a set of runs (one per seed, one after another, each a separate
process), then compare two sets metric by metric:

    python3 perfbench/compare.py collect --workload ais --seeds 1-10 --out a.jsonl
    python3 perfbench/compare.py diff a.jsonl b.jsonl

For every (metric, workload) pair `diff` prints each set's median and
quartiles (`statistics.quantiles(n=4)`) and the spread (quartile distance
over median). An end-to-end metric whose second median is worse than the
first by more than its bound in BENCHMARK.json is flagged WORSE; when
either set's spread is wider than the bound the pair is UNRESOLVED unless
every run of the second set beats every run of the first. Host telemetry
(loadavg at entry, single-core CPU marker) is summarized per set so a
degraded host shows next to the numbers it produced.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json")


def parse_seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def collect(workload: str, seeds: list[int], trace: int, out: str) -> int:
    """Run the benchmark once per seed, for `run_seconds` from
    BENCHMARK.json, and append one JSON record per run."""
    with open(BENCH) as fh:
        seconds = json.load(fh)["run_seconds"]
    failures = 0
    for seed in seeds:
        cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
               "--seconds", str(seconds), "--trace", str(trace)]
        proc = subprocess.run(cmd, capture_output=True, text=True, timeout=300)
        lines = proc.stdout.strip().splitlines()
        record = {"workload": workload, "seed": seed, "trace": trace, "exit": proc.returncode}
        for line in lines[-2:]:
            if line.startswith("{"):
                record.update(json.loads(line))
        if proc.returncode != 0 or "metrics" not in record:
            failures += 1
            record["stderr_tail"] = proc.stderr.strip().splitlines()[-5:]
        with open(out, "a") as fh:
            fh.write(json.dumps(record) + "\n")
        summary = {k: round(v["value"], 4) for k, v in record.get("metrics", {}).items()} if trace == 0 else ""
        print(f"{workload} seed {seed}: exit {proc.returncode} {summary}", flush=True)
    return 1 if failures else 0


def load(path: str) -> list[dict]:
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q1, q2, q3


def spread(values: list[float]) -> float:
    q1, q2, q3 = quartiles(values)
    return (q3 - q1) / abs(q2) if q2 else float("inf")


def verdict(a: list[float], b: list[float], better: str, bound: float | None) -> str:
    if bound is None or not b:
        return ""
    med_a, med_b = statistics.median(a), statistics.median(b)
    worse = (med_b - med_a) / abs(med_a) * (1 if better == "lower" else -1) if med_a else 0.0
    if spread(a) > bound or spread(b) > bound:
        all_better = max(b) < min(a) if better == "lower" else min(b) > max(a)
        return "better" if all_better else "UNRESOLVED"
    return "WORSE" if worse > bound else "ok"


def diff(path_a: str, path_b: str | None) -> int:
    with open(BENCH) as fh:
        decl = json.load(fh)
    bounds = {m["name"]: (m["better"], m["bound"]) for m in decl["end_to_end"]}
    sets = [load(path_a)] + ([load(path_b)] if path_b else [])
    flagged = 0
    for i, runs in enumerate(sets):
        tele = [r.get("telemetry", {}) for r in runs]
        loads = [t["loadavg_entry"] for t in tele if "loadavg_entry" in t]
        marks = [t["cpu_marker_s"] for t in tele if "cpu_marker_s" in t]
        bad = sum(1 for r in runs if r.get("exit") != 0 or not r.get("correct", False))
        print(
            f"set {'AB'[i]}: {len(runs)} runs, {bad} failed or incorrect; "
            f"loadavg at entry median {statistics.median(loads) if loads else float('nan'):.2f}, "
            f"cpu marker median {statistics.median(marks) if marks else float('nan'):.3f} s"
        )
    print(f"{'workload':<10} {'metric':<44} {'set':<3} {'q1':>12} {'median':>12} {'q3':>12} {'spread':>7}  verdict")
    workloads = sorted({r["workload"] for runs in sets for r in runs})
    for wl in workloads:
        names = sorted({n for runs in sets for r in runs if r["workload"] == wl for n in r.get("metrics", {})})
        for name in names:
            vals = [
                [r["metrics"][name]["value"] for r in runs if r["workload"] == wl and name in r.get("metrics", {})]
                for runs in sets
            ]
            better, bound = bounds.get(name, ("lower", None))
            v = verdict(vals[0], vals[1], better, bound) if len(vals) == 2 else ""
            flagged += v in ("WORSE", "UNRESOLVED")
            for i, vs in enumerate(vals):
                if not vs:
                    continue
                q1, q2, q3 = quartiles(vs)
                tail = v if i == len(vals) - 1 else ""
                if bound is not None and len(vals) == 1:
                    tail = "within bound" if spread(vs) <= bound else "SPREAD ABOVE BOUND"
                print(f"{wl:<10} {name:<44} {'AB'[i]:<3} {q1:>12.5g} {q2:>12.5g} {q3:>12.5g} {spread(vs):>7.3f}  {tail}")
    return 1 if flagged else 0


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description="collect and compare benchmark run sets")
    sub = ap.add_subparsers(dest="cmd", required=True)
    c = sub.add_parser("collect")
    c.add_argument("--workload", required=True)
    c.add_argument("--seeds", required=True, help="e.g. 1-10 or 1,3,5")
    c.add_argument("--trace", type=int, choices=(0, 1), default=0)
    c.add_argument("--out", required=True)
    d = sub.add_parser("diff")
    d.add_argument("a")
    d.add_argument("b", nargs="?")
    args = ap.parse_args(argv)
    if args.cmd == "collect":
        return collect(args.workload, parse_seeds(args.seeds), args.trace, args.out)
    return diff(args.a, args.b)


if __name__ == "__main__":
    sys.exit(main())
