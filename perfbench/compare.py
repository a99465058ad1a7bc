#!/usr/bin/env python3
"""Parent-vs-change comparison for the repo benchmark.

Runs the benchmark in two checkouts on the same seeds, in pairs whose
order alternates (parent first on even pairs, change first on odd ones),
then reports for each workload and end-to-end metric: each side's median
and quartiles, the share of pairs the change won (ties count for
neither), and whether the claim rule holds (the change wins at least 9 of
10 pairs and the medians differ by more than the parent's own quartile
spread). One traced run per side adds the per-layer count deltas.

Usage:
    python3 perfbench/compare.py --parent <checkout> --change <checkout> \\
        [--workload <name> ...] [--seeds 1-10]

Each checkout must hold BENCHMARK.json and perfbench/ (the same benchmark
code on both sides). Every run measures for the parent's BENCHMARK.json
run_seconds.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

from run import read


def quartiles(xs: list) -> tuple:
    if len(xs) < 2:
        return (xs[0], xs[0], xs[0])
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return (q1, q2, q3)


def run_once(checkout: str, workload: str, seed: int, seconds: int, trace: int) -> dict:
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", workload,
                        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
                       cwd=checkout, capture_output=True, text=True)
    if p.returncode != 0:
        raise SystemExit(f"{checkout}: {workload} seed {seed} failed:\n{p.stderr[-2000:]}")
    return json.loads(p.stdout.strip().splitlines()[-1])


def collect(args, spec: dict) -> list:
    seconds = spec["run_seconds"]
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    lo, _, hi = args.seeds.partition("-")
    seeds = list(range(int(lo), int(hi or lo) + 1))
    rows = []
    for w in workloads:
        for i, seed in enumerate(seeds):
            order = [("parent", args.parent), ("change", args.change)]
            for side, co in (order if i % 2 == 0 else order[::-1]):
                rows.append({"side": side, "workload": w, "seed": seed, "trace": 0,
                             "result": run_once(co, w, seed, seconds, 0)})
        for side, co in (("parent", args.parent), ("change", args.change)):
            rows.append({"side": side, "workload": w, "seed": seeds[0], "trace": 1,
                         "result": run_once(co, w, seeds[0], seconds, 1)})
    return rows


def verdict(sgn: int, p: tuple, c: tuple, wins: int, pairs: int, bound: float,
            all_better: bool) -> str:
    """The claim rule: a gain needs >= 9/10 pairs won and a
    median shift larger than the parent's quartile spread; a spread wider
    than the bound leaves the metric unresolved unless every change run
    beats every parent run; otherwise worse-than-bound is a regression."""
    spread = p[2] - p[0]
    if sgn * (c[1] - p[1]) > spread and wins >= 0.9 * pairs:
        return "GAIN"
    if spread > bound * abs(p[1]) and not all_better:
        return "unresolved"
    return "REGRESSION" if -sgn * (c[1] - p[1]) > bound * abs(p[1]) else "flat"


def report(rows: list, spec: dict) -> str:
    better = {m["name"]: m["better"] for m in spec["end_to_end"] + spec["per_layer"]}
    bound = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    out = []
    for w in sorted({r["workload"] for r in rows}):
        timed = [r for r in rows if r["workload"] == w and r["trace"] == 0]
        out.append(f"== {w}")
        fails = {s: sum(r["result"]["failed"] for r in timed if r["side"] == s) for s in ("parent", "change")}
        out.append(f"   failed ops: parent {fails['parent']}  change {fails['change']}")
        for m in bound:
            side = {s: {r["seed"]: r["result"]["metrics"][m]["value"] for r in timed if r["side"] == s}
                    for s in ("parent", "change")}
            seeds = sorted(set(side["parent"]) & set(side["change"]))
            if not seeds:
                continue
            sgn = 1 if better[m] == "higher" else -1
            wins = sum(1 for s in seeds if sgn * (side["change"][s] - side["parent"][s]) > 0)
            p, c = quartiles([side["parent"][s] for s in seeds]), quartiles([side["change"][s] for s in seeds])
            all_better = min(sgn * side["change"][s] for s in seeds) > max(sgn * side["parent"][s] for s in seeds)
            out.append(f"   {m:14s} parent {p[1]:.4g} [{p[0]:.4g}, {p[2]:.4g}]  "
                       f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  "
                       f"change won {wins}/{len(seeds)}  -> "
                       f"{verdict(sgn, p, c, wins, len(seeds), bound[m], all_better)}")
        traced = {r["side"]: r["result"]["metrics"] for r in rows if r["workload"] == w and r["trace"] == 1}
        if len(traced) == 2:
            out.append("   per-layer counts (parent -> change):")
            for name, v in traced["parent"].items():
                if v["unit"] != "count":
                    continue
                a, b = v["value"], traced["change"][name]["value"]
                if a or b:
                    mark = "" if a == b else f"  ({b - a:+g})"
                    out.append(f"     {name:32s} {a:g} -> {b:g}{mark}")
    return "\n".join(out)


def main() -> int:
    ap = argparse.ArgumentParser(description="parent-vs-change benchmark comparison")
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args()
    spec = json.loads(read(os.path.join(args.parent, "BENCHMARK.json")))
    print(report(collect(args, spec), spec))
    return 0


if __name__ == "__main__":
    sys.exit(main())
