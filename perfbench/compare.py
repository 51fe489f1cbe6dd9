#!/usr/bin/env python3
"""Compares two trees of the program with the same benchmark.

    python3 perfbench/compare.py --parent ../parent-tree --change . \\
        [--runs 10] [--workloads catalog_mix speed_layer] [--out runs.jsonl]

For each workload it alternates parent and change runs (pair i uses seed i
on both sides), always with this checkout's `perfbench/`, so only the
program differs. For each end-to-end metric of BENCHMARK.json it prints
each side's median and quartiles and a verdict:

  better / worse  the change won (lost) at least 9 of every 10 pairs, ties
                  counting for neither, and the medians differ by more
                  than the parent's quartile spread;
  flat            neither;
  unresolved      a side's quartile spread exceeds the metric's bound and
                  not every change run beats every parent run.

Pairs alternate which side runs first.

It then makes one traced run per side and prints the per-layer deltas.
"""
import argparse
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import stats  # noqa: E402


def bench_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(tree, workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=tree, stdout=subprocess.PIPE, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"compare: {workload} seed {seed} failed in {tree} "
                         f"(exit {p.returncode})")
    return json.loads(lines[-1])


def verdict(parent, change, better, bound):
    def beats(a, b):
        return a < b if better == "lower" else a > b
    if (max(stats.iqr_share(parent), stats.iqr_share(change)) > bound
            and not all(beats(c, p) for c in change for p in parent)):
        return "unresolved"
    q1, _, q3 = stats.quartiles(parent)
    if abs(stats.median(change) - stats.median(parent)) <= q3 - q1:
        return "flat"
    need = 0.9 * len(parent)
    if sum(beats(c, p) for p, c in zip(parent, change)) >= need:
        return "better"
    if sum(beats(p, c) for p, c in zip(parent, change)) >= need:
        return "worse"
    return "flat"


def fmt(xs):
    q1, q2, q3 = stats.quartiles(xs)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"


def report(runs, spec):
    for w in sorted({r["workload"] for r in runs}):
        print(f"\n== {w}: median [q1, q3] over "
              f"{sum(r['workload'] == w and r['side'] == 'parent' and not r['trace'] for r in runs)} pairs")
        pairs = {}
        for r in runs:
            if r["workload"] == w and not r["trace"]:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        seeds = sorted(s for s, p in pairs.items() if len(p) == 2)
        for m in spec["end_to_end"]:
            name = m["name"]
            par = [pairs[s]["parent"]["metrics"][name]["value"] for s in seeds]
            chg = [pairs[s]["change"]["metrics"][name]["value"] for s in seeds]
            if len(par) < 2:
                continue
            delta = stats.median(chg) / stats.median(par) - 1
            print(f"  {name:14s} parent {fmt(par):32s} change {fmt(chg):32s} "
                  f"{delta:+7.1%}  {verdict(par, chg, m['better'], m['bound'])}")
        traced = {r["side"]: r["result"]["metrics"] for r in runs
                  if r["workload"] == w and r["trace"]}
        if len(traced) == 2:
            print(f"  per-layer, one traced run per side:")
            for name, v in traced["parent"].items():
                p, c = v["value"], traced["change"][name]["value"]
                rel = f"{c / p - 1:+7.1%}" if p else "      -"
                print(f"    {name:32s} {p:14.4g} {c:14.4g} {rel}  {v['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", required=True, help="root of the parent tree")
    ap.add_argument("--change", default=".", help="root of the changed tree")
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workloads", nargs="*")
    ap.add_argument("--out", help="append every run to this JSON-lines file")
    a = ap.parse_args()
    spec = bench_spec()
    workloads = a.workloads or [w["name"] for w in spec["workloads"]]
    trees = {"parent": os.path.abspath(a.parent),
             "change": os.path.abspath(a.change)}
    runs = []

    def record(side, w, seed, trace):
        r = {"side": side, "workload": w, "seed": seed, "trace": trace,
             "result": one_run(trees[side], w, seed, spec["run_seconds"],
                               trace)}
        runs.append(r)
        if a.out:
            with open(a.out, "a") as f:
                f.write(json.dumps(r) + "\n")

    for w in workloads:
        for seed in range(a.runs):
            sides = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
            for side in sides:
                record(side, w, seed, 0)
        for side in ("parent", "change"):
            record(side, w, 0, 1)
    report(runs, spec)


if __name__ == "__main__":
    main()
