#!/usr/bin/env python3
"""Compare per-entry timings across Bench full-JSON artifacts.

Usage: bench_compare.py LABEL1=file1.json LABEL2=file2.json [...]
Each file is one JSON line as written by graft.Bench (SPARK_GRAFT_BENCH_OUT).
When two files share a label prefix split by '+', their per-entry MINIMUM is
combined first (the min-combine >= 2 fresh runs protocol), e.g.
  bench_compare.py old=o1.json+o2.json new=n1.json+n2.json
Prints a per-entry table (seconds, ratio last/first label) sorted by ratio,
plus totals, and a summary of entries whose ratio exceeds +/-15%.
When both compared labels carry per-sample scheduler counters (the `profile`
block Bench writes), it also prints per-entry jobs and task CPU ms (min over
samples) with their ratios: units that host load does not move.
"""
import json
import sys


def load(path):
    with open(path) as f:
        return json.loads(f.read().strip())


def combined(paths):
    runs = [load(p) for p in paths.split("+")]
    names = set()
    for r in runs:
        names.update(r["queries"].keys())
    out = {}
    for n in sorted(names):
        vals = [r["queries"][n] for r in runs if n in r["queries"]]
        out[n] = min(vals)
    return out, counters(runs)


def counters(runs):
    """Per-entry (min jobs, min cpu_ms) over every profile sample, or None
    when a run has no scheduler counters (artifacts older than them)."""
    samples = {}
    for r in runs:
        prof = r.get("profile")
        if not prof:
            return None
        for n, ps in prof.items():
            if any("jobs" not in p for p in ps):
                return None
            samples.setdefault(n, []).extend(ps)
    return {n: (min(p["jobs"] for p in ps), min(p["cpu_ms"] for p in ps))
            for n, ps in samples.items() if ps}


def fmt_ratio(b, l):
    return f"{l / b:5.2f}" if b else "  n/a"


def main():
    labels = []
    data = {}
    prof = {}
    for arg in sys.argv[1:]:
        label, paths = arg.split("=", 1)
        labels.append(label)
        data[label], prof[label] = combined(paths)
    base, last = labels[0], labels[-1]
    names = sorted(set(data[base]) | set(data[last]))
    rows = []
    for n in names:
        b = data[base].get(n)
        l = data[last].get(n)
        ratio = (l / b) if (b and l) else float("nan")
        rows.append((n, b, l, ratio))
    rows.sort(key=lambda r: -(r[3] if r[3] == r[3] else 0))
    w = max(len(n) for n in names)
    print(f"{'entry':{w}}  {base:>9}  {last:>9}  ratio")
    for n, b, l, ratio in rows:
        bs = f"{b:9.3f}" if b is not None else "    -    "
        ls = f"{l:9.3f}" if l is not None else "    -    "
        print(f"{n:{w}}  {bs}  {ls}  {ratio:5.2f}")
    # totals over the INTERSECTION only: summing each label over its own
    # entry set would compare different workloads whenever coverage
    # differs (e.g. a renamed entry present in one artifact only)
    shared = sorted(set(data[base]) & set(data[last]))
    skipped = sorted((set(data[base]) | set(data[last])) - set(shared))
    tb = sum(data[base][n] for n in shared)
    tl = sum(data[last][n] for n in shared)
    ratio_s = f"{tl / tb:5.2f}" if tb else "  n/a"
    print(f"\n{'TOTAL (shared)':{w}}  {tb:9.3f}  {tl:9.3f}  {ratio_s}"
          f"  ({len(shared)} entries)")
    if skipped:
        print(f"excluded from totals (not in both): {', '.join(skipped)}")
    worse = [(n, r) for n, b, l, r in rows if r == r and r > 1.15]
    better = sorted(((n, r) for n, b, l, r in rows if r == r and r < 0.87),
                    key=lambda nr: nr[1])
    print(f"\n>15% slower under {last}: {len(worse)}")
    for n, r in worse[:20]:
        print(f"  {n}  {r:.2f}x")
    print(f">15% faster under {last}: {len(better)}")
    for n, r in better[:20]:
        print(f"  {n}  {r:.2f}x")
    if prof[base] is not None and prof[last] is not None:
        both = sorted(set(prof[base]) & set(prof[last]))
        print(f"\n{'entry':{w}}  {'jobs':>11}  ratio  {'cpu_ms':>15}  ratio"
              f"  ({base} -> {last}, min over samples)")
        for n in both:
            (jb, cb), (jl, cl) = prof[base][n], prof[last][n]
            print(f"{n:{w}}  {jb:5d}{jl:6d}  {fmt_ratio(jb, jl)}  "
                  f"{cb:7d}{cl:8d}  {fmt_ratio(cb, cl)}")


if __name__ == "__main__":
    main()
