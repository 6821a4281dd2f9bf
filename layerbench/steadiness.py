#!/usr/bin/env python3
"""Repeat untraced runs of the layer benchmark and summarise their spread.

  python3 layerbench/steadiness.py --workloads caltopo_etl,llm_dedup \
      --seeds 1-10 --sets 2 --out .bench_build/steadiness.json

Runs `run.py --trace 0` for BENCHMARK.json's `run_seconds` once per
workload, seed and set. The workloads run
one after another; within a workload the sets are interleaved, one run of
each set per seed, in alternating order (1 2, 2 1, 1 2, ...), so that slow
drift of the host lands on every set alike instead of on whichever set ran
last. Saves every result line, with its start time and the share of the
host's CPU time stolen by the hypervisor during the run (from /proc/stat,
where it exists), to --out and prints, per workload and metric, the median and quartiles over
all runs, each set's spread (interquartile range over median, from
`statistics.quantiles(values, n=4)`), each set's median, and the largest
difference between set medians as a share of the first.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def cpu_times():
    """(steal, total) jiffies of all CPUs, or None without /proc/stat."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None
    return fields[7], sum(fields[:8])


def summarise(workload, sets):
    print(f"\n**{workload}**\n")
    names = sorted(set.intersection(*(set(r["metrics"]) for s in sets for r in s)))
    print("| metric | median | q1 | q3 | spread per set | set medians | set diff |")
    print("|---|---|---|---|---|---|---|")
    for name in names:
        per_set = [[r["metrics"][name]["value"] for r in s] for s in sets]
        q1, med, q3 = statistics.quantiles([v for vs in per_set for v in vs], n=4)
        spreads = []
        for vs in per_set:
            a, m, b = statistics.quantiles(vs, n=4)
            spreads.append((b - a) / m)
        meds = [statistics.median(vs) for vs in per_set]
        diff = max(abs(m - meds[0]) / meds[0] for m in meds)
        print(f"| `{name}` | {med:.4g} | {q1:.4g} | {q3:.4g} | "
              f"{' / '.join(f'{x:.3f}' for x in spreads)} | "
              f"{' / '.join(f'{m:.4g}' for m in meds)} | {diff:.3f} |")
    failed = sum(r["failed"] for s in sets for r in s)
    print(f"\n{sum(len(s) for s in sets)} runs, {failed} failed ops")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=2)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    workloads = args.workloads.split(",")
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        seconds = str(json.load(f)["run_seconds"])
    record = {w: [[] for _ in range(args.sets)] for w in workloads}
    for w in workloads:
        for i, seed in enumerate(seeds(args.seeds)):
            order = range(args.sets) if i % 2 == 0 else reversed(range(args.sets))
            for k in order:
                start, cpu0 = time.time(), cpu_times()
                r = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload",
                     w, "--seed", str(seed), "--seconds", seconds,
                     "--trace", "0"],
                    stdout=subprocess.PIPE, text=True, timeout=900)
                line = json.loads(r.stdout.strip().splitlines()[-1])
                cpu1 = cpu_times()
                steal = ((cpu1[0] - cpu0[0]) / (cpu1[1] - cpu0[1])
                         if cpu0 and cpu1 else None)
                line.update(seed=seed, start=start, exit=r.returncode, steal=steal)
                record[w][k].append(line)
                print(f"{w} seed {seed} set {k + 1}: exit {r.returncode}",
                      file=sys.stderr, flush=True)
                with open(args.out, "w") as f:
                    json.dump(record, f, indent=1)
    for w in workloads:
        summarise(w, record[w])
    return 0


if __name__ == "__main__":
    sys.exit(main())
