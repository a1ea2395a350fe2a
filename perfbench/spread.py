#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload <name> [--seeds 1-10] [--trace 0]
    python3 perfbench/spread.py --workload <name> --seeds 1-3 --overhead

Runs the benchmark once per seed (sequentially, from the repository root)
and prints, per metric, the median, the quartiles and the spread: the
distance between the first and third quartile (statistics.quantiles with
n=4) as a share of the median, next to the metric's bound from
BENCHMARK.json. Each run's JSON line is appended to perfbench/out/spread.jsonl.

With --overhead, each seed runs untraced and then traced, and the script
prints the tracing overhead: the traced run's end-to-end figures (printed
as `e2e <name> <value>` lines) relative to the untraced run's, median over
seeds.
"""

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(bench, workload, seed, trace):
    t0 = time.monotonic()
    p = subprocess.run(bench["command"] + ["--workload", workload, "--seed", str(seed),
                                           "--seconds", str(bench["run_seconds"]),
                                           "--trace", str(trace)],
                       stdout=subprocess.PIPE, text=True)
    wall = time.monotonic() - t0
    lines = p.stdout.strip().splitlines()
    e2e = {l.split()[1]: float(l.split()[2]) for l in lines if l.startswith("e2e ")}
    try:
        res = json.loads(lines[-1])
    except (ValueError, IndexError):
        res = None
    return p.returncode, wall, res, e2e


def overhead(bench, a):
    rel = {}
    for seed in seeds(a.seeds):
        _, _, _, plain = run(bench, a.workload, seed, 0)
        _, _, _, traced = run(bench, a.workload, seed, 1)
        for k, v in plain.items():
            if v and k in traced:
                rel.setdefault(k, []).append(traced[k] / v - 1)
        print(f"seed {seed}: " + ", ".join(f"{k} {plain[k]:.4g} -> {traced.get(k, float('nan')):.4g}"
                                          for k in plain))
    for k, vs in rel.items():
        print(f"overhead {k:<18} {statistics.median(vs):+.3f} (traced/untraced - 1, n={len(vs)})")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", default="0")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    if a.overhead:
        return overhead(bench, a)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    values = {}
    os.makedirs(os.path.join(BENCH_DIR, "out"), exist_ok=True)
    log = open(os.path.join(BENCH_DIR, "out", "spread.jsonl"), "a")
    for seed in seeds(a.seeds):
        code, wall, res, _ = run(bench, a.workload, seed, a.trace)
        if res is None:
            print(f"seed {seed}: no result (exit {code})")
            continue
        log.write(json.dumps({"workload": a.workload, "seed": seed, "wall_s": wall,
                              "exit": code, "result": res}) + "\n")
        log.flush()
        print(f"seed {seed}: exit {code} correct {res['correct']} wall {wall:.1f} s")
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    print(f"{'metric':<20}{'n':>3}{'median':>16}{'q1':>16}{'q3':>16}{'spread':>9}{'bound':>7}")
    for k, vs in values.items():
        if len(vs) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vs, n=4)
        spread = (q3 - q1) / med if med else float("nan")
        b = bounds.get(k)
        flag = "" if b is None or spread <= b / 3 else ("  > bound/3" if spread <= b else "  > BOUND")
        print(f"{k:<20}{len(vs):>3}{med:>16.4f}{q1:>16.4f}{q3:>16.4f}{spread:>9.4f}"
              f"{(b if b is not None else float('nan')):>7.2f}{flag}")


if __name__ == "__main__":
    sys.exit(main())
