#!/usr/bin/env python3
"""Steadiness check: run every workload on one commit in two sets of
seeded runs, and print each end-to-end metric's spread against its bound.

  python3 perfbench/steadiness.py

For every workload in BENCHMARK.json it makes two sets of ten timed runs
(seeds 1-10, then 11-20), then reports per metric and set: the median, the
spread (interquartile distance over the median, as
statistics.quantiles(values, n=4) gives the quartiles) and the bound from
BENCHMARK.json; for the second set also the shift of its median against the
first set's. A metric fails when a spread exceeds its bound or the shift,
either way, exceeds it. Raw runs go to .bench_build/steadiness/. Exits 1
when a check fails.
"""
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUNS = 10
SETS = 2


def run_once(bench, workload, seed):
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]), "--trace", "0"]
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
                       text=True, timeout=900)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}")
    res = json.loads(lines[-1])
    if not res["correct"]:
        raise SystemExit(f"{workload} seed {seed}: outputs failed their checks")
    return {k: v["value"] for k, v in res["metrics"].items()}


def spread(values):
    q1, _, q3 = statistics.quantiles(values, n=4)
    return (q3 - q1) / statistics.median(values)


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    out_dir = os.path.join(ROOT, ".bench_build", "steadiness")
    os.makedirs(out_dir, exist_ok=True)
    ok = True
    print(f"{'workload':12} {'metric':13} {'set':>3} {'median':>9} {'spread':>7} {'bound':>6} "
          f"{'shift':>7}  verdict")
    for w in [w["name"] for w in bench["workloads"]]:
        sets = []
        for s in range(SETS):
            runs = [run_once(bench, w, s * RUNS + i + 1) for i in range(RUNS)]
            with open(os.path.join(out_dir, f"{w}-set{s + 1}.json"), "w") as f:
                json.dump(runs, f, indent=1)
            sets.append(runs)
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            first = None
            for s, runs in enumerate(sets):
                vals = [r[name] for r in runs]
                med, sp = statistics.median(vals), spread(vals)
                shift = None if first is None else (med - first) / first
                bad = sp > bound or (shift is not None and abs(shift) > bound)
                ok &= not bad
                verdict = "FAIL" if bad else (
                    "ok" if sp <= bound / 3 else "ok (spread above a third of bound)")
                shown = "" if shift is None else f"{shift:+.3f}"
                print(f"{w:12} {name:13} {s + 1:>3} {med:9.4f} {sp:7.3f} {bound:6.2f} "
                      f"{shown:>7}  {verdict}")
                first = med if first is None else first
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
