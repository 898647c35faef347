#!/usr/bin/env python3
"""Steadiness check of the pipeline benchmark.

    python3 perfbench/steady.py

Runs the benchmark twice on the same code: two sets of RUNS runs per
workload of BENCHMARK.json, at its `run_seconds`, each run with another
seed (set k uses seeds 1000*k+1 ...). Per set it prints every end-to-end
metric's first quartile, median and third quartile
(`statistics.quantiles(values, n=4)`) and its spread, (Q3 - Q1) / median.
The sets agree when, for every metric and workload, each spread stays
within the metric's bound from BENCHMARK.json and the second set's median
is not worse than the first set's by more than the bound. Runs whose
host-noise control was flagged are listed. Run from the repository root;
raw results go to `.bench_build/steady.json`. Exits 1 if the sets
disagree or a run fails.
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


def one_run(cmd, workload, seed, seconds):
    r = subprocess.run(cmd + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(seconds), "--trace", "0"],
                       cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stderr[-2000:])
        raise SystemExit(f"run failed: {workload} seed {seed} (exit {r.returncode})")
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "host.json")) as fh:
        host = json.load(fh)
    return {"seed": seed, "result": json.loads(lines[-1]), "host": host}


def quartiles(values):
    q1, med, q3 = statistics.quantiles(values, n=4)
    return q1, med, q3, (q3 - q1) / med


def main():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = [w["name"] for w in bench["workloads"]]
    sets = [{w: [one_run(bench["command"], w, 1000 * k + i + 1, bench["run_seconds"])
                 for i in range(RUNS)] for w in workloads} for k in range(SETS)]
    with open(os.path.join(ROOT, ".bench_build", "steady.json"), "w") as fh:
        json.dump(sets, fh)

    ok = True
    for k, s in enumerate(sets):
        for w, runs in s.items():
            for r in runs:
                if not r["result"]["correct"]:
                    print(f"set {k + 1} {w} seed {r['seed']}: failed checks")
                    ok = False
                if r["host"]["flagged"]:
                    h = r["host"]
                    print(f"set {k + 1} {w} seed {r['seed']}: host-noise control flagged "
                          f"({h['calib_before_s']:.3f}s -> {h['calib_after_s']:.3f}s, "
                          f"{h['steal']:.1%} stolen)")
    print(f"{'workload':18s} {'metric':28s} {'set':>3s} {'q1':>10s} {'median':>10s} "
          f"{'q3':>10s} {'spread':>7s} {'bound':>6s}  verdict")
    for w in workloads:
        for m in bench["end_to_end"]:
            name = m["name"]
            first = None
            for k, s in enumerate(sets):
                q1, med, q3, spread = quartiles([r["result"]["metrics"][name]["value"]
                                                 for r in s[w]])
                verdict = []
                if spread > m["bound"]:
                    verdict.append("SPREAD")
                    ok = False
                elif spread > m["bound"] / 3:
                    verdict.append("spread>bound/3")
                if first is None:
                    first = med
                else:
                    worse = (med - first) / first if m["better"] == "lower" else (first - med) / first
                    if worse > m["bound"]:
                        verdict.append(f"WORSE {worse:+.1%}")
                        ok = False
                print(f"{w:18s} {name:28s} {k + 1:3d} {q1:10.4f} {med:10.4f} {q3:10.4f} "
                      f"{spread:7.1%} {m['bound']:6.2f}  {' '.join(verdict) or 'ok'}")
    print("sets agree within bounds" if ok else "sets DISAGREE or runs failed")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
