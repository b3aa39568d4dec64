"""Steadiness check: run each workload N times, one seed per run, and print
for every metric its median, quartiles and (q3 - q1) / median against the
bound BENCHMARK.json gives it.

    python3 perfbench/steady.py --runs 10 [--workload push_read ...]
        [--first-seed 1] [--trace 0]

Every bounded metric, setup_s too, is flagged ``ok`` when its spread is
within a third of its bound.  Runs are sequential (they share the
machine's cores).  Raw results are kept in
.perfbench/steady-<workload>-t<trace>.json for later comparison, with each
run's wall time.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload",
           workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    if p.returncode != 0:
        raise RuntimeError(f"{' '.join(cmd)} exited {p.returncode}:\n"
                           + p.stderr[-4000:])
    lines = p.stdout.strip().splitlines()
    return {"info": json.loads(lines[-2]), "result": json.loads(lines[-1]),
            "wall_s": time.perf_counter() - t0}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median), the quartiles taken with
    statistics.quantiles(values, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--workload", action="append",
                    choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    worst = 0.0
    walls = []
    for wl in args.workload or [w["name"] for w in bench["workloads"]]:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            runs.append(run_once(wl, seed, bench["run_seconds"], args.trace))
            r = runs[-1]["result"]
            print(f"{wl} seed={seed} correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']} "
                  f"wall={runs[-1]['wall_s']:.1f}s", flush=True)
        walls += [r["wall_s"] for r in runs]
        with open(os.path.join(ROOT, ".perfbench",
                               f"steady-{wl}-t{args.trace}.json"), "w") as fh:
            json.dump(runs, fh, indent=1)
        print(f"\n{wl}: {args.runs} runs")
        print(f"{'metric':32} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>8} {'bound':>6}")
        for name in runs[0]["result"]["metrics"]:
            vals = [r["result"]["metrics"][name]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            b = bounds.get(name)
            flag = ""
            if b is not None:
                worst = max(worst, sp / b)
                flag = "  ok" if sp <= b / 3 else "  WIDE"
            print(f"{name:32} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{sp:8.4f} {b if b is not None else '':>6}{flag}")
        print()
    print(f"largest spread / bound: {worst:.3f}")
    # a full two-sided comparison makes 4 + 22 runs per workload, and
    # must fit in 3420 s
    n_full = 4 + 22 * len(bench["workloads"])
    mean = statistics.mean(walls)
    print(f"mean wall per run {mean:.1f} s; {n_full} runs of that "
          f"take {n_full * mean:.0f} s (limit 3420 s)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
