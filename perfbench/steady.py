"""Steadiness self-check: run each workload several times, one seed per
run, and report every end-to-end metric's median, quartiles and spread
(interquartile distance over the median) against its bound in
BENCHMARK.json.

    python3 perfbench/steady.py [--runs 10] [--first-seed 1] [--workload NAME ...]

Writes the full record (every run's metrics plus nproc, loadavg, seed
and pyspark version) to ``.perfbench/steady-<time>.json`` and prints one
line per (workload, metric). Exits 1 if a spread other than setup_s's
exceeds its bound or a run fails its output checks.
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


def run_once(workload: str, seed: int, seconds: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=180,
    )
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} exited {proc.returncode}:\n{proc.stderr[-2000:]}")
    env = next(json.loads(x[4:]) for x in lines if x.startswith("env "))
    return {"env": env, "result": json.loads(lines[-1])}


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med


def main(argv=None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--workload", action="append",
                   choices=[w["name"] for w in bench["workloads"]])
    args = p.parse_args(argv)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    record = {"runs": [], "summary": []}
    ok = True
    for w in names:
        runs = []
        for i in range(args.runs):
            seed = args.first_seed + i
            t0 = time.time()
            r = run_once(w, seed, bench["run_seconds"])
            r["wall_s"] = round(time.time() - t0, 1)
            runs.append(r)
            record["runs"].append(dict(r, workload=w, seed=seed))
            ok &= r["result"]["correct"]
            print(f"{w} seed={seed} wall={r['wall_s']}s loadavg={r['env']['loadavg']} "
                  f"correct={r['result']['correct']}", flush=True)
        for m, bound in bounds.items():
            vals = [r["result"]["metrics"][m]["value"] for r in runs]
            med, q1, q3, sp = spread(vals)
            good = sp <= bound or m == "setup_s"
            ok &= good
            row = {"workload": w, "metric": m, "median": med, "q1": q1, "q3": q3,
                   "spread": sp, "bound": bound, "within_third": sp < bound / 3}
            record["summary"].append(row)
            print(f"  {m:14s} median={med:12.4f} q1={q1:12.4f} q3={q3:12.4f} "
                  f"spread={sp:.3f} bound={bound} {'ok' if good else 'WIDE'}", flush=True)
    out = os.path.join(ROOT, ".perfbench", f"steady-{int(time.time())}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    with open(out, "w") as f:
        json.dump(record, f, indent=1)
    print(f"record {out}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
