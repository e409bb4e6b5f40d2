"""Paired benchmark runs: a parent commit against the working tree.

    python3 scripts/perf_pairs.py PARENT [--workload NAME ...] [--seeds 11-20] [--out FILE]

PARENT is a git ref, checked out with ``git worktree`` into a temporary
directory (removed at the end), or the path of an existing checkout of
the parent. For every seed the script runs ``perfbench/run.py`` once in
the parent and once in the working tree, each from its own root, with
the run length ``BENCHMARK.json`` sets; the side that runs first
alternates from seed to seed so host drift does not favour one side.

For each (workload, end-to-end metric) it prints each side's median and
quartiles, the change's wins over the pairs (ties count for neither)
and whether a gain may be claimed: the change wins at least nine tenths
of the pairs and the medians differ, in the better direction, by more
than the parent's interquartile distance. Failed operations are printed
per side. ``--out`` keeps every run's result line as JSON lines.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import tempfile

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_seeds(text: str) -> list[int]:
    seeds: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        seeds.extend(range(int(lo), int(hi or lo) + 1))
    return seeds


def run_once(root: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced benchmark run in ``root``; its result line."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds)]
    proc = subprocess.run(cmd, cwd=root, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{workload} seed {seed} failed in {root} (exit {proc.returncode})")
    return json.loads(lines[-1])


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(runs: list[dict], spec: dict) -> list[str]:
    """Report lines for every (workload, end-to-end metric)."""
    out = []
    for workload in sorted({r["workload"] for r in runs}):
        pairs: dict[int, dict] = {}
        for r in runs:
            if r["workload"] == workload:
                pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
        pairs = {s: p for s, p in pairs.items() if len(p) == 2}
        n = len(pairs)
        failed = {side: sum(p[side]["failed"] for p in pairs.values())
                  for side in ("parent", "change")}
        out.append(f"{workload}: {n} pairs, failed parent={failed['parent']} "
                   f"change={failed['change']}")
        for m in spec["end_to_end"]:
            name, sign = m["name"], (1 if m["better"] == "higher" else -1)
            par = [p["parent"]["metrics"][name]["value"] for p in pairs.values()]
            chg = [p["change"]["metrics"][name]["value"] for p in pairs.values()]
            if not par:
                continue
            wins = sum(1 for a, b in zip(par, chg) if sign * (b - a) > 0)
            pq, cq = quartiles(par), quartiles(chg)
            gap = sign * (cq[1] - pq[1])
            gain = 100 * gap / pq[1]
            holds = n >= 10 and wins >= 0.9 * n and gap > pq[2] - pq[0]
            out.append(
                f"  {name:12s} parent {pq[1]:.4g} [{pq[0]:.4g}, {pq[2]:.4g}]  "
                f"change {cq[1]:.4g} [{cq[0]:.4g}, {cq[2]:.4g}]  "
                f"change {abs(gain):.1f}% {'better' if gain > 0 else 'worse'}, "
                f"wins {wins}/{n}, gain claimable: {'yes' if holds else 'no'}"
            )
    return out


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("parent", help="git ref of the parent, or a directory holding its checkout")
    p.add_argument("--workload", action="append", help="workload name (repeatable; default all)")
    p.add_argument("--seeds", default="11-20", help="seed list such as 11-20 or 1,4-8")
    p.add_argument("--out", help="append every run's result as JSON lines to this file")
    args = p.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    seeds = parse_seeds(args.seeds)

    worktree = None
    parent_root = args.parent
    if not os.path.isdir(parent_root):
        worktree = os.path.join(tempfile.mkdtemp(prefix="perf_pairs-"), "parent")
        subprocess.run(["git", "worktree", "add", "--detach", worktree, args.parent],
                       cwd=ROOT, check=True, stdout=subprocess.DEVNULL)
        parent_root = worktree
    sides = {"parent": os.path.abspath(parent_root), "change": ROOT}
    runs = []
    try:
        for i, seed in enumerate(seeds):
            for workload in workloads:
                order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
                for side in order:
                    res = run_once(sides[side], workload, seed, spec["run_seconds"])
                    rec = {"workload": workload, "seed": seed, "side": side, "result": res}
                    runs.append(rec)
                    print(f"{workload} seed {seed} {side}: " + ", ".join(
                        f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()
                    ) + f", failed={res['failed']}", flush=True)
                    if args.out:
                        with open(args.out, "a") as f:
                            f.write(json.dumps(rec) + "\n")
    finally:
        if worktree is not None:
            subprocess.run(["git", "worktree", "remove", "--force", worktree], cwd=ROOT)
            shutil.rmtree(os.path.dirname(worktree), ignore_errors=True)
    print("\n".join(summarize(runs, spec)))
    return 0


if __name__ == "__main__":
    sys.exit(main())
