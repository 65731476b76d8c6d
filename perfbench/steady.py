#!/usr/bin/env python3
"""Steadiness check: repeat every workload on one commit, one seed per
run, and print each end-to-end metric's median, quartiles and spread
against the bound ``BENCHMARK.json`` fixes for it.

    python3 perfbench/steady.py --runs 10 [--workload registry] [--first-seed 1]

Spread is (Q3 - Q1) / median with the quartiles of
``statistics.quantiles(values, n=4)``. A metric is steady when its
spread is below a third of its bound; ``setup_s`` is reported but, as
set-up is measured once per run, held only to its bound. Exits 1 if any
run fails or reports wrong output, or if any spread reaches its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_once(cmd: list[str], workload: str, seed: int, seconds: int) -> dict:
    args = cmd + ["--workload", workload, "--seed", str(seed),
                  "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(args, cwd=ROOT, capture_output=True, text=True,
                          timeout=180)
    if proc.returncode != 0:
        raise RuntimeError(f"{workload} seed {seed}: exit {proc.returncode}\n"
                           f"{proc.stderr[-2000:]}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--workload", action="append",
                   help="workload to repeat (default: all); may be repeated")
    p.add_argument("--first-seed", type=int, default=1)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = args.workload or [w["name"] for w in bench["workloads"]]
    ok = True
    for wl in names:
        values: dict[str, list[float]] = {m["name"]: [] for m in bench["end_to_end"]}
        for i in range(args.runs):
            seed = args.first_seed + i
            res = run_once(bench["command"], wl, seed, bench["run_seconds"])
            print(json.dumps({"workload": wl, "seed": seed, **res}), flush=True)
            ok &= res["correct"] and res["failed"] == 0
            for name in values:
                values[name].append(res["metrics"][name]["value"])
        for m in bench["end_to_end"]:
            xs = values[m["name"]]
            q1, med, q3 = statistics.quantiles(xs, n=4)
            spread = (q3 - q1) / med
            target = m["bound"] if m["name"] == "setup_s" else m["bound"] / 3
            verdict = "steady" if spread < target else (
                "within bound" if spread < m["bound"] else "UNSTEADY")
            ok &= spread < m["bound"]
            print(f"{wl:10s} {m['name']:16s} median {med:10.4f} {m['unit']:5s}"
                  f" q1 {q1:10.4f} q3 {q3:10.4f} spread {spread:6.3f}"
                  f" bound {m['bound']:.3f}  {verdict}", flush=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
