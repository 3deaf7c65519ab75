"""Steadiness tool: repeat one workload over several seeds and report, per
metric, the median, the quartiles and the spread (Q3 - Q1) / median.

    python3 perfbench/steady.py --workload backfill --runs 10 --first-seed 1

A metric whose spread exceeds its BENCHMARK.json bound is flagged FAIL; one
above a third of its bound is flagged wide.  `setup_s` is reported but its
spread is not gated (set-up is one JVM launch per process).  Runs are made
one after another, never concurrently, with the benchmark's own command;
`--json` keeps every run's result.
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


def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def one_run(workload: str, seed: int, seconds: int) -> dict:
    cmd = [*spec()["command"], "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    wall = time.perf_counter() - t0
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    out = json.loads(last) if last.startswith("{") else {}
    out["exit"] = p.returncode
    out["wall_s"] = wall
    return out


def summarize(values: list[float]) -> tuple[float, float, float, float]:
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def report(runs: list[dict]) -> bool:
    ok = True
    for m in spec()["end_to_end"]:
        vals = [r["metrics"][m["name"]]["value"] for r in runs if m["name"] in r.get("metrics", {})]
        if not vals:
            continue
        med, q1, q3, spread = summarize(vals)
        bound, flag = m["bound"], ""
        if m["name"] != "setup_s":
            if spread > bound:
                flag, ok = "FAIL", False
            elif spread > bound / 3:
                flag = "wide"
        print(f"{m['name']:34s} median={med:<12.6g} q1={q1:<12.6g} q3={q3:<12.6g} "
              f"spread={spread:7.2%} bound={bound:.0%}  {flag}")
    return ok


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=None)
    p.add_argument("--json", help="write every run's result here")
    args = p.parse_args()
    seconds = args.seconds or spec()["run_seconds"]
    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        r = one_run(args.workload, seed, seconds)
        runs.append(r)
        vals = {k: round(v["value"], 4) for k, v in r.get("metrics", {}).items()}
        print(f"seed={seed} exit={r['exit']} wall={r['wall_s']:.1f}s "
              f"failed={r.get('failed')}/{r.get('attempted')} {vals}", flush=True)
    if args.json:
        with open(args.json, "w") as f:
            json.dump({"workload": args.workload, "runs": runs}, f)
    ok = all(r["exit"] == 0 and r.get("correct") for r in runs)
    ok &= report(runs)
    print(f"wall per run: median {statistics.median(r['wall_s'] for r in runs):.1f}s, "
          f"max {max(r['wall_s'] for r in runs):.1f}s")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
