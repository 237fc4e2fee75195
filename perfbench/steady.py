#!/usr/bin/env python3
"""Steadiness runner: repeat each workload over several seeds and report
every end-to-end metric's spread against its bound in BENCHMARK.json.

    python3 perfbench/steady.py [--seeds 10] [--first-seed 1]
        [--workloads adhoc,ingest] [--out results.json]

Runs one benchmark process at a time from the checkout root.  Spread is
the inter-quartile distance over the median (``statistics.quantiles``,
n=4).  A metric is ``steady`` below a third of its bound, ``ok`` below
the bound; ``setup_s`` is reported but only its median matters.  Exits 1
if a run fails, answers wrongly, or a spread other than ``setup_s``
reaches its bound.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from summary import spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int) -> tuple[dict | None, float]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    t0 = time.perf_counter()
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return None, wall
    result = json.loads(lines[-1])
    result["notes"] = [ln for ln in lines if ln.startswith("#")]
    return result, wall


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--seeds", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default="")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    workloads = args.workloads.split(",") if args.workloads else [
        w["name"] for w in bench["workloads"]]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    ok, raw = True, {}
    for w in workloads:
        values: dict[str, list[float]] = {m: [] for m in bounds}
        walls = []
        for seed in range(args.first_seed, args.first_seed + args.seeds):
            res, wall = run_once(w, seed, bench["run_seconds"])
            walls.append(wall)
            raw.setdefault(w, []).append({"seed": seed, "wall_s": wall, "result": res})
            if res is None or not res["correct"] or res["failed"]:
                print(f"{w} seed {seed}: FAILED {res}")
                ok = False
                continue
            for m in bounds:
                values[m].append(res["metrics"][m]["value"])
            print(f"{w} seed {seed}: {wall:.1f}s wall, "
                  + ", ".join(f"{m}={values[m][-1]:.4g}" for m in bounds), flush=True)
        print(f"{w}: mean wall {statistics.mean(walls):.1f}s over {len(walls)} runs")
        for m, vals in values.items():
            if len(vals) < 2:
                continue
            sp = spread(vals)
            state = "steady" if sp < bounds[m] / 3 else "ok" if sp < bounds[m] else "WIDE"
            if state == "WIDE" and m != "setup_s":
                ok = False
            print(f"  {m:22s} median {statistics.median(vals):.5g}  spread {sp:.3f}"
                  f"  bound {bounds[m]}  {state}")
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(raw, fh, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
