"""Run one workload over several seeds and report each end-to-end
metric's median and quartile spread, (Q3 - Q1) / median.

    python3 perfbench/spread.py --workload scan_wide --seeds 1-10

This is the steadiness check a benchmark change is held to: each
metric's spread must stay below its bound in BENCHMARK.json (setup_s is
exempt). Runs one seed at a time from the repository root.
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
sys.path.insert(0, ROOT)

from perfbench.measure import iqr_spread  # noqa: E402


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(x) for x in text.split(",")]


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, required=True)
    p.add_argument("--trace", type=int, default=0)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    results, walls = [], []
    for seed in args.seeds:
        cmd = bench["command"] + ["--workload", args.workload, "--seed", str(seed),
                                  "--seconds", str(bench["run_seconds"]), "--trace", str(args.trace)]
        t0 = time.perf_counter()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        walls.append(time.perf_counter() - t0)
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        res = json.loads(lines[-1])
        results.append(res)
        print(f"seed {seed}: {walls[-1]:.1f} s wall, correct={res['correct']} "
              f"attempted={res['attempted']} failed={res['failed']} "
              + " ".join(f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), flush=True)
    print(f"# {args.workload}: {len(results)} runs, wall per run median {statistics.median(walls):.1f} s, "
          f"max {max(walls):.1f} s")
    for name in results[0]["metrics"]:
        vals = [r["metrics"][name]["value"] for r in results]
        med = statistics.median(vals)
        spread = iqr_spread(vals) if len(vals) >= 2 and med else float("nan")
        bound = bounds.get(name)
        verdict = "" if bound is None else ("ok" if spread <= bound / 3 else ("within bound" if spread <= bound else "OVER"))
        print(f"#   {name:28s} median {med:.6g}  spread {spread:.3f}  bound {bound}  {verdict}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
