"""Run a workload once per seed and report each metric's median and
spread (IQR / median, ``statistics.quantiles(values, n=4)``), the
statistic that decides whether the benchmark is steady enough.

Usage, from the repository root:
    python3 perfbench/spread.py --workload graph_txn --seeds 1-10 \\
        [--seconds N] [--trace 0]
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import stats  # noqa: E402


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10")
    ap.add_argument("--seconds", default=None)
    ap.add_argument("--trace", default="0")
    args = ap.parse_args(argv)
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = args.seconds or str(bench["run_seconds"])
    lo, hi = (int(x) for x in args.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds", seconds,
                                  "--trace", args.trace]
        t0 = time.perf_counter()
        r = subprocess.run(cmd, capture_output=True, text=True,
                           cwd=os.path.dirname(HERE), timeout=600)
        wall = time.perf_counter() - t0
        if r.returncode != 0:
            print(f"seed {seed}: exit {r.returncode}\n{r.stderr[-2000:]}")
            return 1
        lines = r.stdout.strip().splitlines()
        out = json.loads(lines[-1])
        prov = json.loads(lines[-2])["provenance"]
        print(f"seed {seed}: wall={wall:.1f}s load1="
              f"{prov['load1_start']:.2f}->{prov['load1_end']:.2f} "
              f"correct={out['correct']} "
              f"attempted={out['attempted']} failed={out['failed']} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in out["metrics"].items()), flush=True)
        for k, v in out["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    for k, xs in values.items():
        sp = stats.spread(xs) if len(xs) >= 2 and stats.median(xs) else 0
        b = bounds.get(k)
        flag = "" if b is None else (
            f" bound {b} {'ok' if sp < b / 3 else 'WIDE'}")
        print(f"{k:28s} median {stats.median(xs):12.5g} "
              f"spread {sp:7.4f}{flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
