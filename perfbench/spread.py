#!/usr/bin/env python3
"""Run a workload on several seeds and report each end-to-end metric's
median and quartile spread (IQR / median), the figure BENCHMARK.json's
bounds are set against.

    python3 perfbench/spread.py --workload lake --seeds 1-10 --seconds 1
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="1")
    args = ap.parse_args()
    values: dict[str, list[float]] = {}
    fails = []
    for seed in seeds(args.seeds):
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload",
             args.workload, "--seed", str(seed), "--seconds", args.seconds,
             "--trace", "0"],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True,
            timeout=600)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if p.returncode == 0 and lines else None
        if res is None or not res["correct"]:
            fails.append(seed)
            continue
        wall = [json.loads(x[len("# run "):])["wall_s"] for x in lines
                if x.startswith("# run ")]
        print(f"seed {seed}: " + ", ".join(
            f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()),
            f"failed={res['failed']}/{res['attempted']}",
            f"wall={wall[0]:.1f}s" if wall else "", flush=True)
        for k, v in res["metrics"].items():
            values.setdefault(k, []).append(v["value"])
    for k, vs in values.items():
        if len(vs) >= 2:
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            print(f"{k}: median {med:.4g} spread {spread:.3f} (n={len(vs)})")
    if fails:
        print(f"failed or incorrect seeds: {fails}")
    return 1 if fails else 0


if __name__ == "__main__":
    sys.exit(main())
