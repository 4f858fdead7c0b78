#!/usr/bin/env python3
"""Run the benchmark once per seed and report each metric's median and
quartile spread (Q3 - Q1 over the median, quartiles as
``statistics.quantiles(values, n=4)`` gives them).

    python3 perfbench/spread.py --workload flows --seeds 1-10 --seconds 12
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

import stats


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10", help="first-last, inclusive")
    p.add_argument("--seconds", default="12")
    p.add_argument("--trace", default="0")
    a = p.parse_args()
    lo, hi = (int(x) for x in a.seeds.split("-"))
    values: dict[str, list[float]] = {}
    for seed in range(lo, hi + 1):
        t = time.time()
        out = subprocess.run(
            [sys.executable, os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py"),
             "--workload", a.workload, "--seed", str(seed), "--seconds", a.seconds,
             "--trace", a.trace],
            stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        if out.returncode != 0 or not res.get("correct"):
            print(f"seed {seed}: exit {out.returncode}, {lines[-1:] or 'no output'}")
            return 1
        for name, m in res["metrics"].items():
            values.setdefault(name, []).append(m["value"])
        info = json.loads(lines[-2])
        print(f"seed {seed}: {time.time() - t:.1f}s "
              + " ".join(f"{k}={m['value']:.4g}" for k, m in res["metrics"].items()
                         if a.trace == "0")
              + f" passes={info['samples'].get('pass_walls_s')}"
              + f" host_probe_s={info['samples'].get('host_probe_s')}", flush=True)
    for name, vals in values.items():
        print(f"{name:40s} median {stats.median(vals):.6g}  "
              f"spread {stats.spread(vals):.4f}  n={len(vals)}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
