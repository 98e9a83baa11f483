#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload star_events --seeds 1-10

Runs ``run.py`` once per seed (untraced, ``run_seconds`` from
BENCHMARK.json), then prints per metric the median, the quartiles, the
spread ``(q3 - q1) / median`` and a third of its bound.  Exit code 1 when a
run fails or a spread other than that of ``setup_s`` is not below a third
of its bound.
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


def seeds_arg(text: str) -> list[int]:
    if "-" in text:
        lo, hi = text.split("-")
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in text.split(",")]


def main() -> int:
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    ok = True
    for seed in args.seeds:
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed),
               "--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        if proc.returncode != 0:
            ok = False
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
            continue
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        ok &= result["correct"]
        for name in values:
            values[name].append(result["metrics"][name]["value"])
        print(f"seed {seed}: wall {wall:.1f} s  " + "  ".join(
            f"{k} {v['value']:.4g}" for k, v in result["metrics"].items()), flush=True)

    for m in spec["end_to_end"]:
        vals = values[m["name"]]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        spread = (q3 - q1) / med
        steady = spread < m["bound"] / 3
        ok &= steady or m["name"] == "setup_s"
        print(f"{m['name']:<14} median {med:10.4g}  q1 {q1:10.4g}  q3 {q3:10.4g}  "
              f"spread {spread:6.3f}  bound/3 {m['bound'] / 3:6.3f}  "
              f"{'ok' if steady else 'WIDE'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
