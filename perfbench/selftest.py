#!/usr/bin/env python3
"""Self-test of the benchmark on tiny inputs.

    python3 perfbench/selftest.py [workload ...]

For each workload (default: all), runs ``run.py --tiny`` once untraced and
once traced, and checks that the run is correct, that exactly the metrics
declared in ``BENCHMARK.json`` are printed with their declared units, that
every trace span's self time lies within [0, duration], and that every
index-store read in the probe passes was a hit.  Exit code 0 when all hold.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

sys.path.insert(0, HERE)

from workloads import WORKLOADS  # noqa: E402


def check(ok: bool, what: str) -> None:
    if not ok:
        raise AssertionError(what)


def run(workload: str, trace: int, record: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", "3", "--seconds", "1", "--trace", str(trace), "--tiny",
        "--record", record,
    ]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
    check(proc.returncode == 0, f"{workload} trace={trace}: exit code {proc.returncode}")
    return json.loads(proc.stdout.strip().splitlines()[-1])


def check_metrics(result: dict, declared: list[dict], what: str) -> None:
    check(result["correct"] and result["failed"] == 0, f"{what}: {result}")
    check(result["attempted"] >= 1, what)
    want = {m["name"]: m["unit"] for m in declared}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    check(got == want, f"{what}: metric names/units {got} != declared {want}")
    for k, v in result["metrics"].items():
        check(isinstance(v["value"], (int, float)), f"{what}: {k} = {v}")


def check_spans(path: str, what: str) -> None:
    with open(path) as f:
        spans = json.load(f)["spans"]
    check(bool(spans), f"{what}: no spans")
    for s in spans:
        check(-1e-9 <= s["self_s"] <= s["duration_s"] + 1e-9, f"{what}: span {s}")


def main(argv: list[str]) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = argv or sorted(WORKLOADS)
    failures = 0
    with tempfile.TemporaryDirectory(dir=ROOT, prefix=".perfbench_selftest_") as tmp:
        for name in names:
            try:
                record = os.path.join(tmp, f"{name}.json")
                check_metrics(run(name, 0, record), spec["end_to_end"], f"{name} untraced")
                traced = run(name, 1, record)
                check_metrics(traced, spec["per_layer"], f"{name} traced")
                check_spans(record, name)
                hit = traced["metrics"]["index_store.hit_ratio"]["value"]
                check(hit == 1.0, f"{name}: index_store.hit_ratio {hit}")
                print(f"ok   {name}")
            except AssertionError as e:
                failures += 1
                print(f"FAIL {name}: {e}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
