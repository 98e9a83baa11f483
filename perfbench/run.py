#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the engine.

    python3 perfbench/run.py --workload star_events --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  One run:

1. generates the workload's inputs from ``--seed`` into a fresh run
   directory under ``.perfbench_runs/`` (index store, warehouse, Spark local
   dirs, temp dirs and working directory live there too);
2. starts the session in a fresh JVM (``setup_s``);
3. runs the cold pass -- on ``curation_index`` after a cold build of the
   index tables its probes read -- collecting every query's rows;
4. runs WARMUP_PASSES untimed passes, then steady passes (noop sink) until
   ``--seconds`` have passed;
5. with ``--trace 1``: alternates traced and untraced steady passes, then
   times each layer on its own (table scans, the tokenizer, an index-store
   build and re-read);
6. stops the JVM and its workers, compares each cold-pass result with its
   DuckDB oracle (``tests/oracle.py``), writes the run record (with
   ``--trace 1`` also every span) to ``.perfbench_runs/records/``, and
   prints one JSON line.

``--trace 0`` prints the end-to-end metrics, ``--trace 1`` the per-layer
metrics.  Exit code 0 when every query ran and matched its oracle, 1 when
one did not, 2 when the engine sources are missing.  Diagnostics go to
stderr; the last line of stdout is the result.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "mapreduce_on_google_cloud_platform_spark"
RUNS_DIR = os.path.join(ROOT, ".perfbench_runs")
WARMUP_PASSES = 3  # untimed, between the cold pass and the steady window
# Steady passes at least: the median of 5 outlasts a host-contention burst
# that slows two of them; a traced run needs 3 of each kind.
MIN_STEADY_PASSES = 5
MIN_TRACED_PASSES = 3
LAYER_REPEATS = 3

sys.path.insert(0, HERE)

import datagen  # noqa: E402
from spans import Tracer, engine_counts  # noqa: E402
from workloads import ROWS, TINY_ROWS, WORKLOADS  # noqa: E402


def log(*parts) -> None:
    print("[perfbench]", *parts, file=sys.stderr, flush=True)


def host_state() -> dict:
    """CPUs, load average, and the machine's CPU tick counters (total and
    stolen by the hypervisor) to tell a slow run from a contended host."""
    with open("/proc/loadavg") as f:
        load = [float(x) for x in f.read().split()[:3]]
    with open("/proc/stat") as f:
        ticks = [int(x) for x in f.readline().split()[1:]]
    return {"nproc": len(os.sched_getaffinity(0)), "loadavg": load,
            "cpu_ticks": sum(ticks), "steal_ticks": ticks[7] if len(ticks) > 7 else 0}


def isolate(work: str) -> str:
    """Point every path the engine or Spark writes to into ``work``."""
    dirs = {k: os.path.join(work, k) for k in ("data", "index", "warehouse", "local", "tmp", "cwd")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_INDEX_DIR=dirs["index"],
        SPARK_GRAFT_WAREHOUSE=dirs["warehouse"],
        SPARK_LOCAL_DIRS=dirs["local"],
        TMPDIR=dirs["tmp"],
        # JVM temp files into the run dir; no hsperfdata file in /tmp
        SPARK_SUBMIT_OPTS=f"-Djava.io.tmpdir={dirs['tmp']} -XX:+PerfDisableSharedMem",
        SPARK_LAUNCHER_OPTS="-XX:+PerfDisableSharedMem",
    )
    os.chdir(dirs["cwd"])
    return dirs["data"]


def dir_stats(path: str) -> tuple[int, int]:
    """(bytes, parquet part files) under ``path``."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for n in names:
            total += os.path.getsize(os.path.join(root, n))
            files += n.startswith("part-")
    return total, files


# --------------------------------------------------------------------------
# JVM lifecycle


def _descendants(pid: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [pid]
    while todo:
        for kid in children.get(todo.pop(), ()):
            out.append(kid)
            todo.append(kid)
    return out


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _ticks(stat_path: str, fields: slice) -> int:
    with open(stat_path) as f:
        return sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[fields])


class CpuMeter:
    """CPU seconds used by this process, the JVM and every live process
    under the JVM (user + system, reaped children included), minus the
    JVM's JIT compiler threads.  The live descendants are the PySpark daemon
    and its reused Python workers: they outlive a query, so their CPU would
    not reach the JVM's reaped-children counters until the session stops.
    Compilation runs in the background at a rate set by warm-up, not by the
    query that happens to be running, so it is the noisiest part of a
    query's CPU."""

    JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")

    def __init__(self, jvm: int):
        self.jvm = jvm
        self.jit_ticks: dict[str, int] = {}  # compiler thread -> last seen ticks

    def read(self) -> float:
        tasks = f"/proc/{self.jvm}/task"
        for tid in os.listdir(tasks):
            try:
                with open(f"{tasks}/{tid}/comm") as f:
                    if f.read().startswith(self.JIT_THREADS):
                        self.jit_ticks[tid] = _ticks(f"{tasks}/{tid}/stat", slice(11, 13))
            except OSError:
                continue  # the thread exited; its last reading stays
        own = slice(11, 15)
        ticks = _ticks("/proc/self/stat", own) + _ticks(f"/proc/{self.jvm}/stat", own)
        for pid in _descendants(self.jvm):
            try:
                ticks += _ticks(f"/proc/{pid}/stat", own)
            except OSError:
                continue  # reaped since the scan: its ticks are in its parent's
        return (ticks - sum(self.jit_ticks.values())) / os.sysconf("SC_CLK_TCK")


def peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing")


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait for it and every
    process it started (Python workers) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _descendants(proc.pid) if proc is not None else []
    try:
        spark.stop()
        if gateway is not None:
            gateway.shutdown()
    except Exception as e:  # a broken gateway: the JVM is reaped below anyway
        log(f"stopping the session failed: {e!r}")
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway exits on EOF
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 10
    while any(_alive(p) for p in workers) and time.monotonic() < deadline:
        time.sleep(0.05)
    for p in workers:
        if _alive(p):
            os.kill(p, 9)


# --------------------------------------------------------------------------
# the measured loop


class Collected:
    """Rows a pass already fetched, in the shape the oracle comparator reads."""

    def __init__(self, df, rows):
        self.columns = df.columns
        self.dtypes = df.dtypes
        self._rows = rows

    def collect(self):
        return self._rows


class Bench:
    def __init__(self, spark, sf_dir, workload, tracer, run_id):
        from mapreduce_on_google_cloud_platform_spark.plans import QUERIES

        self.spark = spark
        self.sf_dir = sf_dir
        self.workload = workload
        self.tracer = tracer
        self.run_id = run_id
        self.queries = QUERIES
        self.attempted = 0
        self.failed = 0
        self.passes: list[dict] = []
        self.index = {"accessed": 0, "built": 0, "reused": 0}
        self.index_phase = "build"
        self.cpu = CpuMeter(jvm_pid())

    def noop(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def run_query(self, name: str, pass_no: int, collect: bool, rec: dict):
        """Plan and execute one query; returns Collected rows or None."""
        self.attempted += 1
        group = f"{self.run_id}/p{pass_no}/{name}"
        traced = self.tracer.enabled
        out = None
        c0 = self.cpu.read()
        t0 = time.perf_counter()
        self.spark.catalog.clearCache()
        if traced:
            self.spark.sparkContext.setJobGroup(group, name)
        try:
            with self.tracer.span("query", query=name, pass_no=pass_no, job_group=group) as qspan:
                with self.tracer.span("plans.plan", query=name) as pspan:
                    df = self.queries[name](self.spark, self.sf_dir)
                with self.tracer.span("operators.exec", query=name) as espan:
                    if collect:
                        out = Collected(df, df.collect())
                    else:
                        self.noop(df)
        except Exception:
            self.failed += 1
            log(f"query {name} failed in pass {pass_no}:\n{traceback.format_exc()}")
            return None
        finally:
            if traced:
                self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
        q = {"wall_s": time.perf_counter() - t0}
        q["cpu_s"] = self.cpu.read() - c0
        if traced:
            q.update(engine_counts(self.spark, group))
            qspan.update(q)
            q["plan_s"] = pspan["end"] - pspan["start"]
            q["exec_s"] = espan["end"] - espan["start"]
            for k in ("plan_s", "exec_s", "jobs", "stages", "tasks", "failed_tasks"):
                rec[k] = rec.get(k, 0) + q[k]
        rec["queries"][name] = q
        return out

    def run_pass(self, pass_no: int, kind: str, collect: bool = False) -> dict:
        rec = {"pass_no": pass_no, "kind": kind, "traced": self.tracer.enabled, "queries": {}}
        results = {}
        reused = self.index["reused"]
        c0 = self.cpu.read()
        t0 = time.perf_counter()
        with self.tracer.span("pass", pass_no=pass_no, kind=kind):
            for name in self.workload.queries:
                res = self.run_query(name, pass_no, collect, rec)
                if res is not None:
                    results[name] = res
        rec["wall_s"] = time.perf_counter() - t0
        rec["cpu_s"] = self.cpu.read() - c0
        rec["index_reused"] = self.index["reused"] - reused
        self.passes.append(rec)
        log(f"pass {pass_no} {kind}{' traced' if rec['traced'] else ''}: "
            f"{rec['wall_s']:.3f} s wall, {rec['cpu_s']:.2f} s CPU")
        return results

    def build_indexes(self) -> tuple[float, float]:
        """Cold-build the workload's index tables; returns (wall, CPU) seconds."""
        from mapreduce_on_google_cloud_platform_spark import operators

        c0 = self.cpu.read()
        t0 = time.perf_counter()
        with self.tracer.span("index_store.build"):
            for mod, fn_name in self.workload.index_build:
                fn = getattr(importlib.import_module(f"{operators.__name__}.{mod}"), fn_name)
                with self.tracer.span("index_store.build_table", accessor=fn_name):
                    self.noop(fn(self.spark, self.sf_dir))
                    self.spark.catalog.clearCache()
        return time.perf_counter() - t0, self.cpu.read() - c0

    def watch_index_store(self) -> None:
        """Count index-store reads and builds by wrapping
        ``index_store.materialized`` (its callers import it at call time)."""
        from mapreduce_on_google_cloud_platform_spark.sources import index_store

        inner = index_store.materialized
        bench = self

        def materialized(spark, sf_dir, name, version, build):
            path = index_store.index_path(sf_dir, name, version)
            cold = not os.path.exists(os.path.join(path, "_SUCCESS"))
            if bench.index_phase == "probe":
                bench.index["accessed"] += 1
                bench.index["reused"] += not cold
            bench.index["built"] += cold
            with bench.tracer.span("index_store.materialized", table=name, built=cold):
                return inner(spark, sf_dir, name, version, build)

        index_store.materialized = materialized

    def layer_probes(self) -> dict:
        """Time single layers on this workload's inputs, outside any pass."""
        from mapreduce_on_google_cloud_platform_spark.functions.text import tokens_df
        from mapreduce_on_google_cloud_platform_spark.sources import TABLES, load_table

        out = {}
        for table in TABLES:
            times = []
            for _ in range(LAYER_REPEATS):
                with self.tracer.span("sources.scan", table=table) as s:
                    self.noop(load_table(self.spark, self.sf_dir, table))
                times.append(s["end"] - s["start"])
            out[f"sources.scan_s.{table}"] = statistics.median(times)
        times = []
        for _ in range(LAYER_REPEATS):
            with self.tracer.span("functions.tokens") as s:
                self.noop(tokens_df(load_table(self.spark, self.sf_dir, "documents")))
            times.append(s["end"] - s["start"])
        out["functions.tokens_s"] = statistics.median(times)
        return out

    def index_probe(self) -> float:
        """For workloads whose queries never touch the index store: build
        the shingle table cold, then read it back once."""
        from mapreduce_on_google_cloud_platform_spark.operators.dedup import shingles_indexed

        self.index_phase = "build"
        with self.tracer.span("index_store.build") as s:
            with self.tracer.span("index_store.build_table", accessor="shingles_indexed"):
                self.noop(shingles_indexed(self.spark, self.sf_dir))
        self.index_phase = "probe"
        with self.tracer.span("index_store.probe"):
            self.noop(shingles_indexed(self.spark, self.sf_dir))
        return s["end"] - s["start"]


def steady_window(bench: Bench, seconds: float, traced_run: bool) -> None:
    """WARMUP_PASSES untimed passes, then a closed loop of steady passes
    until ``seconds`` have passed and enough passes ran.  A traced run
    alternates traced and untraced passes so the difference between them
    is the tracing cost."""
    tracer = bench.tracer
    tracer.enabled = False
    for i in range(WARMUP_PASSES):
        bench.run_pass(1 + i, "warmup")
    end = time.perf_counter() + seconds
    n = {True: 0, False: 0}
    pass_no = 1 + WARMUP_PASSES
    while True:
        traced = traced_run and n[True] <= n[False]
        tracer.enabled = traced
        bench.run_pass(pass_no, "steady")
        n[traced] += 1
        pass_no += 1
        if traced_run:
            enough = min(n.values()) >= MIN_TRACED_PASSES
        else:
            enough = n[False] >= MIN_STEADY_PASSES
        if enough and time.perf_counter() >= end:
            break
    tracer.enabled = traced_run


def median_of(passes: list[dict], key: str) -> float:
    return statistics.median(p.get(key, 0) for p in passes)


def query_median_sum(passes: list[dict], names, key: str = "wall_s") -> float:
    """Sum over queries of each query's median ``key`` across ``passes``:
    a slow moment hits one query of one pass, not the whole estimate."""
    total = 0.0
    for name in names:
        times = [p["queries"][name][key] for p in passes if name in p["queries"]]
        total += statistics.median(times) if times else 0.0
    return total


def metric(value, unit: str) -> dict:
    return {"value": value, "unit": unit}


def per_query_summary(passes: list[dict], names) -> dict:
    """Median per-query plan/exec time and engine counts over traced passes."""
    out = {}
    for name in names:
        recs = [p["queries"][name] for p in passes if name in p["queries"]]
        if recs:
            out[name] = {k: statistics.median(r[k] for r in recs) for k in recs[0]}
    return out


def measure(args, workload, run_id: str, sf_dir: str, record_path: str):
    """Run the workload; returns (failed, attempted, metrics).  Writes the
    run's record (every pass and query time; with tracing also the spans
    and a per-query summary) to ``record_path``."""
    host_before = host_state()
    rows = TINY_ROWS if args.tiny else ROWS
    input_rows = sum(datagen.generate(sf_dir, args.seed, rows).values())
    input_bytes, _ = dir_stats(sf_dir)
    log(f"{run_id}: {input_rows} input rows, {input_bytes} bytes")

    from mapreduce_on_google_cloud_platform_spark import session

    t0 = time.perf_counter()
    spark = session.get_spark()
    setup_s = time.perf_counter() - t0
    log(f"setup: {setup_s:.3f} s")

    tracer = Tracer(run_id, enabled=bool(args.trace))
    bench = Bench(spark, sf_dir, workload, tracer, run_id)
    try:
        if args.trace:
            bench.watch_index_store()
        build_s, build_cpu = bench.build_indexes() if workload.index_build else (None, 0.0)
        bench.index_phase = "probe"
        cold_results = bench.run_pass(0, "cold", collect=True)
        cold_s = bench.passes[-1]["wall_s"] + (build_s or 0.0)
        cold_cpu = bench.passes[-1]["cpu_s"] + build_cpu
        steady_window(bench, args.seconds, bool(args.trace))
        if args.trace:
            probe_index = dict(bench.index)
            layers = bench.layer_probes()
            # index-store reads that found their table, per probe pass
            reused = statistics.median(p["index_reused"] for p in bench.passes)
            if build_s is None:
                bench.index = {"accessed": 0, "built": 0, "reused": 0}
                build_s = bench.index_probe()
                probe_index = bench.index
                reused = probe_index["reused"]  # index_probe is one probe pass
            index_bytes, index_files = dir_stats(os.environ["SPARK_GRAFT_INDEX_DIR"])
        rss = peak_rss_mb(jvm_pid())
    finally:
        stop_spark(spark)

    # output check, after the JVM is gone so DuckDB competes with nothing
    from tests.oracle import assert_matches_oracle
    from mapreduce_on_google_cloud_platform_spark.plans import ORACLES

    for name, result in cold_results.items():
        try:
            assert_matches_oracle(result, ORACLES[name], sf_dir)
        except AssertionError as e:
            bench.failed += 1
            log(f"query {name} does not match its oracle: {e}")

    steady = [p for p in bench.passes if p["kind"] == "steady"]
    untraced = [p for p in steady if not p["traced"]]
    batch_s = query_median_sum(untraced, workload.queries)
    batch_cpu = query_median_sum(untraced, workload.queries, "cpu_s")
    summary = {
        "workload": workload.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "input_rows": input_rows,
        "input_bytes": input_bytes,
        "host_before": host_before,
        "host_after": host_state(),  # after the JVM stopped
        "setup_s": setup_s,
        "batch_s": batch_s,
        "batch_cpu_s": batch_cpu,
        "cold_batch_s": cold_s,
        "cold_batch_cpu_s": cold_cpu,
        "peak_rss_mb": rss,
        "passes": bench.passes,
    }
    after = summary["host_after"]
    summary["steal_frac"] = (after["steal_ticks"] - host_before["steal_ticks"]) / max(
        1, after["cpu_ticks"] - host_before["cpu_ticks"])
    log(f"loadavg before {host_before['loadavg']}, after {after['loadavg']}, "
        f"nproc {after['nproc']}, CPU stolen by the host {summary['steal_frac']:.1%}")
    if not args.trace:
        metrics = {
            "setup_s": metric(setup_s, "s"),
            "cold_batch_s": metric(cold_s, "s"),
            "batch_cpu_s": metric(batch_cpu, "s"),
        }
        summary["metrics"] = metrics
        tracer.write(record_path, summary)
        return bench.failed, bench.attempted, metrics

    traced = [p for p in steady if p["traced"]]
    accessed = probe_index["accessed"]
    metrics = {
        **{k: metric(v, "s") for k, v in layers.items()},
        "plans.plan_s": metric(median_of(traced, "plan_s"), "s"),
        "operators.exec_s": metric(median_of(traced, "exec_s"), "s"),
        "engine.jobs": metric(median_of(traced, "jobs"), "count"),
        "engine.stages": metric(median_of(traced, "stages"), "count"),
        "engine.tasks": metric(median_of(traced, "tasks"), "count"),
        "engine.failed_tasks": metric(median_of(traced, "failed_tasks"), "count"),
        "engine.peak_rss_mb": metric(rss, "MB"),
        "index_store.build_s": metric(build_s, "s"),
        "index_store.bytes_written": metric(index_bytes, "bytes"),
        "index_store.bytes_per_input_byte": metric(index_bytes / input_bytes, "ratio"),
        "index_store.files_written": metric(index_files, "count"),
        "index_store.tables_built": metric(probe_index["built"], "count"),
        "index_store.tables_reused": metric(reused, "count"),
        "index_store.hit_ratio": metric(probe_index["reused"] / accessed if accessed else 0.0, "ratio"),
        "cpu.cold_batch_s": metric(cold_cpu, "s"),
        "wall.batch_s": metric(batch_s, "s"),
        "trace.overhead_s": metric(query_median_sum(traced, workload.queries) - batch_s, "s"),
    }
    summary["traced_batch_s"] = query_median_sum(traced, workload.queries)
    summary["per_query"] = per_query_summary(traced, workload.queries)
    summary["index_build_s_by_accessor"] = {
        s["accessor"]: s["end"] - s["start"]
        for s in tracer.spans
        if s["name"] == "index_store.build_table"
    }
    for name, q in summary["per_query"].items():
        log(f"  {name:<28} plan {q['plan_s']:.3f} s  exec {q['exec_s']:.3f} s  "
            f"jobs {q['jobs']:g}  stages {q['stages']:g}  tasks {q['tasks']:g}")
    summary["metrics"] = metrics
    tracer.write(record_path, summary)
    log(f"trace written to {record_path}")
    return bench.failed, bench.attempted, metrics


def run(args) -> int:
    workload = WORKLOADS[args.workload]
    run_id = f"{args.workload}-s{args.seed}-{os.getpid()}-{time.time_ns()}"
    work = os.path.join(RUNS_DIR, run_id)
    record_dir = os.path.join(RUNS_DIR, "records")
    os.makedirs(record_dir, exist_ok=True)
    sys.path.insert(0, ROOT)
    record_path = args.record or os.path.join(record_dir, f"{run_id}.json")
    try:
        sf_dir = os.path.join(isolate(work), "sf")
        failed, attempted, metrics = measure(args, workload, run_id, sf_dir, record_path)
    finally:
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0 if correct else 1


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--tiny", action="store_true", help="self-test inputs")
    p.add_argument("--record", help="where to write the run record and spans")
    args = p.parse_args(argv)

    missing = [
        rel
        for rel in (os.path.join(PACKAGE, "__init__.py"), os.path.join("tests", "oracle.py"))
        if not os.path.isfile(os.path.join(ROOT, rel))
    ]
    if missing:
        log(f"engine sources not found next to the benchmark: {missing}")
        return 2
    # on SIGTERM, unwind through the finally blocks: stop the JVM, remove the run dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    return run(args)


if __name__ == "__main__":
    sys.exit(main())
