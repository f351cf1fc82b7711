#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload kpi_refresh --seed 1 --seconds 20 --trace 0

Generates the seed's fixtures, starts one local Spark session on every
core, sets up (session start, model-view registration, one warm-up
operation), runs the workload's closed loop for `--seconds`, checks the
outputs against the DuckDB oracles, and prints two JSON lines:

* a summary with the environment and every metric, named and with its
  unit (including the workload's own numbers such as `refresh_s`);
* last, the result line `{"correct", "attempted", "failed", "metrics"}`
  holding the end-to-end metrics of BENCHMARK.json (`--trace 0`) or its
  per-layer metrics (`--trace 1`).

All run state (fixtures, warehouses, checkpoints, Spark local dirs, temp
files) lives in a fresh directory under the checkout that is removed on
exit. The exit code is non-zero when any operation failed or any output
differs from its oracle. `--smoke` runs one operation on sf0.01 fixtures
without warm-up, for the benchmark's own tests; `--fixtures DIR` reads an
existing fixture set instead of generating one.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SPEC = os.path.join(ROOT, "BENCHMARK.json")
SF = 0.1
SMOKE_SF = 0.01


def _configure(run_dir: str, cores: int) -> None:
    """Point every scratch location of Spark and the program into run_dir
    (must happen before pyspark or the program is imported)."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update({
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "spark-local"),
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(run_dir, "spark-warehouse"),
        "SPARK_GRAFT_STREAM_TMP": tmp,
        "PYSPARK_SUBMIT_ARGS": f"--driver-java-options {shlex.quote(java_opts)} pyspark-shell",
        "PYTHONDONTWRITEBYTECODE": "1",
    })
    tempfile.tempdir = tmp


def _jvm_children(pid: int) -> list[int]:
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    if int(f.read().rsplit(")", 1)[1].split()[1]) == pid:
                        kids.append(int(entry))
            except (OSError, IndexError, ValueError):
                continue
    return kids


def _wait_gone(pids: list[int], timeout: float) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and time.monotonic() < deadline:
            time.sleep(0.05)
        if os.path.exists(f"/proc/{pid}"):
            try:
                os.kill(pid, 9)
            except ProcessLookupError:
                pass


def _shutdown(spark) -> None:
    """Stop the session, then the JVM and its Python workers, and wait."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    workers = _jvm_children(proc.pid) if proc is not None else []
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    _wait_gone(workers, 10)


def _vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError("VmHWM not reported")


def run(args) -> dict:
    """One benchmark run; returns the summary. Spark is stopped on return."""
    cores = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    work = os.getcwd()
    import datagen

    t = time.perf_counter()
    sf_dir = args.fixtures or os.path.join(work, "fixtures")
    if not args.fixtures:
        datagen.generate(sf_dir, args.seed, SMOKE_SF if args.smoke else SF)
    datagen_s = time.perf_counter() - t

    from etl_gamma_spark import registry
    from etl_gamma_spark.session import get_spark

    import tracing
    import workloads

    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    t1 = time.perf_counter()
    try:
        tr = tracing.Tracer(spark) if args.trace else tracing.NullTracer()
        tr.install()
        registry._ensure_model(spark, sf_dir)
        t2 = time.perf_counter()
        wl = workloads.WORKLOADS[args.workload](
            spark, sf_dir, os.path.join(work, "warehouse"), args.seed, tr, args.smoke
        )
        if not args.smoke:
            wl.warmup()
        setup_s = time.perf_counter() - t0
        wl.after_warmup()

        wl.op_latencies, wl.loop_wall = wl.loop(args.seconds)
        tr.uninstall()
        t3 = time.perf_counter()
        wl.check(len(wl.op_latencies))
        check_s = time.perf_counter() - t3

        lat = sorted(wl.op_latencies)
        e2e = {
            "setup_s": (setup_s, "s"),
            "op_p50_ms": (statistics.median(lat) * 1e3, "ms"),
            "op_p95_ms": (workloads.percentile(lat, 0.95) * 1e3, "ms"),
            "ops_per_s": (len(lat) / wl.loop_wall, "1/s"),
        }
        layers = {
            "peak_rss_mb": (_vm_hwm_mb(spark._jvm.java.lang.ProcessHandle.current().pid()), "MB"),
            "session.start_s": (t1 - t0, "s"),
            "model.register_s": (t2 - t1, "s"),
        }
        if args.trace:
            for name, value in tracing.layer_metrics(tr, cores, wl.loop_wall).items():
                layers[name] = (value, "")
            layers["trace.op_p50_ms"] = e2e["op_p50_ms"]
        env = {
            "nproc": cores,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "spark": spark.version,
            "java": spark._jvm.java.lang.System.getProperty("java.version"),
            "python": platform.python_version(),
            "seed": args.seed,
            "sf": SMOKE_SF if args.smoke else SF,
            "fixtures": args.fixtures or "generated",
            "datagen_s": datagen_s,
            "check_s": check_s,
            "housekeeping_s": wl.housekeeping_s,
        }
        return {
            "workload": args.workload,
            "environment": env,
            # fingerprint of the seed-derived request stream / scopes / corpus
            "inputs": hashlib.sha256(json.dumps(wl.inputs(), default=str).encode()).hexdigest(),
            "op_s": wl.op_latencies,
            "attempted": len(lat),
            "failed": wl.failed_ops,
            "errors": len(wl.errors),
            "e2e": e2e,
            "workload_metrics": wl.report(),
            "layers": layers,
        }
    finally:
        t = time.perf_counter()
        _shutdown(spark)
        print(f"perfbench: stopped Spark in {time.perf_counter() - t:.2f} s", file=sys.stderr)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--fixtures", help="read this fixture directory instead of generating "
                    "one (for calibration; see README.md)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "etl_gamma_spark", "__init__.py")):
        print("perfbench: etl_gamma_spark/ not found next to perfbench/", file=sys.stderr)
        return 2
    with open(SPEC) as f:
        spec = json.load(f)
    if args.workload not in {w["name"] for w in spec["workloads"]}:
        print(f"perfbench: unknown workload {args.workload!r}", file=sys.stderr)
        return 2

    sys.path.insert(0, ROOT)
    run_dir = tempfile.mkdtemp(prefix=".perfbench-run-", dir=ROOT)
    try:
        _configure(run_dir, len(os.sched_getaffinity(0)))
        if args.fixtures:
            args.fixtures = os.path.abspath(args.fixtures)
        os.chdir(run_dir)
        summary = run(args)
    finally:
        t = time.perf_counter()
        os.chdir(ROOT)
        shutil.rmtree(run_dir, ignore_errors=True)
        print(f"perfbench: removed run state in {time.perf_counter() - t:.2f} s", file=sys.stderr)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    pool = {**summary["e2e"], **summary["layers"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    metrics = {m["name"]: {"value": pool[m["name"]][0], "unit": m["unit"]} for m in wanted}
    summary["metrics"] = {
        name: {"value": v, "unit": units.get(name) or u}
        for name, (v, u) in {**summary.pop("e2e"), **summary.pop("workload_metrics"),
                             **summary.pop("layers")}.items()
    }
    correct = summary["failed"] == 0 and summary["errors"] == 0
    print(json.dumps(summary))
    print(json.dumps({
        "correct": correct,
        "attempted": summary["attempted"],
        "failed": min(max(summary["failed"], 0 if correct else 1), summary["attempted"]),
        "metrics": metrics,
    }))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
