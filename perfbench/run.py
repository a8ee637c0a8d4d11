#!/usr/bin/env python3
"""Benchmark of the extraction engine: two workloads on ``local[nproc]``.

    python3 perfbench/run.py --workload batch_crawl --seed 1 --seconds 5 --trace 0

Run from the repository root. Inputs are generated from ``--seed`` and
cached under ``perfbench/.cache``; scratch output goes to
``perfbench/.work`` and traces to ``perfbench/.out``. With ``--trace 0`` the
last stdout line is a JSON object with every end-to-end metric named in
BENCHMARK.json; with ``--trace 1`` it holds every per-layer metric, and the
spans are written to ``perfbench/.out/trace-<workload>-s<seed>.json``. The
exit code is non-zero when an operation failed or the output differs from
the oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

T_START = time.perf_counter()

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

WORKLOADS = ("batch_crawl", "ingest_ticks")
DRIVER_MEMORY = "4g"


def _set_env(work: str) -> None:
    """Python workers must import the engine package, and Spark's scratch
    and temp files stay inside the benchmark's directory."""
    env = os.environ
    env["PYTHONPATH"] = os.pathsep.join(p for p in (ROOT, env.get("PYTHONPATH")) if p)
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEM"] = DRIVER_MEMORY
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env["TMPDIR"] = os.path.join(work, "tmp")
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)


def _start_spark(cores: int, work: str):
    from unified_ocr_pipeline_spark.plans.session import get_spark

    return get_spark(
        app_name="perfbench",
        cores=cores,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # temp files inside the benchmark's directory; no /tmp/hsperfdata
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _stop_spark(spark) -> None:
    """Stop the session, end the JVM and wait until every process the run
    started (JVM, Python daemon and workers) has exited."""
    from pyspark import SparkContext

    from measure import descendants

    started = descendants()
    gateway = SparkContext._gateway
    try:
        spark.stop()
    finally:
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()  # close py4j connections before the JVM goes
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        deadline = time.monotonic() + 30
        alive = started
        while alive and time.monotonic() < deadline:
            time.sleep(0.1)
            alive = [p for p in alive if os.path.exists(f"/proc/{p}")]
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer" if args.trace else "end_to_end"]

    cores = len(os.sched_getaffinity(0))
    work = os.path.join(HERE, ".work", args.workload)
    shutil.rmtree(work, ignore_errors=True)
    _set_env(work)

    import inputs

    input_dir, goldens = inputs.prepare(args.workload, args.seed, cores)

    import workloads

    t0 = time.perf_counter()
    spark = _start_spark(cores, work)
    get_spark_s = time.perf_counter() - t0
    try:
        bench = workloads.Bench(spark, cores, args.seconds, work, input_dir, goldens, bool(args.trace))
        getattr(workloads, args.workload)(bench)
    finally:
        t1 = time.perf_counter()
        _stop_spark(spark)
        print(f"[perfbench] phases: start {t0 - T_START:.1f} s, get_spark {get_spark_s:.1f} s, "
              f"workload {t1 - t0 - get_spark_s:.1f} s, stop {time.perf_counter() - t1:.1f} s",
              file=sys.stderr)
    shutil.rmtree(work, ignore_errors=True)

    if args.trace:
        values = dict(bench.layer)
        values["session.get_spark_s"] = get_spark_s
        values["session.warmup_s"] = bench.warmup_s
    else:
        values = dict(bench.e2e)
        values["setup_s"] = get_spark_s + bench.warmup_s
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise RuntimeError(f"metrics not measured: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    for name, m in metrics.items():
        print(f"{args.workload}/{name}: {m['value']:.6g} {m['unit']}")
    if args.trace:
        bench.tracer.write(
            os.path.join(HERE, ".out", f"trace-{args.workload}-s{args.seed}.json"),
            {"metrics": metrics, "untraced_e2e": bench.e2e, **bench.trace_extra},
        )
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }), flush=True)
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
