"""Benchmark command for xsearch_spark.

    python3 perfbench/run.py --workload build|serve --seed N \\
        --seconds S --trace 0|1

Run from the root of a source checkout. One workload runs on a local[4]
Spark session started by this process; inputs are generated from
``--seed``; every answer is checked. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics``
(the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``). The line before it holds the run's details: settings,
set-up stages, latency summaries with sample counts, and host noise.
A traced run also writes its spans under ``.bench_results/``.

All files the run writes live under ``.bench_work/`` and
``.bench_results/`` in the checkout; the work directory is removed at
exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
MASTER = "local[4]"
# the driver JVM holds the whole local cluster; cap it well below the
# machine's memory, which other processes share
DRIVER_MEM_CAP_GIB = 3


def _physical_gib() -> float:
    return os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30


def configure(work: str) -> dict:
    """Environment for a self-contained run: Spark's Python workers can
    import the package from the checkout, every scratch file stays in
    the work directory, and the driver heap is capped. Returns the four
    settings the result records."""
    local_dirs = os.path.join(work, "spark-local")
    tmp = os.path.join(work, "tmp")
    cwd = os.path.join(work, "cwd")
    for d in (local_dirs, tmp, cwd):
        os.makedirs(d, exist_ok=True)
    mem_gib = max(1, min(DRIVER_MEM_CAP_GIB, int(_physical_gib() // 4)))
    pythonpath = os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ.update({
        "PYTHONPATH": pythonpath,
        "SPARK_LOCAL_DIRS": local_dirs,
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
        "TMPDIR": tmp,
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options -Djava.io.tmpdir={tmp} "
            "--conf spark.ui.showConsoleProgress=false "
            # job counts are read back per span at the end of a run
            "--conf spark.ui.retainedJobs=100000 "
            "--conf spark.ui.retainedStages=100000 "
            "pyspark-shell"
        ),
    })
    tempfile.tempdir = tmp
    # build manifests append PROGRESS.jsonl to the process cwd
    os.chdir(cwd)
    return {
        "PYTHONPATH": pythonpath,
        "cwd": cwd,
        "SPARK_LOCAL_DIRS": local_dirs,
        "SPARK_GRAFT_DRIVER_MEM": f"{mem_gib}g",
    }


def stop(spark) -> None:
    """Stop the session and wait until the JVM (and with it the Python
    workers it forked) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=("build", "serve"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "xsearch_spark")):
        print(f"perfbench: no xsearch_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.makedirs(os.path.join(ROOT, ".bench_work"), exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-{args.seed}-", dir=os.path.join(ROOT, ".bench_work"))
    spark = None
    try:
        settings = configure(work)
        from perfbench import workloads
        from xsearch_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=MASTER, shuffle_partitions=16)
        spark.sparkContext.setLogLevel("ERROR")
        spark.range(1).collect()
        session_s = time.perf_counter() - t0

        result, run = workloads.run(
            spark, args.workload, args.seed, args.seconds, bool(args.trace),
            os.path.join(work, "data"), session_s,
        )
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "master": MASTER, "settings": settings, **run.detail,
        }
        if args.trace:
            out_dir = os.path.join(ROOT, ".bench_results")
            os.makedirs(out_dir, exist_ok=True)
            spans = os.path.join(out_dir, f"spans-{args.workload}-seed{args.seed}.json")
            run.tracer.write(spans, detail)
            detail["spans_file"] = os.path.relpath(spans, ROOT)
            detail["self_s"] = run.tracer.self_times()
        for name, m in result["metrics"].items():
            print(f"{name} {m['value']:.6g} {m['unit']}")
        print(json.dumps(detail, default=str))
        print(json.dumps(result))
        return 0
    finally:
        if spark is not None:
            stop(spark)
        os.chdir(ROOT)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
