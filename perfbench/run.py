#!/usr/bin/env python3
"""Run one benchmark workload and print its metrics as one JSON line.

    python3 perfbench/run.py --workload index_incremental --seed 1 --seconds 10 --trace 0

Workloads, metrics and bounds are declared in BENCHMARK.json at the repo
root; perfbench/README.md says what each one measures. With ``--trace 0``
the last stdout line carries every end-to-end metric, with ``--trace 1``
every per-layer metric. Progress goes to stderr. The exit code is 0 only
when every output check passed.

Each run works under a private directory inside the checkout (the
generated inputs, the store, the bulk output, Spark's local dirs and
temp files) and removes it on exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)
WORKLOADS = ("index_incremental", "query_suite")


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument(
        "--tiny", action="store_true", help="tiny inputs, for the self-test only"
    )
    return p.parse_args(argv)


def isolate(work: str, cores: int) -> None:
    """Pin the environment every process of the run inherits: the JVM is
    launched from it and Spark's Python workers start from the JVM's."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp)
    os.makedirs(local)
    path = os.environ.get("PYTHONPATH")
    os.environ.update(
        {
            # Workers import the package by name (the walker's
            # mapInPandas), whatever the working directory is.
            "PYTHONPATH": REPO + (os.pathsep + path if path else ""),
            # The fake link fetcher derives fsentry_id from hash(path).
            "PYTHONHASHSEED": "0",
            "SPARK_LOCAL_DIRS": local,
            "TMPDIR": tmp,
            "SPARK_GRAFT_CPUS": str(cores),
            "SPARK_GRAFT_DRIVER_MEM": "4g",
        }
    )
    os.environ.pop("SPARK_GRAFT_MASTER", None)
    tempfile.tempdir = tmp


def start_session(work: str, cores: int):
    from fs_indexer_elasticsearch_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        master=f"local[{cores}]",
        shuffle_partitions=cores,
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        # The gateway JVM exits when its stdin closes.
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=60)


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def metric_values(spec: dict, args, session_s: float, out) -> dict:
    if args.trace:
        declared = spec["per_layer"]
        values = {
            m["name"]: 0.0 for m in declared if m["name"].startswith(out.unreached)
        }
        values.update(out.layers)
    else:
        cycle = statistics.median(out.op_s)
        declared = spec["end_to_end"]
        values = {
            "setup_s": session_s + out.setup_s,
            "cycle_s": cycle,
            "items_per_s": out.items / cycle,
        }
    missing = [m["name"] for m in declared if m["name"] not in values]
    bad = [k for k, v in values.items() if not math.isfinite(v)]
    if missing or bad:
        raise RuntimeError(f"metrics missing {missing} or not finite {bad}")
    return {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]} for m in declared}


def main(argv=None) -> int:
    args = parse_args(argv)
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, REPO)
    # Fails here, before any work, in a checkout without the program.
    import fs_indexer_elasticsearch_spark  # noqa: F401

    from perfbench import index_cycles, query_suite
    from perfbench.common import Ctx

    run_workload = {
        "index_incremental": index_cycles.run,
        "query_suite": query_suite.run,
    }[args.workload]
    cores = len(os.sched_getaffinity(0))
    work = tempfile.mkdtemp(prefix=".perfbench-", dir=REPO)
    spark = None
    try:
        isolate(work, cores)
        t0 = time.perf_counter()
        spark = start_session(work, cores)
        session_s = time.perf_counter() - t0
        log(f"session local[{cores}] up in {session_s:.1f}s")
        ctx = Ctx(
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            tiny=args.tiny,
            log=log,
        )
        out = run_workload(spark, ctx)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)
    for problem in out.problems[:20]:
        log(f"CHECK FAILED: {problem}")
    correct = out.failed == 0
    result = {
        "correct": correct,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": metric_values(spec, args, session_s, out),
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
