#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload adhoc_sql --seed 1 --seconds 15 --trace 0

Run from the repository root. It copies the benchmark's dataset, makes
the workload's statements from the seed, boots one Spark session with a
fixed slot count, warms up,
measures for `--seconds`, checks the outputs, and prints as its last
line one JSON object: {"correct", "attempted", "failed", "metrics"}.
With `--trace 0` the metrics are the end-to-end ones; with `--trace 1`
they are the per-layer ones, and the spans are written to
`.perfbench_out/trace-<workload>-<seed>.json` (see report.py).
A JSON line before it records the run's context (Spark master, slots,
parallelism, host load and steal).

Everything the run writes stays under `.perfbench_work/` (removed at
exit) and `.perfbench_out/` in the current directory.
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SLOTS = 4  # Spark task slots (local[SLOTS]), capped by the CPUs available
DRIVER_MEMORY = "2g"


def _parse(argv: list[str]) -> argparse.Namespace:
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def _prepare_env(work: str) -> tuple[str, dict[str, str]]:
    """Point every temp/scratch location of Python, Spark and the JVM into
    `work`, and drop the program's tuning variables so it runs with its
    own defaults at the benchmark's fixed slot count."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    for var in ("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM",
                "SPARK_GRAFT_DUCKDB_TMP", "SPARK_GRAFT_SF_DIR"):
        os.environ.pop(var, None)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    tempfile.tempdir = tmp
    conf = {
        "spark.driver.memory": DRIVER_MEMORY,
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.local.dir": local,
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
    }
    return tmp, conf


def _declared_metrics(root: str, section: str) -> dict[str, str]:
    """Metric name -> unit, in the order BENCHMARK.json declares them."""
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[section]}


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except Exception:  # noqa: BLE001 - fall back to killing it
            proc.kill()
            proc.wait()


def main(argv: list[str]) -> int:
    started = time.perf_counter()
    args = _parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sql_engine_spark", "__init__.py")):
        print("perfbench: run from the repository root (sql_engine_spark/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)

    from probes import host_state
    from tracing import Tracer
    from workloads import WORKLOADS, Run

    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(work)
    host_start = host_state()
    spark = None
    try:
        tmp, conf = _prepare_env(work)
        slots = min(SLOTS, len(os.sched_getaffinity(0)))
        t0 = time.perf_counter()
        from sql_engine_spark.session import get_spark

        spark = get_spark("perfbench", master=f"local[{slots}]", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        # PySpark logs a JSON stack trace for every failed statement.
        logging.getLogger("SQLQueryContextLogger").setLevel(logging.CRITICAL)
        boot_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        from sql_engine_spark.registry import all_queries

        queries = all_queries()
        registry_s = time.perf_counter() - t0

        tracer = Tracer(enabled=bool(args.trace))
        run = Run(args.seed, args.seconds, work, tmp, spark, queries, tracer, started)
        outcome = WORKLOADS[args.workload](run)
        context = {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "master": spark.sparkContext.master,
            "task_slots": slots,
            "default_parallelism": spark.sparkContext.defaultParallelism,
            "shuffle_partitions": int(spark.conf.get("spark.sql.shuffle.partitions")),
            "session_boot_s": boot_s,
            "registry_load_s": registry_s,
            "warmup_s": outcome.warmup_s,
            **outcome.context,
        }
    finally:
        if spark is not None:
            _stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)
    context["host_start"] = host_start
    context["host_end"] = host_state()

    setup_s = boot_s + registry_s + outcome.warmup_s
    if args.trace:
        values = {
            "session.boot_s": boot_s,
            "session.warmup_s": outcome.warmup_s,
            "registry.load_s": registry_s,
            **outcome.layers,
        }
        os.makedirs(out_dir, exist_ok=True)
        trace_path = os.path.join(out_dir, f"trace-{args.workload}-{args.seed}.json")
        tracer.dump(trace_path, {**context, "end_to_end": outcome.e2e, "layers": values})
        context["trace_file"] = os.path.relpath(trace_path, root)
    else:
        values = {"setup_s": setup_s, **outcome.e2e}

    declared = _declared_metrics(root, "per_layer" if args.trace else "end_to_end")
    if args.trace:  # a layer the workload never calls reads zero
        values = {k: values.get(k, 0.0) for k in declared}
    missing = sorted(set(declared) - set(values))
    if missing:
        print(f"perfbench: metrics not measured: {missing}", file=sys.stderr)
        return 1
    print(json.dumps({"context": context}, default=str))
    print(json.dumps({
        "correct": outcome.failed == 0,
        "attempted": outcome.attempted,
        "failed": outcome.failed,
        "metrics": {k: {"value": values[k], "unit": unit} for k, unit in declared.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
