"""Benchmark entry point.

    python3 perfbench/run.py --workload search_driver --seed 1 --seconds 10 --trace 0

Run from the root of a checkout of the repository: the engine is imported
from there, and all scratch files go to ``.perfbench_work/`` under it. The
last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: every end-to-end metric of
BENCHMARK.json with ``--trace 0``, every per-layer metric with ``--trace 1``.
Logs and a readable summary go to standard error.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("search_driver", "search_distributed")


def parse(argv):
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--scale", choices=("full", "tiny"), default="full",
                   help="tiny: the self-test's sizes")
    return p.parse_args(argv)


def start_spark(work: str, trace: bool):
    from es_indexer_spark import get_spark

    from spans import event_log_conf

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
    }
    if trace:
        conf.update(event_log_conf(os.path.join(work, "eventlog")))
    n = len(os.sched_getaffinity(0))
    return get_spark(app_name="perfbench", master=f"local[{n}]", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop Spark, then the JVM behind it, and wait until it has exited."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def replay_overhead(run, tracer) -> float:
    """Tracing overhead: the first query-phase operations replayed on a newly
    opened searcher of the final index, once to warm it, then untraced and
    traced passes in turn; percent extra wall time of the traced passes."""
    import workloads
    from es_indexer_spark.query.engine import IndexSearcher

    distributed = run.workload == "search_distributed"
    s = IndexSearcher(run.spark, run.index_dir)

    def once():
        t0 = time.perf_counter()
        for q in run.replay:
            workloads.run_query(s, q, distributed)
        return time.perf_counter() - t0

    tracer.uninstall()
    once()
    plain, traced = [], []
    for _ in range(2):
        plain.append(once())
        tracer.install()
        traced.append(once())
        tracer.uninstall()
    return (sum(traced) / sum(plain) - 1.0) * 100.0


def main(argv=None) -> int:
    args = parse(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "es_indexer_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout (es_indexer_spark/ not found)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    work = os.path.join(root, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "spark-local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    # keep the JVMs' perf-data files out of the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
        filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), "-XX:-UsePerfData"]))
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    try:
        return measure(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def measure(args, work: str) -> int:
    import layers
    import spans
    import workloads

    spark = start_spark(work, bool(args.trace))
    workloads.log("spark started")
    try:
        tracer = None
        if args.trace:
            tracer = spans.Tracer(spark.sparkContext)
            tracer.install()
        run = workloads.Run(spark, work, args.workload, args.seed, args.seconds, args.scale)
        workloads.run_workload(run, args.workload == "search_distributed")
        overhead = replay_overhead(run, tracer) if tracer else 0.0
        if tracer:
            tracer.uninstall()
    finally:
        stop_spark(spark)
        workloads.log("spark stopped")

    if args.trace:
        jobs = spans.read_jobs(os.path.join(work, "eventlog"))
        metrics = layers.layer_metrics(run, tracer, jobs, overhead)
    else:
        metrics = workloads.end_to_end(run)
    print(f"perfbench {args.workload} seed={args.seed} trace={args.trace}: "
          f"attempted={run.attempted} failed={run.failed} "
          f"error_rate={run.failed / max(1, run.attempted):.4f} "
          f"query_ops={run.ops_measured} inputs={json.dumps(run.extra)}", file=sys.stderr)
    for name, (v, unit) in metrics.items():
        print(f"  {name:36s} {v:14.4f} {unit}", file=sys.stderr)
    bad = [k for k, (v, _) in metrics.items() if not math.isfinite(v)]
    if bad:
        print(f"perfbench: no samples for {bad}", file=sys.stderr)
        return 3
    print(json.dumps({
        "correct": run.failed == 0,
        "attempted": int(run.attempted),
        "failed": int(run.failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0

if __name__ == "__main__":
    sys.exit(main())
