"""Benchmark command: one closed-loop workload, one JSON result line.

    python3 perfbench/run.py --workload olap_queries --seed 1 --seconds 10 --trace 0

Run from the repository root. The run pins its environment (Spark
``local[nproc]``, a fresh work directory under ``.perfbench_work/`` for
inputs, Spark local dirs, temp files and engine state, deleted at exit),
generates the workload's inputs from ``--seed``, times set-up, measures
the closed loop for ``--seconds``, checks the outputs, and prints:

- a detail line (environment stamps, sample counts, per-op latencies);
- as the last line ``{"correct", "attempted", "failed", "metrics"}``
  with the end-to-end metrics (``--trace 0``) or the per-layer metrics
  (``--trace 1``), each as ``{"value", "unit"}``.

It exits non-zero when a check fails, an op fails, or the engine
package is not next to the benchmark.
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
ROOT = os.path.dirname(HERE)
PACKAGE = "_data_engineering_pipeline_project_spark"
DRIVER_HEAP = "1g"

E2E_UNITS = {
    "setup_s": "s",
    "op_p50_s": "s",
    "items_per_s": "1/s",
    "peak_rss_mb": "MB",
}
# a traced run reports every layer metric; a layer the workload does not
# call reports 0 (the predicted no-change pairs in README.md)
LAYER_UNITS = {
    "spark.jobs_per_op": "count",
    "spark.tasks_per_op": "count",
    "spark.exec_run_s_per_op": "s",
    "spark.shuffle_mb_per_op": "MB",
    "driver.overhead_s_per_op": "s",
    "queries.build_s_p50": "s",
    "queries.jobs_in_build_per_op": "count",
    "queries.cold_build_s": "s",
    "neardupmaint.merge_batch_s_p50": "s",
    "clustermaint.merge_batch_s_p50": "s",
    "neardupmaint.state_files": "count",
    "neardupmaint.state_mb": "MB",
    "neardupmaint.pairs_total": "count",
    "serve.table_rows_s_p50": "s",
    "scd2.merge_s_p50": "s",
    "microbatch.stream_overhead_s_p50": "s",
    "scd2.mb_written_per_cycle": "MB",
    "scd2.state_mb": "MB",
    "trace.overhead_s_per_op": "s",
}


def _args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _pin_env(work: str, nproc: int) -> None:
    """Environment every run shares: ``local[nproc]`` (the engine
    defaults to 32 slots), a bounded driver heap, UTC, and every
    scratch path inside the run's work directory."""
    for sub in ("spark-local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": str(nproc),
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_HEAP,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            # spark-submit's launcher JVM: no hsperfdata file in /tmp
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
            "TMPDIR": os.path.join(work, "tmp"),
            "PYSPARK_PYTHON": sys.executable,
            "PYSPARK_DRIVER_PYTHON": sys.executable,
            "TZ": "UTC",
        }
    )
    time.tzset()


def _session(work: str):
    # the entry module registers every query module, so the registry
    # is the one the correctness gate sees
    import __spark_entry__  # noqa: F401
    from _data_engineering_pipeline_project_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    return get_spark(
        "perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a fixed-size heap: peak RSS does not depend on when G1
            # decided to grow it; no hsperfdata file in the system /tmp
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_HEAP} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
            ),
            "spark.hadoop.hadoop.tmp.dir": tmp,
        },
    )


def _stop(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    worker daemons it forked) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)


def run_workload(wl, seconds: float, trace: bool, start_session, clock=time.perf_counter):
    """Time set-up (session build, bootstrap, warm-up), then run the
    timed loop(s); returns (metrics, detail). Op latencies are taken by
    the loop alone, so nothing done in set-up reaches them."""
    t0 = clock()
    wl.spark = start_session()
    session_s = clock() - t0
    wl.setup()
    setup_s = clock() - t0
    metrics, detail = measure(wl, seconds, trace, clock)
    if not trace:
        metrics["setup_s"] = setup_s
    detail.update({"session_s": session_s, "setup_s": setup_s})
    return metrics, detail


def measure(wl, seconds: float, trace: bool, clock=time.perf_counter) -> tuple[dict, dict]:
    """Run the timed loop(s); returns (metrics, detail)."""
    from harness import StatusStore, Tracer, closed_loop, median

    loop = closed_loop(wl.op, seconds, wl.prepare, wl.round_size, clock)
    detail = {
        "op_latencies_s": [round(x, 4) for x in loop.latencies],
        "samples": {"op_p50_s": loop.attempted, "items": loop.items},
        "op_errors": loop.errors,
    }
    metrics = {
        "op_p50_s": median(loop.latencies),
        "items_per_s": loop.items / loop.busy_s if loop.busy_s else math.nan,
    }
    if not trace:
        return metrics, detail | {"attempted": loop.attempted, "failed": loop.failed}
    # the traced round follows the untraced one in the same process
    tracer = Tracer(StatusStore(wl.spark))
    wl.trace(tracer)
    try:
        traced = closed_loop(
            lambda i: tracer.span("op", wl.op, loop.attempted + i),
            seconds,
            lambda i: wl.prepare(loop.attempted + i),
            wl.round_size,
            clock,
        )
        layers = {k: 0.0 for k in LAYER_UNITS}
        layers.update(wl.layer_metrics(traced.attempted))
    finally:
        wl.untrace()
    # the status-store reads each traced op paid; the p50 difference of
    # the two loops is in the detail line, but the traced loop runs on
    # a JVM warmed by the untraced one, so it is not the overhead itself
    layers["trace.overhead_s_per_op"] = tracer.overhead_s / max(1, traced.attempted)
    detail["traced_minus_untraced_p50_s"] = median(traced.latencies) - metrics["op_p50_s"]
    detail["traced_op_latencies_s"] = [round(x, 4) for x in traced.latencies]
    detail["samples"]["traced_ops"] = traced.attempted
    detail["op_errors"] += traced.errors
    return layers, detail | {
        "attempted": loop.attempted + traced.attempted,
        "failed": loop.failed + traced.failed,
    }


def main(argv=None) -> int:
    args = _args(argv)
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: engine package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from harness import peak_rss_mb
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    load_before = os.getloadavg()[0]
    spark = None
    try:
        _pin_env(work, nproc)
        wl = WORKLOADS[args.workload](None, work, args.seed)
        wl.generate()  # input generation is not set-up

        def start_session():
            nonlocal spark
            spark = _session(work)
            return spark

        metrics, detail = run_workload(wl, args.seconds, bool(args.trace), start_session)
        errors = wl.check()
        rss = peak_rss_mb([os.getpid(), spark.sparkContext._gateway.proc.pid])
    finally:
        if spark is not None:
            _stop(spark)
        shutil.rmtree(work, ignore_errors=True)
        parent = os.path.dirname(work)
        if os.path.isdir(parent) and not os.listdir(parent):
            os.rmdir(parent)
    if args.trace:
        units = LAYER_UNITS
    else:
        units = E2E_UNITS
        metrics["peak_rss_mb"] = rss
    detail.update(
        {
            "workload": args.workload,
            "seed": args.seed,
            "seconds": args.seconds,
            "trace": args.trace,
            "nproc": nproc,
            "loadavg_1m": [load_before, os.getloadavg()[0]],
            "check_errors": errors,
        }
    )
    finite = all(math.isfinite(metrics[k]) for k in units)
    correct = not errors and detail["failed"] == 0 and finite
    print(json.dumps(detail, default=str))
    result = {
        "correct": correct,
        "attempted": detail["attempted"],
        "failed": detail["failed"],
        "metrics": {
            k: {"value": metrics[k] if math.isfinite(metrics[k]) else None, "unit": u}
            for k, u in units.items()
        },
    }
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
