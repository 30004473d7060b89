"""The measured process: runs ONE workload and writes its result JSON.

Started by ``run.py`` after the inputs exist, so input generation is
not part of this process.  ``setup_s`` runs from this process's spawn
(the parent passes its ``time.monotonic()`` at spawn; the clock is
system-wide) to the end of the untimed warm-up: interpreter start, package import,
``get_spark`` and the workload's warm-up cycles.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from tracing import Tracer, trend
from workloads import WORKLOADS

END_TO_END = {
    "setup_s": "s",
    "latency_s": "s",
    "throughput_per_s": "1/s",
}
PER_LAYER = {
    "session.import_s": "s",
    "session.start_s": "s",
    "session.peak_rss_mb": "MB",
    "plans.build_s": "s",
    "plans.build_share": "share",
    "plans.build_jobs": "count",
    "plans.exec_s": "s",
    "plans.jobs": "count",
    "plans.stages": "count",
    "plans.tasks": "count",
    "plans.core_util": "share",
    "exec.shuffle_write_bytes": "bytes",
    "exec.shuffle_read_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.executor_cpu_s": "s",
    "exec.gc_s": "s",
    "sources.input_bytes": "bytes",
    "sources.input_records": "count",
    "sources.records_per_output_row": "ratio",
    "lineage.storage_peak_bytes": "bytes",
    "ml.featurize_s": "s",
    "ml.b_write_s": "s",
    "ml.iter_s": "s",
    "ml.jobs_per_iter": "count",
    "ml.tasks_per_iter": "count",
    "ml.executor_cpu_per_iter_s": "s",
    "ml.driver_gap_share": "share",
    "streaming.add_batch_s": "s",
    "streaming.query_planning_s": "s",
    "streaming.latest_offset_s": "s",
    "streaming.wal_commit_s": "s",
    "streaming.rows_per_batch": "count",
    "streaming.bytes_written_per_input_byte": "ratio",
    "streaming.state_bytes": "bytes",
    "trace.overhead_share": "share",
}


def stop_spark(spark) -> None:
    """Stop the session and wait for the JVM it launched to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--data", required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--inject-wrong", action="store_true")
    ap.add_argument("--min-cycles", type=int, default=None)
    args = ap.parse_args()

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    sys.path.insert(0, root)
    t0 = time.monotonic()
    import causality_between_elements_based_on_time_series_data_spark.plans  # noqa: F401
    from causality_between_elements_based_on_time_series_data_spark.session import get_spark

    t1 = time.monotonic()
    spark = get_spark(f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    t2 = time.monotonic()

    tracer = Tracer(spark, bool(args.trace))
    w = WORKLOADS[args.workload](
        spark, tracer, args.data, args.work, args.seed, args.inject_wrong
    )
    if args.min_cycles is not None:
        w.min_cycles = args.min_cycles
    w.warmup()
    t_setup = time.monotonic()
    setup_s = t_setup - args.t_spawn

    k = 0
    while True:
        w.run_cycle(k)
        k += 1
        if k >= w.min_cycles and time.monotonic() - t_setup >= args.seconds:
            break
    loop_s = time.monotonic() - t_setup
    w.check()

    result = {
        "attempted": len(w.ops),
        "failed": len(w.failed_ops),
        "problems": w.problems[:20],
        "end_to_end": {
            "setup_s": setup_s,
            **w.end_to_end(),
        },
        "detail": {
            "session.import_s": t1 - t0,
            "session.start_s": t2 - t1,
            "timed_s": loop_s,
            "cycles": k,
            "ops": len(w.ops),
            "cycle_throughput": w.cycle_throughput,
            "drift": trend(w.cycle_throughput),
            "parallelism": spark.sparkContext.defaultParallelism,
        },
    }
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(w.layers())
        layers["session.import_s"] = t1 - t0
        layers["session.start_s"] = t2 - t1
        layers["trace.overhead_share"] = tracer.overhead_s / loop_s
        result["per_layer"] = layers
        result["detail"]["trace_overhead_s"] = tracer.overhead_s
        with open(os.path.join(args.work, f"spans-{args.workload}-{args.seed}.json"), "w") as fh:
            json.dump([s.as_record() for s in tracer.spans], fh)
    result["detail"].update(w.detail())
    with open(args.result, "w") as fh:
        json.dump(result, fh)
    stop_spark(spark)


if __name__ == "__main__":
    main()
