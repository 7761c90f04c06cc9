"""CDC benchmark entry point: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload stream_tail --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout.  ``--trace 0`` prints the end-to-end
metrics, ``--trace 1`` the per-layer metrics of a separately traced run
(spans written to ``.perfbench_out/``).  The line before the result holds
run info: the host canary, the failed share and the run's sizes.
``--size smoke`` runs a tenth of the events, for the benchmark's own tests.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

# fails with ModuleNotFoundError, before any work, outside a checkout
from perfbench.workloads import QUERIES, RUNNERS, WORKLOADS, smoke  # noqa: E402

SETUP_CYCLES = 3

END_TO_END = {"setup_s": "s", "work_per_s": "1/s", "step_s_p50": "s"}
PER_LAYER = {
    "process.peak_rss_mb": "MB",
    "session.start_s": "s", "session.warmup_s": "s",
    "extract.eml_us": "us", "extract.mbox_us": "us", "extract.ics_us": "us",
    "extract.code_us": "us",
    "udfs.partition_us": "us", "udfs.boundary_us": "us",
    "udfs.rows_per_event": "ratio", "udfs.envelope_noop_s": "s",
    "engine.apply_batch_s_p50": "s", "engine.precommit_s_p50": "s",
    "engine.jobs_per_batch": "count",
    "sink.commit_s_p50": "s", "sink.compaction_commit_s": "s",
    "sink.read_snapshot_s": "s", "sink.read_messages_s": "s",
    "sink.files_per_batch": "count", "sink.mb_per_batch": "MB", "sink.mb_total": "MB",
    "streaming.trigger_s_p50": "s", "streaming.add_batch_s_p50": "s",
    "streaming.overhead_s_p50": "s", "streaming.epochs": "count",
    "spark.task_skew": "ratio", "spark.shuffle_mb_per_batch": "MB",
    **{f"query.{n}_s": "s" for n in QUERIES},
    "traced.work_per_s": "1/s", "traced.step_s_p50": "s",
}


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--size", choices=("full", "smoke"), default="full")
    return p.parse_args(argv)


def warm(spark) -> None:
    """An Arrow job: starts the executor threads and the Python workers
    before anything is timed."""
    from perfbench.hostenv import n_cores

    spark.range(0, 10_000, numPartitions=n_cores()) \
        .mapInArrow(lambda it: it, "id long") \
        .write.format("noop").mode("overwrite").save()


def set_up(tracer):
    """``SETUP_CYCLES`` session starts, each followed by the warm-up; all
    but the last session are stopped again.  The first cycle also starts
    the JVM."""
    from perfbench.hostenv import start_session

    spark, starts, warms = None, [], []
    for _ in range(SETUP_CYCLES):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        with tracer.span("session.start"):
            spark = start_session()
        t1 = time.perf_counter()
        with tracer.span("session.warmup"):
            warm(spark)
        warms.append(time.perf_counter() - t1)
        starts.append(t1 - t0)
    return spark, starts, warms


def run(args) -> tuple[dict, dict]:
    from perfbench import hostenv
    from perfbench.trace import Tracer, event_log_metrics

    spec = WORKLOADS[args.workload]
    if args.size == "smoke":
        spec = smoke(spec)
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    event_log = os.path.join(work, "eventlog") if args.trace else None
    hostenv.prepare_env(work, event_log)
    tracer = Tracer(bool(args.trace))
    spark = None
    try:
        spark, starts, warms = set_up(tracer)
        t0 = time.perf_counter()
        measured = RUNNERS[spec.kind](spark, spec, args.seed, args.seconds, work, tracer)
        info = {"workload": args.workload, "seed": args.seed, "size": args.size,
                "cores": hostenv.n_cores(),
                "driver_mem": os.environ["SPARK_DRIVER_MEM"],
                "failed_share": measured.failed / max(measured.attempted, 1),
                "setup_total_s": sum(starts) + sum(warms),
                "workload_s": time.perf_counter() - t0, **measured.info,
                **hostenv.canary(spark)}
        spark.stop()
        spark = None
        hostenv.stop_jvm()
        setup = [a + b for a, b in zip(starts, warms)]
        if not args.trace:
            metrics = measured.e2e | {"setup_s": statistics.median(setup)}
        else:
            steps = "query" if spec.kind == "queries" else "engine.apply_batch"
            spark_log = event_log_metrics(
                event_log, [(s["start"], s["end"]) for s in tracer.named(steps)])
            metrics = {name: 0.0 for name in PER_LAYER} | measured.layers | {
                "session.start_s": statistics.median(starts),
                "session.warmup_s": statistics.median(warms),
                "spark.task_skew": spark_log["task_skew"],
                "spark.shuffle_mb_per_batch": spark_log["shuffle_mb_per_step"],
                "traced.work_per_s": measured.e2e["work_per_s"],
                "traced.step_s_p50": measured.e2e["step_s_p50"],
            }
            if spec.kind != "queries":
                metrics["engine.jobs_per_batch"] = spark_log["jobs_per_step"]
            out = os.path.join(ROOT, ".perfbench_out")
            os.makedirs(out, exist_ok=True)
            tracer.write(os.path.join(out, f"{args.workload}-seed{args.seed}.trace.jsonl"))
        units = END_TO_END if not args.trace else PER_LAYER
        result = {"correct": measured.failed == 0, "attempted": measured.attempted,
                  "failed": measured.failed,
                  "metrics": {n: {"value": float(metrics[n]), "unit": u}
                              for n, u in units.items()}}
        return info, result
    finally:
        if spark is not None:
            spark.stop()
        hostenv.stop_jvm()
        shutil.rmtree(work, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    info, result = run(args)
    print(json.dumps({"info": info}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
