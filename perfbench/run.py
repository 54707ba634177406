"""CDC freshness/throughput benchmark for the engine.

    python3 perfbench/run.py --workload cdc_trickle --seed 1 --seconds 15 --trace 0

Workloads:

- ``cdc_trickle``: open loop. A generator process lands one small file
  of Zipf-skewed changes per interval on a landed history; one
  streaming query merges them with the default trigger.
- ``cdc_backfill``: closed loop. A landed backlog on a fresh key space
  drains from an empty table with ``availableNow``, repeatedly.
- ``analytics_mix``: closed loop, one client, a fixed ordered list of
  registered queries.

Every run prints each end-to-end metric (``--trace 0``) or each
per-layer metric (``--trace 1``) by name and unit, an environment
record, and, as its last line, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``. A wrong output makes the
run exit 1. See ``perfbench/README.md`` for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]
# The spans of the latest traced run of each workload (overwritten).
TRACE_DIR = os.path.join(os.path.dirname(HERE), ".perfbench-trace")

END_TO_END = {
    "setup_s": "s",
    "latency_p50_s": "s",
    "latency_tail_s": "s",
    "rate_per_s": "1/s",
    "scd2_read_p50_s": "s",
    "peak_rss_mb": "MB",
    "rss_outside_heap_mb": "MB",
}
_LAYERS = [
    ("session.start_s", "s"),
    ("session.warmup_s", "s"),
    ("ingest.batches", "count"),
    ("ingest.rows_per_batch", "rows"),
    ("ingest.latest_offset_ms", "ms"),
    ("ingest.get_batch_ms", "ms"),
    ("ingest.query_planning_ms", "ms"),
    ("ingest.wal_commit_ms", "ms"),
    ("ingest.commit_offsets_ms", "ms"),
    ("ingest.trigger_ms", "ms"),
    ("ingest.pending_files_max", "files"),
    ("scd2_stream.process_batch_ms", "ms"),
    ("scd2_stream.self_ms", "ms"),
    ("scd2_stream.log_rows", "rows"),
    ("scd2_stream.ms_per_100k_log_rows", "ms"),
    ("merge_backend.apply_ms", "ms"),
    ("merge_backend.files_written", "files"),
    ("merge_backend.bytes_written", "bytes"),
    ("merge_backend.rows_rewritten_per_event", "ratio"),
    ("spark.jobs", "count"),
    ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.task_s", "s"),
    ("spark.gc_s", "s"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("spark.shuffle_read_bytes", "bytes"),
    ("spark.spill_bytes", "bytes"),
    ("spark.peak_exec_mem_bytes", "bytes"),
    ("queries.build_ms", "ms"),
    ("queries.plan_ms", "ms"),
    ("queries.execute_ms", "ms"),
    ("loadgen.late_max_ms", "ms"),
    ("loadgen.files", "count"),
    ("loadgen.events", "count"),
    ("memory.old_gen_peak_mb", "MB"),
    ("trace.overhead_ratio", "ratio"),
    ("trace.accounted_ratio", "ratio"),
]


def per_layer_units() -> dict[str, str]:
    from mix import MIX

    units = dict(_LAYERS)
    for name in MIX:
        units[f"queries.{name}_s"] = "s"
    return units


def workloads():
    import cdc
    import mix

    return {
        "cdc_trickle": cdc.trickle,
        "cdc_backfill": cdc.backfill,
        "analytics_mix": mix.analytics_mix,
    }


def run(workload: str, seed: int, seconds: int, traced: bool):
    from harness import (
        Outcome, Workspace, environment, start_spark, stop_spark,
    )
    from spans import Tracer

    body = workloads()[workload]  # imports the engine: fails without it
    load_start = os.getloadavg()
    ws = Workspace()
    spark = None
    try:
        t0 = time.time()
        spark = start_spark(ws)
        started = time.time()
        ws.phase("session started")
        tracer = Tracer(ws.nonce, traced, spark)
        out = Outcome()
        setup_end = body(spark, ws, seed, seconds, tracer, out)
        out.metrics["setup_s"] = setup_end - t0
        out.layers["session.start_s"] = started - t0
        out.layers["session.warmup_s"] = setup_end - started
        env = environment(spark, seed, load_start)
        if traced:
            os.makedirs(TRACE_DIR, exist_ok=True)
            tracer.write(os.path.join(TRACE_DIR, f"{workload}.jsonl"))
    finally:
        try:
            if spark is not None:
                stop_spark(spark)
        finally:  # a run cut short by SIGTERM can leave py4j broken
            ws.phase("stopped")
            ws.close()
    return out, env


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["cdc_trickle", "cdc_backfill", "analytics_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    # A terminated run still stops Spark and deletes its directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    out, env = run(args.workload, args.seed, args.seconds, bool(args.trace))
    error_rate = out.failed / max(out.attempted, 1)
    if args.trace:
        units = per_layer_units()
        values = {n: float(out.layers.get(n, 0.0)) for n in units}
    else:
        units = END_TO_END
        values = {n: float(out.metrics[n]) for n in units}
    for name, value in values.items():
        print(f"{name} = {value:.6g} {units[name]}")
    if args.trace:  # the traced end-to-end figures, for the overhead
        for name, unit in END_TO_END.items():
            print(f"traced {name} = {out.metrics[name]:.6g} {unit}")
    print(f"error_rate = {error_rate:.6g} ({out.failed}/{out.attempted})")
    print(f"latency_tail_s: {out.tail}")
    for note in out.notes:
        print(note)
    for problem in out.problems:
        print(f"FAILED: {problem}")
    print(f"env {json.dumps(env, sort_keys=True)}")
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {
            n: {"value": v, "unit": units[n]} for n, v in values.items()
        },
    }))
    return 0 if out.failed == 0 else 1


if __name__ == "__main__":
    sys.exit(main())
