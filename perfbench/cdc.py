"""The two CDC workloads: ``cdc_trickle`` (open loop) and
``cdc_backfill`` (closed loop).

Both drive the engine's own loop end to end: gzip NDJSON envelopes land
in a directory, ``streaming/ingest.stream_envelope_log`` reads them,
``streaming/scd2_stream.IncrementalScd2`` merges each micro-batch
through ``cdc/merge_backend``, and the SCD2 table is read back. The
benchmark only wraps the engine's public calls: ``process_batch`` inside
its own ``foreachBatch`` function, and the merge backend through
``IncrementalScd2``'s ``merge_backend=`` argument.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from change_data_capture_poc_spark.cdc.envelope import (
    PRODUCT_FIELDS,
    decode_envelope,
    envelope_schema,
)
from change_data_capture_poc_spark.cdc.merge_backend import get_merge_backend
from change_data_capture_poc_spark.cdc.scd2 import SCD2_SENTINEL, scd2_recompute
from change_data_capture_poc_spark.streaming.ingest import stream_envelope_log
from change_data_capture_poc_spark.streaming.scd2_stream import IncrementalScd2

import loadgen
import stats
from harness import Outcome, Workspace, record_memory
from spans import Tracer, spark_layers

N_BUCKETS = 16
# Warm-up ends when two consecutive passes agree within this share.
SETTLE = 0.20

# cdc_trickle: the reference loop over HISTORY_KEYS keys as history,
# then one file of EVENTS_PER_FILE changes every INTERVAL_S seconds:
# 250 events/s, about 100 times the reference generator's product-table
# ceiling (2 ids/s at 1.17 events per id). The rate is chosen so that a
# 15 s run lands 150 files (a freshness tail at p93) while batches of
# about 30 files still keep up. A late event lands LATE_FILES files
# (3 s) on, past the batch that takes in the newer events.
HISTORY_KEYS = 5_000
HISTORY_FILES = 2
EVENTS_PER_FILE = 25
INTERVAL_S = 0.1
LATE_FILES = 30
# Warm-up: closed-loop rounds of WARMUP_ROUND_FILES files landed at once
# (about one timed batch), at most WARMUP_ROUNDS; then the open loop
# lands LEAD_IN_FILES (4 s: the small first batch of an idle stream and
# one of the steady size) before the first timed file, so the timed files
# meet batches of the steady size.
WARMUP_ROUNDS = 2
WARMUP_ROUND_FILES = 25
LEAD_IN_FILES = 40
# cdc_backfill: BACKFILL_KEYS creates then BACKFILL_CHANGES changes,
# in BACKFILL_FILES files drained BACKFILL_FILES_PER_BATCH at a time.
BACKFILL_KEYS = 15_000
BACKFILL_CHANGES = 15_000
BACKFILL_FILES = 8
BACKFILL_FILES_PER_BATCH = 2
BACKFILL_WARMUP_ROUNDS = 4

# Timed passes over the read set: 12 samples over about 3 s, so that a
# second of load from elsewhere on the box does not set the median.
READ_REPEATS = 3
DRAIN_TIMEOUT_S = 60
INGEST_PHASES = {
    "latest_offset_ms": "latestOffset",
    "get_batch_ms": "getBatch",
    "query_planning_ms": "queryPlanning",
    "wal_commit_ms": "walCommit",
    "commit_offsets_ms": "commitOffsets",
}


class TracedBackend:
    """The engine's merge backend with a span around ``apply`` and a
    count of the parquet files, bytes and rows it wrote, taken from the
    table directory and the files' footers."""

    def __init__(self, inner, tracer: Tracer, batch: "BatchRecorder") -> None:
        self.inner = inner
        self.name = inner.name
        self.tracer = tracer
        self.batch = batch

    def apply(self, spark, path, rows, partition_col="bucket") -> None:
        before = _parquet_files(path)
        with self.tracer.span("merge_backend.apply", self.batch.span) as span:
            self.inner.apply(spark, path, rows, partition_col)
        t0 = time.perf_counter()
        written = sorted(set(_parquet_files(path)) - set(before))
        span.counts.update(
            files_written=len(written),
            bytes_written=sum(size for _, _, size in written),
            rows_written=_parquet_rows(p for p, _, _ in written),
        )
        self.tracer.overhead_s += time.perf_counter() - t0


def _parquet_files(path: str) -> list[tuple[str, int, int]]:
    out = []
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                st = os.stat(os.path.join(d, n))
                out.append((os.path.join(d, n), st.st_mtime_ns, st.st_size))
    return out


def _parquet_rows(paths) -> int:
    import pyarrow.parquet as pq

    return sum(pq.read_metadata(p).num_rows for p in paths)


@dataclass
class BatchRecorder:
    """The ``foreachBatch`` function: calls ``process_batch`` and stamps
    when each batch returned, which is when its events became visible.
    Traced, each batch span carries ``(stream, batch id)`` as "batch"."""

    inc: IncrementalScd2
    tracer: Tracer
    parent: object
    stream: int
    span: object = None
    done: dict = field(default_factory=dict)  # batch id -> (start, end)

    def __call__(self, batch_df, batch_id: int) -> None:
        t0 = time.time()
        with self.tracer.span(
            "scd2_stream.process_batch", self.parent, counted=True
        ) as span:
            if span is not None:
                span.counts["batch"] = (self.stream, batch_id)
            self.span = span
            self.inc.process_batch(batch_df, batch_id)
        self.done[batch_id] = (t0, time.time())


def _start_merge(spark, ws: Workspace, name: str, tracer: Tracer, parent,
                 stream: int = 0):
    d = ws.dir(name)
    recorder = BatchRecorder(None, tracer, parent, stream)
    backend = get_merge_backend()
    if tracer.enabled:
        backend = TracedBackend(backend, tracer, recorder)
    recorder.inc = IncrementalScd2(
        spark, os.path.join(d, "log"), os.path.join(d, "scd2"),
        n_buckets=N_BUCKETS, merge_backend=backend,
    )
    return recorder, os.path.join(d, "checkpoint")


def _rows_done(query) -> int:
    return sum(p.numInputRows for p in query.recentProgress)


def _wait_rows(query, rows: int, timeout: float) -> bool:
    """Poll until the stream has committed ``rows`` input rows."""
    deadline = time.time() + timeout
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if _rows_done(query) >= rows:
            return True
        time.sleep(0.02)
    return False


def _settled(times: list[float]) -> bool:
    return len(times) >= 2 and abs(times[-1] - times[-2]) <= SETTLE * times[-2]


def _land_all(directory: str, phase: str, files, start: int = 0) -> list[str]:
    named = {loadgen.file_name(phase, i): loadgen.encode(envs)
             for i, envs in enumerate(files, start)}
    loadgen.land_all(directory, named)
    return list(named)


# ---------------------------------------------------------------- reads


def read_set(spark, scd2_path: str, hot_key: int, at_ms: list[int]):
    """The fixed read set on the final table: current state per key,
    point-in-time lookups at fixed timestamps, one key's history."""
    def t():  # each read opens the table, as a reader would
        return spark.read.parquet(scd2_path)

    start, end = "row_valid_start_timestamp", "row_valid_expiration_timestamp"
    summary = [F.count(F.lit(1)).alias("n"), F.sum("price").alias("price")]
    sentinel = F.lit(SCD2_SENTINEL).cast("timestamp")
    reads = [(
        "current",
        lambda: t().where(F.col(end) == sentinel).agg(*summary).collect(),
    )]
    for ms in at_ms:
        at = F.timestamp_millis(F.lit(ms))
        reads.append((
            f"as_of_{ms}",
            lambda at=at: t().where((F.col(start) <= at) & (F.col(end) > at))
            .agg(*summary).collect(),
        ))
    reads.append((
        "key_history",
        lambda: t().where(F.col("id") == hot_key)
        .orderBy("version_number").collect(),
    ))
    return reads


def _as_of(n_events: int) -> list[int]:
    """Two fixed lookup times: halfway and nine tenths into the events
    landed so far (``ts_ms`` rises 10 ms per event)."""
    return [loadgen.BASE_TS_MS + 10 * n_events // 2,
            loadgen.BASE_TS_MS + 10 * n_events * 9 // 10]


def timed_reads(spark, scd2_path, hot_key, at_ms, out: Outcome) -> list[float]:
    times = []
    for _ in range(READ_REPEATS):
        for name, fn in read_set(spark, scd2_path, hot_key, at_ms):
            t0 = time.perf_counter()
            rows = fn()
            times.append(time.perf_counter() - t0)
            out.check(bool(rows), f"read {name} returned nothing")
    return times


# ----------------------------------------------------------- correctness


def check_table(spark, out: Outcome, scd2_path: str, landing: str,
                envelopes: list[dict]) -> None:
    """The final table must equal the full recompute over every landed
    envelope, hold each (id, version_number) once, and end every key in
    the generator's expected current image."""
    cols = [
        "id", "name", "description", "price", "operation_type",
        "version_number", "row_valid_start_timestamp",
        "row_valid_expiration_timestamp",
    ]
    actual = [tuple(r) for r in
              spark.read.parquet(scd2_path).select(*cols).collect()]
    raw = spark.read.schema(envelope_schema(PRODUCT_FIELDS)).json(landing)
    recomputed = [tuple(r) for r in
                  scd2_recompute(decode_envelope(raw)).select(*cols).collect()]
    out.check(Counter(actual) == Counter(recomputed),
              "SCD2 table differs from the full recompute")
    versions = [(r[0], r[5]) for r in actual]
    out.check(len(versions) == len(set(versions)),
              "duplicate (id, version_number)")
    latest: dict[int, tuple] = {}
    for r in actual:
        if r[0] not in latest or r[5] > latest[r[0]][5]:
            latest[r[0]] = r
    current = {k: (r[4], r[1], r[2], r[3]) for k, r in latest.items()}
    out.check(current == loadgen.expected_current(envelopes),
              "current image differs from the generator's model")


# ---------------------------------------------------------- layer report


def _progress_by_batch(query, stream: int = 0) -> dict[tuple, object]:
    return {(stream, p.batchId): p for p in query.recentProgress}


def stream_layers(
    tracer: Tracer,
    batches: list[tuple],
    progress: dict[tuple, object],
    log_rows_at: dict[tuple, int],
    pending_files_max: int,
) -> dict[str, float]:
    """Per-layer numbers over the timed micro-batches."""
    wanted = set(batches)
    batch_spans = [s for s in tracer.named("scd2_stream.process_batch")
                   if s.counts["batch"] in wanted]
    ids = {s.span_id for s in batch_spans}
    applies = [s for s in tracer.named("merge_backend.apply")
               if s.parent in ids]
    prog = [progress[b] for b in batches if b in progress]
    n = max(len(batch_spans), 1)
    events = sum(p.numInputRows for p in prog)
    out = {
        "ingest.batches": len(prog),
        "ingest.rows_per_batch": events / max(len(prog), 1),
        "ingest.trigger_ms": stats.median(
            [p.durationMs.get("triggerExecution", 0) for p in prog]),
        "ingest.pending_files_max": pending_files_max,
        "scd2_stream.process_batch_ms": 1000 * stats.median(
            [s.seconds for s in batch_spans]),
        "scd2_stream.self_ms": 1000 * stats.median(
            [tracer.self_seconds(s) for s in batch_spans]),
        "scd2_stream.log_rows": max(
            (log_rows_at[b] for b in batches if b in log_rows_at), default=0),
        "scd2_stream.ms_per_100k_log_rows": 1e8 * stats.slope(
            [log_rows_at[s.counts["batch"]] for s in batch_spans],
            [s.seconds for s in batch_spans]),
        "merge_backend.apply_ms": 1000 * stats.median(
            [s.seconds for s in applies]),
        "merge_backend.files_written": sum(
            s.counts["files_written"] for s in applies) / max(len(applies), 1),
        "merge_backend.bytes_written": sum(
            s.counts["bytes_written"] for s in applies) / max(len(applies), 1),
        "merge_backend.rows_rewritten_per_event": sum(
            s.counts["rows_written"] for s in applies) / max(events, 1),
    }
    for name, key in INGEST_PHASES.items():
        out[f"ingest.{name}"] = stats.median(
            [p.durationMs.get(key, 0) for p in prog])
    out.update(spark_layers(batch_spans, n))
    busy = sum(p.durationMs.get("triggerExecution", 0) for p in prog)
    covered = sum(1000 * s.seconds for s in batch_spans) + sum(
        p.durationMs.get(k, 0) for p in prog for k in INGEST_PHASES.values())
    out["trace.accounted_ratio"] = covered / busy if busy else 0.0
    return out


def _log_rows(progress: dict[tuple, object]) -> dict[tuple, int]:
    """Rows in each stream's compacted log after each of its batches:
    one row per event."""
    out, total = {}, {}
    for key in sorted(progress):
        total[key[0]] = total.get(key[0], 0) + progress[key].numInputRows
        out[key] = total[key[0]]
    return out


# ---------------------------------------------------------- cdc_trickle


def trickle(spark, ws: Workspace, seed: int, seconds: int,
            tracer: Tracer, out: Outcome) -> float:
    """Returns the end of set-up; fills ``out``."""
    spec = loadgen.TrickleSpec(
        seed=seed, history_keys=HISTORY_KEYS, history_files=HISTORY_FILES,
        events_per_file=EVENTS_PER_FILE,
        warmup_files=WARMUP_ROUNDS * WARMUP_ROUND_FILES,
        lead_in_files=LEAD_IN_FILES,
        timed_files=int(seconds / INTERVAL_S), interval_s=INTERVAL_S,
        late_files=LATE_FILES,
    )
    sched = loadgen.trickle_schedule(spec)
    landing = ws.dir("landing")
    landed = list(sched["history"])
    _land_all(landing, "history", sched["history"])
    ws.phase("history landed")

    with tracer.span("workload.cdc_trickle") as root:
        recorder, checkpoint = _start_merge(spark, ws, "trickle", tracer, root)
        query = (
            stream_envelope_log(spark, landing, PRODUCT_FIELDS)
            .writeStream.foreachBatch(recorder)
            .option("checkpointLocation", checkpoint)
            .start()
        )
        try:
            rows = sum(len(f) for f in landed)
            if not _wait_rows(query, rows, DRAIN_TIMEOUT_S * 3):
                raise RuntimeError("history did not drain")
            ws.phase("history drained")
            # Warm-up: closed-loop rounds of about one timed batch of
            # files until two consecutive rounds take about the same time.
            times = []
            for r in range(WARMUP_ROUNDS):
                group = sched["warmup"][r * WARMUP_ROUND_FILES:
                                        (r + 1) * WARMUP_ROUND_FILES]
                t0 = time.time()
                _land_all(landing, "warmup", group, r * WARMUP_ROUND_FILES)
                landed += group
                rows += sum(len(f) for f in group)
                if not _wait_rows(query, rows, DRAIN_TIMEOUT_S):
                    raise RuntimeError("warm-up files did not drain")
                times.append(recorder.done[max(recorder.done)][1] - t0)
                if _settled(times):
                    break
            ws.phase("warm-up rounds " + " ".join(f"{t:.2f}" for t in times))
            # Warm the read path too, on the table as it stands.
            hot_key = loadgen.EnvelopeStream(seed, HISTORY_KEYS).rank_to_key[0]
            at_ms = _as_of(sum(len(f) for f in landed))
            for _, read in read_set(spark, recorder.inc.scd2_path, hot_key, at_ms):
                read()
            first_open = max(recorder.done) + 1

            manifest = os.path.join(ws.path, "manifest.json")
            overhead0 = tracer.overhead_s
            start = time.time() + 1.0  # time for the process to start
            # Set-up ends when the first timed file is due.
            setup_end = start + LEAD_IN_FILES * INTERVAL_S
            gen = subprocess.Popen([
                sys.executable, loadgen.__file__,
                "--spec", loadgen.spec_arg(spec), "--landing", landing,
                "--manifest", manifest, "--start", repr(start),
            ])
            try:
                gen_rc = gen.wait(timeout=seconds + 60)
            finally:
                if gen.poll() is None:
                    gen.kill()
                    gen.wait()
            out.check(gen_rc == 0, f"load generator exited {gen_rc}")
            landed += sched["lead"] + sched["timed"]
            rows += sum(len(f) for f in sched["lead"] + sched["timed"])
            ws.phase("generator done")
            _wait_rows(query, rows, DRAIN_TIMEOUT_S)
            ws.phase("drained")
            overhead = tracer.overhead_s - overhead0
            progress = _progress_by_batch(query)
        finally:
            query.stop()
    with open(manifest) as f:
        record = json.load(f)

    # Freshness: due time at the generator -> return of the batch that
    # made the file visible. A file never made visible is a failure.
    batch_of = stats.files_by_batch(checkpoint)
    visible = {b: t1 for b, (_, t1) in recorder.done.items()}
    fresh = stats.freshness({r["file"]: r["due"] for r in record},
                            batch_of, visible)
    for r in record:
        out.check(r["file"] in fresh, f"{r['file']} never became visible")
    timed_files = {loadgen.file_name("timed", i): len(f)
                   for i, f in enumerate(sched["timed"])}
    fresh_s = [fresh[n] for n in timed_files if n in fresh]
    ws.phase("batch seconds " + " ".join(
        f"{t1 - t0:.2f}" for _, (t0, t1) in sorted(recorder.done.items())))
    events = sum(timed_files.values())
    out.metrics["latency_p50_s"] = stats.median(fresh_s)
    out.metrics["latency_tail_s"], pct = stats.tail(fresh_s)
    out.tail = f"p{pct:.3f} of {len(fresh_s)} files"
    out.metrics["rate_per_s"] = stats.steady_rate(
        timed_files, batch_of, recorder.done,
        max(r["landed"] for r in record))

    # Byte identity: what the generator process landed is the seeded input.
    for name, envs in loadgen.open_loop_files(spec):
        with open(os.path.join(landing, name), "rb") as f:
            out.check(f.read() == loadgen.encode(envs),
                      f"landed file {name} differs from the seeded schedule")

    scd2_path = recorder.inc.scd2_path
    at_ms = _as_of(sum(len(f) for f in landed))
    out.metrics["scd2_read_p50_s"] = stats.median(
        timed_reads(spark, scd2_path, hot_key, at_ms, out))
    record_memory(spark, out)
    ws.phase("read")
    envelopes = [e for f in landed for e in f]
    check_table(spark, out, scd2_path, landing, envelopes)
    ws.phase("checked")

    # The timed batches hold a timed file; the open loop's also lead-in.
    timed = sorted({batch_of[n] for n in timed_files if n in fresh})
    open_loop = [b for b in recorder.done if b >= first_open]
    pending = stats.pending_max(
        {r["file"]: r["landed"] for r in record}, batch_of,
        {b: visible[b] for b in timed})
    out.notes.append(
        f"offered {EVENTS_PER_FILE / INTERVAL_S:.0f} events/s; at most "
        f"{pending} files were landed but not yet visible")
    if tracer.enabled:
        out.layers.update(stream_layers(
            tracer, [(0, b) for b in timed], progress, _log_rows(progress),
            pending))
        busy = sum(recorder.done[b][1] - recorder.done[b][0]
                   for b in open_loop)
        out.layers["trace.overhead_ratio"] = busy / (busy - overhead)
        late = stats.lateness([r["due"] for r in record],
                              [r["landed"] for r in record])
        out.layers.update({
            "loadgen.late_max_ms": 1000 * max(late, default=0.0),
            "loadgen.files": len(timed_files),
            "loadgen.events": events,
        })
    return setup_end


# --------------------------------------------------------- cdc_backfill


def _drain(spark, ws, landing, name, tracer, parent, timeout, stream=0):
    recorder, checkpoint = _start_merge(
        spark, ws, name, tracer, parent, stream)
    t0 = time.time()
    query = (
        stream_envelope_log(spark, landing, PRODUCT_FIELDS,
                            max_files_per_trigger=BACKFILL_FILES_PER_BATCH)
        .writeStream.foreachBatch(recorder)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    try:
        finished = query.awaitTermination(timeout)
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        if not finished:
            raise RuntimeError(f"backlog did not drain in {timeout}s")
        progress = _progress_by_batch(query, stream)
    finally:
        query.stop()
    return t0, recorder, checkpoint, progress


def backfill(spark, ws: Workspace, seed: int, seconds: int,
             tracer: Tracer, out: Outcome) -> float:
    files = loadgen.backfill_schedule(
        seed, BACKFILL_KEYS, BACKFILL_CHANGES, BACKFILL_FILES)
    landing = ws.dir("backlog")
    names = _land_all(landing, "backlog", files)
    size = {n: len(f) for n, f in zip(names, files)}
    events = sum(size.values())

    with tracer.span("workload.cdc_backfill") as root:
        # Warm-up: whole drains until two consecutive ones agree.
        times = []
        for i in range(BACKFILL_WARMUP_ROUNDS):
            t0, rec, _, _ = _drain(
                spark, ws, landing, f"warmup-{i}", tracer, root,
                DRAIN_TIMEOUT_S * 3)
            times.append(max(t1 for _, t1 in rec.done.values()) - t0)
            shutil.rmtree(os.path.join(ws.path, f"warmup-{i}"))
            if _settled(times):
                break
        setup_end = time.time()
        ws.phase("warm")

        latencies, drain_s, rounds, timed_batches = [], 0.0, 0, []
        progress = {}
        overhead0 = tracer.overhead_s
        while drain_s < seconds:
            if rounds:
                shutil.rmtree(os.path.join(ws.path, f"round-{rounds - 1}"))
            rounds += 1
            t0, rec, checkpoint, prog = _drain(
                spark, ws, landing, f"round-{rounds - 1}", tracer, root,
                DRAIN_TIMEOUT_S, stream=rounds)
            batch_of = stats.files_by_batch(checkpoint)
            visible = {b: t1 for b, (_, t1) in rec.done.items()}
            for n in names:
                ok = batch_of.get(n) in visible
                out.check(ok, f"{n} never became visible")
                if ok:
                    latencies += [visible[batch_of[n]] - t0] * size[n]
            drain_s += max(visible.values()) - t0
            progress.update(prog)
            timed_batches += [(rounds, b) for b in sorted(rec.done)]
        overhead = tracer.overhead_s - overhead0

    out.metrics["latency_p50_s"] = stats.median(latencies)
    out.metrics["latency_tail_s"], pct = stats.tail(latencies)
    out.tail = f"p{pct:.3f} of {len(latencies)} events"
    out.metrics["rate_per_s"] = events * rounds / drain_s

    scd2_path = rec.inc.scd2_path
    hot_key = loadgen.EnvelopeStream(seed, BACKFILL_KEYS).rank_to_key[0]
    at_ms = _as_of(events)
    out.metrics["scd2_read_p50_s"] = stats.median(
        timed_reads(spark, scd2_path, hot_key, at_ms, out))
    record_memory(spark, out)
    ws.phase("read")
    check_table(spark, out, scd2_path, landing, [e for f in files for e in f])
    ws.phase("checked")

    if tracer.enabled:
        out.layers.update(stream_layers(
            tracer, timed_batches, progress, _log_rows(progress), len(names)))
        out.layers["trace.overhead_ratio"] = drain_s / (drain_s - overhead)
    return setup_end
