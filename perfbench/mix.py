"""The ``analytics_mix`` workload: one closed-loop client running a fixed
ordered list of registered queries (``registry.all_queries``) through
the ``noop`` sink, releasing the engine's cache pins after each.

It skips the streaming layers entirely, so fixed per-job latency and
plan time set its median. Each query is checked once per run against
its DuckDB oracle twin with ``tools/check_correctness.compare``.
"""

from __future__ import annotations

import time

import duckdb

from change_data_capture_poc_spark.functions.caching import release_pins
from change_data_capture_poc_spark.registry import all_queries
from change_data_capture_poc_spark.sources.tables import TABLES
from tools.check_correctness import compare

import mixdata
import stats
from harness import Outcome, Workspace, record_memory
from spans import Tracer, spark_layers

# Oracle-backed queries: CDC/SCD2 reads, relational and SQL shapes.
MIX = [
    "scd2_user_state",
    "cdc_json_extract",
    "pricing_summary",
    "sql_shipping_priority",
    "cdc_net_effect_compaction",
    "scd2_point_in_time_lookup",
    "scd2_history_compaction",
]
# The mix's reads of SCD2 state: current state, point in time, history.
SCD2_READS = {
    "scd2_user_state", "scd2_point_in_time_lookup", "scd2_history_compaction",
}
# Warm-up: the correctness pass, then noop passes until two consecutive
# ones agree within SETTLE (at most WARMUP_PASSES). Pass times fall for
# about ten passes while the JIT compiles the planner and codegen paths,
# steeply over the first three; more would not fit the run budget.
WARMUP_PASSES = 3
SETTLE = 0.05
# Timed: whole passes until the run time is used, and at least
# MIN_PASSES, so the tail always has at least ten samples beyond it
# (5 passes of 7 queries take about 15 s on a 4-core box).
MIN_PASSES = 5
PLAN_PHASES = ("analysis", "optimization", "planning")


def plan_ms(df) -> float:
    """Analysis + optimization + physical planning of ``df``, from its
    QueryExecution's phase tracker (forcing the physical plan)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    return float(sum(
        phases.apply(p).durationMs() for p in PLAN_PHASES
        if phases.contains(p)
    ))


def run_query(spark, query, data: str, tracer: Tracer, parent) -> float:
    """Build, execute through the noop sink, release pins; seconds."""
    t0 = time.perf_counter()
    with tracer.span("query", parent, counted=True) as span:
        with tracer.span("query.build", span):
            df = query.fn(spark, data)
        if span is not None:
            span.counts["query"] = query.name
            p0 = time.perf_counter()
            with tracer.span("query.plan", span) as plan:
                plan.counts["plan_ms"] = plan_ms(df)
            tracer.overhead_s += time.perf_counter() - p0
        with tracer.span("query.execute", span):
            df.write.format("noop").mode("overwrite").save()
        release_pins(spark)
    return time.perf_counter() - t0


def check_query(spark, query, data: str, con) -> str | None:
    """None when the Spark rows match the oracle's, else the mismatch."""
    df = query.fn(spark, data)
    cols = [c.lower() for c in df.columns]
    rows = [tuple(r) for r in df.collect()]
    release_pins(spark)
    res = con.execute(query.oracle)
    duck_cols = [c[0].lower() for c in res.description]
    duck_rows = res.fetchall()
    if sorted(cols) != sorted(duck_cols):
        return f"columns {cols} vs {duck_cols}"
    ix = [duck_cols.index(c) for c in cols]
    msg = compare(rows, [tuple(r[i] for i in ix) for r in duck_rows])
    return None if msg is None or msg.startswith("WARN") else msg


def analytics_mix(spark, ws: Workspace, seed: int, seconds: int,
                  tracer: Tracer, out: Outcome) -> float:
    data = ws.dir("data")
    mixdata.write(data, seed)
    ws.phase("data written")
    registry = all_queries()
    queries = [registry[n] for n in MIX]
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")

        with tracer.span("workload.analytics_mix") as root:
            # The first warm-up pass is the correctness pass: each query
            # once against its oracle, outside the timed region.
            for q in queries:
                msg = check_query(spark, q, data, con)
                out.check(msg is None, f"{q.name}: {msg}")
            ws.phase("checked")
            passes = []
            while len(passes) < WARMUP_PASSES and not (
                len(passes) >= 2
                and abs(passes[-1] - passes[-2]) <= SETTLE * passes[-2]
            ):
                passes.append(sum(
                    run_query(spark, q, data, tracer, root) for q in queries))
            ws.phase("warm-up passes " + " ".join(f"{p:.2f}" for p in passes))
            setup_end = time.time()
            ws.phase("warm")

            timed: list[tuple[str, float]] = []
            overhead0 = tracer.overhead_s
            t0 = time.perf_counter()
            while (time.perf_counter() - t0 < seconds
                   or len(timed) < MIN_PASSES * len(queries)):
                for q in queries:
                    timed.append(
                        (q.name, run_query(spark, q, data, tracer, root)))
                    out.check(True, q.name)
            wall = time.perf_counter() - t0
            n = len(queries)
            ws.phase("timed passes " + " ".join(
                f"{sum(s for _, s in timed[i:i + n]):.2f}"
                for i in range(0, len(timed), n)))
    finally:
        con.close()

    secs = [s for _, s in timed]
    out.metrics["latency_p50_s"] = stats.median(secs)
    out.metrics["latency_tail_s"], pct = stats.tail(secs)
    out.tail = f"p{pct:.3f} of {len(secs)} queries ({len(secs) // n} passes)"
    out.metrics["rate_per_s"] = len(secs) / wall
    out.metrics["scd2_read_p50_s"] = stats.median(
        [s for n, s in timed if n in SCD2_READS])
    record_memory(spark, out)

    if tracer.enabled:
        spans = [s for s in tracer.named("query") if s.start >= setup_end]
        out.layers.update(query_layers(tracer, spans))
        # Forced plans and counter reads in the timed passes.
        overhead = tracer.overhead_s - overhead0
        out.layers["trace.overhead_ratio"] = wall / (wall - overhead)
    return setup_end


def query_layers(tracer: Tracer, spans) -> dict[str, float]:
    def child_ms(name):
        return [1000 * c.seconds for s in spans for c in tracer.children(s)
                if c.name == name]

    out = {
        "queries.build_ms": stats.median(child_ms("query.build")),
        "queries.plan_ms": stats.median([
            c.counts["plan_ms"] for s in spans for c in tracer.children(s)
            if c.name == "query.plan"]),
        "queries.execute_ms": stats.median(child_ms("query.execute")),
    }
    for name in MIX:
        out[f"queries.{name}_s"] = stats.median(
            [s.seconds for s in spans if s.counts["query"] == name])
    out.update(spark_layers(spans, max(len(spans), 1)))
    wall = sum(s.seconds for s in spans)
    covered = wall - sum(tracer.self_seconds(s) for s in spans)
    out["trace.accounted_ratio"] = covered / wall if wall else 0.0
    return out
