"""Unit tests of the benchmark's pure parts: no Spark session needed.

    python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import gzip
import json
import os
import sys
from collections import Counter

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import loadgen  # noqa: E402
import stats  # noqa: E402
from spans import Tracer  # noqa: E402

SPEC = loadgen.TrickleSpec(
    seed=7, history_keys=300, history_files=2, events_per_file=40,
    warmup_files=2, lead_in_files=2, timed_files=5, interval_s=0.0,
    late_files=2,
)


def _bytes(spec: loadgen.TrickleSpec) -> list[bytes]:
    sched = loadgen.trickle_schedule(spec)
    return [loadgen.encode(f) for phase in sched.values() for f in phase]


def test_same_seed_gives_byte_identical_files():
    assert _bytes(SPEC) == _bytes(SPEC)
    backlog = [loadgen.encode(f)
               for f in loadgen.backfill_schedule(3, 200, 300, 4)]
    again = [loadgen.encode(f)
             for f in loadgen.backfill_schedule(3, 200, 300, 4)]
    assert backlog == again


def test_other_seed_gives_other_files():
    other = loadgen.TrickleSpec(**{**SPEC.__dict__, "seed": 8})
    assert _bytes(SPEC) != _bytes(other)


def test_files_are_gzip_ndjson_envelopes():
    sched = loadgen.trickle_schedule(SPEC)
    lines = gzip.decompress(loadgen.encode(sched["timed"][0])).splitlines()
    payload = json.loads(lines[0])["payload"]
    assert set(payload) == {"before", "after", "op", "ts_ms", "source"}
    assert len(lines) == len(sched["timed"][0])


def test_schedule_has_late_deletes_and_reinserts():
    spec = loadgen.TrickleSpec(**{**SPEC.__dict__, "timed_files": 40})
    timed = loadgen.trickle_schedule(spec)["timed"]
    ops = [e["payload"]["op"] for f in timed for e in f]
    assert {"u", "d", "c"} <= set(ops)
    # A late event lands after a file holding a newer lsn.
    newest, late = 0, 0
    for f in timed:
        lsns = [e["payload"]["source"]["lsn"] for e in f]
        late += sum(1 for x in lsns if x < newest)
        newest = max(newest, *lsns)
    assert late > 0
    # Every key a change touches already exists.
    touched = {(e["payload"]["after"] or e["payload"]["before"])["id"]
               for f in timed for e in f}
    assert touched <= set(range(spec.history_keys))


def test_history_follows_the_reference_loop_shares():
    # Per key: one create, an update with P = 0.11 (randint >= 90) and a
    # delete with P = 0.06 (randint >= 95), as the reference generator.
    keys = 20_000
    ops = Counter(e["payload"]["op"]
                  for e in loadgen.EnvelopeStream(5, keys).history())
    assert ops["c"] == keys
    assert ops["u"] / keys == pytest.approx(0.11, abs=0.01)
    assert ops["d"] / keys == pytest.approx(0.06, abs=0.01)


def test_expected_current_orders_by_lsn_not_arrival():
    s = loadgen.EnvelopeStream(seed=1, keys=1)
    create = s.write(0)
    delete = s.delete(0)
    reinsert = s.write(0)
    update = s._env(reinsert["payload"]["after"],
                    dict(reinsert["payload"]["after"], name="z z"), "u")
    # The update arrives first; the older events arrive late.
    got = loadgen.expected_current([update, reinsert, delete, create])
    after = update["payload"]["after"]
    assert got == {0: ("UPDATE", "z z", after["description"], after["price"])}
    tomb = loadgen.expected_current([create, delete])
    assert tomb == {0: ("DELETE", None, None, None)}


def test_tail_keeps_ten_samples_beyond():
    values = [float(i) for i in range(1, 101)]
    value, pct = stats.tail(values)
    assert value == 90.0 and pct == 90.0
    assert sum(1 for v in values if v > value) == 10
    value, pct = stats.tail(list(range(11)))
    assert value == 0 and pct == pytest.approx(100 / 11)
    # Too few samples for any such percentile: the median stands in.
    assert stats.tail([3.0, 1.0, 2.0]) == (2.0, 50.0)


def test_steady_rate_counts_batches_after_the_first():
    events = {"a": 10, "b": 10, "c": 10, "d": 10, "e": 10}
    batch_of = {"a": 1, "b": 2, "c": 2, "d": 3, "e": 4}
    times = {1: (4.0, 5.0), 2: (5.0, 6.0), 3: (6.0, 9.0), 4: (9.5, 11.0)}
    # Landing ended at 9: batch 4 only drains. Batches 2 and 3 made 30
    # events visible in the 4 s after batch 1 returned.
    assert stats.steady_rate(events, batch_of, times, 9.0) == pytest.approx(
        7.5)
    assert stats.steady_rate(events, batch_of, times, 10.0) == pytest.approx(
        40 / 6)
    # One batch has no window.
    assert stats.steady_rate({"a": 10}, batch_of, times, 9.0) == 0.0


def test_freshness_and_lateness_from_synthetic_timestamps():
    due = {"a": 10.0, "b": 10.5, "c": 11.0}
    batch_of = {"a": 3, "b": 4, "c": 4}
    visible = {3: 12.0, 4: 14.0}
    assert stats.freshness(due, batch_of, visible) == {
        "a": 2.0, "b": 3.5, "c": 3.0}
    # A file whose batch never returned has no freshness.
    assert "d" not in stats.freshness({**due, "d": 12.0}, batch_of, visible)
    assert stats.lateness([10.0, 10.5], [10.02, 10.4]) == pytest.approx(
        [0.02, 0.0])
    # At batch 3's return b and c have landed but wait for batch 4.
    landed = {"a": 10.0, "b": 10.6, "c": 11.0}
    assert stats.pending_max(landed, batch_of, visible) == 2


def _write_log(path: str, entries: list[dict]) -> None:
    with open(path, "w") as f:
        f.write("v1\n")
        for e in entries:
            f.write(json.dumps(e) + "\n")


def test_files_by_batch_reads_the_checkpoint_logs(tmp_path):
    offsets = tmp_path / "offsets"
    source = tmp_path / "sources" / "0"
    offsets.mkdir()
    source.mkdir(parents=True)
    meta = {"batchWatermarkMs": 0, "batchTimestampMs": 1}
    for batch, log_offset in [(0, 0), (1, 1), (2, 2)]:
        _write_log(str(offsets / str(batch)),
                   [meta, {"logOffset": log_offset}])

    def entry(name, log_offset):
        return {"path": f"file:///land/{name}", "timestamp": 5,
                "batchId": log_offset}

    _write_log(str(source / "0"), [entry("h0.json.gz", 0)])
    # A compacted log repeats every earlier entry.
    _write_log(str(source / "1.compact"),
               [entry("h0.json.gz", 0), entry("t0.json.gz", 1),
                entry("t1.json.gz", 1)])
    _write_log(str(source / "2"), [entry("t2.json.gz", 2)])
    assert stats.files_by_batch(str(tmp_path)) == {
        "h0.json.gz": 0, "t0.json.gz": 1, "t1.json.gz": 1, "t2.json.gz": 2}


def test_self_time_subtracts_child_spans():
    tr = Tracer("r", enabled=True)
    with tr.span("batch") as parent:
        with tr.span("apply", parent):
            pass
    parent.start, parent.end = 0.0, 10.0
    child = tr.children(parent)[0]
    child.start, child.end = 2.0, 6.0
    assert tr.self_seconds(parent) == pytest.approx(6.0)
    assert child.run_id == "r" and child.parent == parent.span_id


def test_open_loop_lands_the_seeded_timed_files(tmp_path):
    manifest = tmp_path / "manifest.json"
    landing = tmp_path / "land"
    landing.mkdir()
    rc = loadgen.main([
        "--spec", loadgen.spec_arg(SPEC), "--landing", str(landing),
        "--manifest", str(manifest), "--start", "0",
    ])
    assert rc == 0
    record = json.loads(manifest.read_text())
    sched = loadgen.trickle_schedule(SPEC)
    files = [(loadgen.file_name(phase, i), envs)
             for phase in ("lead", "timed")
             for i, envs in enumerate(sched[phase])]
    assert [r["file"] for r in record] == [name for name, _ in files]
    for r, (_, envs) in zip(record, files):
        assert (landing / r["file"]).read_bytes() == loadgen.encode(envs)
    # No partial file is ever left visible to the file source.
    assert not [n for n in os.listdir(landing) if n.startswith(".")]


def test_metric_names_match_benchmark_json():
    import run

    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert ({m["name"]: m["unit"] for m in bench["per_layer"]}
            == run.per_layer_units())
