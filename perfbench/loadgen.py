"""Seeded CDC load generator: envelope events, gzip NDJSON files, and
the open-loop landing process.

Everything the engine reads comes from here and from nothing else: the
benchmark derives every file from ``--seed``, lands it, and the engine
sees only the landed files. The same seed gives byte-identical files
(``gzip`` with a zero mtime and sorted JSON keys).

The event model is the reference generator's loop body
(``cdc/generator.py``, after ``generator/data-generator.py:44-70``)
applied to the product table: write a key's row, then update it at once
with P = 0.11 (``randint(1, 100) >= 90``) and delete it at once with
P = 0.06 (``randint(1, 100) >= 95``). The history runs that loop once
per fresh key, as the reference does. After it, the loop runs on keys
that already exist, so a write is an update of a live key or the
re-insert of a deleted one. Two choices have no measured source and
are assumptions until captured traffic is in the repo:

- the key of each change is Zipf-drawn (exponent ``ZIPF_S``), so a few
  keys carry most of the changes and deleted hot keys come back soon;
- a share ``LATE_SHARE`` of events lands late, a fixed number of files
  after events with a newer lsn.

Run as a script it is the open-loop generator: it re-derives the
schedule from the seed and lands one file per interval (a lead-in that
brings the stream to its steady batch size, then the timed files),
then writes a manifest of due and landed times.
"""

from __future__ import annotations

import argparse
import bisect
import gzip
import json
import os
import random
import sys
import time
from collections import deque
from dataclasses import asdict, dataclass

BASE_TS_MS = 1_700_000_000_000
_WORDS = (
    "alpha bravo charlie delta echo foxtrot golf hotel india juliett "
    "kilo lima mike november oscar papa quebec romeo sierra tango"
).split()
# The generator's own copy of the op labels: this module stays free of
# Spark, and its model is the reference the engine's output is checked
# against.
OP_LABELS = {"c": "CREATE", "u": "UPDATE", "d": "DELETE", "r": "SNAPSHOT"}
# The reference generator's branches: ``randint(1, 100) >= UPDATE_AT``
# updates the row just written, ``>= DELETE_AT`` deletes it.
UPDATE_AT = 90
DELETE_AT = 95
# Unmeasured assumptions (see the module docstring).
ZIPF_S = 1.1
LATE_SHARE = 0.02


class EnvelopeStream:
    """One key space's change stream, in lsn order.

    ``lsn`` rises by 1000 per event and ``ts_ms`` by 10 ms, so the
    source timestamp order matches the log order.
    """

    def __init__(self, seed: int, keys: int) -> None:
        self.rng = random.Random(seed)
        self.keys = keys
        self.lsn = 0
        self.ts_ms = BASE_TS_MS
        self.rows: dict[int, dict] = {}  # live keys -> current row image
        self.pending: deque[dict] = deque()  # the rest of the last loop
        # Zipf rank -> key through a seeded permutation, so the hot keys
        # spread over the engine's hash buckets instead of clustering.
        self.rank_to_key = list(range(keys))
        self.rng.shuffle(self.rank_to_key)
        total, cdf = 0.0, []
        for rank in range(1, keys + 1):
            total += rank ** -ZIPF_S
            cdf.append(total)
        self.cdf = cdf

    def _row(self, key: int) -> dict:
        rng = self.rng
        return {
            "id": key,
            "name": f"{rng.choice(_WORDS)} {rng.choice(_WORDS)}",
            "description": " ".join(rng.choice(_WORDS) for _ in range(4)),
            "price": float(rng.randint(100, 99999)) / 100,
        }

    def _env(self, before, after, op: str) -> dict:
        self.lsn += 1000
        self.ts_ms += 10
        return {
            "payload": {
                "before": before,
                "after": after,
                "op": op,
                "ts_ms": self.ts_ms,
                "source": {"lsn": self.lsn},
            }
        }

    def write(self, key: int) -> dict:
        """Create the key's row, or update it when the key is live."""
        before, after = self.rows.get(key), self._row(key)
        self.rows[key] = after
        return self._env(before, after, "u" if before else "c")

    def delete(self, key: int) -> dict:
        return self._env(self.rows.pop(key), None, "d")

    def loop(self, key: int) -> list[dict]:
        """The reference generator's loop body for one key."""
        events = [self.write(key)]
        if self.rng.randint(1, 100) >= UPDATE_AT:
            events.append(self.write(key))
        if self.rng.randint(1, 100) >= DELETE_AT:
            events.append(self.delete(key))
        return events

    def history(self) -> list[dict]:
        """The loop once per fresh key, as the reference runs it."""
        return [e for key in range(self.keys) for e in self.loop(key)]

    def _zipf_key(self) -> int:
        i = bisect.bisect_left(self.cdf, self.rng.random() * self.cdf[-1])
        return self.rank_to_key[min(i, self.keys - 1)]

    def changes(self, n: int) -> list[dict]:
        """The next ``n`` events of the loop on Zipf-drawn existing keys;
        a loop cut at the end carries over to the next call."""
        while len(self.pending) < n:
            self.pending.extend(self.loop(self._zipf_key()))
        return [self.pending.popleft() for _ in range(n)]

    def spread(self, events: list[dict], n_files: int,
               late_files: int) -> list[list[dict]]:
        """Split events in lsn order into ``n_files`` files; a late event
        moves ``late_files`` files on (never past the last file)."""
        files: list[list[dict]] = [[] for _ in range(n_files)]
        per_file = -(-len(events) // n_files)
        for i, env in enumerate(events):
            f = i // per_file
            if self.rng.random() < LATE_SHARE:
                f = min(f + late_files, n_files - 1)
            files[f].append(env)
        return files


@dataclass(frozen=True)
class TrickleSpec:
    """Everything that fixes the ``cdc_trickle`` inputs."""

    seed: int
    history_keys: int
    history_files: int
    events_per_file: int
    warmup_files: int
    lead_in_files: int  # open-loop files landed before the timed ones
    timed_files: int
    interval_s: float
    late_files: int  # how many files a late event lands after its place


def trickle_schedule(spec: TrickleSpec) -> dict[str, list[list[dict]]]:
    """History, warm-up, lead-in and timed files, in landing order per
    phase.

    The history is the reference loop over every key; warm-up and timed
    files continue the loop on existing keys. A late history or backlog
    event lands two files on. Late events never cross a phase boundary,
    so each phase lands complete.
    """
    s = EnvelopeStream(spec.seed, spec.history_keys)
    history = s.history()
    files = spec.events_per_file
    return {
        "history": s.spread(history, spec.history_files, 2),
        "warmup": s.spread(s.changes(spec.warmup_files * files),
                           spec.warmup_files, spec.late_files),
        "lead": s.spread(s.changes(spec.lead_in_files * files),
                         spec.lead_in_files, spec.late_files),
        "timed": s.spread(s.changes(spec.timed_files * files),
                          spec.timed_files, spec.late_files),
    }


def backfill_schedule(
    seed: int, keys: int, changes: int, n_files: int
) -> list[list[dict]]:
    """A backlog on a fresh key space: the reference loop creates every
    key, then updates, deletes and re-inserts follow."""
    s = EnvelopeStream(seed, keys)
    return s.spread(s.history() + s.changes(changes), n_files, 2)


def file_name(phase: str, i: int) -> str:
    return f"{phase}-{i:06d}.json.gz"


def encode(envelopes: list[dict]) -> bytes:
    """Gzip NDJSON with a zero mtime: equal events give equal bytes."""
    text = "".join(
        json.dumps(e, sort_keys=True, separators=(",", ":")) + "\n"
        for e in envelopes
    )
    return gzip.compress(text.encode(), compresslevel=6, mtime=0)


def land(directory: str, name: str, data: bytes) -> None:
    """Write then rename, so the file source never lists a partial file
    (it skips names that start with a dot)."""
    tmp = os.path.join(directory, f".{name}.tmp")
    with open(tmp, "wb") as f:
        f.write(data)
    os.replace(tmp, os.path.join(directory, name))


def land_all(directory: str, files: dict[str, bytes]) -> None:
    """Land several files as close to at once as the file system allows:
    write every one under its hidden name first, then rename them back
    to back, so one listing of the directory almost always sees all or
    none of them."""
    for name, data in files.items():
        with open(os.path.join(directory, f".{name}.tmp"), "wb") as f:
            f.write(data)
    for name in files:
        os.replace(os.path.join(directory, f".{name}.tmp"),
                   os.path.join(directory, name))


def expected_current(envelopes: list[dict]) -> dict[int, tuple]:
    """The current image per key after every landed event is applied in
    lsn order: (operation label, name, description, price); a deleted
    key keeps its tombstone with empty attributes."""
    latest: dict[int, dict] = {}
    for env in envelopes:
        p = env["payload"]
        row = p["after"] or p["before"]
        key = row["id"]
        if key not in latest or p["source"]["lsn"] > latest[key]["source"]["lsn"]:
            latest[key] = p
    out = {}
    for key, p in latest.items():
        after = p["after"] or {}
        out[key] = (
            OP_LABELS[p["op"]],
            after.get("name"),
            after.get("description"),
            after.get("price"),
        )
    return out


def open_loop_files(spec: TrickleSpec) -> list[tuple[str, list[dict]]]:
    """(name, events) of every file the open loop lands, in order: the
    lead-in files, then the timed ones."""
    sched = trickle_schedule(spec)
    return [(file_name(phase, i), envs)
            for phase in ("lead", "timed")
            for i, envs in enumerate(sched[phase])]


def run_open_loop(spec: TrickleSpec, landing: str, start: float) -> list[dict]:
    """Land the lead-in and timed files, the i-th due at
    ``start + i * interval``.

    Single-threaded and open loop: the schedule never waits for the
    engine, so a slow engine shows as freshness, not as a lower rate.
    """
    files = [(name, encode(envs)) for name, envs in open_loop_files(spec)]
    record = []
    for i, (name, data) in enumerate(files):
        due = start + i * spec.interval_s
        delay = due - time.time()
        if delay > 0:
            time.sleep(delay)
        land(landing, name, data)
        record.append({"file": name, "due": due, "landed": time.time()})
    return record


def spec_arg(spec: TrickleSpec) -> str:
    return json.dumps(asdict(spec), sort_keys=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--spec", required=True, help="TrickleSpec as JSON")
    ap.add_argument("--landing", required=True)
    ap.add_argument("--manifest", required=True)
    ap.add_argument("--start", type=float, required=True, help="epoch s")
    args = ap.parse_args(argv)
    spec = TrickleSpec(**json.loads(args.spec))
    record = run_open_loop(spec, args.landing, args.start)
    tmp = args.manifest + ".tmp"
    with open(tmp, "w") as f:
        json.dump(record, f)
    os.replace(tmp, args.manifest)
    return 0


if __name__ == "__main__":
    sys.exit(main())
