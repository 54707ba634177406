"""Pure statistics and log parsing for the benchmark.

Nothing here touches Spark: every function takes plain numbers or file
contents, so the unit tests in ``perfbench/tests`` pin them directly.
"""

from __future__ import annotations

import json
import math
import os
import statistics

# The tail is the highest percentile that still has this many samples
# beyond it (choosing-metrics guide: a tail needs at least ten samples
# past it to mean anything).
TAIL_SAMPLES_BEYOND = 10


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


def tail(values: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least
    ``TAIL_SAMPLES_BEYOND`` samples strictly beyond it.

    With n sorted samples the answer is the sample at 0-based rank
    ``n - 11``: exactly ten samples follow it, so its percentile is
    ``100 * (n - 10) / n``. Fewer than eleven samples have no such
    percentile; the median stands in and the percentile reads 50.
    """
    n = len(values)
    if n <= TAIL_SAMPLES_BEYOND:
        return median(values), 50.0
    ordered = sorted(values)
    return (
        float(ordered[n - TAIL_SAMPLES_BEYOND - 1]),
        100.0 * (n - TAIL_SAMPLES_BEYOND) / n,
    )


def slope(xs: list[float], ys: list[float]) -> float:
    """Least-squares slope of ys against xs (0 when xs do not vary)."""
    if len(xs) < 2:
        return 0.0
    mx, my = statistics.fmean(xs), statistics.fmean(ys)
    sxx = sum((x - mx) ** 2 for x in xs)
    if sxx == 0:
        return 0.0
    return sum((x - mx) * (y - my) for x, y in zip(xs, ys)) / sxx


def freshness(
    due: dict[str, float],
    batch_of_file: dict[str, int],
    visible_at: dict[int, float],
) -> dict[str, float]:
    """Seconds from when each file was due to when the batch holding it
    returned from ``process_batch``. Files never seen in a returned
    batch are absent from the result (the caller counts them as
    failed)."""
    out = {}
    for name, t_due in due.items():
        b = batch_of_file.get(name)
        if b is not None and b in visible_at:
            out[name] = visible_at[b] - t_due
    return out


def steady_rate(
    events_of_file: dict[str, int],
    batch_of_file: dict[str, int],
    batch_times: dict[int, tuple[float, float]],
    load_end: float,
) -> float:
    """Visible events per second over the steady window.

    The window runs from the return of the first batch to hold a timed
    file to the return of the last batch that started while files were
    still landing (``load_end``); later batches only drain what is left.
    Its rate is the events the batches after the first made visible,
    over that time. While the engine keeps up, each batch takes in what
    landed while the one before it ran, so this reads the offered rate;
    when batches grow slower it reads lower. 0 when the window holds
    fewer than two batches. ``batch_times`` maps a batch to its
    (start, return) times.
    """
    seen = {f: batch_of_file[f] for f in events_of_file
            if batch_of_file.get(f) in batch_times}
    batches = sorted(b for b in set(seen.values())
                     if batch_times[b][0] <= load_end)
    if len(batches) < 2:
        return 0.0
    first, last = batches[0], batches[-1]
    events = sum(events_of_file[f] for f, b in seen.items()
                 if first < b <= last)
    return events / (batch_times[last][1] - batch_times[first][1])


def lateness(due: list[float], landed: list[float]) -> list[float]:
    """How late the generator landed each file against its schedule."""
    return [max(0.0, t_land - t_due) for t_due, t_land in zip(due, landed)]


def pending_max(
    landed_at: dict[str, float],
    batch_of_file: dict[str, int],
    visible_at: dict[int, float],
) -> int:
    """Largest number of files landed but not yet visible, sampled at
    each batch return: the read lag of the open loop."""
    worst = 0
    for b, t in visible_at.items():
        waiting = sum(
            1
            for name, t_land in landed_at.items()
            if t_land <= t and batch_of_file.get(name, math.inf) > b
        )
        worst = max(worst, waiting)
    return worst


def _log_entries(path: str) -> list[str]:
    with open(path) as f:
        lines = f.read().splitlines()
    # The first line is the log format version ("v1").
    return [ln for ln in lines[1:] if ln.strip()]


def _numbered(log_dir: str) -> dict[int, str]:
    """Batch number -> file of a Spark metadata log directory. A
    compacted file (``19.compact``) holds every entry up to its number."""
    files = {}
    for name in os.listdir(log_dir):
        stem = name.removesuffix(".compact")
        if stem.isdigit():
            files[int(stem)] = os.path.join(log_dir, name)
    return files


def files_by_batch(checkpoint: str, source: int = 0) -> dict[str, int]:
    """Map each input file's base name to the micro-batch that read it.

    Read from the checkpoint alone, so no Spark action is spent: the
    offset log (``offsets/<batch>``) ends with the file source's own
    ``logOffset`` for that batch, and the source's metadata log
    (``sources/<n>/<logOffset>``, compacted every few entries into
    ``<k>.compact``) lists the files added at each log offset.
    """
    log_offset_to_batch = {}
    for batch, path in _numbered(os.path.join(checkpoint, "offsets")).items():
        last = _log_entries(path)[-1]
        log_offset_to_batch[json.loads(last)["logOffset"]] = batch
    out = {}
    source_dir = os.path.join(checkpoint, "sources", str(source))
    for path in _numbered(source_dir).values():
        for line in _log_entries(path):
            entry = json.loads(line)
            batch = log_offset_to_batch.get(entry["batchId"])
            if batch is not None:
                out[os.path.basename(entry["path"])] = batch
    return out
