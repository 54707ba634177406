"""Run-scoped resources: the work directory, the Spark session, process
clean-up, memory high-water marks and the environment record.

Every run owns one directory under ``.perfbench/`` in the checkout and
points every scratch path Spark and the engine use into it: the JVM's
temp dir, Spark's local dirs, the warehouse, checkpoints and the
engine's ``SPARK_GRAFT_TMP_NS`` artifact namespace. Closing the run
deletes that directory and nothing else.
"""

from __future__ import annotations

import hashlib
import os
import platform
import secrets
import shutil
import signal
import subprocess
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
WORK_BASE = ROOT / ".perfbench"
ENGINE = ROOT / "change_data_capture_poc_spark"
# local[2] on every box, so runs compare across machines. Two task
# threads leave the rest of a 4-core box to the JVM's own threads (GC,
# JIT), the driver's Python and the load generator: at local[4] those
# queued behind the tasks, and a trickle batch took 2.9-4.6 s instead
# of 2.3-2.7 s.
CORES = 2


@dataclass
class Outcome:
    """What one workload reports: end-to-end metrics, per-layer metrics
    (filled only when traced) and the operation counts."""

    metrics: dict[str, float] = field(default_factory=dict)
    layers: dict[str, float] = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list[str] = field(default_factory=list)
    notes: list[str] = field(default_factory=list)  # printed as is
    tail: str = ""  # how the tail value was taken, printed beside it

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation; a failed one is recorded."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.problems.append(what)


class Workspace:
    """A fresh directory for one run, removed by ``close()``."""

    def __init__(self) -> None:
        self.t0 = time.time()
        _remove_abandoned()
        self.nonce = f"{os.getpid()}-{secrets.token_hex(4)}"
        self.path = WORK_BASE / f"run-{self.nonce}"
        self.tmp = self.path / "tmp"
        self.tmp.mkdir(parents=True)
        os.environ["SPARK_GRAFT_TMP_NS"] = f"perfbench-{self.nonce}"
        os.environ["TMPDIR"] = str(self.tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(self.path / "local")
        os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
        # Python workers unpickle engine functions by module path.
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (str(ROOT), os.environ.get("PYTHONPATH")) if p)

    def phase(self, name: str) -> None:
        """Log a phase start to standard error, in seconds since the run
        began, so a slow run shows where its time went."""
        print(f"phase {name} at {time.time() - self.t0:.1f}s",
              file=sys.stderr, flush=True)

    def dir(self, *parts: str) -> str:
        p = self.path.joinpath(*parts)
        p.mkdir(parents=True, exist_ok=True)
        return str(p)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            WORK_BASE.rmdir()  # only when no other run is using it
        except OSError:
            pass


def _remove_abandoned() -> None:
    """Delete run directories whose process no longer exists: what a
    killed run could not clean up itself."""
    if not WORK_BASE.is_dir():
        return
    for d in WORK_BASE.glob("run-*-*"):
        pid = d.name.split("-")[1]
        if pid.isdigit() and not _alive(int(pid)):
            shutil.rmtree(d, ignore_errors=True)


def start_spark(ws: Workspace):
    from change_data_capture_poc_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        master=f"local[{CORES}]",
        shuffle_partitions=CORES,
        driver_memory="2g",
        extra_conf={
            # A fixed, pre-touched heap: left to the collector, the heap's
            # resident size follows its resizing decisions, which follow
            # GC timing, and moved peak_rss_mb by about 15% between runs
            # on a 4-core box.
            # On-heap growth shows instead as GC time in the latency
            # metrics (or as an out-of-memory failure), and
            # memory.old_gen_peak_mb reports it. The collector gets as
            # many threads as Spark has task threads (see CORES).
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={ws.tmp} -XX:-UsePerfData "
                "-Xms2g -XX:+AlwaysPreTouch "
                f"-XX:ParallelGCThreads={CORES} -XX:ConcGCThreads=1",
            "spark.local.dir": ws.dir("local"),
            "spark.sql.warehouse.dir": ws.dir("warehouse"),
            "spark.sql.streaming.checkpointLocation": ws.dir("checkpoints"),
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while we looked
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for child in kids.get(todo.pop(), []):
            out.append(child)
            todo.append(child)
    return out


def _hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def peak_rss_mb() -> float:
    """Sum of the resident high-water marks of this process and every
    live descendant: the JVM and its Python workers."""
    me = os.getpid()
    return sum(_hwm_kb(p) for p in [me, *descendants(me)]) / 1024


def heap_mb(spark) -> tuple[float, float]:
    """(committed heap, old generation's peak use) of the JVM in MB, from
    its MemoryMXBean and MemoryPoolMXBeans. The old generation holds
    what outlives young collections, so its peak follows the data the
    engine keeps, not how large the collector lets the young space grow."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    old = sum(pool.getPeakUsage().getUsed()
              for pool in mf.getMemoryPoolMXBeans()
              if "Old Gen" in pool.getName() or "Tenured" in pool.getName())
    return committed / 2**20, old / 2**20


def record_memory(spark, out: Outcome) -> None:
    """``peak_rss_mb``; ``rss_outside_heap_mb``, the resident peak minus
    the committed heap, which off-heap, JVM-internal and Python growth
    move; and the old generation's peak use."""
    rss = peak_rss_mb()
    committed, old = heap_mb(spark)
    out.metrics["peak_rss_mb"] = rss
    out.metrics["rss_outside_heap_mb"] = rss - committed
    out.layers["memory.old_gen_peak_mb"] = old


def stop_spark(spark) -> None:
    """Stop the session, shut the JVM down and wait until it and every
    process it started have exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    left = descendants(os.getpid())
    try:
        spark.stop()
    finally:
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap(left)


def _reap(pids: list[int], timeout: float = 10.0) -> None:
    deadline = time.monotonic() + timeout
    for pid in pids:
        while os.path.exists(f"/proc/{pid}") and _alive(pid):
            if time.monotonic() > deadline:
                os.kill(pid, signal.SIGKILL)
                break
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def source_digest() -> str:
    """Content hash of the engine sources: identifies the code under
    test when the checkout is not a git repository."""
    h = hashlib.sha1()
    for p in sorted(ENGINE.rglob("*.py")):
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()[:12]


def git_commit() -> str | None:
    if not (ROOT / ".git").exists():
        return None  # an exported checkout: source_digest identifies it
    try:
        out = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
            text=True, timeout=10,
        )
    except (OSError, subprocess.TimeoutExpired):
        return None
    return out.stdout.strip() or None


def environment(spark, seed: int, load_start: tuple) -> dict:
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "spark_cores": CORES,
        "loadavg_start": [round(x, 2) for x in load_start],
        "loadavg_end": [round(x, 2) for x in os.getloadavg()],
        "spark": spark.version,
        "java": spark._jvm.System.getProperty("java.version"),
        "python": platform.python_version(),
        "seed": seed,
        "git_commit": git_commit(),
        "source_digest": source_digest(),
    }
