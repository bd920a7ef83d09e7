"""Session, memory and timing helpers shared by the workloads.

Everything the benchmark writes lives under ``<checkout>/.bench_work``:
Spark's local dirs, the JVM and Python temp dirs, event logs, index
directories and the per-seed input cache.
"""

from __future__ import annotations

import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

#: local[4]: one closed-loop client, no more task threads than cores
CORES = 4
#: driver heap; local mode runs the executors inside the driver JVM.
#: Small enough that every run grows the heap to its cap, so resident
#: memory does not depend on when the collector chose to grow it.
DRIVER_MEM = "1g"
#: session restarts per run; with the first session they give the
#: samples setup_s is the median of
SETUP_RESTARTS = 2


class WorkDir:
    """The run's private directories under ``<root>/.bench_work``."""

    def __init__(self, root: str):
        self.base = os.path.join(root, ".bench_work")
        self.run = os.path.join(self.base, f"run-{os.getpid()}")
        self.tmp = os.path.join(self.run, "tmp")
        self.local = os.path.join(self.run, "spark-local")
        self.eventlog = os.path.join(self.run, "eventlog")
        for d in (self.tmp, self.local, self.eventlog):
            os.makedirs(d, exist_ok=True)

    def path(self, *parts: str) -> str:
        return os.path.join(self.run, *parts)

    def inputs(self, key: str) -> str:
        return os.path.join(self.base, "inputs", key)

    def cleanup(self) -> None:
        shutil.rmtree(self.run, ignore_errors=True)


class Sessions:
    """Starts, restarts and stops the one SparkSession of a run.

    The JVM outlives ``spark.stop()``: a restart builds a new
    SparkContext (and new Python workers) in the same JVM, which is
    what a set-up repetition measures."""

    def __init__(self, work: WorkDir):
        self.work = work
        self.spark = None
        # stopped sessions stay referenced: mwmbl_spark.shipping keys
        # its ship-once memo on id(session), which a collected session
        # could hand to its successor
        self._old: list = []

    def _conf(self, event_log: bool) -> dict:
        conf = {
            "spark.driver.memory": DRIVER_MEM,
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": self.work.local,
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work.tmp}",
        }
        if event_log:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.work.eventlog,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            })
        return conf

    def start(self, event_log: bool = False):
        from mwmbl_spark import get_spark

        self.spark = get_spark(
            "mwmbl_spark-perfbench", cores=CORES, extra_conf=self._conf(event_log)
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def warm_up(self) -> None:
        """One JVM job and one Python-worker job: codegen plus worker
        spawn, the fixed cost every first query of a session pays."""
        spark = self.spark
        spark.range(1000).selectExpr("sum(id)").collect()
        spark.range(16, numPartitions=CORES).mapInPandas(
            lambda it: it, "id long"
        ).count()

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self._old.append(self.spark)
            self.spark = None

    def close(self, timeout: float = 60.0) -> None:
        """Stop the session, end the JVM and wait until it and every
        Python worker it started have exited."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        left = descendants(os.getpid())
        gateway.shutdown()
        # the JVM exits when its stdin closes; its workers follow it
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=timeout)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + timeout
        while left and time.monotonic() < deadline:
            left = [p for p in left if _running(p)]
            time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and has not exited (a zombie has)."""
    try:
        with open(f"/proc/{pid}/stat") as fh:
            return fh.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def timed_setup(sessions: Sessions) -> float:
    """(Re)start the session and warm it up; stopping the previous
    session is not counted."""
    sessions.stop()
    t0 = time.perf_counter()
    sessions.start()
    sessions.warm_up()
    return time.perf_counter() - t0


def descendants(pid: int) -> list[int]:
    """Every live process below ``pid``, read from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # field 4 (ppid) follows the parenthesised command name
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


class MemSampler:
    """Peak memory of every process this one started (the driver JVM
    and its Python workers), sampled from /proc. Each process counts
    its proportional set size, so pages that forked Python workers
    share are counted once."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @staticmethod
    def sample() -> int:
        total = 0
        for pid in descendants(os.getpid()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as fh:
                    for line in fh:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:
                continue
        return total

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, self.sample())
            self._stop.wait(self.interval)


@dataclass
class Ops:
    """Operations attempted and failed; a failure is an exception or an
    answer that disagrees with its reference."""

    attempted: int = 0
    failed: int = 0
    errors: list[str] = field(default_factory=list)

    def record(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.errors.append(what)
        return ok

    def run(self, what: str, fn, check=None):
        """Call ``fn``; count it failed if it raises or ``check(result)``
        returns a false value. Returns (result or None, seconds)."""
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is a result
            self.record(False, f"{what}: {type(exc).__name__}: {exc}")
            return None, time.perf_counter() - t0
        dt = time.perf_counter() - t0
        if check is not None:
            try:
                ok = bool(check(out))
            except Exception as exc:  # noqa: BLE001
                self.record(False, f"{what} check: {type(exc).__name__}: {exc}")
                return out, dt
            self.record(ok, f"{what}: wrong answer")
        else:
            self.record(True, what)
        return out, dt


def median(xs: list[float]) -> float:
    return statistics.median(xs)


def tail(xs: list[float], beyond: int = 10) -> tuple[float, float, int] | None:
    """(value, percentile, n): the highest sample with at least
    ``beyond`` samples above it; None when there are too few samples."""
    if len(xs) <= beyond:
        return None
    s = sorted(xs)
    i = len(s) - beyond - 1
    return s[i], 100.0 * (i + 1) / len(s), len(s)


def dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total
