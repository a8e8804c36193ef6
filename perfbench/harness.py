"""Run-time plumbing shared by the workloads: the work directory, the
Spark session and its cold set-up, a process-tree RSS sampler,
percentiles and the final result line.
"""

from __future__ import annotations

import faulthandler
import json
import os
import shutil
import signal
import statistics
import threading
import time
from collections.abc import Callable

import numpy as np

# the end-to-end metrics every untraced run prints, with their units
E2E_UNITS = {"setup_s": "s", "ops_per_s": "1/s", "latency_p50_ms": "ms", "peak_rss_mb": "MB"}
# a hard ceiling below the 180 s a run may take: past it the run kills
# its process tree and exits nonzero without a result
WATCHDOG_S = 170.0
RSS_INTERVAL_S = 0.2


def percentile(values, q: float) -> float:
    """Linear-interpolated percentile ``q`` (0-100) of ``values``."""
    if len(values) == 0:
        return 0.0
    return float(np.percentile(np.asarray(values, dtype=float), q))


def median(values) -> float:
    return float(statistics.median(values)) if len(values) else 0.0


def weighted_percentile(values, weights, q: float) -> float:
    """Percentile of ``values`` where value i occurs ``weights[i]`` times
    (records of one batch share one commit time)."""
    v = np.asarray(values, dtype=float)
    w = np.asarray(weights, dtype=float)
    if v.size == 0 or w.sum() <= 0:
        return 0.0
    order = np.argsort(v)
    v, w = v[order], w[order]
    cum = np.cumsum(w)
    return float(v[np.searchsorted(cum, q / 100.0 * cum[-1])])


# ---------------------------------------------------------------- processes


def _children_map() -> dict[int, list[int]]:
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
    return kids


def descendants(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], list(kids.get(root, []))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def kill_tree(root: int) -> None:
    """SIGKILL every descendant of ``root`` and reap the direct children."""
    for pid in descendants(root):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while True:
        try:
            if os.waitpid(-1, os.WNOHANG) == (0, 0):
                break
        except ChildProcessError:
            break


class RssSampler:
    """Samples the summed RSS of this process and its descendants (the
    Spark JVM and its Python workers) every ``RSS_INTERVAL_S`` while
    armed, keeping the peak. Processes in ``exclude`` (and their own
    children) are not part of the system under test."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self._armed = threading.Event()
        self._stop = threading.Event()
        self._page = os.sysconf("SC_PAGE_SIZE")
        self._thread = threading.Thread(target=self._loop, name="rss", daemon=True)
        self._thread.start()

    def sample(self) -> int:
        kids = _children_map()
        total, todo = 0, [os.getpid()]
        while todo:
            pid = todo.pop()
            if pid in self.exclude:
                continue
            try:
                with open(f"/proc/{pid}/statm") as fh:
                    total += int(fh.read().split()[1]) * self._page
            except OSError:
                pass
            todo.extend(kids.get(pid, []))
        return total

    def _loop(self) -> None:
        while not self._stop.wait(RSS_INTERVAL_S):
            if self._armed.is_set():
                self.peak = max(self.peak, self.sample())

    def arm(self) -> None:
        self.peak = self.sample()
        self._armed.set()

    def disarm(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._armed.clear()
        self.peak = max(self.peak, self.sample())
        return self.peak / 1e6

    def close(self) -> None:
        self._stop.set()
        self._thread.join(timeout=2)


# ------------------------------------------------------------------ session


class Harness:
    """One workload run's resources: a work directory under
    ``work_root`` (inputs, archives, checkpoints, event log) and the
    Spark session. ``close()`` stops Spark and deletes the directory."""

    def __init__(self, work_root: str, workload: str, seed: int, trace: bool) -> None:
        self.trace = trace
        self.run_id = f"{workload}-s{seed}-t{int(trace)}-p{os.getpid()}"
        self.work = os.path.join(work_root, self.run_id)
        os.makedirs(self.path("eventlog"), exist_ok=True)
        self.spark = None
        self.rss = RssSampler()

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def spark_conf(self) -> dict[str, str]:
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": self.path("warehouse"),
            # the JVM's temporary files stay in the checkout; no
            # /tmp/hsperfdata_* file either. The heap starts at 1 GB: from
            # G1's default start it grows in steps timed by GC overhead,
            # which made peak RSS swing by a fifth between identical runs
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData -Xms1g",
            # a stuck micro-batch must not make stop() wait forever
            "spark.sql.streaming.stopTimeout": "20s",
            "spark.sql.streaming.numRecentProgressUpdates": "5000",
        }
        if self.trace:
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": self.path("eventlog"),
                "spark.eventLog.compress": "false",
            })
        return conf

    def start_spark(self):
        from kinesis_s3_spark.session import get_spark

        self.spark = get_spark("perfbench", extra_conf=self.spark_conf())
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop_spark(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def setup(self, warm: Callable[[object], None]) -> float:
        """Launch the Spark JVM, start a SparkContext and run ``warm`` on
        it; return the seconds taken. The session stays up for the run."""
        stop_jvm()
        t0 = time.perf_counter()
        warm(self.start_spark())
        return time.perf_counter() - t0

    def event_log(self) -> str | None:
        """Path of the current SparkContext's event log (file or rolling
        directory), or None when tracing is off."""
        if not self.trace or self.spark is None:
            return None
        app = self.spark.sparkContext.applicationId
        for name in os.listdir(self.path("eventlog")):
            if app in name:
                return self.path("eventlog", name)
        return None

    def close(self) -> None:
        """Stop Spark and delete the work directory. The JVM stays up for
        a following Harness in this process; ``shutdown`` ends it."""
        try:
            self.stop_spark()
        finally:
            self.rss.close()
            shutil.rmtree(self.work, ignore_errors=True)


def stop_jvm() -> None:
    """Stop Spark and end its JVM, so the next session launches a new
    one (a cold start)."""
    from pyspark import SparkContext
    from pyspark.sql import SparkSession

    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=20)
    SparkContext._gateway = None
    SparkContext._jvm = None


def shutdown() -> None:
    """End the Spark JVM and anything else this process started."""
    try:
        stop_jvm()
    finally:
        kill_tree(os.getpid())


def arm_watchdog(cleanup: Callable[[], None]):
    """Past ``WATCHDOG_S``, kill the process tree and exit nonzero without
    a result, so a hung run cannot outlive its time limit."""

    def expire() -> None:
        os.write(2, b"perfbench: run exceeded its time limit; thread stacks:\n")
        faulthandler.dump_traceback(all_threads=True)
        kill_tree(os.getpid())
        cleanup()
        os._exit(3)

    timer = threading.Timer(WATCHDOG_S, expire)
    timer.daemon = True
    timer.start()
    return timer


def result_line(correct: bool, attempted: int, failed: int, metrics: dict) -> str:
    """The run's last stdout line. ``metrics`` maps name -> (value, unit)."""
    return json.dumps({
        "correct": bool(correct),
        "attempted": int(max(1, attempted)),
        "failed": int(failed),
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in metrics.items()},
    })
