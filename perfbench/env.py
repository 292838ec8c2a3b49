"""Machine-derived environment, Spark session and peak-RSS sampling.

The session runs at ``local[<cores>]`` with a driver heap sized to the
machine (``session.py`` defaults to 48g). Spark's scratch space, the JVM's
and Python's temp files and the event log all live under the benchmark's
work directory, and the repository root goes on the Python workers'
``PYTHONPATH`` (workers launched from elsewhere cannot import the package).
"""

from __future__ import annotations

import os
import subprocess
import threading
import time

from pcompress_spark.session import get_spark, stop_spark


def cores() -> int:
    return len(os.sched_getaffinity(0))


def driver_mem_gb() -> int:
    """A quarter of physical memory, between 1 and 8 GiB."""
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                total_gb = int(line.split()[1]) / 1024 / 1024
                return max(1, min(8, int(total_gb // 4)))
    return 2


def prepare(root: str, work: str) -> None:
    """Set the process environment the Spark JVM and its workers inherit.
    Call before the first session starts."""
    for sub in ("spark-local", "tmp", "events"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    pp = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = root + (os.pathsep + pp if pp else "")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_DRIVER_MEM"] = f"{driver_mem_gb()}g"
    # the warm-up may fault memory in, but must not change the machine
    os.environ["PCOMPRESS_WARM_UNBIND"] = "0"


def start_session(work: str, event_log: bool = False):
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
        ),
    }
    if event_log:
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + os.path.join(work, "events"),
                # no zstandard module to read compressed or rolled logs
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
                # plan-carrying SQL events are most of the bytes and unused
                "spark.eventLog.excludedPatterns": ",".join(
                    [
                        "SparkListenerTaskStart",
                        "org.apache.spark.sql.execution.ui."
                        "SparkListenerSQLAdaptiveExecutionUpdate",
                        "org.apache.spark.sql.execution.ui."
                        "SparkListenerSQLExecutionStart",
                    ]
                ),
            }
        )
    return get_spark("perfbench", master=f"local[{cores()}]", extra_conf=conf)


def stop_session(spark) -> None:
    spark.stop()
    stop_spark()


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may hold spaces; ppid follows its closing paren
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _descendants() -> list[int]:
    kids = _children()
    todo, out = list(kids.get(os.getpid(), ())), []
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += kids.get(pid, ())
    return out


def descendants_rss_mb() -> float:
    """Summed proportional set size of every descendant of this process:
    the Spark JVM and its Python workers. PSS splits pages shared between
    forked workers instead of counting them once per worker."""
    total_kb = 0
    for pid in _descendants():
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1000.0


class PeakRss:
    """Context manager sampling ``descendants_rss_mb`` until exit."""

    def __init__(self, interval_s: float = 1.0) -> None:
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, descendants_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, descendants_rss_mb())


def stop_jvm(timeout_s: float = 30.0) -> None:
    """Stop the Spark JVM this process launched and wait until it and its
    Python workers have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    stop_spark()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.terminate()
        try:
            proc.wait(timeout_s)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + timeout_s
    while _descendants() and time.monotonic() < deadline:
        time.sleep(0.1)
