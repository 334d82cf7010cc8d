"""Process and host bookkeeping for one benchmark run: a Spark session
whose scratch dirs live under the run's temp root, the process tree's
CPU seconds and peak RSS read from /proc, and a shutdown that waits for
the JVM and its Python workers to exit."""

from __future__ import annotations

import os
import signal
import threading
import time

DRIVER_HEAP = "2g"
_CLK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields after it are fixed
    return raw[raw.rindex(")") + 2:].split()


def descendants(root: int) -> list[int]:
    """Live pids below root (root excluded)."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            st = _stat(int(name))
            if st:
                children.setdefault(int(st[1]), []).append(int(name))
    out, todo = [], [root]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def tree_cpu_s(root: int | None = None) -> float:
    """CPU seconds of root and every live descendant, each with the
    children it has already reaped."""
    root = root or os.getpid()
    total = 0.0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st:
            # utime, stime, cutime, cstime (fields 14-17 of /proc/pid/stat)
            total += sum(int(v) for v in st[11:15])
    return total / _CLK


def tree_rss_mb(root: int | None = None) -> float:
    root = root or os.getpid()
    total = 0
    for pid in [root, *descendants(root)]:
        st = _stat(pid)
        if st:
            total += int(st[21]) * _PAGE  # rss in pages (field 24)
    return total / 1e6


def loadavg() -> list[float]:
    with open("/proc/loadavg") as f:
        return [float(v) for v in f.read().split()[:3]]


class PeakRss:
    """Samples the process tree's RSS in a thread while active."""

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak_mb = max(self.peak_mb, tree_rss_mb())
            if self._stop.wait(self.interval_s):
                return

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self.peak_mb = max(self.peak_mb, tree_rss_mb())


def start_spark(root: str, tmp: str, cores: int, event_log: bool):
    """get_spark with its JVM, workers and scratch dirs contained: the
    checkout root goes on the Python workers' path, and warehouse, spill,
    JVM temp and (traced runs) event-log dirs go under tmp."""
    from surya_spark.session import get_spark

    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    os.environ["TMPDIR"] = tmp
    local = os.path.join(tmp, "spark-local")
    os.environ["SPARK_LOCAL_DIRS"] = local
    confs = {
        "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
        "spark.local.dir": local,
        # a pre-touched fixed heap keeps the JVM's RSS (and job times) from
        # depending on when the collector chose to grow the heap; no
        # hsperfdata file in /tmp
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch "
            "-XX:-UsePerfData",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log:
        os.makedirs(os.path.join(tmp, "events"))
        confs["spark.eventLog.enabled"] = "true"
        confs["spark.eventLog.dir"] = os.path.join(tmp, "events")
        confs["spark.eventLog.compress"] = "false"
        confs["spark.eventLog.rolling.enabled"] = "false"
    # the launcher JVM that spark-submit starts first
    os.environ["SPARK_LAUNCHER_OPTS"] = (
        f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(
        f"--conf '{k}={v}'" for k, v in confs.items()) + " pyspark-shell"
    return get_spark(app="perfbench", cores=cores, shuffle_partitions=cores,
                     driver_memory=DRIVER_HEAP)


def _alive(pid: int) -> bool:
    st = _stat(pid)
    return st is not None and st[0] != "Z"


def stop_spark(spark, timeout_s: float = 30.0) -> None:
    """Stop the session, the JVM behind it and every process it started.
    The JVM's Python workers are orphaned when it exits, so they are
    listed first and waited for by pid."""
    gateway = spark.sparkContext._gateway
    proc = gateway.proc
    started = [proc.pid, *descendants(proc.pid)]
    spark.stop()
    gateway.shutdown()
    proc.terminate()
    proc.wait(timeout_s)
    deadline = time.time() + timeout_s
    while any(map(_alive, started)) and time.time() < deadline:
        time.sleep(0.1)
    for pid in filter(_alive, started):
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
    while any(map(_alive, started)) and time.time() < deadline + 5:
        time.sleep(0.1)
