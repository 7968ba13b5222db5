"""Driver JVM lifecycle and memory sampling for one benchmark process.

The session comes from the library's own ``session.get_spark`` (the
configuration users run), with only deployment settings added: scratch
directories inside the work dir, no console progress bar. Everything the
JVM starts is stopped and waited for in :meth:`SparkProc.close`.
"""

from __future__ import annotations

import os
import signal
import subprocess
import threading
import time

PAGE = os.sysconf("SC_PAGE_SIZE")


def _children() -> dict[int, list[int]]:
    """ppid -> child pids, from /proc."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited while listing
        # comm (field 2) may contain spaces: ppid is the 2nd field after ')'
        ppid = int(stat[stat.rindex(")") + 2 :].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, []):
            out.append(c)
            todo.append(c)
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * PAGE
        except OSError:
            pass  # a Python worker exited between listing and reading
    return total


class RssSampler:
    """Peak resident memory of the driver JVM plus its descendants (the
    Python worker daemon and its forked workers), polled from /proc."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes([self.pid, *descendants(self.pid)]))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)


class SparkProc:
    """One driver JVM; sessions on it are started and stopped in turn."""

    def __init__(self, work_dir: str):
        self.work_dir = work_dir
        self.spark = None

    def start(self, cores: int):
        """Start a session on ``local[cores]`` (launching the JVM if none
        is running) and return it."""
        from geotables_jl_spark.session import get_spark

        local = os.path.join(self.work_dir, "spark-local")
        tmp = os.path.join(self.work_dir, "tmp")
        os.makedirs(local, exist_ok=True)
        self.spark = get_spark(
            "geobench",
            cpus=cores,
            extra_conf={
                "spark.local.dir": local,
                # no hsperfdata files in the system temp dir either
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.sql.warehouse.dir": os.path.join(self.work_dir, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        return self.spark

    @property
    def jvm_pid(self) -> int:
        from pyspark import SparkContext

        return SparkContext._gateway.proc.pid

    def stop_session(self) -> None:
        """Stop the session; the JVM stays up for the next one."""
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def close(self) -> None:
        """Stop the session and the JVM, and wait until every process the
        JVM started has exited."""
        from pyspark import SparkContext

        gw = SparkContext._gateway
        if gw is None:
            return
        pid = gw.proc.pid
        kids = descendants(pid)
        self.stop_session()
        gw.shutdown()
        gw.proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            gw.proc.wait(timeout=30)
        except subprocess.TimeoutExpired:  # the JVM ignored EOF on stdin
            gw.proc.kill()
            gw.proc.wait(timeout=30)
        SparkContext._gateway = None
        SparkContext._jvm = None
        deadline = time.monotonic() + 10
        while kids and time.monotonic() < deadline:
            kids = [k for k in kids if os.path.exists(f"/proc/{k}")]
            time.sleep(0.1)
        for k in kids:
            try:
                os.kill(k, signal.SIGKILL)
            except ProcessLookupError:
                pass
