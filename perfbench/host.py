"""Host facts recorded with every result, memory sampling of the Spark
processes, and their orderly shutdown."""

from __future__ import annotations

import hashlib
import os
import platform
import signal
import subprocess
import threading
import time

_PAGE = os.sysconf("SC_PAGE_SIZE")


def engine_rev(root: str) -> str:
    """Content hash of the engine source tree (the same hash
    ``scripts/bench_scaling.py`` records), so results of different builds
    are never merged."""
    h = hashlib.sha256()
    for dirpath, _dirs, files in sorted(os.walk(os.path.join(
            root, "solaris_spark"))):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(dirpath, f), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:16]


def info(root: str, cores: int) -> dict:
    import pyspark
    return {"nproc": cores, "loadavg_start": list(os.getloadavg()),
            "pyspark": pyspark.__version__,
            "python": platform.python_version(),
            "engine_rev": engine_rev(root)}


def process_tree(root_pid: int) -> set[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    out, todo = set(), [root_pid]
    while todo:
        pid = todo.pop()
        out.add(pid)
        todo.extend(children.get(pid, ()))
    return out


def _rss(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * _PAGE
    except OSError:
        return 0


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            stat = fh.read()
    except OSError:
        return False
    return stat[stat.rindex(")") + 2] != "Z"


class RssSampler:
    """Peak of the summed RSS of a process and its descendants (the driver
    JVM and its Python workers), sampled on a background thread."""

    def __init__(self, root_pid: int, interval: float = 0.25) -> None:
        self.root_pid = root_pid
        self.interval = interval
        self.peak = 0
        self.peak_root = 0
        self.max_procs = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        pids = process_tree(self.root_pid)
        root = _rss(self.root_pid)
        self.peak = max(self.peak, root + sum(_rss(p) for p in pids
                                              if p != self.root_pid))
        self.peak_root = max(self.peak_root, root)
        self.max_procs = max(self.max_procs, len(pids))

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()
        self._sample()


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, end the JVM it launched (EOF on its stdin), and
    wait until the JVM and every process under it have exited."""
    from pyspark import SparkContext
    jvm = SparkContext._gateway.proc if SparkContext._gateway else None
    pids = process_tree(jvm.pid) if jvm is not None else set()
    try:
        spark.stop()
    finally:
        if jvm is not None:
            SparkContext._gateway.shutdown()
            jvm.stdin.close()
            try:
                jvm.wait(timeout)
            except subprocess.TimeoutExpired:
                jvm.kill()
                jvm.wait()
        deadline = time.monotonic() + timeout
        while pids and time.monotonic() < deadline:
            pids = {p for p in pids if _alive(p)}
            time.sleep(0.05)
        for p in pids:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass
        while any(_alive(p) for p in pids):
            time.sleep(0.05)
