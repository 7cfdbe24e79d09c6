"""The values a `get_spark` session plans with, as the session reports
them.  Several are Spark's own defaults rather than `get_spark` configs,
so a Spark upgrade that changes one fails here instead of changing plans
silently.  The worker channel's tests start a session in a driver process
of their own."""

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

EFFECTIVE = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.execution.arrow.maxBytesPerBatch": str(4 * 1024 * 1024),
    # a JVM launched in-process has the package root on the workers' path
    "spark.python.daemon.module": "solaris_spark.pydaemon",
    # Python workers talk to the JVM over Unix domain sockets
    "spark.python.unix.domain.socket.enabled": "true",
}


def test_session_effective_values(spark):
    assert {k: spark.conf.get(k) for k in EFFECTIVE} == EFFECTIVE


# A driver that starts a local[2] session (under the long tmpdir it is
# given), runs Python tasks, stops the session and reports what it saw.
DRIVER = """
import json, os, statistics, sys, time

from pyspark import SparkContext

from solaris_spark.session import get_spark

tmpdir = sys.argv[1]


def descendants(root):
    children = {}
    for p in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{p}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{p}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\\0", b" ").decode()
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append((int(p), cmd))
    out, todo = [], [root]
    while todo:
        for pid, cmd in children.get(todo.pop(), []):
            out.append(cmd)
            todo.append(pid)
    return out


def daemons(jvm):
    return [c for c in descendants(jvm) if "solaris_spark.pydaemon" in c]


def timed(batches):
    import time
    import pyarrow as pa
    t0 = time.perf_counter()
    first = next(batches)  # blocks until the task's input has arrived
    wait = time.perf_counter() - t0
    yield pa.RecordBatch.from_pydict({"wait": [wait] * first.num_rows})
    for _ in batches:
        pass


spark = get_spark(cores=2, extra_conf={
    "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmpdir}"})
sc = spark.sparkContext
jvm = SparkContext._gateway.proc.pid
sock_dir = sc.getConf().get("spark.python.unix.domain.socket.dir")
rows = spark.range(8).mapInArrow(lambda b: b, "id long").count()
one_row = spark.range(16, numPartitions=16)
one_row.mapInArrow(timed, "wait double").collect()  # every worker reused
waits = [r.wait for r in one_row.mapInArrow(timed, "wait double").collect()]
report = {
    "jvm_tmpdir": sc._jvm.java.lang.System.getProperty("java.io.tmpdir"),
    "rows": rows, "sock_dir": sock_dir,
    "median_wait_ms": statistics.median(waits) * 1e3,
    "daemons_running": len(daemons(jvm)),
}
spark.stop()
deadline = time.monotonic() + 10
while daemons(jvm) and time.monotonic() < deadline:
    time.sleep(0.1)
report["daemons_after_stop"] = daemons(jvm)
report["socks_after_stop"] = [f for f in os.listdir(sock_dir)
                              if f.endswith(".sock")]
print(json.dumps(report))
"""


@pytest.fixture(scope="module")
def driver_run(tmp_path_factory):
    """One run of DRIVER with ``java.io.tmpdir`` and ``TMPDIR`` both over
    90 characters: Spark's default socket directory is ``java.io.tmpdir``,
    and a socket name in it overflows AF_UNIX's 108-byte path limit
    (SparkContext init fails in the accumulator server)."""
    base = str(tmp_path_factory.mktemp("uds"))
    tmpdir = os.path.join(base, "t" * max(1, 96 - len(base)))
    os.makedirs(tmpdir)
    script = os.path.join(base, "driver.py")
    with open(script, "w") as f:
        f.write(DRIVER)
    env = dict(os.environ, TMPDIR=tmpdir, PYTHONPATH=REPO)
    res = subprocess.run([sys.executable, script, tmpdir], env=env,
                         capture_output=True, text=True, timeout=300,
                         cwd=base)
    return tmpdir, res


def _report(res) -> dict:
    assert res.returncode == 0, res.stderr[-3000:]
    return json.loads(res.stdout.strip().splitlines()[-1])


def test_long_tmpdir_session_runs_python_tasks(driver_run):
    tmpdir, res = driver_run
    assert len(tmpdir) > 90
    report = _report(res)
    assert report["jvm_tmpdir"] == tmpdir
    assert report["rows"] == 8
    assert len(os.path.join(report["sock_dir"], ".%s.sock" % ("u" * 36))) \
        < 100


def test_python_task_input_wait(driver_run):
    """Over loopback TCP a reused worker waited 40-45 ms for each task's
    input (Nagle's algorithm on the JVM's side against the worker's
    delayed ACK); over the Unix socket 0.1-3 ms."""
    assert _report(driver_run[1])["median_wait_ms"] < 10


def test_stop_ends_daemons_and_sockets(driver_run):
    """After ``spark.stop()`` no engine daemon of the session is left and
    the socket directory holds no socket; the driver exits 0 (a worker
    may still print "PySpark daemon failed to flush" as it is stopped)."""
    report = _report(driver_run[1])
    assert report["daemons_running"] >= 1
    assert report["daemons_after_stop"] == []
    assert report["socks_after_stop"] == []
    assert not os.path.exists(report["sock_dir"])  # removed at exit
