"""Custom PySpark worker daemon (``spark.python.daemon.module``) that removes
fixed per-task costs of the stock ``pyspark.daemon`` reuse loop.

Measured on a 4-vCPU host (Spark 4.1.2, local[2], 64 one-row
``mapInArrow`` tasks on reused workers, median of 5 jobs): a task takes
43 ms with the stock daemon and 5-6 ms with this one.  The stock costs:

1. ``setup_spark_files`` → ``importlib.invalidate_caches()`` — ~36 ms/task
   (41.8 ms per task with only this patch off).
   The worker's sys.path carries several zipimporter entries (pyspark.zip,
   py4j-*.zip, and one spark jar), and CPython's
   ``zipimporter.invalidate_caches`` re-reads the whole zip central
   directory; with one cached zipimporter per package subpath that is ~15
   re-reads of multi-MB directories on EVERY task.
2. The daemon child loop's unconditional full ``gc.collect()`` between tasks
   — it walks every tracked object each time: 8.6-12 ms in-process with
   the engine, numpy, pyarrow and pyspark imported (42.6k objects), and
   1-2 ms per task in the job above, whose UDF imports no engine module.

Neither cost scales down with task size, so short tasks (the common case for
fine-grained mapInArrow stages: 128 tasks × a few ms of real work) were
mostly overhead.  Fixes, both semantics-preserving:

1. ``setup_spark_files`` is replaced with a version that skips
   ``importlib.invalidate_caches()`` while the (files-dir, python-includes)
   tuple is unchanged since the previous task in this worker.  The
   invalidation exists so files added via ``sc.addPyFile``/``addFile``
   become importable mid-job; when the include list changes we still
   invalidate.  Plain directories on sys.path (the usual case for changed
   code) do not need it at all: ``FileFinder`` re-stats the directory mtime
   per import on its own.  Only a ZIP include whose *content* changed
   in-place under an unchanged name would be missed — Spark file names are
   immutable per SparkContext, so that case cannot occur.
2. The inter-task collect becomes: cheap ``gc.collect()`` over only the
   objects allocated since the last task (everything older is in the
   permanent generation via ``gc.freeze()``), plus a periodic full
   unfreeze-collect-freeze sweep every ``_FULL_GC_EVERY`` tasks so a live-
   then-dead frozen object cannot leak for the worker's lifetime.

A third per-task cost was the socket to the JVM: over loopback TCP a
UDF waited 40-45 ms for its input from about the fifth task on a reused
worker connection (Nagle's algorithm on the JVM side, which Spark opens
without ``TCP_NODELAY``, against the worker kernel's delayed ACK).
``session.get_spark`` therefore runs the workers over Unix domain sockets
(median input wait 0.45 ms against 43 ms over TCP, 16 one-row tasks at
local[2]).  On a Unix stream socket the sender's buffer bounds all the
bytes in flight (there is no receive window behind it), and at the
kernel's default (``net.core.wmem_default``, 208 KiB here) a worker
writing a 4 MB output batch waits for the JVM to drain it about twenty
times.  So:

3. ``daemon.worker`` (the per-task body of the child loop, called once per
   task with the accepted socket) is wrapped to set ``SO_SNDBUF`` to
   4 MiB, one output batch at the session's ``maxBytesPerBatch``, before
   the stock body runs.  The kernel caps it at ``net.core.wmem_max``.

Fixes 2 and 3 pay on perfbench's tile_mask (same host, ``--seconds 30
--trace 0``, 6 interleaved rounds over seeds 1-6, loadavg 2.6-3.9): median
items/s (IQR) all on 4677 (317); without ``SO_SNDBUF`` 4239 (964), all-on
ahead in 5 of 6 rounds; without the gc shim 4011 (974), ahead in 6 of 6.

Activated by ``session.get_spark`` via
``spark.python.daemon.module=solaris_spark.pydaemon`` — a documented Spark
configuration (`Configuration: spark.python.daemon.module`).  Everything
else delegates to the stock ``pyspark.daemon`` (same fork model, same
socket protocol, same signal handling).  The fixes rebind private PySpark
names, so ``install`` checks that they exist first and otherwise leaves the
stock loop running, with one warning.
"""

from __future__ import annotations

import functools
import gc
import importlib
import logging
import os
import socket

import pyspark.daemon as _daemon
import pyspark.worker as _worker
from pyspark.serializers import read_int
from pyspark.worker_util import add_path, utf8_deserializer

_FULL_GC_EVERY = 32
# one output batch at the session's spark.sql.execution.arrow.maxBytesPerBatch
_SNDBUF = 4 * 1024 * 1024

_last_files_state: tuple | None = None


def _setup_spark_files(infile) -> None:
    """Drop-in for ``pyspark.worker_util.setup_spark_files`` that only pays
    ``importlib.invalidate_caches()`` when the Spark-files state changed."""
    global _last_files_state
    spark_files_dir = utf8_deserializer.loads(infile)

    from pyspark.core.files import SparkFiles

    SparkFiles._root_directory = spark_files_dir
    SparkFiles._is_running_on_worker = True

    add_path(spark_files_dir)  # *.py files that were added will be copied here
    num_python_includes = read_int(infile)
    includes = tuple(
        utf8_deserializer.loads(infile) for _ in range(num_python_includes))
    for filename in includes:
        add_path(os.path.join(spark_files_dir, filename))

    state = (spark_files_dir, includes)
    if state != _last_files_state:
        importlib.invalidate_caches()
        _last_files_state = state


class _GcShim:
    """Stands in for the ``gc`` module inside ``pyspark.daemon``'s child
    loop: frozen-generation collect per task, full sweep every N tasks."""

    def __init__(self) -> None:
        self._tasks = 0

    def collect(self, generation: int = 2) -> int:
        self._tasks += 1
        if self._tasks % _FULL_GC_EVERY == 0:
            gc.unfreeze()
            n = gc.collect(generation)
            gc.freeze()
            return n
        # cheap: only objects allocated since the previous task's freeze
        n = gc.collect(generation)
        gc.freeze()
        return n


def _with_sndbuf(stock_worker):
    """``daemon.worker`` with the task's socket send buffer raised first."""
    @functools.wraps(stock_worker)
    def worker(sock, authenticated):
        sock.setsockopt(socket.SOL_SOCKET, socket.SO_SNDBUF, _SNDBUF)
        return stock_worker(sock, authenticated)

    return worker


def install(worker=_worker, daemon=_daemon) -> bool:
    """Patch the three costs into the worker and daemon modules.  The
    patches rebind private PySpark names (``worker.setup_spark_files``,
    ``daemon.gc``, ``daemon.worker``); if any of them is missing, the
    PySpark release is not the one these patches were written for, so
    nothing is patched, stock behaviour stays, and one warning names what
    is missing."""
    missing = [f"{mod.__name__}.{name}"
               for mod, names in ((worker, ("setup_spark_files",)),
                                  (daemon, ("gc", "worker")))
               for name in names if not hasattr(mod, name)]
    if missing:
        logging.getLogger(__name__).warning(
            "solaris_spark.pydaemon: %s not found; running the stock "
            "pyspark.daemon loop unpatched", ", ".join(missing))
        return False
    worker.setup_spark_files = _setup_spark_files
    daemon.gc = _GcShim()
    daemon.worker = _with_sndbuf(daemon.worker)
    return True


if __name__ == "__main__":
    if install():
        # Freeze the daemon's import-time object graph before any fork so
        # the first per-task collect in every child is already cheap
        # (children inherit the permanent generation through fork).
        gc.freeze()
    _daemon.manager()
