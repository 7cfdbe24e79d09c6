"""The worker-daemon patches apply only to the PySpark internals they were
written against; anything else keeps the stock daemon loop."""

import gc
import logging
import socket
import types

from solaris_spark import pydaemon


def _stubs():
    def setup_spark_files(infile):
        return None

    worker = types.ModuleType("stub_worker")
    worker.setup_spark_files = setup_spark_files

    def daemon_worker(sock, authenticated):
        return sock.getsockopt(socket.SOL_SOCKET, socket.SO_SNDBUF)

    daemon = types.ModuleType("stub_daemon")
    daemon.gc = gc
    daemon.worker = daemon_worker
    return worker, daemon


def test_install_patches_matching_modules():
    worker, daemon = _stubs()
    stock_worker = daemon.worker
    assert pydaemon.install(worker, daemon)
    assert worker.setup_spark_files is pydaemon._setup_spark_files
    assert isinstance(daemon.gc, pydaemon._GcShim)
    assert daemon.worker.__wrapped__ is stock_worker


def test_worker_socket_send_buffer_raised_before_task():
    """The wrapped ``daemon.worker`` sets the task socket's send buffer
    before the stock body runs (the stub body returns what it sees).  The
    kernel caps the request at net.core.wmem_max (and Linux reports it
    doubled)."""
    worker, daemon = _stubs()
    assert pydaemon.install(worker, daemon)
    try:
        with open("/proc/sys/net/core/wmem_max") as f:
            wmem_max = int(f.read())
    except OSError:
        wmem_max = pydaemon._SNDBUF
    a, b = socket.socketpair()
    with a, b:
        assert daemon.worker(a, True) >= min(4 * 1024 * 1024, wmem_max)


def test_missing_setup_spark_files_keeps_stock_behaviour(caplog):
    worker, daemon = _stubs()
    del worker.setup_spark_files
    with caplog.at_level(logging.WARNING, logger=pydaemon.__name__):
        assert not pydaemon.install(worker, daemon)
    assert not hasattr(worker, "setup_spark_files")
    assert daemon.gc is gc
    assert not hasattr(daemon.worker, "__wrapped__")
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "stub_worker.setup_spark_files" in warnings[0].getMessage()


def test_missing_daemon_gc_keeps_stock_behaviour(caplog):
    worker, daemon = _stubs()
    stock_setup = worker.setup_spark_files
    del daemon.gc
    with caplog.at_level(logging.WARNING, logger=pydaemon.__name__):
        assert not pydaemon.install(worker, daemon)
    assert worker.setup_spark_files is stock_setup
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "stub_daemon.gc" in warnings[0].getMessage()


def test_missing_daemon_worker_keeps_stock_behaviour(caplog):
    worker, daemon = _stubs()
    stock_setup = worker.setup_spark_files
    del daemon.worker
    with caplog.at_level(logging.WARNING, logger=pydaemon.__name__):
        assert not pydaemon.install(worker, daemon)
    assert worker.setup_spark_files is stock_setup
    assert daemon.gc is gc
    warnings = [r for r in caplog.records if r.levelno == logging.WARNING]
    assert len(warnings) == 1
    assert "stub_daemon.worker not found" in warnings[0].getMessage()


def test_session_keeps_engine_daemon_when_workers_import_it(spark):
    """A session whose JVM this process launched puts the package root on
    the workers' path, so it runs the engine's daemon."""
    assert spark.conf.get("spark.python.daemon.module") == \
        "solaris_spark.pydaemon"
    assert spark.range(4).mapInArrow(lambda b: b, "id long").count() == 4
