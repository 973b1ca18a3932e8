"""The engine's Python worker daemon: zipimport directories are re-read
only when the archive changes, local sessions fork workers from it,
importing the engine installs the same patch in any other worker, and its
workers read their TCP input with ``TCP_QUICKACK`` set before each read."""

import importlib
import io
import os
import pickle
import socket
import sys
import threading
import zipfile
import zipimport

import pytest

from fsst_spark import daemon
from fsst_spark.jobs.session import PACKAGE_ROOT


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as zf:
        for name, body in modules.items():
            zf.writestr(f"{name}.py", body)


@pytest.mark.skipif(not daemon.PATCHES_ZIPIMPORT,
                    reason="Python >= 3.12 re-reads zip directories lazily")
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch):
    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"zd_first": "X = 1\n", "zd_later": "X = 2\n"})
    reads = []
    original = daemon._original_invalidate_caches

    def counting(self):
        if self.archive == archive:
            reads.append(self.archive)
        original(self)

    monkeypatch.setattr(daemon, "_original_invalidate_caches", counting)
    monkeypatch.setattr(daemon, "_directories", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.syspath_prepend(archive)
    for name in ("zd_first", "zd_later", "zd_added"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert daemon.install()

    assert importlib.import_module("zd_first").X == 1
    for _ in range(5):
        importlib.invalidate_caches()
    assert len(reads) == 1  # the first call reads and stamps the archive
    assert importlib.import_module("zd_later").X == 2

    _write_zip(archive, {"zd_first": "X = 1\n", "zd_later": "X = 2\n",
                         "zd_added": "X = 3\n"})
    importlib.invalidate_caches()
    assert len(reads) == 2
    assert importlib.import_module("zd_added").X == 3
    importlib.invalidate_caches()
    assert len(reads) == 2


def test_install_applies_only_below_312(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    before = zipimport.zipimporter.invalidate_caches
    assert daemon.install() == (sys.version_info < (3, 12))
    patched = zipimport.zipimporter.invalidate_caches is daemon.invalidate_caches
    assert patched == daemon.PATCHES_ZIPIMPORT
    if not patched:
        assert zipimport.zipimporter.invalidate_caches is before


def _worker_probe(_):
    import zipimport

    import pyspark.worker

    fn = zipimport.zipimporter.invalidate_caches
    parent = None
    cmdline = f"/proc/{os.getppid()}/cmdline"
    if os.path.exists(cmdline):
        with open(cmdline, "rb") as f:
            parent = f.read().split(b"\0")
    main = pyspark.worker.main
    # pyspark.daemon, run as __main__ in the forked worker, calls the
    # worker_main it bound at start-up.
    bound = getattr(sys.modules["__main__"], "worker_main", None)
    # The input file this task is read through: pyspark.worker.main's own
    # ``infile``, a few frames up.
    frame, raw, nodelay = sys._getframe(), None, None
    while frame is not None:
        if (frame.f_code.co_name == "main"
                and frame.f_globals.get("__name__") == "pyspark.worker"):
            infile = frame.f_locals["infile"]
            raw = type(infile.raw).__name__
            with socket.socket(fileno=os.dup(infile.fileno())) as sock:
                nodelay = sock.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY)
            break
        frame = frame.f_back
    return (f"{fn.__module__}.{fn.__qualname__}", parent,
            f"{main.__module__}.{main.__qualname__}", bound is main,
            raw, nodelay)


def test_local_session_forks_workers_from_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "fsst_spark.daemon"
    # The daemon imports the engine from its PYTHONPATH, not from its cwd.
    assert conf.get("spark.executorEnv.PYTHONPATH") == PACKAGE_ROOT
    (fn, parent, main, bound, raw, nodelay), = (
        spark.sparkContext.parallelize([0], 1).map(_worker_probe).collect())
    if daemon.PATCHES_ZIPIMPORT:
        assert fn == "fsst_spark.daemon.invalidate_caches"
    assert main == "fsst_spark.daemon.quickack_main.<locals>.main"
    assert bound
    if hasattr(socket, "TCP_QUICKACK"):
        assert (raw, nodelay) == ("_QuickAckRaw", 1)
    if parent is not None:
        assert parent[1:4] == [b"-m", b"fsst_spark.daemon", b"pyspark.worker"]


@pytest.mark.skipif(not daemon.PATCHES_ZIPIMPORT,
                    reason="Python >= 3.12 re-reads zip directories lazily")
def test_planner_worker_runs_engine_invalidate_caches(spark):
    # Spark forks data-source planner workers from a fixed pyspark.daemon,
    # whatever spark.python.daemon.module says; importing the engine there
    # must still install the patch.
    from tests.daemon_probe_source import DaemonProbeSource

    spark.dataSource.register(DaemonProbeSource)
    df = spark.read.format("daemon_probe").load()
    assert df.columns == ["fsst_spark.daemon.invalidate_caches"]


# --- socket reads --------------------------------------------------------

needs_quickack = pytest.mark.skipif(not hasattr(socket, "TCP_QUICKACK"),
                                    reason="platform has no TCP_QUICKACK")


def _tcp_pair():
    """(jvm side, worker side) of a loopback TCP connection."""
    with socket.create_server(("127.0.0.1", 0)) as srv:
        worker = socket.create_connection(srv.getsockname())
        jvm, _ = srv.accept()
    return jvm, worker


class _LoggingRaw(io.RawIOBase):
    """A socket fd's raw reader that logs each read into ``log``."""

    def __init__(self, fd, log):
        self._raw = io.FileIO(fd, "rb")
        self._log = log

    def readable(self):
        return True

    def fileno(self):
        return self._raw.fileno()

    def readinto(self, b):
        self._log.append("read")
        return self._raw.readinto(b)

    def close(self):
        self._raw.close()
        super().close()


def _files(sock, log=None):
    """A worker's per-task files, built as ``pyspark.daemon.worker`` does;
    with ``log``, the input's raw reads are logged."""
    if log is None:
        infile = os.fdopen(os.dup(sock.fileno()), "rb", 65536)
    else:
        infile = io.BufferedReader(_LoggingRaw(os.dup(sock.fileno()), log), 65536)
    return infile, os.fdopen(os.dup(sock.fileno()), "wb", 65536)


def _task_input(rows):
    """A task-shaped input: an int, a length-prefixed pickle, an Arrow
    stream of ``rows`` rows and 3 trailing bytes; returns it, the offset
    of the Arrow stream and the table."""
    import pyarrow as pa

    table = pa.table({"i": pa.array(range(rows), pa.int64()),
                      "s": pa.array([f"row-{i}" * 3 for i in range(rows)])})
    sink = pa.BufferOutputStream()
    with pa.ipc.new_stream(sink, table.schema) as w:
        for batch in table.to_batches(max_chunksize=max(1, rows // 4)):
            w.write_batch(batch)
    body = pickle.dumps({"cmd": "probe", "pad": b"x" * 1000})
    head = (7).to_bytes(4, "big") + len(body).to_bytes(4, "big") + body
    return head + sink.getvalue().to_pybytes() + b"end", len(head), table


def _reading_main(seen):
    """A ``worker_main`` that reads a task-shaped input. It asks for the
    Arrow stream (one byte on ``outfile``) only after reading the header,
    so its reads span at least two ``recv``s, as a real task's do."""
    import pyarrow as pa

    def worker_main(infile, outfile):
        seen["infile"] = infile
        seen["int"] = int.from_bytes(infile.read(4), "big")
        n = int.from_bytes(infile.read(4), "big")
        seen["pickle"] = pickle.loads(infile.read(n))
        outfile.write(b"!")
        outfile.flush()
        seen["table"] = pa.ipc.open_stream(infile).read_all()
        seen["rest"] = infile.read()
        return "done"
    return worker_main


def _run_task(jvm, worker, wrap, rows=10, log=None):
    """Run one task over a connected pair, the JVM side in a thread;
    return what ``worker_main`` read."""
    data, split, table = _task_input(rows)

    def serve():
        with jvm:
            jvm.sendall(data[:split])
            assert jvm.recv(1) == b"!"
            jvm.sendall(data[split:])

    t = threading.Thread(target=serve)
    t.start()
    infile, outfile = _files(worker, log)
    seen = {}
    main = _reading_main(seen)
    try:
        assert (daemon.quickack_main(main) if wrap else main)(infile, outfile) == "done"
    finally:
        t.join()
        infile.close()
        outfile.close()
    assert seen["table"].equals(table)
    return seen


@pytest.fixture
def setsockopt_log(monkeypatch):
    """Log every ``socket.setsockopt`` call as ``(level, option, value)``."""
    log = []
    real = socket.socket.setsockopt

    def spy(self, level, option, value, *rest):
        log.append((level, option, value))
        return real(self, level, option, value, *rest)

    monkeypatch.setattr(socket.socket, "setsockopt", spy)
    return log


@needs_quickack
@pytest.mark.parametrize("rows", [10, 50_000])
def test_wrapped_reader_returns_the_same_bytes(rows):
    jvm, worker = _tcp_pair()
    with worker:
        plain = _run_task(jvm, worker, wrap=False, rows=rows)
    jvm, worker = _tcp_pair()
    with worker:
        wrapped = _run_task(jvm, worker, wrap=True, rows=rows)
    assert type(wrapped["infile"].raw) is daemon._QuickAckRaw
    for key in ("int", "pickle", "rest"):
        assert wrapped[key] == plain[key]
    assert wrapped["table"].equals(plain["table"])
    assert wrapped["rest"] == b"end"


@needs_quickack
def test_quickack_is_set_before_every_read(setsockopt_log):
    jvm, worker = _tcp_pair()
    setsockopt_log.clear()  # create_server's SO_REUSEADDR
    with worker:
        assert worker.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 0
        # One log for both: the spy logs setsockopt, the raw logs reads.
        _run_task(jvm, worker, wrap=True, rows=50_000, log=setsockopt_log)
        assert worker.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 1
    quickack = (socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)
    nodelay = (socket.IPPROTO_TCP, socket.TCP_NODELAY, 1)
    assert setsockopt_log[0] == nodelay
    reads = [i for i, e in enumerate(setsockopt_log) if e == "read"]
    assert len(reads) >= 3  # header, then the Arrow stream, then EOF
    assert all(setsockopt_log[i - 1] == quickack for i in reads)
    assert setsockopt_log.count(quickack) == len(reads)
    assert setsockopt_log.count(nodelay) == 1


def _passes_through(jvm, worker, setsockopt_log):
    setsockopt_log.clear()  # create_server's SO_REUSEADDR
    with worker:
        seen = _run_task(jvm, worker, wrap=True, log=[])
        if worker.family != socket.AF_UNIX:
            assert worker.getsockopt(socket.IPPROTO_TCP, socket.TCP_NODELAY) == 0
    assert type(seen["infile"].raw) is _LoggingRaw  # the original infile
    assert setsockopt_log == []


def test_unix_socket_passes_infile_through(setsockopt_log):
    _passes_through(*socket.socketpair(socket.AF_UNIX), setsockopt_log)


def test_no_quickack_passes_infile_through(monkeypatch, setsockopt_log):
    monkeypatch.delattr(socket, "TCP_QUICKACK", raising=False)
    _passes_through(*_tcp_pair(), setsockopt_log)


@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="no /proc")
def test_non_socket_infile_passes_through(setsockopt_log):
    r, w = os.pipe()
    with os.fdopen(r, "rb") as infile, os.fdopen(w, "wb") as outfile:
        before = len(os.listdir("/proc/self/fd"))
        assert daemon.quickack_main(lambda i, o: i)(infile, outfile) is infile
        assert len(os.listdir("/proc/self/fd")) == before
    assert setsockopt_log == []


@needs_quickack
@pytest.mark.skipif(not os.path.isdir("/proc/self/fd"), reason="no /proc")
def test_wrapper_closes_its_socket_handle():
    def failing(infile, outfile):
        infile.read(1)
        raise RuntimeError("task failed")

    jvm, worker = _tcp_pair()
    with jvm, worker:
        infile, outfile = _files(worker)
        with infile, outfile:
            before = len(os.listdir("/proc/self/fd"))
            for main in (failing, lambda i, o: i.read(1)):
                jvm.sendall(b"x")  # one task's input
                try:
                    daemon.quickack_main(main)(infile, outfile)
                except RuntimeError:
                    pass
            assert len(os.listdir("/proc/self/fd")) == before
