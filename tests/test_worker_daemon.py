"""The engine's Python worker daemon: zipimport directories are re-read
only when the archive changes, local sessions fork workers from it, and
importing the engine installs the same patch in any other worker."""

import importlib
import os
import sys
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

    fn = zipimport.zipimporter.invalidate_caches
    parent = None
    cmdline = f"/proc/{os.getppid()}/cmdline"
    if os.path.exists(cmdline):
        with open(cmdline, "rb") as f:
            parent = f.read().split(b"\0")
    return f"{fn.__module__}.{fn.__qualname__}", parent


def test_local_session_forks_workers_from_engine_daemon(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "fsst_spark.daemon"
    # The daemon imports the engine from its PYTHONPATH, not from its cwd.
    assert conf.get("spark.executorEnv.PYTHONPATH") == PACKAGE_ROOT
    (fn, parent), = spark.sparkContext.parallelize([0], 1).map(_worker_probe).collect()
    if daemon.PATCHES_ZIPIMPORT:
        assert fn == "fsst_spark.daemon.invalidate_caches"
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
