"""The package's PySpark worker daemon (``datafusion_spatial_spark._daemon``).

* The import-cache shim re-reads a zip archive's directory only when the
  archive changed (no Spark needed).
* ``get_spark`` names the daemon in ``spark.python.daemon.module`` and an
  ``extra_confs`` entry still overrides it.
* Python workers of the test session really fork from it.
"""

import importlib
import sys
import zipfile
import zipimport
from types import SimpleNamespace

import pytest

from datafusion_spatial_spark import session

DAEMON = "datafusion_spatial_spark._daemon"


@pytest.mark.skipif(sys.version_info >= (3, 12),
                    reason="the shim is installed only before CPython 3.12")
def test_shim_rereads_only_changed_archives(tmp_path, monkeypatch):
    from datafusion_spatial_spark import _daemon

    # registers the stock method for restore, then installs the shim
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    _daemon.install()
    assert zipimport.zipimporter.invalidate_caches is _daemon._invalidate_caches
    archive = tmp_path / "shim_mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("shim_mod_a.py", "A = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    for name in ("shim_mod_a", "shim_mod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    import shim_mod_a

    assert shim_mod_a.A == 1
    importer = sys.path_importer_cache[str(archive)]
    assert isinstance(importer, zipimport.zipimporter)

    reads = []
    read_directory = zipimport._read_directory

    def counting_read(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    importlib.invalidate_caches()  # first sight of the archive: one read
    assert reads.count(str(archive)) == 1
    files = importer._files
    reads.clear()
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads
    assert importer._files is files

    # a rewrite that changes the archive's size is picked up
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("shim_mod_a.py", "A = 1\n")
        z.writestr("shim_mod_b.py", "B = 2\n")
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    import shim_mod_b

    assert shim_mod_b.B == 2


class _Builder:
    """Stands in for ``SparkSession.builder``; records the confs."""

    def __init__(self):
        self.confs = {}

    def appName(self, _name):
        return self

    def master(self, _master):
        return self

    def config(self, key, value):
        self.confs[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


def test_get_spark_names_the_package_daemon(monkeypatch):
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark()
    assert builder.confs["spark.python.daemon.module"] == DAEMON

    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark(extra_confs={"spark.python.daemon.module": "pyspark.daemon"})
    assert builder.confs["spark.python.daemon.module"] == "pyspark.daemon"


def test_session_workers_fork_from_the_package_daemon(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == DAEMON
    # ``python -m <module>`` puts the module's file in argv[0]; forked
    # workers inherit it
    argv0 = spark.sparkContext.parallelize([0], 1).map(lambda _: sys.argv[0]).collect()
    assert argv0[0].endswith("_daemon.py"), argv0
