"""The package's PySpark worker daemon (``pydaemon.py``): the zip
directory patch on its own, then a ``get_spark`` session's workers."""

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from crego_document_extractor_spark import pydaemon
from crego_document_extractor_spark.session import _PACKAGE_ROOT

needs_patch = pytest.mark.skipif(sys.version_info >= (3, 12),
                                 reason="3.12+ re-reads zip directories lazily")


def _write_zip(path, modules):
    tmp = str(path) + ".tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")
    os.replace(tmp, path)  # a new inode, as a redeployed archive gets


@pytest.fixture
def patched(monkeypatch):
    # restored to the stock method when the test ends
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon._stock_invalidate)
    assert pydaemon.install()


@needs_patch
def test_unchanged_archive_is_not_reread(tmp_path, monkeypatch, patched):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["_pydaemon_mod_a"])
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("_pydaemon_mod_a").NAME == "_pydaemon_mod_a"
    monkeypatch.delitem(sys.modules, "_pydaemon_mod_a")
    importlib.invalidate_caches()  # stamps the new importer

    reads = []
    stock_read = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda p: reads.append(p) or stock_read(p))
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert str(archive) not in reads

    # the correctness guard: a rewritten archive is re-read
    _write_zip(archive, ["_pydaemon_mod_a", "_pydaemon_mod_b"])
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1
    assert importlib.import_module("_pydaemon_mod_b").NAME == "_pydaemon_mod_b"
    monkeypatch.delitem(sys.modules, "_pydaemon_mod_b")


@needs_patch
def test_missing_archive_falls_back_to_stock(tmp_path, patched):
    archive = tmp_path / "gone.zip"
    _write_zip(archive, ["_pydaemon_mod_c"])
    importer = zipimport.zipimporter(str(archive))
    importer.invalidate_caches()
    assert importer.find_spec("_pydaemon_mod_c") is not None
    os.remove(archive)
    importer.invalidate_caches()  # stock: the directory is dropped
    assert importer.find_spec("_pydaemon_mod_c") is None


def test_install_is_a_no_op_on_312(monkeypatch):
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        pydaemon._stock_invalidate)
    monkeypatch.setattr(sys, "version_info", (3, 12, 0, "final", 0))
    assert not pydaemon.install()
    assert zipimport.zipimporter.invalidate_caches is pydaemon._stock_invalidate


def test_session_runs_the_package_daemon(spark):
    def worker_state(batches):  # nested: pickled by value, not by module
        import os as _os

        import pandas as pd

        from crego_document_extractor_spark import pydaemon as d
        for _ in batches:
            pass
        yield pd.DataFrame({"pid": [_os.getpid()], "active": [d.active()]})

    conf = spark.sparkContext.getConf()
    assert (conf.get("spark.python.daemon.module")
            == "crego_document_extractor_spark.pydaemon")
    assert _PACKAGE_ROOT in conf.get("spark.executorEnv.PYTHONPATH").split(
        os.pathsep)
    rows = (spark.range(0, 8, 1, 8)
            .mapInPandas(worker_state, "pid long, active boolean").collect())
    assert len(rows) == 8
    assert all(r["active"] for r in rows) == (sys.version_info < (3, 12))


def test_python_stage_runs_from_a_foreign_cwd(tmp_path):
    """Scripts put the package on the driver's sys.path only; the
    workers must still find the daemon module from any cwd."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {_PACKAGE_ROOT!r})
        from crego_document_extractor_spark.session import get_spark

        def double(batches):
            for b in batches:
                yield b * 2

        spark = get_spark(app_name="pydaemon-cwd", master="local[2]")
        print("SUM", spark.range(0, 10, 1, 2)
              .mapInPandas(double, "id long").agg({{"id": "sum"}}).first()[0])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    out = subprocess.run([sys.executable, "-c", script], cwd=str(tmp_path),
                         env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-4000:]
    assert "SUM 90" in out.stdout, out.stdout
