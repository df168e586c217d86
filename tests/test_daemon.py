"""The Python worker daemon (:mod:`bytewax_spark._daemon`): an archive's
zip directory is re-read only when the archive changes."""

from __future__ import annotations

import importlib
import os
import sys
import zipfile
import zipimport

import pandas as pd
import pytest

from bytewax_spark import _daemon


def _write_zip(path, modules: dict[str, str]) -> None:
    tmp = f"{path}.tmp"
    with zipfile.ZipFile(tmp, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new inode, like a redeployed archive


def test_zip_directory_reread_only_on_change(tmp_path, monkeypatch):
    original = zipimport.zipimporter.invalidate_caches
    # restored at teardown: install() patches the class in place
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", original)
    if sys.version_info >= (3, 13):
        _daemon.install()
        assert zipimport.zipimporter.invalidate_caches is original
        return

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, {"bw_daemon_zmod_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("bw_daemon_zmod_a", "bw_daemon_zmod_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("bw_daemon_zmod_a").X == 1

    _daemon.install()
    reads: list[str] = []
    read_directory = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory", lambda p: reads.append(p) or read_directory(p))
    importlib.invalidate_caches()
    reads.clear()
    importlib.invalidate_caches()
    assert reads == []

    _write_zip(archive, {"bw_daemon_zmod_a": "X = 1\n", "bw_daemon_zmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads == [archive]
    assert importlib.import_module("bw_daemon_zmod_b").Y == 2


def test_python_workers_run_the_gated_invalidation(spark):
    if not spark.sparkContext.master.startswith("local"):
        pytest.skip("the daemon is set for local sessions only")

    def report(batches):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            yield pd.DataFrame({"src": [fn.__code__.co_filename]})

    got = {r["src"] for r in spark.range(2).repartition(2).mapInPandas(report, "src string").collect()}
    if sys.version_info >= (3, 13):
        assert got == {"<frozen zipimport>"}
    else:
        assert {os.path.basename(s) for s in got} == {"_daemon.py"}


def test_daemon_skipped_when_workers_import_another_copy(tmp_path, monkeypatch):
    from bytewax_spark.session import _workers_find_daemon

    monkeypatch.chdir(tmp_path)
    assert _workers_find_daemon()
    (tmp_path / "bytewax_spark").mkdir()
    assert not _workers_find_daemon()  # an older copy, without the module
    (tmp_path / "bytewax_spark" / "_daemon.py").write_text("")
    assert _workers_find_daemon()
