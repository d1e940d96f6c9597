"""The session's Python daemon (crypto_msg_parser_spark/pydaemon.py): a warm
worker re-reads a zip archive on sys.path only when it changed on disk."""

from __future__ import annotations

import importlib
import pathlib
import sys
import zipfile
import zipimport

import pytest

from crypto_msg_parser_spark import pydaemon
from crypto_msg_parser_spark.session import PACKAGE_ROOT

needs_eager_reread = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="zipimport re-reads lazily from Python 3.12"
)


def _write_zip(path, modules: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name, src in modules.items():
            z.writestr(f"{name}.py", src)


@needs_eager_reread
def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"zmod_a": "X = 1\n"})
    reads = []
    real_read = pydaemon._read
    monkeypatch.setattr(pydaemon, "_read", lambda imp: reads.append(imp.archive) or real_read(imp))
    monkeypatch.setattr(pydaemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", pydaemon.invalidate_caches)
    monkeypatch.syspath_prepend(str(archive))
    for mod in ("zmod_a", "zmod_b"):
        monkeypatch.delitem(sys.modules, mod, raising=False)
    import zmod_a

    assert zmod_a.X == 1
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 1

    _write_zip(archive, {"zmod_a": "X = 1\n", "zmod_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert reads.count(str(archive)) == 2
    import zmod_b

    assert zmod_b.Y == 2


@needs_eager_reread
def test_workers_run_the_session_daemon(spark):
    def probe(batches):
        import zipimport

        for b in batches:
            yield b.assign(mod=zipimport.zipimporter.invalidate_caches.__module__)

    rows = spark.range(0, 4, 1, 2).mapInPandas(probe, "id long, mod string").collect()
    assert {r.mod for r in rows} == {"crypto_msg_parser_spark.pydaemon"}


def test_local_mode_puts_the_package_root_on_the_workers_path(spark):
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.python.daemon.module") == "crypto_msg_parser_spark.pydaemon"
    assert conf.get("spark.executorEnv.PYTHONPATH") == PACKAGE_ROOT
    assert pathlib.Path(PACKAGE_ROOT, "crypto_msg_parser_spark", "pydaemon.py").is_file()
