"""The session's Python daemon (crypto_msg_parser_spark/pydaemon.py): a warm
worker re-reads a zip archive on sys.path only when it changed on disk.
The session's local FileSystem (crypto_msg_parser_spark/jvm/): a write
sets Hadoop's modes and keeps its checksums without forking a process."""

from __future__ import annotations

import importlib
import os
import pathlib
import shutil
import stat
import sys
import warnings
import zipfile
import zipimport

import pytest
from pyspark.sql import functions as F

from crypto_msg_parser_spark import pydaemon, session, sinks
from crypto_msg_parser_spark.session import NO_FORK_FS, PACKAGE_ROOT

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


needs_javac = pytest.mark.skipif(
    shutil.which("javac") is None,
    reason="javac is not on PATH: the session keeps Hadoop's stock FileSystem",
)


def _last_pid() -> int:
    """The last pid allocated (field 5 of /proc/loadavg): its change
    around a call counts the processes and threads the call started."""
    return int(pathlib.Path("/proc/loadavg").read_text().split()[4])


def _hadoop(spark):
    jvm = spark.sparkContext._jvm
    return jvm, jvm.org.apache.hadoop, spark.sparkContext._jsc.hadoopConfiguration()


@needs_javac
def test_local_mode_file_system_is_the_no_fork_one(spark):
    jvm, hadoop, conf = _hadoop(spark)
    fs = hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    assert fs.getClass().getName() == NO_FORK_FS
    assert fs.getRaw().getClass().getName() == f"{NO_FORK_FS}$Raw"
    fc = hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fc.getDefaultFileSystem().getClass().getName() == f"{NO_FORK_FS}$Fs"


@needs_javac
def test_set_permission_sets_the_mode_bits(spark, tmp_path):
    jvm, hadoop, conf = _hadoop(spark)
    fs = hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    f = tmp_path / "f"
    f.write_text("x")
    for mode in (0o640, 0o755):
        fs.setPermission(hadoop.fs.Path(str(f)), hadoop.fs.permission.FsPermission(mode))
        assert stat.S_IMODE(f.stat().st_mode) == mode
    # NIO cannot set the sticky bit, and would clear the set-group-id bit
    # a new directory inherits, which chmod(1) keeps: Hadoop's chmod runs
    d = tmp_path / "d"
    d.mkdir()
    fs.setPermission(hadoop.fs.Path(str(d)), hadoop.fs.permission.FsPermission(0o1755))
    assert stat.S_IMODE(d.stat().st_mode) == 0o1755
    d.chmod(0o2755)
    fs.mkdirs(hadoop.fs.Path(str(d / "sub")), hadoop.fs.permission.FsPermission(0o750))
    assert stat.S_IMODE((d / "sub").stat().st_mode) == 0o2750


@needs_javac
def test_link_status_of_a_symlink_is_hadoops(spark, tmp_path):
    jvm, hadoop, conf = _hadoop(spark)
    raw = hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf).getRaw()
    (tmp_path / "f").write_text("x")
    (tmp_path / "link").symlink_to(tmp_path / "f")
    plain = raw.getFileLinkStatus(hadoop.fs.Path(str(tmp_path / "f")))
    assert not plain.isSymlink() and plain.getLen() == 1
    link = raw.getFileLinkStatus(hadoop.fs.Path(str(tmp_path / "link")))
    assert link.isSymlink() and link.getSymlink().toUri().getPath() == str(tmp_path / "f")


@needs_javac
def test_lake_write_keeps_modes_and_checksums_and_forks_nothing(spark, tmp_path):
    """Modes are Hadoop's (0666/0777 under its umask, as chmod set them);
    every file keeps its .crc, the commit its _SUCCESS; and the write
    starts fewer processes and threads than it writes data files (with a
    chmod fork per file, .crc and directory it started ~14 a data file)."""
    _, hadoop, conf = _hadoop(spark)
    umask = hadoop.fs.permission.FsPermission.getUMask(conf).toShort()
    df = spark.range(0, 4000, 1, 40).select(
        F.lit("binance").alias("exchange"),
        F.lit("spot").alias("market_type"),
        F.when(F.col("id") % 2 == 0, "trade").otherwise("bbo").alias("msg_type"),
        (F.col("id") * 60_000 + 1_600_000_000_000).alias("timestamp"),
        F.col("id"),
    )
    lake = tmp_path / "lake"
    before = _last_pid()
    sinks.write_parquet_lake(df, str(lake))
    started = _last_pid() - before

    dirs = [lake, *(p for p in lake.rglob("*") if p.is_dir())]
    files = [p for p in lake.rglob("*") if p.is_file()]
    data = [p for p in files if p.suffix == ".parquet"]
    assert len(data) >= 40
    assert started < len(data), (started, len(data))
    assert {stat.S_IMODE(p.stat().st_mode) for p in dirs} == {0o777 & ~umask}
    assert {stat.S_IMODE(p.stat().st_mode) for p in files} == {0o666 & ~umask}
    assert (lake / "_SUCCESS").is_file()
    for p in files:
        if p.suffix != ".crc":
            assert (p.parent / f".{p.name}.crc").is_file(), p
    back = sinks.read_parquet_lake(spark, str(lake)).select(*df.columns)
    assert sorted(back.collect()) == sorted(df.collect())


def test_without_javac_the_session_keeps_the_stock_file_system(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(shutil, "which", lambda name: None)
    with warnings.catch_warnings(record=True) as caught:
        warnings.simplefilter("always")
        assert session._no_fork_fs_conf() == {}
    assert ["javac is not on PATH" in str(w.message) for w in caught] == [True]
    assert list(tmp_path.iterdir()) == []


@needs_javac
def test_no_fork_jar_is_built_once_per_source(tmp_path, monkeypatch):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    jar = session.no_fork_fs_jar()
    assert jar.startswith(str(tmp_path / "crypto_msg_parser_spark"))
    with zipfile.ZipFile(jar) as z:
        assert "crypto_msg_parser_spark/jvm/NoForkLocalFileSystem$Raw.class" in z.namelist()
    monkeypatch.setattr(shutil, "which", lambda name: None)  # no javac: no rebuild
    assert session.no_fork_fs_jar() == jar
    assert os.listdir(os.path.dirname(jar)) == ["no-fork-fs.jar"]
