"""The ``file:`` file system of sessions ``get_spark`` launches sets
permissions in-process (``session.NIO_LOCAL_FS``) with the same mode
bits as Hadoop's stock local file system, which forks ``chmod``."""

from __future__ import annotations

import os
import subprocess

import pytest

from cs422pp_mapreduce_spark import session as S

MODES = (0o644, 0o600, 0o755, 0o700, 0o777)

needs_javac = pytest.mark.skipif(
    S._javac() is None, reason="no javac: sessions keep the stock class"
)


def _mode(path) -> int:
    return os.stat(path).st_mode & 0o7777


@pytest.fixture()
def hadoop(spark):
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    stock = jvm.org.apache.hadoop.fs.RawLocalFileSystem()
    stock.initialize(jvm.java.net.URI("file:///"), conf)
    return {
        "fs": jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf),
        # the stock pair: LocalFileSystem over the forking raw system
        "stock": jvm.org.apache.hadoop.fs.LocalFileSystem(stock),
        "Path": jvm.org.apache.hadoop.fs.Path,
        "perm": jvm.org.apache.hadoop.fs.permission.FsPermission,
    }


@needs_javac
def test_session_file_system_is_the_engines(hadoop):
    fs = hadoop["fs"]
    assert fs.getClass().getName() == S.NIO_LOCAL_FS
    assert fs.getRaw().getClass().getName() == S.NIO_LOCAL_FS + "$Raw"


@needs_javac
@pytest.mark.parametrize("mode", MODES, ids=oct)
def test_mode_bits_match_stock(hadoop, tmp_path, mode):
    """create and mkdirs apply the session umask, setPermission does
    not; each must leave the mode the stock system leaves."""
    P, perm = hadoop["Path"], hadoop["perm"]
    for side in ("fs", "stock"):
        fs, d = hadoop[side], tmp_path / side
        d.mkdir()
        fs.create(P(str(d / "file")), perm(mode), True, 4096, 1, 1 << 20,
                  None).close()
        fs.mkdirs(P(str(d / "dir")), perm(mode))
        (d / "set").touch()
        fs.setPermission(P(str(d / "set")), perm(mode))
    for name in ("file", ".file.crc", "dir", "set"):
        assert _mode(tmp_path / "fs" / name) == _mode(tmp_path / "stock" / name), name
    assert _mode(tmp_path / "fs" / "set") == mode


@needs_javac
def test_sticky_bit_falls_back_to_chmod(hadoop, tmp_path):
    d = tmp_path / "shared"
    d.mkdir()
    hadoop["fs"].setPermission(hadoop["Path"](str(d)), hadoop["perm"](0o1777))
    assert _mode(d) == 0o1777


def _fake_javac(calls):
    def run(cmd, **kw):
        calls.append(cmd)
        out = cmd[cmd.index("-d") + 1]
        pkg = os.path.join(out, "cs422pp_mapreduce_spark", "jvm")
        os.makedirs(pkg)
        open(os.path.join(pkg, "NioLocalFileSystem.class"), "wb").close()
        return subprocess.CompletedProcess(cmd, 0)

    return run


def test_compile_is_cached_by_source_digest(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(S, "_javac", lambda: "javac")
    calls = []
    monkeypatch.setattr(subprocess, "run", _fake_javac(calls))
    first = S.nio_local_fs_classes()
    assert S.nio_local_fs_classes() == first
    assert len(calls) == 1 and calls[0][0] == "javac"
    assert first.startswith(str(tmp_path))
    assert os.path.isfile(
        os.path.join(first, "cs422pp_mapreduce_spark", "jvm",
                     "NioLocalFileSystem.class"))
    # only the finished directory is left, no temporary sibling
    assert os.listdir(os.path.dirname(first)) == [os.path.basename(first)]


def test_concurrent_compile_keeps_the_winners_directory(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(S, "_javac", lambda: "javac")
    fake = _fake_javac([])

    def racing(cmd, **kw):
        done = fake(cmd, **kw)
        # another process renames its directory into place first
        tmp = cmd[cmd.index("-d") + 1]
        digest = os.path.basename(tmp)[1:].split("-")[0]
        os.makedirs(os.path.join(os.path.dirname(tmp), digest, "theirs"))
        return done

    monkeypatch.setattr(subprocess, "run", racing)
    out = S.nio_local_fs_classes()
    assert os.listdir(out) == ["theirs"]
    assert os.listdir(os.path.dirname(out)) == [os.path.basename(out)]


def test_without_javac_the_builder_keeps_the_stock_class(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.delenv("JAVA_HOME", raising=False)
    monkeypatch.setenv("PATH", str(tmp_path))
    assert S.nio_local_fs_classes() is None
    assert "spark.hadoop.fs.file.impl" not in S._local_fs_confs()


def test_failed_compile_keeps_the_stock_class(monkeypatch, tmp_path):
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    monkeypatch.setattr(S, "_javac", lambda: "javac")
    monkeypatch.setattr(subprocess, "run",
                        lambda cmd, **kw: subprocess.CompletedProcess(cmd, 1))
    assert S.nio_local_fs_classes() is None
    assert os.listdir(tmp_path / "spark-graft" / "jvm") == []


def test_unwritable_cache_keeps_the_stock_class(monkeypatch, tmp_path):
    (tmp_path / "file").touch()
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "file"))
    monkeypatch.setattr(S, "_javac", lambda: "javac")
    assert S.nio_local_fs_classes() is None


def test_runtime_confs_never_name_the_class():
    """An externally built session applies RUNTIME_CONFS to a JVM that
    cannot load the class; pointing fs.file.impl at it there would
    break every file read."""
    for k, v in S.RUNTIME_CONFS.items():
        assert "fs.file.impl" not in k and "extraClassPath" not in k
        assert S.NIO_LOCAL_FS not in v


@needs_javac
def test_rename_never_replaces_a_file(hadoop, tmp_path):
    """As HDFS and the default it replaces (Hive's ProxyLocalFileSystem,
    registered by Spark's distribution): a rename onto an existing file
    returns false and leaves both files alone."""
    fs, P = hadoop["fs"], hadoop["Path"]
    (tmp_path / "a").write_text("a")
    (tmp_path / "b").write_text("b")
    assert not fs.rename(P(str(tmp_path / "a")), P(str(tmp_path / "b")))
    assert (tmp_path / "a").read_text() == "a"
    assert (tmp_path / "b").read_text() == "b"
    assert fs.rename(P(str(tmp_path / "a")), P(str(tmp_path / "c")))
    assert (tmp_path / "c").read_text() == "a" and not (tmp_path / "a").exists()
