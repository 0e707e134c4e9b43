"""The in-process local file system (``NioLocalFileSystem.java``), which
``session.build_session`` gives Hadoop's ``file:`` scheme, against the
stock classes it replaces: Hadoop's ``RawLocalFileSystem`` for the raw
layer and Hive's ``ProxyLocalFileSystem`` (what ``file:`` resolves to on
Spark's classpath) for the checksummed one. The stock classes are the
reference; every case runs on both and compares what the disk and the
returned statuses show."""

from __future__ import annotations

import os
import stat

import pytest
from py4j.protocol import Py4JJavaError

from streaming_etl_pipeline_spark import session


@pytest.fixture(scope="module")
def hadoop(spark):
    """(jvm, hadoop conf, the session's ``file:`` FileSystem, gateway)."""
    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    if fs.getClass().getName() != "sparkgraft.NioLocalFileSystem":
        assert session._javac() is None, "a JDK with javac must get the engine's file system"
        pytest.skip("no javac beside java: the session runs the stock file system")
    return jvm, conf, fs, spark.sparkContext._gateway


def _stock(hadoop, cls):
    jvm, conf = hadoop[:2]
    fs = cls()
    fs.initialize(jvm.java.net.URI("file:///"), conf)
    return fs


@pytest.fixture()
def raws(hadoop):
    """name -> raw FileSystem: the engine's and Hadoop's."""
    jvm = hadoop[0]
    return {
        "engine": hadoop[2].getRawFileSystem(),
        "stock": _stock(hadoop, jvm.org.apache.hadoop.fs.RawLocalFileSystem),
    }


def _mode(path: str) -> int:
    return stat.S_IMODE(os.lstat(path).st_mode)


def _modes(root: str) -> dict[str, int]:
    out = {}
    for dirpath, dirnames, filenames in os.walk(root):
        for name in dirnames + filenames:
            full = os.path.join(dirpath, name)
            out[os.path.relpath(full, root)] = _mode(full)
    return out


def test_permission_bits_after_create_mkdirs_and_set_match_stock(hadoop, raws, tmp_path):
    jvm = hadoop[0]
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    seen = {}
    for name, fs in raws.items():
        root = str(tmp_path / name)
        fs.create(Path(root + "/a/b/file")).close()  # creates a/ and a/b/ too
        fs.mkdirs(Path(root + "/d/e"))
        fs.mkdirs(Path(root + "/private"), FsPermission("700"))
        fs.create(Path(root + "/secret"), FsPermission("600"), False, 4096, 1, 1 << 27, None).close()
        for mode in ("640", "755", "1777"):
            fs.mkdirs(Path(f"{root}/set{mode}"))
            fs.setPermission(Path(f"{root}/set{mode}"), FsPermission(mode))
        seen[name] = _modes(root)
    assert seen["engine"] == seen["stock"]
    assert seen["engine"]["a/b/file"] == 0o644
    assert seen["engine"]["d/e"] == 0o755
    assert seen["engine"]["secret"] == 0o600
    assert seen["engine"]["private"] == 0o700


def test_sticky_mode_falls_back_to_the_parent(hadoop, raws, tmp_path):
    """java.nio cannot set the sticky bit; the parent's chmod does."""
    jvm = hadoop[0]
    target = tmp_path / "sticky"
    target.mkdir()
    raws["engine"].setPermission(
        jvm.org.apache.hadoop.fs.Path(str(target)),
        jvm.org.apache.hadoop.fs.permission.FsPermission("1755"),
    )
    assert _mode(str(target)) == 0o1755


def _link_status(fs, path):
    """What ``getFileLinkStatus`` returns, as plain values, or the class
    of the exception it raises."""
    try:
        st = fs.getFileLinkStatus(path)
    except Py4JJavaError as err:
        return err.java_exception.getClass().getName()
    return (
        st.getPath().toString(),
        st.isSymlink(),
        st.isFile(),
        st.isDirectory(),
        st.getLen(),
        st.getSymlink().toString() if st.isSymlink() else None,
        st.getModificationTime(),
    )


def test_file_link_status_matches_stock(hadoop, raws, tmp_path):
    jvm = hadoop[0]
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "file").write_text("twelve bytes")
    (tmp_path / "dir").mkdir()
    os.symlink(str(tmp_path / "file"), tmp_path / "link")
    os.symlink("file", tmp_path / "relative-link")
    os.symlink(str(tmp_path / "gone"), tmp_path / "dangling")
    cases = ("file", "dir", "missing", "link", "relative-link", "dangling")
    seen = {}
    for name, fs in raws.items():
        seen[name] = {
            (case, form): _link_status(fs, Path(form + str(tmp_path / case)))
            for case in cases
            for form in ("", "file:")
        }
    assert seen["engine"] == seen["stock"]
    got = seen["engine"]
    link = got[("link", "")]
    assert link[1] and link[5] == "file:" + str(tmp_path / "file")
    assert got[("relative-link", "")][5] == "file:" + str(tmp_path / "file")
    assert got[("dangling", "")][1]
    assert got[("missing", "")] == "java.io.FileNotFoundException"
    # like the parent, a qualified path is read as the link's target
    assert not got[("link", "file:")][1]
    assert got[("dangling", "file:")] == "java.io.FileNotFoundException"


def test_checksums_and_rename_rule_match_stock(hadoop, tmp_path):
    """Both APIs still write ``.crc`` files; a FileSystem rename onto an
    existing file returns false and moves nothing (Hive's rule), and a
    FileContext rename without overwrite raises."""
    jvm, conf, fs, gateway = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    stock = _stock(hadoop, jvm.org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem)
    for name, fsys in (("engine", fs), ("stock", stock)):
        root = tmp_path / name
        for f in ("a", "b"):
            out = fsys.create(Path(str(root / f)))
            out.write(bytearray(f.encode() * 3))
            out.close()
        assert sorted(os.listdir(root)) == [".a.crc", ".b.crc", "a", "b"]
        assert fsys.rename(Path(str(root / "a")), Path(str(root / "b"))) is False
        assert (root / "a").read_text() == "aaa" and (root / "b").read_text() == "bbb"
        assert fsys.rename(Path(str(root / "a")), Path(str(root / "c"))) is True
        assert sorted(os.listdir(root)) == [".b.crc", ".c.crc", "b", "c"]

    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    stock_conf.set("fs.AbstractFileSystem.file.impl", "org.apache.hadoop.fs.local.LocalFs")
    contexts = {
        "engine": jvm.org.apache.hadoop.fs.FileContext.getFileContext(conf),
        "stock": jvm.org.apache.hadoop.fs.FileContext.getFileContext(stock_conf),
    }
    assert contexts["engine"].getDefaultFileSystem().getClass().getName() == (
        "sparkgraft.NioLocalFileSystem$Fs"
    )
    no_opts = gateway.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 0)
    keep = gateway.new_array(jvm.org.apache.hadoop.fs.Options.Rename, 1)
    keep[0] = jvm.org.apache.hadoop.fs.Options.Rename.NONE
    for name, fc in contexts.items():
        root = tmp_path / ("fc-" + name)
        root.mkdir()
        for f in ("a", "b"):
            fc.create(
                Path(str(root / f)),
                jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE),
                no_opts,
            ).close()
        assert sorted(os.listdir(root)) == [".a.crc", ".b.crc", "a", "b"]
        with pytest.raises(Py4JJavaError) as err:
            fc.rename(Path(str(root / "a")), Path(str(root / "b")), keep)
        assert err.value.java_exception.getClass().getName() == (
            "org.apache.hadoop.fs.FileAlreadyExistsException"
        )
        fc.rename(Path(str(root / "a")), Path(str(root / "c")), keep)
        assert sorted(os.listdir(root)) == [".b.crc", ".c.crc", "b", "c"]
