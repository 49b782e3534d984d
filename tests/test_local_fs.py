"""The in-process local filesystem (``InProcessLocalFileSystem.java``).

Live tests compare the session's ``file:`` FileSystem and FileContext with
Hadoop's stock ones, opened side by side in the same JVM: same modes, same
rename rule, same link status, checksums still written and verified. The
launch-rule tests need no JVM.
"""

import datetime as dt
import logging
import os
import stat

import pytest
from pyspark.sql import Row

from bytewax_iceberg_connector_spark import session
from bytewax_iceberg_connector_spark.config import IcebergSinkConfig
from bytewax_iceberg_connector_spark.operators.sink import LakeSink

needs_javac = pytest.mark.skipif(session._javac() is None,
                                 reason="no javac: the stock filesystem runs")

_FC_IMPL = "fs.AbstractFileSystem.file.impl"


@pytest.fixture()
def hadoop(spark):
    """(jvm, helper FileSystem, stock FileSystem, helper FileContext,
    stock FileContext) for ``file:``."""
    jvm = spark._jvm
    uri = jvm.java.net.URI("file:///")
    conf = spark._jsc.hadoopConfiguration()
    stock_conf = jvm.org.apache.hadoop.conf.Configuration(conf)
    # without fs.file.impl Hadoop picks the ServiceLoader's registration
    stock_conf.unset("fs.file.impl")
    stock_conf.set(_FC_IMPL, "org.apache.hadoop.fs.local.LocalFs")
    fs_cls = jvm.org.apache.hadoop.fs.FileSystem
    fc_cls = jvm.org.apache.hadoop.fs.FileContext
    stock = fs_cls.newInstance(uri, stock_conf)  # uncached: close it
    yield (jvm, fs_cls.get(uri, conf), stock,
           fc_cls.getFileContext(uri, conf),
           fc_cls.getFileContext(uri, stock_conf))
    stock.close()


def _mode(path):
    return stat.S_IMODE(os.stat(path).st_mode)


@needs_javac
def test_session_runs_the_in_process_filesystem(spark, hadoop):
    """The test session has both classes live: a silent fallback to the
    stock filesystem fails here on any machine with a JDK."""
    _, fs, stock, fc, _ = hadoop
    assert fs.getClass().getName() == session._FS_CLASS
    assert (fc.getDefaultFileSystem().getClass().getName()
            == f"{session._FS_CLASS}$Context")
    assert stock.getClass().getName() != session._FS_CLASS


@needs_javac
def test_modes_match_the_stock_filesystem(hadoop, tmp_path):
    jvm, fs, stock, _, _ = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    FsPermission = jvm.org.apache.hadoop.fs.permission.FsPermission
    modes = {}
    for side, f in (("helper", fs), ("stock", stock)):
        base = tmp_path / side
        f.mkdirs(Path(str(base / "d_default")))
        f.mkdirs(Path(str(base / "d_750")), FsPermission("750"))
        f.create(Path(str(base / "f_default"))).close()
        f.create(Path(str(base / "f_640")), FsPermission("640"), True,
                 4096, 1, 1 << 25, None).close()
        f.create(Path(str(base / "f_set"))).close()
        f.setPermission(Path(str(base / "f_set")), FsPermission("604"))
        f.mkdirs(Path(str(base / "d_set")))
        f.setPermission(Path(str(base / "d_set")), FsPermission("711"))
        f.mkdirs(Path(str(base / "d_sticky")))
        f.setPermission(Path(str(base / "d_sticky")), FsPermission("1777"))
        modes[side] = {
            n: _mode(base / n)
            for n in ("d_default", "d_750", "f_default", "f_640", "f_set",
                      "d_set", "d_sticky")
        }
    assert modes["helper"] == modes["stock"]
    assert modes["helper"]["f_set"] == 0o604
    assert modes["helper"]["d_set"] == 0o711
    assert modes["helper"]["d_sticky"] & stat.S_ISVTX
    # checksummed creates leave a .crc sidecar with the same mode
    assert _mode(tmp_path / "helper" / ".f_640.crc") == \
        _mode(tmp_path / "stock" / ".f_640.crc")


@needs_javac
def test_rename_onto_an_existing_file_returns_false(hadoop, tmp_path):
    jvm, fs, _, _, _ = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "a").write_text("a")
    (tmp_path / "b").write_text("b")
    assert not fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "b")))
    assert (tmp_path / "a").read_text() == "a"
    assert (tmp_path / "b").read_text() == "b"
    assert fs.rename(Path(str(tmp_path / "a")), Path(str(tmp_path / "c")))
    assert (tmp_path / "c").read_text() == "a"


@needs_javac
def test_link_status_matches_the_stock_filesystem(hadoop, tmp_path):
    jvm, fs, stock, fc, stock_fc = hadoop
    Path = jvm.org.apache.hadoop.fs.Path
    (tmp_path / "target").write_text("x")
    os.symlink(tmp_path / "target", tmp_path / "link")
    assert fs.getFileLinkStatus(Path(str(tmp_path / "link"))).isSymlink()
    for name in ("target", "link"):
        for path in (str(tmp_path / name), f"file://{tmp_path / name}"):
            for ours, theirs in ((fs, stock), (fc, stock_fc)):
                a = ours.getFileLinkStatus(Path(path))
                b = theirs.getFileLinkStatus(Path(path))
                assert (a.isSymlink(), a.isFile(), a.getLen()) == \
                    (b.isSymlink(), b.isFile(), b.getLen()), (name, path)


@needs_javac
def test_sink_files_keep_checksums(spark, tmp_path):
    """Data files still get .crc sidecars, and a flipped byte in a committed
    data file fails a full-column read with Hadoop's ChecksumException."""
    sink = LakeSink(spark, IcebergSinkConfig(
        table_name="db.crc", warehouse_path=str(tmp_path), num_partitions=1))
    sink.append(spark.createDataFrame([
        Row(id=i, ts=dt.datetime(2024, 1, 1), s=f"row {i}" * 5)
        for i in range(200)
    ]))
    data = [os.path.join(root, fn)
            for root, _dirs, files in os.walk(tmp_path)
            for fn in files if fn.endswith(".parquet")]
    assert data
    for path in data:
        assert os.path.exists(os.path.join(
            os.path.dirname(path), f".{os.path.basename(path)}.crc"))
    assert sink.read().toArrow().num_rows == 200
    with open(data[0], "r+b") as f:
        f.seek(os.path.getsize(data[0]) // 2)
        b = f.read(1)
        f.seek(-1, os.SEEK_CUR)
        f.write(bytes([b[0] ^ 0xFF]))
    with pytest.raises(Exception, match="ChecksumException"):
        sink.read().toArrow()


# -- the launch rule, without a JVM -----------------------------------------

_FS_KEYS = ("spark.hadoop.fs.file.impl", f"spark.hadoop.{_FC_IMPL}")


def test_launch_conf_without_javac_warns_once(monkeypatch, caplog):
    monkeypatch.setattr(session, "_javac", lambda: None)
    monkeypatch.setattr(session, "_fs_warned", False)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        for _ in range(2):
            conf = session._launch_conf({}, jvm_running=False)
            assert not set(_FS_KEYS) & conf.keys()
            assert "spark.driver.extraClassPath" not in conf
    assert len(caplog.records) == 1
    assert "javac" in caplog.records[0].getMessage()


def test_launch_conf_with_a_running_jvm_adds_nothing(monkeypatch, caplog):
    def no_build():
        raise AssertionError("the helper jar is not needed")

    monkeypatch.setattr(session, "_local_fs_jar", no_build)
    monkeypatch.setattr(session, "_fs_warned", False)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        conf = session._launch_conf({"a": "b"}, jvm_running=True)
    assert not set(_FS_KEYS) & conf.keys()
    assert conf["a"] == "b"
    assert len(caplog.records) == 1


def test_launch_conf_joins_the_callers_classpath(monkeypatch):
    monkeypatch.setattr(session, "_local_fs_jar", lambda: "/x/helper.jar")
    conf = session._launch_conf(
        {"spark.driver.extraClassPath": "/y/user.jar"}, jvm_running=False)
    assert conf["spark.driver.extraClassPath"] == \
        os.pathsep.join(["/y/user.jar", "/x/helper.jar"])
    assert conf["spark.executor.extraClassPath"] == "/x/helper.jar"
    assert conf["spark.hadoop.fs.file.impl"] == session._FS_CLASS
    assert conf[f"spark.hadoop.{_FC_IMPL}"] == f"{session._FS_CLASS}$Context"
    # the caller's other confs and the engine defaults are all there
    assert conf["spark.sql.session.timeZone"] == "UTC"
