"""The package's local filesystem (ForkFreeLocalFs.java) against stock
Hadoop on the same temp tree: the same modes after create, mkdirs and
setPermission, the same link status for every kind of path, the same
checksum files; and a fresh get_spark JVM that runs a stateful stream
with a parquet sink starts no chmod or readlink process."""

from __future__ import annotations

import logging
import os
import shutil
import subprocess
import sys
import zipfile

import pytest
from py4j.protocol import Py4JJavaError

from adenhq_hive_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def hadoop(spark):
    jvm = spark.sparkContext._jvm
    return jvm, spark.sparkContext._jsc.hadoopConfiguration()


def _raw_pair(hadoop, umask=None):
    """(stock RawLocalFileSystem, package Raw), both initialized on a
    copy of the session's Hadoop conf, with ``umask`` set if given."""
    jvm, base = hadoop
    conf = jvm.org.apache.hadoop.conf.Configuration(base)
    if umask is not None:
        conf.set("fs.permissions.umask-mode", umask)
    uri = jvm.java.net.URI("file:///")
    pair = (jvm.org.apache.hadoop.fs.RawLocalFileSystem(),
            getattr(jvm.adenhq_hive_spark, "ForkFreeLocalFs$Raw")())
    for fs in pair:  # setConf as FileSystem.get does: the umask is read from it
        fs.setConf(conf)
        fs.initialize(uri, conf)
    return pair


def _mode(path) -> int:
    return os.stat(path).st_mode & 0o7777


@pytest.mark.parametrize("umask", [None, "077", "002"])
def test_create_and_mkdirs_leave_the_stock_modes(hadoop, tmp_path, umask):
    """None keeps Hadoop's default umask 022, which is also the usual
    process umask; 077 and 002 differ from that, so a mode that was
    never set would show."""
    jvm, _ = hadoop
    modes = []
    for name, fs in zip(("stock", "pkg"), _raw_pair(hadoop, umask)):
        root = tmp_path / name
        fs.create(jvm.org.apache.hadoop.fs.Path(f"file:{root}/d/f")).close()
        fs.mkdirs(jvm.org.apache.hadoop.fs.Path(f"file:{root}/e/g"),
                  jvm.org.apache.hadoop.fs.permission.FsPermission(0o777))
        modes.append([_mode(root / p) for p in ("d", "d/f", "e", "e/g")])
    assert modes[0] == modes[1]
    if umask == "077":
        assert modes[1] == [0o700, 0o600, 0o700, 0o700]


@pytest.mark.parametrize("mode", [0o600, 0o750, 0o1777])
def test_set_permission_matches_stock(hadoop, tmp_path, mode):
    """1777 has the sticky bit, which the JVM cannot set: the package
    takes stock Hadoop's chmod, so the bit is there on both sides."""
    jvm, _ = hadoop
    got = []
    for name, fs in zip(("stock", "pkg"), _raw_pair(hadoop)):
        d = tmp_path / name
        d.mkdir()
        (d / "f").write_text("x")
        for p in (d, d / "f"):
            fs.setPermission(jvm.org.apache.hadoop.fs.Path(f"file:{p}"),
                             jvm.org.apache.hadoop.fs.permission.FsPermission(mode))
        got.append((_mode(d), _mode(d / "f")))
    assert got[0] == got[1]
    assert got[1][0] == mode


def _link_status(fs, path):
    try:
        return fs.getFileLinkStatus(path).toString()
    except Py4JJavaError as exc:
        return exc.java_exception.getClass().getName()


@pytest.mark.parametrize("qualified", [True, False])
@pytest.mark.parametrize("kind", ["file", "dir", "symlink", "dangling", "missing"])
def test_file_link_status_matches_stock(hadoop, tmp_path, kind, qualified):
    """Bare paths see links; a file:-qualified one does not, on either
    side: stock Hadoop hands readlink the string file:/..., which names
    no file, and reads the failure as "not a link"."""
    jvm, _ = hadoop
    (tmp_path / "file").write_text("abc")
    (tmp_path / "dir").mkdir()
    os.symlink(tmp_path / "file", tmp_path / "symlink")
    os.symlink(tmp_path / "gone", tmp_path / "dangling")
    path = jvm.org.apache.hadoop.fs.Path(f"{'file:' if qualified else ''}{tmp_path / kind}")
    stock, pkg = (_link_status(fs, path) for fs in _raw_pair(hadoop))
    assert stock == pkg
    if kind == "missing" or (kind == "dangling" and qualified):
        assert pkg == "java.io.FileNotFoundException"
    else:
        assert ("isSymlink=true" in pkg) == (kind in ("symlink", "dangling") and not qualified)


def _checksummed_pair(hadoop):
    """(the file: FileSystem a session resolves without the package keys,
    the package's): both unique instances, not the cached one."""
    jvm, conf = hadoop
    uri = jvm.java.net.URI("file:///")
    stock = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, jvm.org.apache.hadoop.conf.Configuration())
    return stock, jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, conf)


def test_get_local_casts_and_the_wrapper_keeps_checksums(hadoop, tmp_path):
    jvm, conf = hadoop
    fs = jvm.org.apache.hadoop.fs.FileSystem.getLocal(conf)  # casts to LocalFileSystem
    assert fs.getClass().getName() == "adenhq_hive_spark.ForkFreeLocalFs$Local"
    assert fs.getRaw().getClass().getName() == "adenhq_hive_spark.ForkFreeLocalFs$Raw"
    listings = []
    for name, local in zip(("stock", "pkg"), _checksummed_pair(hadoop)):
        out = local.create(jvm.org.apache.hadoop.fs.Path(f"file:{tmp_path / name}/part"))
        out.write(b"payload")
        out.close()
        listings.append(sorted(os.listdir(tmp_path / name)))
    assert listings[0] == listings[1] == [".part.crc", "part"]


@pytest.mark.parametrize("dst", ["absent", "file", "dir"])
def test_rename_matches_the_stock_session(hadoop, tmp_path, dst):
    """pyspark's hive-exec jar registers Hive's ProxyLocalFileSystem for
    file:, whose rename onto an existing file returns false (as HDFS's
    does) where Hadoop's LocalFileSystem would replace the file."""
    jvm, _ = hadoop
    results = []
    for name, fs in zip(("stock", "pkg"), _checksummed_pair(hadoop)):
        root = tmp_path / name
        root.mkdir()
        for f in ("src", "file"):
            out = fs.create(jvm.org.apache.hadoop.fs.Path(f"file:{root}/{f}"))
            out.write(f.encode())
            out.close()
        (root / "dir").mkdir()
        moved = fs.rename(jvm.org.apache.hadoop.fs.Path(f"file:{root}/src"),
                          jvm.org.apache.hadoop.fs.Path(f"file:{root}/{dst}"))
        results.append((fs.getClass().getName(), moved,
                        sorted(str(p.relative_to(root)) for p in root.rglob("*"))))
    assert results[0][0] == "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem"
    assert results[0][1:] == results[1][1:]
    assert results[1][1] == (dst != "file")


def test_classes_compile_once_per_source_and_need_javac(monkeypatch, tmp_path, caplog):
    """The first build compiles into a keyed jar that later builds reuse
    without javac; with no javac and nothing built, one warning and no
    jar (get_spark then drops the fs.*file.impl keys)."""
    monkeypatch.setattr(session, "_JVM_BUILD", str(tmp_path / "build"))
    built = session.local_fs_jar.__wrapped__()
    with zipfile.ZipFile(built) as jar:
        assert "adenhq_hive_spark/ForkFreeLocalFs$Raw.class" in jar.namelist()
    assert os.listdir(tmp_path / "build") == [os.path.basename(built)]
    monkeypatch.setattr(shutil, "which", lambda *args, **kwargs: None)
    assert session.local_fs_jar.__wrapped__() == built
    os.remove(built)
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.local_fs_jar.__wrapped__() is None
    assert [r.getMessage().rsplit(": ", 1)[1] for r in caplog.records] == [
        "no javac on PATH"]


# A two-micro-batch stateful aggregation whose foreachBatch writes parquet:
# offsets, commits and state files go through FileContext renames, the
# sink through FileSystem creates and mkdirs.
_STREAM = r"""
import json, sys
from adenhq_hive_spark.session import get_spark

root = sys.argv[1]
spark = get_spark("fork-census")
for i in range(2):
    with open(f"{root}/src/{i}.json", "w") as fh:
        fh.writelines(json.dumps({"k": j % 3}) + "\n" for j in range(10))
q = (spark.readStream.schema("k long").option("maxFilesPerTrigger", 1).json(f"{root}/src")
     .groupBy("k").count().writeStream.outputMode("update")
     .foreachBatch(lambda df, epoch: df.write.mode("append").parquet(f"{root}/out"))
     .option("checkpointLocation", f"{root}/ckpt").trigger(availableNow=True).start())
q.awaitTermination()
print(len(q.recentProgress), spark.read.parquet(f"{root}/out").count())
"""


def test_stateful_stream_starts_no_chmod_or_readlink(tmp_path):
    """Every chmod or readlink the JVM starts is recorded by a shim put
    first on PATH; a fresh get_spark JVM must start none."""
    shims, log = tmp_path / "shims", tmp_path / "forks.log"
    shims.mkdir()
    for cmd in ("chmod", "readlink"):
        real = shutil.which(cmd)
        (shims / cmd).write_text(f'#!/bin/sh\necho "{cmd} $*" >> "{log}"\nexec {real} "$@"\n')
        os.chmod(shims / cmd, 0o755)
    (tmp_path / "src").mkdir()
    env = dict(os.environ, PATH=f"{shims}{os.pathsep}{os.environ['PATH']}",
               PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
               PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_CPUS="2",
               SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_OFFHEAP="0")
    done = subprocess.run([sys.executable, "-c", _STREAM, str(tmp_path)], env=env,
                          capture_output=True, text=True, timeout=600)
    assert done.returncode == 0, done.stderr[-3000:]
    assert done.stdout.split()[-2:] == ["2", "6"]  # 2 micro-batches, 3 keys each
    assert not log.exists(), log.read_text()[:2000]
