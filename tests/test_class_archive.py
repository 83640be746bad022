"""The class-data archive get_spark keeps per launch key, each JVM fresh
and pointed at a temp archive directory: two concurrent first sessions
record their classes and publish one archive at exit, with no process
left running and their stdout their own; a later session maps it; and an
archive the JVM rejects is reported once, deleted and rebuilt. Without a
JVM: what the archive's key covers, and the conf directory a launch
gets."""

from __future__ import annotations

import logging
import os
import subprocess
import sys

import pytest

from adenhq_hive_spark import session

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: archive directory, class-load log, further driver Java options.
# The log names where each class came from: "source: shared objects file"
# for one read from an archive.
_SESSION = r"""
import sys
from adenhq_hive_spark import session

session._CDS_DIR = sys.argv[1]
spark = session.get_spark("class-archive", **{
    "spark.driver.extraJavaOptions": " ".join([f"-Xlog:class+load=info:file={sys.argv[2]}",
                                               *sys.argv[3:]])})
print(spark.range(10).selectExpr("sum(id)").first()[0])
"""
_ENV = dict(os.environ, PYTHONPATH=os.pathsep.join(p for p in (REPO, os.environ.get("PYTHONPATH")) if p),
            PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_CPUS="2",
            SPARK_GRAFT_DRIVER_MEM="1g", SPARK_GRAFT_OFFHEAP="0")
_WARNING = "the JVM did not start with the class-data archive"


def _popen(cds, log, *java_options, script=_SESSION) -> subprocess.Popen:
    return subprocess.Popen([sys.executable, "-c", script, str(cds), str(log), *java_options],
                            env=_ENV, cwd=os.path.dirname(log),
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)


def _finish(proc: subprocess.Popen) -> str:
    """The session's stderr, after checking that it exited cleanly and
    that its last stdout line is its own result."""
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-3000:]
    assert out.splitlines()[-1] == "45"
    return err


def _mapped(log) -> bool:
    with open(log) as fh:
        line = next(x for x in fh if " org.apache.spark.SparkContext source: " in x)
    return line.rstrip().endswith("source: shared objects file")


def _running(path) -> list[str]:
    """Command lines of live processes that name ``path``."""
    found = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                cmd = fh.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if str(path) in cmd:
            found.append(cmd)
    return found


@pytest.fixture(scope="module")
def first_pair(tmp_path_factory):
    """(archive directory, class-load logs, stderrs) of two first
    sessions started together on an empty archive directory."""
    root = tmp_path_factory.mktemp("cds")
    cds = root / "archives"
    logs = [root / f"first{i}.log" for i in range(2)]
    procs = [_popen(cds, log) for log in logs]
    return cds, logs, [_finish(p) for p in procs]


def test_concurrent_first_sessions_publish_one_archive(first_pair, tmp_path):
    """Both record instead of mapping; at exit one archive remains, with
    no class list, temp dump or dumping process left behind, and it maps."""
    cds, logs, errs = first_pair
    assert not any(_mapped(log) for log in logs)
    assert not any(_WARNING in err for err in errs)
    assert _running(cds) == []
    names = os.listdir(cds)
    assert len(names) == 1 and names[0].endswith(".jsa"), names
    proc = _popen(cds, tmp_path / "later.log")
    _finish(proc)
    assert _mapped(tmp_path / "later.log")


def test_a_later_session_maps_the_archive_and_leaves_it(first_pair, tmp_path):
    cds, _, _ = first_pair
    before = {n: os.stat(cds / n).st_mtime_ns for n in os.listdir(cds)}
    err = _finish(_popen(cds, tmp_path / "load.log"))
    assert _mapped(tmp_path / "load.log")
    assert _WARNING not in err
    assert {n: os.stat(cds / n).st_mtime_ns for n in os.listdir(cds)} == before


def test_a_rejected_archive_is_reported_once_and_replaced(first_pair, tmp_path):
    """A file of the key's name that is no archive fails the mapping
    launch: one warning, a session that records instead, and a new
    archive at exit that the next session maps."""
    name = os.listdir(first_pair[0])[0]
    cds = tmp_path / "archives"
    cds.mkdir()
    (cds / name).write_bytes(b"not an archive")
    err = _finish(_popen(cds, tmp_path / "rejected.log"))
    assert err.count(_WARNING) == 1, err[-3000:]
    assert not _mapped(tmp_path / "rejected.log")
    assert os.listdir(cds) == [name]
    assert os.path.getsize(cds / name) > 1 << 20
    _finish(_popen(cds, tmp_path / "rebuilt.log"))
    assert _mapped(tmp_path / "rebuilt.log")


def test_a_jfr_recording_neither_maps_nor_records_the_archive(first_pair, tmp_path):
    """A JVM that maps the archive and records JFR dies with SIGSEGV on
    its first query and leaves the recording empty. Such a launch warns
    once, loads its classes from jars, leaves the archive directory as
    it was, and writes its recording as its JVM exits."""
    cds, _, _ = first_pair
    before = {n: os.stat(cds / n).st_mtime_ns for n in os.listdir(cds)}
    recording = tmp_path / "session.jfr"
    script = _SESSION + r"""
from pyspark import SparkContext

gateway = SparkContext._gateway
gateway.shutdown()
gateway.proc.stdin.close()  # the JVM exits on EOF and writes the recording
gateway.proc.wait(timeout=120)
"""
    err = _finish(_popen(cds, tmp_path / "jfr.log",
                         f"-XX:StartFlightRecording=filename={recording}", script=script))
    assert err.count("starts a JFR recording") == 1, err[-3000:]
    assert not _mapped(tmp_path / "jfr.log")
    assert {n: os.stat(cds / n).st_mtime_ns for n in os.listdir(cds)} == before
    assert os.path.getsize(recording) > 0


@pytest.mark.parametrize("key", session._JFR_KEYS)
def test_a_jfr_option_in_either_driver_key_skips_the_archive(key, caplog):
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.class_archive({key: "-Xss4m -XX:StartFlightRecording=filename=x.jfr"}) is None
    assert [key in r.getMessage() for r in caplog.records] == [True]


@pytest.mark.parametrize("memory, coops", [
    ("4096m", True), ("31g", True), ("32g", False), ("40G", False),
    ("32767", True), ("32768", False), ("33554432k", False)])
def test_compressed_oops_stop_at_a_32g_heap(memory, coops):
    assert session._compressed_oops(memory) is coops


def test_the_key_covers_the_oops_mode_and_the_class_path(monkeypatch, tmp_path):
    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path / "cds"))
    _, conf = session._launch_conf({})
    archive, _ = session.class_archive(conf)
    assert session.class_archive(conf)[0] == archive
    assert os.path.dirname(archive) == str(tmp_path / "cds")
    assert session.class_archive({**conf, "spark.driver.memory": "40g"})[0] != archive
    jar = tmp_path / "extra.jar"
    jar.write_bytes(b"one")
    longer = {**conf, "spark.driver.extraClassPath": f"{conf['spark.driver.extraClassPath']}{os.pathsep}{jar}"}
    keyed = session.class_archive(longer)[0]
    assert keyed != archive
    jar.write_bytes(b"three")  # the JVM checks each jar's size and mtime
    assert session.class_archive(longer)[0] != keyed


def test_a_conf_dir_of_templates_is_swapped_and_real_config_skips(monkeypatch, tmp_path, caplog):
    """The launcher puts the conf directory on the class path, and the JVM
    archives no class path with a non-empty directory on it."""
    home = tmp_path / "spark"
    (home / "conf").mkdir(parents=True)
    (home / "conf" / "spark-defaults.conf.template").write_text("")
    monkeypatch.setattr(session, "_find_spark_home", lambda: str(home))
    monkeypatch.setattr(session, "_JVM_BUILD", str(tmp_path / "build"))
    monkeypatch.setattr(session, "_CDS_DIR", str(tmp_path / "build" / "cds"))
    monkeypatch.delenv("SPARK_CONF_DIR", raising=False)
    _, conf_dir = session.class_archive({})
    assert conf_dir == str(tmp_path / "build" / "conf")
    assert os.listdir(conf_dir) == []
    (home / "conf" / "spark-defaults.conf").write_text("spark.ui.enabled false\n")
    with caplog.at_level(logging.WARNING, logger=session.__name__):
        assert session.class_archive({}) is None
    assert [r.getMessage().rsplit(" ", 1)[1] for r in caplog.records] == [str(home / "conf")]
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path / "build" / "conf"))
    assert session.class_archive({})[1] is None  # a caller's empty directory is kept
