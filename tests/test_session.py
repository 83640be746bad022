"""SPARK_GRAFT_OFFHEAP parsing: off words and zero sizes disable the
off-heap pool, Spark sizes enable it, anything else fails fast; the core
count and heap are read when get_spark runs and fail fast too. The
generated-class cache holds a repeated pool of statements. Python
workers start through the package's worker daemon. Local files go
through the package's fork-free filesystem, whose jar is on the driver's
and the executors' class paths, and only in get_spark sessions. A
caller's Java options follow the defaults; the driver JVM runs with the
GCLocker posture and 4x JDK 17's tier-4 JIT thresholds, and a plain
session keeps the JDK's."""

from __future__ import annotations

import os
import subprocess
import sys

import pandas as pd
import pytest
from pyspark.sql import functions as F

from adenhq_hive_spark.engine import Engine
from adenhq_hive_spark.queries import all_queries
from adenhq_hive_spark.session import (_DEFAULTS, _launch_conf, _offheap_conf,
                                       codegen_compile_counter, get_spark, jit_compile_ms,
                                       local_fs_jar)

from .conftest import SF_SMOKE

# The interactive benchmark's pool: every eighth relational registry
# entry that has an engine_sql form.
CODEGEN_POOL = ("q01", "q09", "q17", "q26", "q34", "q42", "q50", "q58",
                "q66", "q74", "q82", "q91")


@pytest.mark.parametrize(
    "value", ["", "0", "0g", "0G", "off", "OFF", "false", "False", "no", " No "]
)
def test_offheap_disabled_values(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP", value)
    assert _offheap_conf() == {}


@pytest.mark.parametrize(
    "value, size",
    [("512m", "512m"), ("8g", "8g"), ("8G", "8g"), ("2048m", "2048m"), ("1gb", "1gb")],
)
def test_offheap_sizes_enable_the_pool(monkeypatch, value, size):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP", value)
    assert _offheap_conf() == {
        "spark.memory.offHeap.enabled": "true",
        "spark.memory.offHeap.size": size,
    }


def test_offheap_default_is_8g(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_OFFHEAP", raising=False)
    assert _offheap_conf()["spark.memory.offHeap.size"] == "8g"


@pytest.mark.parametrize("value", ["yes", "on", "8 g", "1.5g", "-1g", "8x", "eight"])
def test_get_spark_rejects_bad_offheap(monkeypatch, value):
    monkeypatch.setenv("SPARK_GRAFT_OFFHEAP", value)
    with pytest.raises(ValueError, match="SPARK_GRAFT_OFFHEAP"):
        get_spark("offheap-validation")


def test_host_settings_are_read_when_get_spark_runs(monkeypatch):
    """Set after the package was imported, both still reach the launch."""
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", " 2G ")
    master, conf = _launch_conf({})
    assert master == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "2g"


@pytest.mark.parametrize("name, value", [
    *(("SPARK_GRAFT_CPUS", v) for v in ("", "0", "-2", "2.5", "four", "4 cores")),
    *(("SPARK_GRAFT_DRIVER_MEM", v) for v in ("", "0", "0g", "4 g", "1.5g", "-1g", "lots")),
])
def test_get_spark_rejects_bad_host_settings(monkeypatch, name, value):
    monkeypatch.setenv(name, value)
    with pytest.raises(ValueError, match=name):
        get_spark("host-validation")


def test_the_fs_jar_leads_both_class_paths(spark):
    """Executors outside the driver's JVM (local-cluster) load the file:
    classes too; a caller's entries follow the jar on each key."""
    jar = local_fs_jar()
    assert jar.endswith(".jar")
    _, conf = _launch_conf({})
    assert conf["spark.driver.extraClassPath"] == conf["spark.executor.extraClassPath"] == jar
    _, conf = _launch_conf({"spark.driver.extraClassPath": "/d.jar",
                            "spark.executor.extraClassPath": f"/e.jar{os.pathsep}/f.jar"})
    assert conf["spark.driver.extraClassPath"] == os.pathsep.join((jar, "/d.jar"))
    assert conf["spark.executor.extraClassPath"] == os.pathsep.join((jar, "/e.jar", "/f.jar"))
    assert spark.sparkContext.getConf().get("spark.executor.extraClassPath") == jar


@pytest.mark.parametrize("key", ["spark.driver.extraJavaOptions",
                                 "spark.executor.extraJavaOptions"])
def test_a_callers_java_options_follow_the_defaults(key):
    """HotSpot keeps a flag's last occurrence: a caller overrides one
    flag and keeps every other default (the GCLocker flag needs the
    diagnostic unlock in front of it)."""
    _, conf = _launch_conf({})
    assert conf[key] == _DEFAULTS[key]
    assert "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64" in conf[key]
    _, conf = _launch_conf({key: "-Xlog:gc -XX:GCLockerRetryAllocationCount=32"})
    assert conf[key] == f"{_DEFAULTS[key]} -Xlog:gc -XX:GCLockerRetryAllocationCount=32"


# HotSpot option -> value in a get_spark driver JVM, and in a plain one
# (JDK 17's defaults); the GCLocker count is only set by get_spark.
_JIT_POSTURE = {
    "Tier4InvocationThreshold": ("20000", "5000"),
    "Tier4MinInvocationThreshold": ("2400", "600"),
    "Tier4CompileThreshold": ("60000", "15000"),
    "Tier4BackEdgeThreshold": ("160000", "40000"),
    "GCLockerRetryAllocationCount": ("64", None),
}


def test_the_driver_jvm_runs_the_session_posture(spark):
    """Read from the live JVM, not from the conf: every flag took effect."""
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    assert {n: bean.getVMOption(n).getValue() for n in _JIT_POSTURE} == {
        n: v for n, (v, _) in _JIT_POSTURE.items()}


def test_jit_compile_ms_reads_the_drivers_running_total(spark):
    jit = jit_compile_ms(spark)
    first = jit()
    assert isinstance(first, int) and first > 0
    spark.range(1000).selectExpr("sum(id * 3)").first()
    assert jit() >= first


def test_repeated_pool_reuses_its_compiled_classes(spark):
    """A second pass over the same statements compiles no class. On a
    fresh JVM one pass of this pool at sf0.001 compiles 124 generated
    classes (4 cores); Spark's stock LRU cache of 100 is smaller than
    that cycle, so there every repeat pass recompiled 95 to 116 of them."""
    assert get_spark().conf.get("spark.sql.codegen.cache.maxEntries") == "4096"
    specs = all_queries()
    eng = Engine(spark, SF_SMOKE)
    compiles = codegen_compile_counter(spark)
    for _ in range(2):
        before = compiles()
        for name in CODEGEN_POOL:
            assert eng.sql(specs[name].engine_sql).success, name
    assert compiles() - before == 0


def test_python_workers_run_the_package_zip_wrapper(spark):
    """Inside a Python worker, zipimporter.invalidate_caches is the
    worker daemon's wrapper (CPython < 3.13) or the stock method."""

    @F.pandas_udf("string")
    def which(ids: pd.Series) -> pd.Series:
        import sys
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches
        before_313 = sys.version_info[:2] < (3, 13)
        return ids.map(lambda _: f"{before_313}|{fn.__code__.co_filename}|{fn.__qualname__}")

    before_313, filename, qualname = spark.range(1).select(which("id")).first()[0].split("|")
    if before_313 == "True":
        assert filename.endswith(os.path.join("adenhq_hive_spark", "worker_daemon.py"))
        assert qualname == "reread_when_changed.<locals>.invalidate_caches"
    else:
        assert qualname == "zipimporter.invalidate_caches"


def test_get_spark_resolves_local_files_to_the_package_filesystem(spark):
    """The file:/// FileSystem, and the local FileContext's filesystem that
    Spark's checkpoint manager writes through, are the package's."""
    jvm, conf = spark.sparkContext._jvm, spark.sparkContext._jsc.hadoopConfiguration()
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf)
    fc = jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf)
    assert fs.getClass().getName() == "adenhq_hive_spark.ForkFreeLocalFs$Local"
    assert fc.getDefaultFileSystem().getClass().getName() == "adenhq_hive_spark.ForkFreeLocalFs$Fs"


_PLAIN = r"""
import sys

import __spark_entry__
from pyspark.sql import SparkSession

spark = (SparkSession.builder.master("local[8]").config("spark.driver.memory", "1g")
         .config("spark.sql.session.timeZone", "UTC").getOrCreate())
jvm, conf = spark.sparkContext._jvm, spark.sparkContext._jsc.hadoopConfiguration()
bean = jvm.java.lang.management.ManagementFactory.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
print(*(bean.getVMOption(n).getValue() for n in sys.argv[1:]))
print(jvm.org.apache.hadoop.fs.FileSystem.get(jvm.java.net.URI("file:///"), conf).getClass().getName(),
      jvm.org.apache.hadoop.fs.FileContext.getLocalFSFileContext(conf).getDefaultFileSystem()
      .getClass().getName())
"""


def test_plain_session_keeps_stock_hadoop():
    """A session a caller of __spark_entry__ builds itself (the untuned
    local[8] smoke) keeps the local filesystem pyspark resolves on its
    own, package imported or not, and the JDK's tier-4 JIT thresholds."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    stock = {n: v for n, (_, v) in _JIT_POSTURE.items() if v}
    done = subprocess.run([sys.executable, "-c", _PLAIN, *stock], cwd=repo, capture_output=True,
                          text=True, timeout=300)
    assert done.returncode == 0, done.stderr[-3000:]
    options, filesystems = done.stdout.splitlines()[-2:]
    assert options.split() == list(stock.values())
    assert filesystems.split() == [  # Hive's, from the service entry of pyspark's hive-exec
        "org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem", "org.apache.hadoop.fs.local.LocalFs"]
