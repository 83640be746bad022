"""SparkSession bootstrap tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every default
here is chosen to also hold on a large multi-executor cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), UTC session
timezone (oracle comparability — DuckDB timestamps are UTC-naive), Arrow
enabled for the pandas/UDF path.
"""

from __future__ import annotations

import atexit
import contextlib
import functools
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
import zipfile
from collections.abc import Callable

import pyspark
from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.find_spark_home import _find_spark_home
from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

# Tuned for the current host at test scale; on a real cluster the host
# settings (_host_conf: shuffle partitions ~ 2-3x total cores, driver/executor
# memory per node class) are deploy-time settings.
_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries INT64 TIMESTAMP(NANOS); read as long, convert
    # in catalog.load_table (Spark has no ns timestamp type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.ui.enabled": "false",
    # Bound broadcast joins explicitly; AQE will still pick broadcast for
    # small dims discovered at runtime. 16m (not higher): at 64m the
    # sf1 bench broadcast a pruned 6M-row FACT table in q25 — parquet
    # size estimates undercount decoded width, so a generous threshold
    # turns into a driver-side fact broadcast at exactly the scale where
    # it hurts most. Dims (customer at 10x = ~7 MB) still broadcast.
    "spark.sql.autoBroadcastJoinThreshold": str(16 * 1024 * 1024),
    # Shuffled hash join over sort-merge when the per-partition build
    # side fits memory: skips two full sorts on fact-fact joins (q25's
    # orders-lineitem leg went 6.0s -> 1.5s at sf1) and AQE still
    # re-plans to broadcast/skew variants at runtime. SMJ remains the
    # fallback when the build side cannot hash locally.
    "spark.sql.join.preferSortMergeJoin": "false",
    # Scan split sizing (r10 adjudication, BASELINE.md "the 8m scan-split
    # tax"): the old flat 8m restored parallelism on the single-file
    # testdata but at sf30 it shredded lineitem into 659 tasks whose
    # per-task hash tables dominated aggregation (q09 5.9s -> 1.9s at
    # 32m). The trio below makes the split size ADAPTIVE:
    # splitSize = min(maxPartitionBytes, max(openCost, bytes/minPartNum))
    # — small tables still split ~32 ways (1m floor), big tables get
    # 32m splits. 32m, not Spark's 128m default: 32 concurrent local
    # tasks x the decoded width of a 128m parquet split exhausted the
    # heap (GCLocker retry storms at sf30); a real cluster with
    # per-executor task slots can raise it back.
    "spark.sql.files.maxPartitionBytes": "32m",
    "spark.sql.files.minPartitionNum": "32",
    "spark.sql.files.openCostInBytes": "1m",
    # G1 GCLocker starvation guard (r12, guide §5/§7.4). 32 concurrent
    # local tasks hold the GCLocker near-continuously through JNI
    # decompression (lz4/snappy GetPrimitiveArrayCritical); JDK 17 G1
    # retries a blocked allocation only GCLockerRetryAllocationCount=2
    # times before throwing a SPURIOUS OutOfMemoryError with gigabytes
    # free ("Retried waiting for GCLocker too often allocating 5
    # words" — observed on pl_editdist/sf10 stage 10 AFTER the
    # off-heap fix removed the real humongous-allocation pressure).
    # Raising the retry count lets the allocation wait for the locker
    # to drain; a genuine OOM still throws once a full GC has run with
    # the locker free. JVM-launch-time only: applies to fresh
    # processes (bench, driver, tests), like spark.driver.memory.
    #
    # C2 only for code that gets hot (r13, BASELINE.md "Round 13: JIT
    # thresholds"). JIT compiling was 61-67% of set-up CPU once the class
    # archive was mapped. Catalyst's analysis, optimisation and planning,
    # Janino and the scheduler run each method a few thousand times per
    # query: enough to cross JDK 17's tier-4 thresholds (5000
    # invocations, 600 minimum, 15000 invocations plus loops, 40000
    # back-edges) within seconds, so C2 compiled methods that soon went
    # cold. At 4x those, generated stage code, shuffle and parquet
    # decoding still cross them within milliseconds; perfbench's setup_s
    # fell 14-21% and cpu_ms_per_op 13-23% on every workload. Driver
    # only: cluster executors are long-lived and run the hot kernels (in
    # local mode they are this JVM). Not C1 only (-XX:TieredStopAtLevel=1):
    # that made micro-batches 25-34% slower. A caller's own -XX:Tier4*
    # option follows these and wins (_launch_conf).
    "spark.driver.extraJavaOptions":
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64 "
        "-XX:Tier4InvocationThreshold=20000 -XX:Tier4MinInvocationThreshold=2400 "
        "-XX:Tier4CompileThreshold=60000 -XX:Tier4BackEdgeThreshold=160000",
    # same GCLocker posture per executor on a real cluster (no-op in
    # local mode), with the JDK's tier-4 thresholds
    "spark.executor.extraJavaOptions":
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
    # Generated-class cache sized to the registry's working set (r13,
    # BASELINE.md "Round 13: codegen cache"). Spark's stock 100 is an
    # LRU, and an LRU smaller than a cyclic working set misses on EVERY
    # access: the 12-statement interactive pool needs 124 classes, the
    # five-entry pipeline pass 129 (the event stream's 54 fit), so each
    # repeat pass re-ran Janino on ~116 classes and the JIT on the new
    # bytecode. One pass over the whole 278-entry registry compiles
    # 3,433 distinct classes; with this cap a second pass compiles under
    # 200 (their code embeds run-dependent values), against ~5,700 at
    # 100, for +21 MB of Metaspace and code heap. A static conf: it is
    # JVM-wide and the first session in the process sets it.
    "spark.sql.codegen.cache.maxEntries": "4096",
    # Python workers that re-read a zip archive only when it changed
    # (r13, BASELINE.md "Round 13: Python worker zip re-reads"). Every
    # Python task calls importlib.invalidate_caches(), and before
    # CPython 3.13 that re-reads the whole directory of pyspark.zip once
    # per package importer: ~285 ms of worker CPU per task, before a row.
    # The daemon keeps a directory while the archive's inode, size and
    # mtime stay the same, so an archive that was rewritten is still
    # re-read; on CPython >= 3.13 it only runs pyspark's daemon. Workers
    # start as `python -m` of this module, so the package must be on
    # their PYTHONPATH. A session built without get_spark (as a caller
    # of __spark_entry__ may) keeps pyspark's daemon: same results, the
    # re-read stays.
    "spark.python.daemon.module": "adenhq_hive_spark.worker_daemon",
    # Local files written without a shell (r13, BASELINE.md "Round 13:
    # fork-free local FS"). Without libhadoop, Hadoop's local filesystem
    # starts `chmod` for every file, .crc and directory it creates and
    # `readlink` for the link checks of every FileContext rename: a seed-1
    # perfbench event_stream run started 526 and 1,440 of them, ~3.7 ms
    # of CPU each. ForkFreeLocalFs.java sets plain modes in the JVM and
    # answers a path that is not a symlink without readlink; the checksum
    # wrappers, checkpoint manager and renames are Hadoop's own. get_spark
    # compiles it on first use (local_fs_classes) and drops these keys
    # where it cannot; only the file scheme changes.
    "spark.hadoop.fs.file.impl": "adenhq_hive_spark.ForkFreeLocalFs$Local",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "adenhq_hive_spark.ForkFreeLocalFs$Fs",
}
_LOCAL_FS_KEYS = tuple(k for k in _DEFAULTS if k.startswith("spark.hadoop.fs."))
_LOCAL_FS_SOURCE = os.path.join(os.path.dirname(__file__), "ForkFreeLocalFs.java")
# Not under TMPDIR: perfbench points it at a per-run directory, and every
# run would pay javac's ~4 s of CPU and the archive dump's ~40 s again.
_JVM_BUILD = os.path.join(os.path.dirname(__file__), ".jvm_build")
# Class-data-sharing archives, one per launch key (class_archive).
_CDS_DIR = os.path.join(_JVM_BUILD, "cds")
# A Spark size: digits and an optional unit (what a bare number means
# depends on the key).
_SIZE = r"(\d+)(b|kb?|mb?|gb?|tb?|pb?)?"


def codegen_compile_counter(spark: SparkSession) -> Callable[[], int]:
    """A reader of the Janino compiles so far in this JVM: the count of
    Spark's ``CodegenMetrics`` compilation-time histogram, which grows
    once per generated-class cache miss (driver and, in local mode,
    tasks). The histogram is looked up once, since every package step of
    a gateway lookup is a round trip; each read is then one call. It
    reads the driver JVM only: executors outside it are not counted."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    histogram = metrics.METRIC_COMPILATION_TIME()
    return lambda: int(histogram.getCount())


def jit_compile_ms(spark: SparkSession) -> Callable[[], int]:
    """A reader of the milliseconds the JIT compilers have spent so far in
    this JVM (``CompilationMXBean.getTotalCompilationTime``), C1 and C2
    together. Like codegen_compile_counter, the bean is looked up once and
    each read is one call. It reads the driver JVM only: executors
    outside it are not counted."""
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    return lambda: int(bean.getTotalCompilationTime())


# Execution memory OFF the GC heap (r12, guide §5). The heavy shuffle
# aggregations (pl_editdist/pl_dedup_incremental's pair-stream
# hash-agg at sf10) grow BytesToBytesMap pages and sorter pointer
# arrays by doubling; on-heap those become 256-512 MB HUMONGOUS G1
# allocations that collide with JNI-critical sections (GCLocker) and
# stochastically OOM a 16 GB heap that is nowhere near full — measured
# 3/3 OOM on-heap vs clean 507 s off-heap (was 790 s in the r11 run
# that happened to survive) on pl_editdist at sf10. Off-heap, tungsten
# pages come from mmap'd memory the GC never scans: no humongous
# regions, no GCLocker interplay, and cached/broadcast data keeps the
# whole heap. On a cluster this is the same flag per executor, sized
# like memoryOverhead (a few GB per executor core-group).
def _offheap_conf() -> dict[str, str]:
    """Off-heap settings from ``SPARK_GRAFT_OFFHEAP`` (default 8g). ``''``,
    off, false, no or a zero size such as 0 or 0g (any case) disable it; a
    value that is not a Spark size raises instead of falling back silently."""
    value = os.environ.get("SPARK_GRAFT_OFFHEAP", "8g").strip().lower()
    size = re.fullmatch(_SIZE, value)
    if value in ("", "off", "false", "no") or (size and int(size.group(1)) == 0):
        return {}
    if size is None:
        raise ValueError(f"SPARK_GRAFT_OFFHEAP={value!r} is not a Spark size such "
                         "as 512m or 8g, nor one of '', 0, off, false, no")
    return {"spark.memory.offHeap.enabled": "true", "spark.memory.offHeap.size": value}


def _host_conf() -> tuple[str, dict[str, str]]:
    """(master, settings) from ``SPARK_GRAFT_CPUS`` (default 32) and
    ``SPARK_GRAFT_DRIVER_MEM`` (default 16g), read when get_spark runs. A
    core count that is not a positive integer, or a heap that is not a
    non-zero Spark size, raises here instead of inside the JVM."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32").strip()
    if not re.fullmatch(r"[1-9]\d*", cpus):
        raise ValueError(f"SPARK_GRAFT_CPUS={cpus!r} is not a positive integer")
    memory = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g").strip().lower()
    size = re.fullmatch(_SIZE, memory)
    if size is None or int(size.group(1)) == 0:
        raise ValueError(f"SPARK_GRAFT_DRIVER_MEM={memory!r} is not a non-zero Spark "
                         "size such as 4096m or 4g")
    return f"local[{cpus}]", {"spark.sql.shuffle.partitions": cpus, "spark.driver.memory": memory}


@functools.cache
def local_fs_jar() -> str | None:
    """Jar of ``ForkFreeLocalFs.java``, compiled with javac against
    pyspark's jars on first use and cached under a key of the source and
    the Hadoop jar's name; None, after one warning, where it cannot be
    built (no javac, no Hadoop jar, a failed compile or an unwritable
    package directory). A jar, not a class directory: the JVM neither
    archives nor maps a class path that holds a non-empty directory."""
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    hadoop = sorted(os.path.basename(j) for j in glob.glob(os.path.join(jars, "hadoop-client-api-*.jar")))
    with open(_LOCAL_FS_SOURCE, "rb") as fh:
        key = hashlib.sha256(fh.read() + "\0".join(hadoop).encode()).hexdigest()[:16]
    out = os.path.join(_JVM_BUILD, f"fs-{key}.jar")
    if os.path.isfile(out):
        return out
    javac = shutil.which("javac")
    why = "no javac on PATH" if javac is None else f"no Hadoop jar in {jars}"
    if javac and hadoop:
        try:
            os.makedirs(_JVM_BUILD, exist_ok=True)
            tmp = tempfile.mkdtemp(dir=_JVM_BUILD)
            try:
                subprocess.run([javac, "--release", "17", "-cp", os.path.join(jars, "*"), "-d", tmp,
                                _LOCAL_FS_SOURCE], check=True, capture_output=True, text=True)
                staged = os.path.join(tmp, "fs.jar")
                with zipfile.ZipFile(staged, "w") as jar:
                    for path in glob.glob(os.path.join(tmp, "adenhq_hive_spark", "*.class")):
                        jar.write(path, os.path.relpath(path, tmp))
                os.replace(staged, out)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except subprocess.CalledProcessError as exc:
            why = f"javac failed: {exc.stderr.strip()}"
        except OSError as exc:
            why = str(exc)
        if os.path.isfile(out):  # built here, or by a concurrent process
            return out
    _LOG.warning("local files keep Hadoop's stock filesystem, which starts a chmod "
                 "or readlink process per file: %s", why)
    return None


def _nonempty_dirs(paths) -> list[str]:
    return [p for p in paths if os.path.isdir(p) and os.listdir(p)]


def _compressed_oops(memory: str) -> bool:
    """Whether a driver heap of ``memory`` (a bare number is MiB, as in
    spark.driver.memory) runs with compressed oops, which HotSpot drops
    from 32g up. The JVM rejects an archive dumped in the other mode."""
    size = re.fullmatch(_SIZE, memory.strip().lower())
    if size is None:
        return True
    unit = "kmgtp".find((size.group(2) or "m")[0]) + 1
    return int(size.group(1)) * 1024 ** unit < 32 * 1024 ** 3


#: Driver options that can start a JFR recording, which a JVM mapping
#: the class archive does not survive.
_JFR_KEYS = ("spark.driver.extraJavaOptions", "spark.driver.defaultJavaOptions")


# Class-data sharing (r13, BASELINE.md "Round 13: CDS archive"). Every
# driver JVM used to load and verify the same classes from jars (13,625
# in a minimal session's list), inside the ~23 s of CPU a session start
# costs. A static archive of
# them, mapped at launch, cut perfbench's setup_s by 15-19% on all three
# workloads. The first session of a key records the classes it loads
# (-XX:DumpLoadedClassList, no measurable cost); the archive is dumped
# from that list after the JVM exits, since a dynamic archive
# (-XX:ArchiveClassesAtExit) dumps inside the JVM and cost the recording
# run more set-up CPU and memory than it saved.
def class_archive(conf: dict[str, str]) -> tuple[str, str | None] | None:
    """(archive path, ``SPARK_CONF_DIR`` to launch with, None to keep
    the caller's) of a driver JVM launched with ``conf``, keyed by the JDK
    build, the launch class path (each jar's path, size and mtime, the
    conf directory) and the compressed-oops mode. None, after one warning,
    where that class path holds a non-empty directory, which the JVM will
    not archive, where the driver's Java options start a JFR recording,
    or where the archive directory cannot be made.

    The launcher puts the conf directory on the class path. A stock
    distribution's holds only ``*.template`` files, which an empty
    directory reads the same, so an unset ``SPARK_CONF_DIR`` is pointed
    at an empty package directory; real config keeps the caller's and
    loses the archive."""
    jfr = [k for k in _JFR_KEYS if "-XX:StartFlightRecording" in conf.get(k, "")]
    if jfr:
        # JDK 17 dies with SIGSEGV in KlassFactory::
        # check_shared_class_file_load_hook on the first query of a JVM
        # that records while it maps the archive; -Xshare:off runs
        _LOG.warning("JVM classes load without a class-data archive: %s starts a JFR "
                     "recording, which crashes a JVM that maps one", jfr[0])
        return None
    home = _find_spark_home()
    conf_dir, launch_conf_dir = os.environ.get("SPARK_CONF_DIR"), None
    try:
        if conf_dir is None:
            conf_dir = os.path.join(home, "conf")
            if all(n.endswith(".template") for n in (os.listdir(conf_dir) if os.path.isdir(conf_dir) else ())):
                launch_conf_dir = conf_dir = os.path.join(_JVM_BUILD, "conf")
                os.makedirs(conf_dir, exist_ok=True)
        os.makedirs(_CDS_DIR, exist_ok=True)
    except OSError as exc:
        _LOG.warning("JVM classes load without a class-data archive: %s", exc)
        return None
    extra = [p for p in conf.get("spark.driver.extraClassPath", "").split(os.pathsep) if p]
    launcher = [os.environ.get(k, "") for k in ("SPARK_CLASSPATH", "HADOOP_CONF_DIR", "YARN_CONF_DIR",
                                                  "SPARK_DIST_CLASSPATH")]
    dirs = _nonempty_dirs([*extra, conf_dir, *(p for v in launcher for p in v.split(os.pathsep) if p)])
    if dirs:
        _LOG.warning("JVM classes load without a class-data archive: the class path holds "
                     "the non-empty directories %s", ", ".join(dirs))
        return None
    java = (os.path.join(os.environ["JAVA_HOME"], "bin", "java") if os.environ.get("JAVA_HOME")
            else shutil.which("java") or "java")  # as spark-class picks it
    java = os.path.realpath(java)
    modules = os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")
    stamp = [java, *launcher, str(_compressed_oops(conf.get("spark.driver.memory", "1g")))]
    for p in (modules, *extra, conf_dir, *sorted(glob.glob(os.path.join(home, "jars", "*.jar")))):
        try:
            st = os.stat(p)
            stamp.append(f"{p}\0{st.st_size}\0{st.st_mtime_ns}")
        except OSError:
            stamp.append(p)
    key = hashlib.sha256("\n".join(stamp).encode()).hexdigest()[:16]
    return os.path.join(_CDS_DIR, f"{key}.jsa"), launch_conf_dir


def _dump_archive(archive: str, classlist: str, owner: int, java: str, classpath: str,
                  coops: bool) -> None:
    """Exit hook of a session that recorded its classes to ``classlist``:
    once its gateway JVM has exited, dump a static archive of them for the
    class path that JVM ran with, publish it as ``archive`` unless a
    concurrent session already has, and delete every other key's files.
    Synchronous, with the dump's output captured: no process outlives the
    caller, and the caller's last stdout line stays its own."""
    if os.getpid() != owner:  # a forked child that exits through atexit
        return
    key = os.path.basename(archive).split(".")[0]
    tmp = os.path.join(os.path.dirname(archive), f"{key}.{owner}.tmp")
    try:
        if os.path.isfile(archive):
            return
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if proc is not None and proc.poll() is None:
            gateway.shutdown()  # the finalizers of Python's JVM handles then skip the JVM
            proc.stdin.close()  # which exits on EOF, as it would after this hook
            proc.wait(timeout=120)
        dirs = _nonempty_dirs(classpath.split(os.pathsep))
        if dirs:
            _LOG.warning("no class-data archive: the class path holds the non-empty "
                         "directories %s", ", ".join(dirs))
            return
        done = subprocess.run(
            [java, "-Xshare:dump", f"-XX:SharedClassListFile={classlist}",
             f"-XX:SharedArchiveFile={tmp}", f"-XX:{'+' if coops else '-'}UseCompressedOops",
             "-cp", classpath], stdin=subprocess.DEVNULL, capture_output=True, text=True)
        if done.returncode != 0:
            _LOG.warning("no class-data archive: java -Xshare:dump exited %d: %s",
                         done.returncode, (done.stdout + done.stderr)[-2000:])
            return
        os.replace(tmp, archive)
        for name in os.listdir(os.path.dirname(archive)):
            if not name.startswith(f"{key}."):
                os.remove(os.path.join(os.path.dirname(archive), name))
    except (OSError, subprocess.SubprocessError) as exc:
        _LOG.warning("no class-data archive: %s", exc)
    finally:
        for path in (classlist, tmp):
            with contextlib.suppress(OSError):
                os.remove(path)


def _start(app_name: str, master: str, conf: dict[str, str], conf_dir: str | None) -> SparkSession:
    builder = SparkSession.builder.master(master).appName(app_name)
    for k, v in conf.items():
        builder = builder.config(k, v)
    if conf_dir is None:
        return builder.getOrCreate()
    os.environ["SPARK_CONF_DIR"] = conf_dir  # unset before: class_archive keeps a caller's
    try:
        return builder.getOrCreate()
    finally:
        del os.environ["SPARK_CONF_DIR"]


def _start_with_archive(app_name: str, master: str, conf: dict[str, str], archive: str,
                        conf_dir: str | None) -> SparkSession:
    """Launch mapping ``archive`` with -Xshare:on, so that a JVM that
    rejects it does not start: then warn, delete it, and launch as where
    there is none, recording the loaded classes for _dump_archive."""
    def start(option: str) -> SparkSession:
        opts = " ".join(p for p in (option, conf.get("spark.driver.extraJavaOptions")) if p)
        return _start(app_name, master, {**conf, "spark.driver.extraJavaOptions": opts}, conf_dir)

    if os.path.isfile(archive):
        try:
            return start(f"-Xshare:on -XX:SharedArchiveFile={archive}")
        except PySparkRuntimeError as exc:
            if exc.getCondition() != "JAVA_GATEWAY_EXITED":
                raise
            _LOG.warning("the JVM did not start with the class-data archive %s: it is "
                         "deleted, and this session's classes make a new one at exit", archive)
            with contextlib.suppress(FileNotFoundError):
                os.remove(archive)
    key = os.path.basename(archive).split(".")[0]
    classlist = os.path.join(os.path.dirname(archive), f"{key}.{os.getpid()}.classlist")
    spark = start(f"-XX:DumpLoadedClassList={classlist}")
    jvm = spark.sparkContext._jvm
    system, mf = jvm.java.lang.System, jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean"))
    atexit.register(_dump_archive, archive, classlist, os.getpid(),
                    os.path.join(system.getProperty("java.home"), "bin", "java"),
                    system.getProperty("java.class.path"),
                    hotspot.getVMOption("UseCompressedOops").getValue() == "true")
    return spark


def _launch_conf(overrides: dict[str, str]) -> tuple[str, dict[str, str]]:
    """(master, settings) of a get_spark launch with a caller's ``overrides``."""
    master, host = _host_conf()
    conf = {**_DEFAULTS, **host, **_offheap_conf()}
    jar = local_fs_jar()
    if jar is None:
        for k in _LOCAL_FS_KEYS:
            del conf[k]
    conf.update(overrides)
    # a caller's Java options follow the defaults, and HotSpot keeps the
    # last occurrence of a flag: one flag can be overridden, none is lost
    for k in ("spark.driver.extraJavaOptions", "spark.executor.extraJavaOptions"):
        conf[k] = " ".join(p for p in (_DEFAULTS[k], overrides.get(k)) if p)
    if jar is not None:
        # executors outside the driver's JVM (local-cluster, a cluster
        # whose nodes share the path) resolve file: through it as well
        for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
            conf[k] = os.pathsep.join(p for p in (jar, overrides.get(k)) if p)
    return master, conf


def get_spark(app_name: str = "adenhq_hive_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``spark.driver.memory``, the class path and the Java options only
    apply at JVM launch, so the first caller in a process wins; subsequent
    calls just return the live session. A launch maps the class-data
    archive of its key (class_archive), or records the classes it loads
    and dumps that archive when the process exits.
    """
    master, conf = _launch_conf(overrides)
    launching = SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ
    plan = class_archive(conf) if launching else None
    if plan is None:
        spark = _start(app_name, master, conf, None)
    else:
        spark = _start_with_archive(app_name, master, conf, *plan)
    spark.sparkContext.setLogLevel("WARN")
    return spark
