"""SparkSession bootstrap tuned for the engine.

Local-mode testing runs on ``local[$SPARK_GRAFT_CPUS]`` but every default
here is chosen to also hold on a large multi-executor cluster: AQE on
(runtime re-plan, skew-join splitting, partition coalescing), UTC session
timezone (oracle comparability — DuckDB timestamps are UTC-naive), Arrow
enabled for the pandas/UDF path.
"""

from __future__ import annotations

import functools
import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
from collections.abc import Callable

import pyspark
from pyspark.sql import SparkSession

_LOG = logging.getLogger(__name__)

# Tuned for the current host at test scale; on a real cluster these are
# deploy-time settings (shuffle partitions ~ 2-3x total cores, driver/executor
# memory per node class).
_DEFAULTS = {
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # events.parquet carries INT64 TIMESTAMP(NANOS); read as long, convert
    # in catalog.load_table (Spark has no ns timestamp type).
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"),
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
    "spark.driver.extraJavaOptions":
        "-XX:+UnlockDiagnosticVMOptions -XX:GCLockerRetryAllocationCount=64",
    # same posture per executor on a real cluster (no-op in local mode)
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
# run would pay javac's ~4 s of CPU again.
_LOCAL_FS_BUILD = os.path.join(os.path.dirname(__file__), ".jvm_build")


def codegen_compile_counter(spark: SparkSession) -> Callable[[], int]:
    """A reader of the Janino compiles so far in this JVM: the count of
    Spark's ``CodegenMetrics`` compilation-time histogram, which grows
    once per generated-class cache miss (driver and, in local mode,
    tasks). The histogram is looked up once, since every package step of
    a gateway lookup is a round trip; each read is then one call."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    histogram = metrics.METRIC_COMPILATION_TIME()
    return lambda: int(histogram.getCount())


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
    size = re.fullmatch(r"(\d+)(?:b|kb?|mb?|gb?|tb?|pb?)?", value)
    if value in ("", "off", "false", "no") or (size and int(size.group(1)) == 0):
        return {}
    if size is None:
        raise ValueError(f"SPARK_GRAFT_OFFHEAP={value!r} is not a Spark size such "
                         "as 512m or 8g, nor one of '', 0, off, false, no")
    return {"spark.memory.offHeap.enabled": "true", "spark.memory.offHeap.size": value}


@functools.cache
def local_fs_classes() -> str | None:
    """Class directory of ``ForkFreeLocalFs.java``, compiled with javac
    against pyspark's jars on first use and cached under a key of the
    source and the Hadoop jar's name; None, after one warning, where it
    cannot be built (no javac, no Hadoop jar, a failed compile or an
    unwritable package directory)."""
    jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    hadoop = sorted(os.path.basename(j) for j in glob.glob(os.path.join(jars, "hadoop-client-api-*.jar")))
    with open(_LOCAL_FS_SOURCE, "rb") as fh:
        key = hashlib.sha256(fh.read() + "\0".join(hadoop).encode()).hexdigest()[:16]
    out = os.path.join(_LOCAL_FS_BUILD, key)
    if os.path.isdir(out):
        return out
    javac = shutil.which("javac")
    why = "no javac on PATH" if javac is None else f"no Hadoop jar in {jars}"
    if javac and hadoop:
        try:
            os.makedirs(_LOCAL_FS_BUILD, exist_ok=True)
            tmp = tempfile.mkdtemp(dir=_LOCAL_FS_BUILD)
            try:
                subprocess.run([javac, "--release", "17", "-cp", os.path.join(jars, "*"), "-d", tmp,
                                _LOCAL_FS_SOURCE], check=True, capture_output=True, text=True)
                os.rename(tmp, out)
            finally:
                shutil.rmtree(tmp, ignore_errors=True)
        except subprocess.CalledProcessError as exc:
            why = f"javac failed: {exc.stderr.strip()}"
        except OSError as exc:
            why = str(exc)
        if os.path.isdir(out):  # built here, or by a concurrent process
            return out
    _LOG.warning("local files keep Hadoop's stock filesystem, which starts a chmod "
                 "or readlink process per file: %s", why)
    return None


def get_spark(app_name: str = "adenhq_hive_spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    ``spark.driver.memory`` only applies at JVM launch, so the first caller
    in a process wins; subsequent calls just return the live session.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    conf = dict(_DEFAULTS)
    conf.update(_offheap_conf())
    classes = local_fs_classes()
    if classes is None:
        for k in _LOCAL_FS_KEYS:
            del conf[k]
    conf.update(overrides)
    if classes is not None:
        # the master is local, so the driver's class path is the executors'
        conf["spark.driver.extraClassPath"] = os.pathsep.join(
            p for p in (classes, overrides.get("spark.driver.extraClassPath")) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
