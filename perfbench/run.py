"""Benchmark of adenhq_hive_spark: interactive SQL, corpus pipelines and
stream ingest + upsert, each driven through the package's public entry
points from one process on a ``local[nproc]`` session.

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload sql_interactive --seed 1 \\
        --seconds 8 --trace 0

``--trace 0`` prints the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the measured loop as four halves, untraced and traced
in turn, and prints the per-layer metrics, including the tracing
overhead. The last
line of stdout is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``; the line before it stamps the host and the
effective Spark configuration. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import contextlib  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import re  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

import spans  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
STAMP_CONF = (
    "spark.master", "spark.driver.memory", "spark.memory.offHeap.enabled",
    "spark.memory.offHeap.size", "spark.sql.shuffle.partitions",
    "spark.sql.adaptive.enabled", "spark.default.parallelism",
)
# Per-layer metrics every traced run produces; each workload adds its
# own (``Workload.LAYERS``), and those of the other workloads read 0.
RUN_LAYERS = (
    "session.start_s", "catalog.register_s", "setup.inputs_s",
    "setup.warmup_s", "op.mean_ms", "op.p50_ms", "trace.overhead_share",
    "jvm.old_gen_peak_mb",
)


class HostError(Exception):
    """The session cannot be sized to fit this host."""


def tail_percentile(samples: list[float]) -> tuple[float, float] | None:
    """The highest percentile (to 0.1) that has at least ten samples
    above it, by nearest rank, and its value; None below 11 samples."""
    n = len(samples)
    if n < 11:
        return None
    p10 = (1000 * (n - 10)) // n
    rank = -(-(p10 * n) // 1000)
    return p10 / 10, sorted(samples)[rank - 1]


def fit_host() -> dict:
    """Size the session from the host: all cores, and a driver heap plus
    off-heap pool that leave room for the Python workers. Sets the
    SPARK_GRAFT_* variables the package reads at import."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        ram_mb = next(int(line.split()[1]) for line in f
                      if line.startswith("MemTotal:")) // 1024
    heap_mb = min(4096, max(1024, ram_mb // 8))
    off_mb = min(2048, max(512, ram_mb // 16))
    workers_mb = 1024 + 256 * cpus
    if heap_mb + off_mb + workers_mb > ram_mb:
        raise HostError(
            f"{heap_mb} MB heap + {off_mb} MB off-heap + {workers_mb} MB for "
            f"Python does not fit {ram_mb} MB of RAM")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{heap_mb}m"
    os.environ["SPARK_GRAFT_OFFHEAP"] = f"{off_mb}m"
    return {"cpus": cpus, "ram_mb": ram_mb, "heap_mb": heap_mb,
            "offheap_mb": off_mb}


def cpu_ticks() -> list[int]:
    """The host-wide CPU time counters of /proc/stat (user, nice,
    system, idle, iowait, irq, softirq, steal)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time between two ``cpu_ticks`` the hypervisor gave
    to other guests: on a shared virtual machine the main reason two
    runs of one seed differ."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and every live descendant."""
    children: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo += children.get(pid, [])
    return out


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) of ``root_pid`` and every live
    descendant, with the descendants each has reaped (the Python
    workers that exited); time the hypervisor stole is not in it."""
    total = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def tree_peak_rss_mb(root_pid: int) -> float:
    """Sum of peak resident memory (VmHWM) over ``root_pid`` and every
    live descendant: the driver JVM and the Python workers."""
    total_kb = 0
    for pid in tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/status") as f:
                total_kb += next((int(line.split()[1]) for line in f
                                  if line.startswith("VmHWM:")), 0)
        except OSError:
            continue
    return total_kb / 1024


def jvm_heap_mb(spark) -> tuple[float, float]:
    """The driver JVM's committed heap, and the peak use of its old
    generation: the objects that outlived a young collection, and the
    large arrays G1 places there directly."""
    mf = spark._jvm.java.lang.management.ManagementFactory
    committed = mf.getMemoryMXBean().getHeapMemoryUsage().getCommitted()
    old = sum(p.getPeakUsage().getUsed() for p in mf.getMemoryPoolMXBeans()
              if p.getType().name() == "HEAP" and "Old" in p.getName())
    return committed / 2**20, old / 2**20


def load_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def remove_work(work: str) -> None:
    """Remove this run's scratch directory, and its parent once empty."""
    shutil.rmtree(work, ignore_errors=True)
    with contextlib.suppress(OSError):
        os.rmdir(os.path.dirname(work))


def stop_spark(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit
    (its Python workers go with it)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


def main(argv: list[str] | None = None) -> int:
    spec = load_spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    trace = bool(args.trace)
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if trace else "end_to_end"]}

    host = fit_host()
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, ROOT)
    try:
        import workloads
        from adenhq_hive_spark.catalog import register_views
        from adenhq_hive_spark.session import get_spark
    except ImportError as exc:
        remove_work(work)
        print(f"perfbench: cannot import the package: {exc}", file=sys.stderr)
        return 2

    spark = None
    try:
        wl = workloads.WORKLOADS[args.workload](work, args.seed)
        layer: dict[str, float] = {}
        t = time.perf_counter()
        wl.make_inputs()
        layer["setup.inputs_s"] = time.perf_counter() - t
        t = time.perf_counter()
        spark = get_spark("perfbench", **{
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # The heap is committed and touched at start, and peak memory
            # is counted without it: where G1 grows an uncommitted heap to
            # depends on when it collected, which moved one workload's
            # peak RSS by a quarter between seeds. Heap use is the traced
            # run's jvm.old_gen_peak_mb.
            "spark.driver.defaultJavaOptions":
                f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
                f"-Xms{host['heap_mb']}m -XX:+AlwaysPreTouch",
        })
        layer["session.start_s"] = time.perf_counter() - t
        t = time.perf_counter()
        register_views(spark, wl.data_dir)
        layer["catalog.register_s"] = time.perf_counter() - t
        t = time.perf_counter()
        wl.warm_up(spark)
        layer["setup.warmup_s"] = time.perf_counter() - t
        setup_wall_s = time.perf_counter() - T_START
        # set-up is charged as the CPU time of the process tree up to
        # here: the wall time of a JVM start drifts with the host's steal
        cpu0 = setup_s = tree_cpu_s(os.getpid())

        ticks = cpu_ticks()
        if not trace:
            segments = [wl.measure(spark, args.seconds)]
        else:
            # untraced and traced halves alternate (U T U T), so warming
            # during the run weighs on both sides of the overhead ratio
            tracer = spans.Tracer()
            segments = []
            for k in range(4):
                if k % 2:
                    workloads.instrument(spark, tracer)
                try:
                    segments.append(wl.measure(
                        spark, args.seconds / 2, tracer if k % 2 else None))
                finally:
                    tracer.restore()
        steal = steal_share(ticks, cpu_ticks())
        cpu_s = tree_cpu_s(os.getpid()) - cpu0
        failed = sum(s.failed for s in segments) + wl.check(spark, segments)
        attempted = sum(len(s.ops) for s in segments)
        untraced_ms = [x for s in segments[::2] for x in s.latencies_ms]
        heap_mb, old_gen_mb = jvm_heap_mb(spark)
        out_dir = os.path.join(ROOT, ".perfbench_out")
        os.makedirs(out_dir, exist_ok=True)
        tag = f"{args.workload}-{args.seed}"
        if trace:
            layer.update(wl.layers(spark, tracer, segments[1]))
            traced_ms = segments[1].latencies_ms + segments[3].latencies_ms
            tail = tail_percentile(untraced_ms)
            if tail:
                layer["op.tail_ms"] = tail[1]
            layer["op.mean_ms"] = statistics.fmean(untraced_ms)
            layer["op.p50_ms"] = statistics.median(untraced_ms)
            layer["jvm.old_gen_peak_mb"] = old_gen_mb
            layer["trace.overhead_share"] = (
                statistics.fmean(traced_ms)
                / statistics.fmean(untraced_ms) - 1.0)
            with open(os.path.join(out_dir, f"trace-{tag}.json"), "w") as f:
                json.dump({"spans": tracer.dump(), "counters": wl.counters}, f)
            expected = set(RUN_LAYERS) | set(wl.LAYERS)
            if set(layer) != expected or not expected <= set(units):
                raise spans.TraceError(
                    f"per-layer metrics: missing {sorted(expected - set(layer))}"
                    f", unexpected {sorted(set(layer) - expected)}, not in "
                    f"BENCHMARK.json {sorted(expected - set(units))}")
            # the metrics of the other workloads do not apply and read 0
            values = {n: float(layer.get(n, 0.0)) for n in units}
        else:
            with open(os.path.join(out_dir, f"ops-{tag}.json"), "w") as f:
                json.dump({"wall_s": segments[0].wall_s, "setup": layer,
                           "steal": steal, "cpu_s": cpu_s,
                           "ops": segments[0].ops}, f)
            values = {
                "setup_s": setup_s,
                "peak_rss_nonheap_mb": tree_peak_rss_mb(os.getpid()) - heap_mb,
                "cpu_ms_per_op": cpu_s * 1e3 / attempted,
            }
        conf = dict(spark.sparkContext.getConf().getAll())
        stamp = {"workload": args.workload, "seed": args.seed, **host,
                 "conf": {k: conf.get(k) for k in STAMP_CONF},
                 "setup_wall_s": setup_wall_s,
                 "heap_committed_mb": heap_mb, "old_gen_peak_mb": old_gen_mb}
        tail = tail_percentile(untraced_ms)
        stamp["steal_share"] = steal
        stamp["op_latency"] = {
            "samples": len(untraced_ms),
            "mean_ms": statistics.fmean(untraced_ms),
            "ops_per_s": len(segments[0].ops) / segments[0].wall_s,
            "p50_ms": statistics.median(untraced_ms),
            "tail_pct": tail[0] if tail else None,
            "tail_ms": tail[1] if tail else None,
        }
    finally:
        if spark is not None:
            stop_spark(spark)
        remove_work(work)

    if sorted(values) != sorted(units) or not all(
            NAME_RE.match(n) and UNIT_RE.match(u) for n, u in units.items()):
        print(f"perfbench: metrics {sorted(values)} disagree with "
              f"BENCHMARK.json {sorted(units)}", file=sys.stderr)
        return 3
    print("# " + json.dumps(stamp, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {n: {"value": values[n], "unit": u}
                    for n, u in units.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    try:
        sys.exit(main())
    except HostError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(2)
    except spans.TraceError as exc:
        print(f"perfbench: {exc}", file=sys.stderr)
        sys.exit(3)
