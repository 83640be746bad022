"""Time one registered query: fresh-JVM run 0 (cold) + N-1 warm runs,
per-run /proc/stat hypervisor-steal recorded (r11 verdict #3: the sf10
heavy rows were single-cold-run points; this gives n>=2 with cold/warm
separated instead of conflated).

Usage: PYTHONPATH=/root/repo python scripts/time_query.py <sf_dir> <name> \
           [runs] [--cache-decompose] [--conf k=v ...]
Prints one JSON line {"name", "sf_dir", "cold_s", "warm_min_s",
"runs": [...], "jit_ms": [...], "steal_pct": [...], "load_1m"}, where
jit_ms is the driver JVM's JIT compile time during each run
(session.jit_compile_ms). Seconds are rounded to 3 decimals (ms), so a
sub-second entry can show a 10% change.

--cache-decompose adds a final run after dropping the OS page cache
(echo 3 > /proc/sys/vm/drop_caches): run 0 is cold-JVM+cold-cache, the
middle runs are warm+warm, the last is warm-JVM+cold-cache — so
  I/O share       ~= warm_cold_s - warm_min_s
  JIT/plan share  ~= cold_s - warm_cold_s
(the r11 winnow 2.1x cold/warm gap attribution, verdict #3/#5).
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    sf_dir = sys.argv[1]
    name = sys.argv[2]
    n = int(sys.argv[3]) if len(sys.argv) > 3 \
        and not sys.argv[3].startswith("--") else 2
    decompose = "--cache-decompose" in sys.argv
    overrides = {}
    for i, a in enumerate(sys.argv):
        if a == "--conf":
            k, v = sys.argv[i + 1].split("=", 1)
            overrides[k] = v

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from adenhq_hive_spark.queries import all_queries
    from adenhq_hive_spark.session import get_spark, jit_compile_ms
    from bench import measure_spec, min_runs

    spark = get_spark(f"time-{name}", **overrides)
    spark.sparkContext.setJobDescription(f"time_query:{name}")
    spec = all_queries()[name]
    jit = jit_compile_ms(spark)

    def one(i, label=""):
        # one measurement per run: each run releases its _materialize'd
        # relations, so a warm run never reuses the previous run's
        jit0 = jit()
        s = measure_spec(spec, spark, sf_dir, min_runs(1))
        jits.append(jit() - jit0)
        runs.append(round(s.best, 3))
        steals.append(round(s.steal_of_best, 1))
        print(f"run{i}{label}: {s.best:.3f}s steal {steals[-1]}%",
              file=sys.stderr, flush=True)

    runs, jits, steals = [], [], []
    for i in range(n):
        one(i)
    out = {
        "name": name, "sf_dir": sf_dir,
        "cold_s": runs[0],
        "warm_min_s": min(runs[1:]) if len(runs) > 1 else None,
        "runs": runs, "jit_ms": jits, "steal_pct": steals,
        "load_1m": round(os.getloadavg()[0], 2),
    }
    if decompose:
        with open("/proc/sys/vm/drop_caches", "w") as f:
            f.write("3\n")
        one(n, " (warm JVM, dropped page cache)")
        out["warm_cold_s"] = runs[-1]
        out["io_share_s"] = round(runs[-1] - out["warm_min_s"], 3)
        out["jit_share_s"] = round(out["cold_s"] - runs[-1], 3)
    print(json.dumps(out), flush=True)


if __name__ == "__main__":
    main()
