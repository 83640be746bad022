"""Generated-class working set of the registry.

Runs every registry entry (or ``--only`` a subset) ``--passes`` times in
one JVM and prints, per pass, one JSON line: Janino compiles (Spark's
generated-class cache misses), JVM classes loaded, JIT compile ms, wall
seconds and Metaspace plus code heap in MB. After the last pass it
prints the entries that still compiled on it. A cache that holds the
working set compiles (almost) nothing on a repeat pass; see BASELINE.md
"Round 13: codegen cache".

    PYTHONPATH=. python scripts/codegen_probe.py SF_DIR   # e.g. an sf0.001 dir
    ... --cache 100        # Spark's stock generated-class cache size
    ... --engine --only q01,q09   # engine_sql through Engine.sql

Entries run into the ``noop`` sink like bench.py; ``--engine`` runs each
entry's ``engine_sql`` through ``Engine.sql`` instead (the interactive
tool path) and skips entries without one.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import run_noop  # noqa: E402
from adenhq_hive_spark.catalog import register_views  # noqa: E402
from adenhq_hive_spark.engine import Engine  # noqa: E402
from adenhq_hive_spark.operators.dedup import release_persisted  # noqa: E402
from adenhq_hive_spark.queries import all_queries  # noqa: E402
from adenhq_hive_spark.session import codegen_compile_counter, get_spark, jit_compile_ms  # noqa: E402


def jvm_counters(spark, compiles, jit_ms) -> dict[str, float]:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    pools = [p for p in mf.getMemoryPoolMXBeans()
             if p.getName() == "Metaspace" or p.getName().startswith("CodeHeap")]
    return {
        "compiles": compiles(),
        "classes_loaded": mf.getClassLoadingMXBean().getTotalLoadedClassCount(),
        "jit_ms": jit_ms(),
        "wall_s": time.perf_counter(),
        "metaspace_codeheap_mb": sum(p.getUsage().getUsed() for p in pools) / 2**20,
    }


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("sf_dir")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("--cache", help="spark.sql.codegen.cache.maxEntries")
    ap.add_argument("--engine", action="store_true")
    ap.add_argument("--only", help="comma-separated registry names")
    args = ap.parse_args()

    overrides = {}
    if args.cache:
        overrides["spark.sql.codegen.cache.maxEntries"] = args.cache
    spark = get_spark("codegen_probe", **overrides)
    compiles, jit_ms = codegen_compile_counter(spark), jit_compile_ms(spark)
    specs = all_queries()
    names = args.only.split(",") if args.only else sorted(specs)
    if args.engine:
        names = [n for n in names if specs[n].engine_sql]
        engine = Engine(spark, args.sf_dir)
    else:
        register_views(spark, args.sf_dir)
    print(f"# {len(names)} entries, cache "
          f"{spark.conf.get('spark.sql.codegen.cache.maxEntries')}", flush=True)

    for p in range(args.passes):
        before = jvm_counters(spark, compiles, jit_ms)
        compiled: dict[str, int] = {}
        for name in names:
            c0 = compiles()
            if args.engine:
                env = engine.sql(specs[name].engine_sql)
                if not env.success:
                    raise RuntimeError(f"{name}: {env.error}")
            else:
                run_noop(specs[name].run(spark, args.sf_dir))
                release_persisted()
            compiled[name] = compiles() - c0
        after = jvm_counters(spark, compiles, jit_ms)
        line = {k: round(after[k] - before[k], 2) for k in before}
        line["metaspace_codeheap_mb"] = round(after["metaspace_codeheap_mb"], 1)
        print(json.dumps({"pass": p, **line}), flush=True)
    print(json.dumps({"compiled_on_last_pass":
                      {n: c for n, c in compiled.items() if c}}), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
