"""Dual-time arbitrary registered queries: Spark (noop sink, min of N
runs after a warm-up pass) vs DuckDB (fetchall, min of N runs) — the
same protocol as bench.py, through its measurement core.  This is the
per-entry 2x-adjudication tool: every new operator gets a BASELINE.md
row produced by this script at sf0.1 and sf1.

The DuckDB side runs after spark.stop() in a fresh process
(scripts/duck_time.py), as bench.py does.  An entry that fails (e.g. a
late OOM in a long sweep) is recorded under "failed" and costs that
entry only; the rest of the sweep still prints.

Usage: python scripts/dual_time.py <sf_dir> <name1,name2,...> [runs]
Prints one JSON line {"sf_dir": ..., "engine": {...}, "duckdb": {...}}
plus {"failed": {name: error}} when an entry failed.
"""

from __future__ import annotations

import json
import os
import sys


def main() -> None:
    sf_dir = sys.argv[1]
    names = sys.argv[2].split(",")
    runs = int(sys.argv[3]) if len(sys.argv) > 3 else 2

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from adenhq_hive_spark.queries import all_queries
    from adenhq_hive_spark.session import get_spark
    from bench import duck_subprocess, log, measure_spec, min_runs, run_noop

    spark = get_spark("dual-time")
    specs = all_queries()
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")

    failed: dict[str, str] = {}
    for name in names:  # warm-up: JIT, codegen cache, parquet footers
        try:
            run_noop(specs[name].run(spark, sf_dir))
        except Exception as e:  # noqa: BLE001 — record, keep sweeping
            failed[name] = str(e)[:200]

    engine: dict[str, float] = {}
    for name in names:
        if name in failed:
            continue
        try:
            best = measure_spec(specs[name], spark, sf_dir,
                                min_runs(runs)).best
        except Exception as e:  # noqa: BLE001
            # one OOM in a long sweep in ONE JVM must cost that entry,
            # not the whole table (the r10 sf30 sweep died on entry 24
            # of 24 with 23 results unprinted)
            failed[name] = str(e)[:200]
            log(f"engine {name}: FAILED {failed[name][:80]}")
            continue
        engine[name] = round(best, 4)
        log(f"engine {name}: {best:.3f}s")
    spark.stop()

    duck = duck_subprocess(sf_dir, {
        name: specs[name].oracle for name in names
        if specs[name].oracle is not None
    }, runs)
    for name, v in duck.items():
        log(f"duckdb {name}: {v:.3f}s")

    out = {"sf_dir": sf_dir, "engine": engine, "duckdb": duck}
    if failed:
        out["failed"] = failed
    print(json.dumps(out))


if __name__ == "__main__":
    main()
