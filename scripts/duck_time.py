"""Isolated DuckDB oracle timing: reads {"sf_dir", "queries": {name:
sql}, "runs"} as JSON on stdin, times each query min-of-runs against
the parquet views, prints {name: seconds} as JSON on stdout.

Exists so bench.py and dual_time.py can time the DuckDB side in a
FRESH PROCESS after spark.stop(): with the Spark JVM resident in the
same process the measured DuckDB numbers drifted up to ~2x vs an
idle-machine run (BASELINE r9 close-out), so the artifact ratio needed
a footnote. A subprocess after JVM teardown is the honest measurement.
Run it through ``bench.duck_subprocess``, which sets PYTHONPATH to the
repo.
"""

from __future__ import annotations

import json
import sys

import duckdb

from adenhq_hive_spark.catalog import TABLES
from bench import measure, min_runs


def main() -> None:
    spec = json.load(sys.stdin)
    sf_dir = spec["sf_dir"]
    runs = int(spec.get("runs", 3))
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    out: dict[str, float] = {}
    for name, sql in spec["queries"].items():
        out[name] = round(measure(lambda: con.execute(sql).fetchall(),
                                  min_runs(runs)).best, 4)
    con.close()
    json.dump(out, sys.stdout)


if __name__ == "__main__":
    main()
