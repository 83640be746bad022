"""Dump the physical plans of registry entries to stdout (or a file)
for plan review — the artifact behind BASELINE.md's plan-audit claims,
and the plan-identity check between two checkouts.

Usage: python scripts/explain_audit.py [sf_dir] [name ... | all] > PLANS.txt

Without names it dumps the headline queries (``bench.HEADLINE``); ``all``
dumps every registry entry, sorted by name. Each plan is the one Spark
plans from the entry (``AdaptiveSparkPlan isFinalPlan=false``), not the
one adaptive execution ends with: that one depends on which query stage
finishes first (two runs of one checkout pick different broadcast
sides), so it cannot be compared. The JVM-global counters are stripped
too (expression ids ``#N``, ``plan_id=N`` and the numeric suffix of
lambda variables, ``x_12`` -> ``x``): they depend on what ran earlier in
the JVM. The warehouse directory lies in the checkout, so it reads
``<warehouse>``. Two checkouts' dumps over the same entries, each in one
JVM, then compare with a plain ``diff``.

After each plan one line reads ``python: nodes=N max_chain=M``
(``catalog.python_eval_census``, the walker of
tests/test_plan_shapes.py's one-Python-evaluation-per-stage rule): the
Python eval nodes of the plan and the most of them one stage stacks on
one path, i.e. the Python workers one of its tasks holds at once.
``grep -E '^[a-z0-9_]+: '`` over an ``all`` dump pairs each entry's
header with that line: the census.
"""

from __future__ import annotations

import re
import sys

from bench import HEADLINE

from adenhq_hive_spark.catalog import python_eval_census
from adenhq_hive_spark.operators.dedup import release_persisted
from adenhq_hive_spark.queries import all_queries
from adenhq_hive_spark.session import get_spark

_COUNTERS = (
    (re.compile(r"#\d+"), ""),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"\b([xyz])_\d+\b"), r"\1"),
)


def strip_counters(plan: str, warehouse: str) -> str:
    for pattern, repl in _COUNTERS:
        plan = pattern.sub(repl, plan)
    return plan.replace(warehouse, "<warehouse>")


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    specs = all_queries()
    names = sys.argv[2:] or list(HEADLINE)
    if names == ["all"]:
        names = sorted(specs)
    spark = get_spark("explain-audit")
    warehouse = spark.conf.get("spark.sql.warehouse.dir").rstrip("/")
    for name in names:
        if name not in specs:
            continue
        print(f"\n{'=' * 72}\n{name}: {specs[name].doc.splitlines()[0]}\n{'=' * 72}")
        try:
            df = specs[name].run(spark, sf_dir)
            plan = df._jdf.queryExecution().executedPlan().toString()
            plan += "\npython: nodes={} max_chain={}".format(*python_eval_census(df))
        except Exception as exc:  # keep going: the dump shows the failure
            plan = f"ERROR {type(exc).__name__}: {str(exc)[:200]!r}"
        finally:
            release_persisted()
        print(strip_counters(plan, warehouse), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
