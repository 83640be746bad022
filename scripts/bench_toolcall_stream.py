"""Streaming tool-call assembly at volume (r10 verdict #6): the keyed
stateful fragment assembler (streaming/events.py:toolcall_assembly_
stream) had parity tests but no throughput row, and fragment streams
are naturally hot-keyed by request (one long generation = one huge
key). Two corpora, same total rows:

- uniform: n_reqs requests x frags_per_req fragments each
- skewed:  ONE request carries ~50% of all fragments (a runaway
  generation), the rest uniform

There is deliberately NO map-side combine arm: fragment assembly is
order-sensitive (chunk_idx sort inside the state fold) and emits only
on the finish marker, so a map-side combine cannot fold fragments
without replicating the whole accumulator per partition — the
documented contrast with the count-delta streams (hist/heavy-hitters).
The number this script produces is therefore the honest hot-key
penalty of the op as designed: the hot request's fragments all land on
one state task.

Usage: PYTHONPATH=/root/repo python scripts/bench_toolcall_stream.py \
          [total_rows] [runs] [n_files]
Defaults: 2_000_000, 3, 32. Needs an idle machine.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
import time

from pyspark.sql import functions as F

from adenhq_hive_spark.session import get_spark
from adenhq_hive_spark.streaming.events import toolcall_assembly_stream


def _drive(spark, data_dir: str, schema: str, runs: int) -> float:
    best = float("inf")
    for _ in range(runs):
        ck = tempfile.mkdtemp(prefix="tc_bench_ck_")
        try:
            src = (
                spark.readStream.schema(schema).parquet(data_dir)
            )
            t0 = time.perf_counter()
            q = (
                toolcall_assembly_stream(src)
                .writeStream.outputMode("update")
                .format("noop")
                .option("checkpointLocation", ck)
                .start()
            )
            try:
                q.processAllAvailable()
            finally:
                q.stop()
            best = min(best, time.perf_counter() - t0)
        finally:
            shutil.rmtree(ck, ignore_errors=True)
    return best


def main() -> None:
    total = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    runs = int(sys.argv[2]) if len(sys.argv) > 2 else 3
    n_files = int(sys.argv[3]) if len(sys.argv) > 3 else 32
    spark = get_spark("bench_toolcall")
    schema = ("req_id string, tool_idx int, chunk_idx int, call_id string, "
              "tool_name string, frag string, finish boolean")

    def corpus(skewed: bool):
        if skewed:
            hot = total // 2
            n_reqs = max(1, (total - hot) // 20)
            rows = (
                spark.range(total).select(
                    F.when(F.col("id") < hot, F.lit("req_hot"))
                    .otherwise(
                        F.concat(F.lit("req_"),
                                 (F.col("id") % n_reqs).cast("string"))
                    ).alias("req_id"),
                    F.lit(0).alias("tool_idx"),
                    # chunk order within the hot request is its id order
                    (F.col("id")).cast("int").alias("chunk_idx"),
                    F.lit("call_x").alias("call_id"),
                    F.lit("tool").alias("tool_name"),
                    F.concat(F.lit('{"p": '),
                             (F.col("id") % 97).cast("string"),
                             F.lit("}")).alias("frag"),
                    F.lit(False).alias("finish"),
                )
            )
        else:
            n_reqs = max(1, total // 20)
            rows = (
                spark.range(total).select(
                    F.concat(F.lit("req_"),
                             (F.col("id") % n_reqs).cast("string"))
                    .alias("req_id"),
                    F.lit(0).alias("tool_idx"),
                    (F.col("id") / n_reqs).cast("int").alias("chunk_idx"),
                    F.lit("call_x").alias("call_id"),
                    F.lit("tool").alias("tool_name"),
                    F.concat(F.lit('{"p": '),
                             (F.col("id") % 97).cast("string"),
                             F.lit("}")).alias("frag"),
                    F.lit(False).alias("finish"),
                )
            )
        # one finish marker per request so every accumulator emits
        fins = rows.select("req_id").distinct().select(
            "req_id", F.lit(0).alias("tool_idx"),
            F.lit(0).alias("chunk_idx"),
            F.lit(None).cast("string").alias("call_id"),
            F.lit(None).cast("string").alias("tool_name"),
            F.lit(None).cast("string").alias("frag"),
            F.lit(True).alias("finish"),
        )
        return rows.unionByName(fins)

    for label in ("uniform", "skewed"):
        data_dir = tempfile.mkdtemp(prefix=f"tc_bench_{label}_")
        try:
            corpus(label == "skewed").repartition(n_files).write.mode(
                "overwrite"
            ).parquet(data_dir)
            n = total  # fragment rows dominate; finish markers extra
            wall = _drive(spark, data_dir, schema, runs)
            print(f"toolcall_assembly {label}: {n} fragments in "
                  f"{wall:.2f}s = {round(n / wall)} rows/s "
                  f"(min-of-{runs}, {n_files} files)", flush=True)
        finally:
            shutil.rmtree(data_dir, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
