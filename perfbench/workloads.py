"""The benchmark's three workloads.

Each workload drives the package only through public entry points and
one closed loop in this process: make its seeded inputs, warm up
untimed, run operations back to back for the measured time, then check
every measured result against a DuckDB reference outside the timed
region. ``Segment.ops`` holds every operation run, ``latencies_ms`` the
latency of the workload's unit of user-visible work:

- ``sql_interactive``: an operation is one ``Engine.sql`` call, and so
  is the unit.
- ``pipeline_batch``: an operation is one registry entry,
  ``QuerySpec.run`` plus a ``noop`` write; the unit is one pass over the
  whole list.
- ``event_stream``: an operation is one streaming micro-batch, and so is
  the unit (its ``triggerExecution`` time as
  ``StreamingQuery.recentProgress`` reports it).
"""

from __future__ import annotations

import contextlib
import glob
import os
import shutil
import statistics
import sys
import time
import traceback

import duckdb
import numpy as np
from pyspark.sql import Observation
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from adenhq_hive_spark.catalog import SCHEMAS, TABLES
from adenhq_hive_spark.engine import Engine
from adenhq_hive_spark.normalize import result_hash
from adenhq_hive_spark.operators.dedup import release_persisted
from adenhq_hive_spark.queries import QuerySpec, all_queries
from adenhq_hive_spark.streaming.events import tumbling_counts
from adenhq_hive_spark.streaming.upsert import read_store, upsert_stream

import gen
import spans as tr


def _span(tracer, name):
    return tracer.span(name) if tracer is not None else contextlib.nullcontext()


@contextlib.contextmanager
def _job_group(spark, tracer, group: str):
    if tracer is None:
        yield
        return
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


def _median(xs, what: str) -> float:
    return float(statistics.median(tr.require(xs, what)))


def _duck(data_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def _same(cols, rows, ref_cols, ref_rows) -> bool:
    return (result_hash(cols, rows, strict=True)
            == result_hash(ref_cols, ref_rows, strict=True))


class Segment:
    """One measured stretch: per-operation latencies and wall time."""

    def __init__(self) -> None:
        self.latencies_ms: list[float] = []
        self.ops: list[tuple[str, float]] = []  # (what ran, ms)
        self.wall_s = 0.0
        self.failed = 0


class Workload:
    sf = 0.01
    # Seconds one pass (one cycle for event_stream) takes on the host the
    # bounds were set on. A run measures a fixed number of whole passes
    # sized from --seconds with it, so every run of a workload does the
    # same work however fast the host is that day.
    PASS_S = 4.0
    SPARK_LAYERS = (
        "spark.jobs_per_query", "spark.stages_per_query",
        "spark.tasks_per_query", "spark.jobs", "spark.stages", "spark.tasks",
        "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
        "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
        "spark.spill_bytes",
    )
    # The per-layer metrics the traced run produces for this workload,
    # beyond run.RUN_LAYERS; it fails when they differ.
    LAYERS: tuple[str, ...] = ()

    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.seed = seed
        # Spark counters of the first traced segment by job group, filled
        # by layers(); written next to the spans for run-to-run comparison
        self.counters: dict[str, dict[str, float]] = {}
        self.data_dir = os.path.join(work, "data")
        self.rng = np.random.default_rng([seed, 1])

    def make_inputs(self) -> None:
        gen.generate(self.data_dir, self.sf, self.seed)

    def passes_for(self, seconds: float) -> int:
        return max(1, round(seconds / self.PASS_S))

    def layers(self, spark, tracer, seg: Segment) -> dict[str, float]:
        return {}


class SqlInteractive(Workload):
    """Seeded sequence of read-only SELECTs from the relational registry
    plus one injected write per pass (~8%) that the gate must reject."""

    MAX_ROWS = 1000
    # q86 is the registry's surface-coverage recursive CTE: ~60
    # sequential micro-plans, ~10 s per call on 4 cores, so one call
    # would take most of a run; its one-job twin is pl_calendar_fill.
    EXCLUDED = ("q86",)
    # Every eighth entry by name (12 of 91). A pass is the whole pool in
    # a seeded order plus one injected write (1 call in 13, ~8%); runs
    # measure whole passes, so they differ in order, never in mix.
    POOL_STRIDE = 8
    PASSES = 64
    LAYERS = (
        "op.tail_ms", "engine.calls", "engine.gate_ms", "engine.analyze_ms",
        "engine.collect_ms", "engine.envelope_ms", "engine.rows_returned",
        "engine.truncated_share", "engine.rejected",
    ) + Workload.SPARK_LAYERS

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        specs = all_queries()
        relational = [
            n for n, s in sorted(specs.items())
            if s.engine_sql and not n.startswith("pl_")
            and n not in self.EXCLUDED
        ]
        self.specs = {n: specs[n] for n in relational[::self.POOL_STRIDE]}
        self.passes = [self._pass(k) for k in range(self.PASSES)]
        self.calls: list[tuple[str | None, bool, object]] = []
        self.engine = None

    def _pass(self, k: int) -> list[tuple[str | None, str, bool]]:
        names = list(self.specs)
        out: list[tuple[str | None, str, bool]] = [
            (names[i], self.specs[names[i]].engine_sql, False)
            for i in self.rng.permutation(len(names))]
        t = TABLES[int(self.rng.integers(0, len(TABLES)))]
        stmt = (f"DROP TABLE {t}",
                f"INSERT INTO {t} SELECT * FROM {t}",
                f"CREATE TABLE perfbench_w{k} AS SELECT * FROM {t}")[k % 3]
        out.insert(int(self.rng.integers(0, len(out) + 1)), (None, stmt, True))
        return out

    def warm_up(self, spark) -> None:
        """One untimed pass over the pool: the first call of a statement
        pays for code generation that later calls find cached."""
        self.engine = Engine(spark, self.data_dir)
        for spec in self.specs.values():
            env = self.engine.sql(spec.engine_sql, max_rows=self.MAX_ROWS)
            if not env.success:
                raise RuntimeError(f"warm-up failed: {env.error}\n"
                                   f"{spec.engine_sql}")

    def measure(self, spark, seconds: float, tracer=None) -> Segment:
        """Whole passes for about ``seconds``. Every segment starts at the
        first pass, so a traced and an untraced segment (and two runs of
        one seed) run the same calls."""
        seg = Segment()
        seg.first_call = len(self.calls)
        t0 = time.perf_counter()
        for p in range(self.passes_for(seconds)):
            for name, stmt, is_write in self.passes[p % self.PASSES]:
                with _job_group(spark, tracer,
                                f"perfbench-sql-{len(self.calls)}"):
                    t = time.perf_counter()
                    env = self.engine.sql(stmt, max_rows=self.MAX_ROWS)
                    ms = (time.perf_counter() - t) * 1e3
                seg.latencies_ms.append(ms)
                seg.ops.append((name or "write", ms))
                self.calls.append((name, is_write, env))
        seg.wall_s = time.perf_counter() - t0
        seg.calls = self.calls[seg.first_call:]
        return seg

    def check(self, spark, segments: list[Segment]) -> int:
        con = _duck(self.data_dir)
        refs: dict[str, tuple] = {}
        failed = 0
        for name, is_write, env in self.calls:
            if is_write or name is None:
                failed += int(env.success)
                continue
            if not env.success:
                failed += 1
                continue
            spec: QuerySpec = self.specs[name]
            if spec.oracle is None:
                continue
            if name not in refs:
                rel = con.execute(spec.oracle)
                refs[name] = ([d[0] for d in rel.description], rel.fetchall())
            ref_cols, ref_rows = refs[name]
            if len(ref_rows) > self.MAX_ROWS:
                ok = env.truncated and env.row_count == self.MAX_ROWS
            else:
                rows = [tuple(r[c] for c in env.columns) for r in env.rows]
                ok = (not env.truncated
                      and _same(env.columns, rows, ref_cols, ref_rows))
            if not ok:
                print(f"perfbench: {name} disagrees with DuckDB: "
                      f"{env.row_count} rows (truncated={env.truncated}), "
                      f"{len(ref_rows)} expected", file=sys.stderr)
            failed += int(not ok)
        con.close()
        return failed

    def layers(self, spark, tracer, seg: Segment) -> dict[str, float]:
        sql_spans = [s for s in tracer.spans if s["name"] == "engine.sql"]
        df_spans = [s for s in tracer.spans if s["name"] == "engine.df"]
        envelope = [
            (s["end"] - s["start"]) - tracer.child_time(s, "engine.df")
            - tracer.child_time(s, "engine.collect")
            for s in sql_spans
        ]
        analyze = [(s["end"] - s["start"]) - tracer.child_time(s, "engine.gate")
                   for s in df_spans]
        calls = seg.calls
        ok = [env for _, w, env in calls if env.success]
        first = calls[:len(self.passes[0])]  # the first traced pass
        jobs: list[int] = []
        for k in range(seg.first_call, seg.first_call + len(first)):
            jobs += tr.job_ids(spark, f"perfbench-sql-{k}")
        h = tr.harvest(spark, jobs)
        self.counters = {"sql_interactive": h}
        n = max(1, len(first))
        out = {
            "engine.calls": float(len(calls)),
            "engine.gate_ms": _median(
                tracer.durations("engine.gate"), "engine.gate spans") * 1e3,
            "engine.analyze_ms": _median(analyze, "engine.df spans") * 1e3,
            "engine.collect_ms": _median(
                tracer.durations("engine.collect"), "engine.collect spans") * 1e3,
            "engine.envelope_ms": _median(envelope, "engine.sql spans") * 1e3,
            "engine.rows_returned": float(sum(e.row_count for e in ok)),
            "engine.truncated_share": (
                sum(e.truncated for e in ok) / len(ok) if ok else 0.0),
            "engine.rejected": float(sum(
                1 for _, w, env in calls if w and not env.success)),
            "spark.jobs_per_query": h["jobs"] / n,
            "spark.stages_per_query": h["stages"] / n,
            "spark.tasks_per_query": h["tasks"] / n,
        }
        out.update({f"spark.{k}": v for k, v in h.items()
                    if not k.startswith("python")})
        return out


class PipelineBatch(Workload):
    """A fixed list of compute-tier registry entries, one job at a time,
    each run as ``QuerySpec.run`` plus a ``noop`` sink.

    At sf 0.01: at sf 0.1 one pass takes ~27 s and the DuckDB check
    several minutes on 4 cores, more than a run may take. Five entries
    keep a pass near 5 s: two shingle self-joins, a Python-worker stage,
    a BLAS top-k and a ``plans`` graph loop."""

    ENTRIES = (
        "pl_ngram_jaccard", "pl_editdist", "pl_semdedup", "pl_cosine_topk",
        "pl_graph_agent_loop",
    )
    SHUFFLE_ENTRIES = ("pl_ngram_jaccard", "pl_editdist")
    PASS_S = 6.5
    LAYERS = (
        "pipeline.wall_s", "queries.build_s", "queries.execute_s",
        "plans.execute_s", "plans.graph_steps", "operators.cpu_utilization",
        "operators.pl_semdedup.python_init_ms",
        "operators.pl_semdedup.python_run_ms",
        *(f"pipeline.{n}.wall_s" for n in ENTRIES),
        *(f"operators.{n}.shuffle_write_bytes" for n in SHUFFLE_ENTRIES),
    ) + Workload.SPARK_LAYERS

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        specs = all_queries()
        self.specs = {n: specs[n] for n in self.ENTRIES}
        self.outputs: dict[str, tuple] = {}
        self.ran: dict[str, int] = dict.fromkeys(self.ENTRIES, 0)
        self.passes_run = 0

    def warm_up(self, spark) -> None:
        # The untimed pass collects each entry's output once; check()
        # compares it with the reference after the timed region.
        for n, spec in self.specs.items():
            df = spec.run(spark, self.data_dir)
            self.outputs[n] = (df.columns, [tuple(r) for r in df.collect()])
            release_persisted()

    def measure(self, spark, seconds: float, tracer=None) -> Segment:
        """Whole passes over the list, in list order, for about
        ``seconds``."""
        seg = Segment()
        seg.passes = []  # per pass: {entry: wall_s, "_pass": s}
        seg.first_pass = self.passes_run
        t0 = time.perf_counter()
        for _ in range(self.passes_for(seconds)):
            p = self.passes_run
            self.passes_run += 1
            walls: dict[str, float] = {}
            t_pass = time.perf_counter()
            for n, spec in self.specs.items():
                with _job_group(spark, tracer, f"perfbench-pl-{p}-{n}"):
                    t = time.perf_counter()
                    # the row count of every timed write is checked
                    # against the warm-up output that check() compares
                    # with DuckDB
                    rows = Observation()
                    try:
                        df = spec.run(spark, self.data_dir)
                        with _span(tracer, "queries.execute"):
                            (df.observe(rows, F.count(F.lit(1)).alias("n"))
                             .write.mode("overwrite").format("noop").save())
                    except Exception:  # counted, the loop goes on
                        traceback.print_exc()
                        seg.failed += 1
                        rows = None
                    finally:
                        release_persisted()
                    walls[n] = time.perf_counter() - t
                if rows is not None and rows.get["n"] != len(self.outputs[n][1]):
                    print(f"perfbench: {n} wrote {rows.get['n']} rows, "
                          f"{len(self.outputs[n][1])} expected", file=sys.stderr)
                    seg.failed += 1
                seg.ops.append((n, walls[n] * 1e3))
                self.ran[n] += 1
            walls["_pass"] = time.perf_counter() - t_pass
            seg.latencies_ms.append(walls["_pass"] * 1e3)
            if not seg.passes:
                seg.t_first = t_pass
            seg.passes.append(walls)
        seg.wall_s = time.perf_counter() - t0
        return seg

    def check(self, spark, segments: list[Segment]) -> int:
        con = _duck(self.data_dir)
        failed = 0
        for n, spec in self.specs.items():
            cols, rows = self.outputs[n]
            if spec.oracle is not None:
                rel = con.execute(spec.oracle)
                ok = _same(cols, rows, [d[0] for d in rel.description],
                           rel.fetchall())
            else:
                ok = len(rows) > 0 and spec.run(
                    spark, self.data_dir).count() == len(rows)
                release_persisted()
            if not ok:
                failed += self.ran[n]
        con.close()
        return failed

    def layers(self, spark, tracer, seg: Segment) -> dict[str, float]:
        first = seg.passes[0]
        total = dict.fromkeys(tr.STAGE_COUNTERS, 0.0)
        out: dict[str, float] = {}
        for n in self.ENTRIES:
            h = tr.harvest(spark, tr.job_ids(
                spark, f"perfbench-pl-{seg.first_pass}-{n}"))
            self.counters[n] = h
            for k, v in h.items():
                total[k] += v
            out[f"pipeline.{n}.wall_s"] = first[n]
            if n in self.SHUFFLE_ENTRIES:
                out[f"operators.{n}.shuffle_write_bytes"] = h["shuffle_write_bytes"]
            if n == "pl_semdedup":
                out["operators.pl_semdedup.python_init_ms"] = h["python_init_ms"]
                out["operators.pl_semdedup.python_run_ms"] = h["python_run_ms"]
        in_first = [s for s in tracer.spans
                    if seg.t_first <= s["start"] <= seg.t_first + first["_pass"]]

        def pass_sum(name):
            return sum(tr.require([s["end"] - s["start"] for s in in_first
                                   if s["name"] == name], f"{name} spans"))

        cores = spark.sparkContext.defaultParallelism
        out.update({
            "pipeline.wall_s": first["_pass"],
            "queries.build_s": pass_sum("queries.build"),
            "queries.execute_s": pass_sum("queries.execute"),
            "plans.execute_s": pass_sum("plans.execute"),
            "plans.graph_steps": float(sum(
                s.get("steps", 0) for s in in_first
                if s["name"] == "plans.execute")),
            "operators.cpu_utilization": total["executor_cpu_ms"]
            / (first["_pass"] * 1e3 * cores),
            "spark.jobs_per_query": total["jobs"] / len(self.ENTRIES),
            "spark.stages_per_query": total["stages"] / len(self.ENTRIES),
            "spark.tasks_per_query": total["tasks"] / len(self.ENTRIES),
        })
        out.update({f"spark.{k}": v for k, v in total.items()
                    if not k.startswith("python")})
        return out


CDC_DDL = "doc_id bigint, ts timestamp, n_chars bigint, source string"


class EventStream(Workload):
    """(a) Replicated events through the stateful tumbling window, (b)
    seeded CDC batches merged by ``upsert_stream`` into a keyed store,
    both as catch-up (``processAllAvailable``) micro-batch runs."""

    sf = 0.1
    COPIES = 8
    FILES_PER_TRIGGER = 2
    CDC_BATCHES = 4
    CDC_ROWS = 1000
    PASS_S = 5.0
    LAYERS = (
        "op.tail_ms", "streaming.microbatches", "streaming.trigger_ms_p50",
        "streaming.add_batch_ms_p50", "streaming.state_rows",
        "streaming.rows_per_s", "streaming.upsert.rows_per_s",
        "streaming.upsert.bytes_written_per_input_byte",
        "streaming.upsert.store_rows",
    ) + Workload.SPARK_LAYERS

    def __init__(self, work: str, seed: int) -> None:
        super().__init__(work, seed)
        self.ev_dir = os.path.join(work, "events_stream")
        self.cdc_dir = os.path.join(work, "cdc")
        self.cycles = 0
        self.last: dict | None = None

    def make_inputs(self) -> None:
        super().make_inputs()
        self.ev_rows = gen.replicate_events(
            self.data_dir, self.ev_dir, self.COPIES, self.COPIES)
        n_docs = max(500, int(50_000 * self.sf))
        os.makedirs(self.cdc_dir, exist_ok=True)
        for i, b in enumerate(gen.cdc_batches(
                self.rng, n_docs, self.CDC_BATCHES, self.CDC_ROWS)):
            path = os.path.join(self.cdc_dir, f"b{i:03d}.parquet")
            gen.write_table(b, path)
            # the file source orders files by modification time (ms);
            # one second apart, batches arrive in the order written
            t_ns = (1_700_000_000 + i) * 1_000_000_000
            os.utime(path, ns=(t_ns, t_ns))
        self.cdc_rows = self.CDC_BATCHES * self.CDC_ROWS
        self.cdc_bytes = sum(os.path.getsize(p) for p in
                             glob.glob(os.path.join(self.cdc_dir, "*.parquet")))

    def _cycle(self, spark) -> dict:
        k = self.cycles
        self.cycles += 1
        base = os.path.join(self.work, "stream", str(k))
        events = (spark.readStream.schema(SCHEMAS["events"])
                  .option("maxFilesPerTrigger", self.FILES_PER_TRIGGER)
                  .parquet(self.ev_dir))
        t = time.perf_counter()
        q = (tumbling_counts(events).writeStream.outputMode("complete")
             .format("memory").queryName(f"perfbench_tumble_{k}")
             .option("checkpointLocation", os.path.join(base, "ck_tumble"))
             .start())
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        tumble_s = time.perf_counter() - t
        changes = (spark.readStream.schema(StructType.fromDDL(CDC_DDL))
                   .option("maxFilesPerTrigger", 1).parquet(self.cdc_dir))
        store = os.path.join(base, "store")
        t = time.perf_counter()
        q2 = (upsert_stream(changes, store)
              .option("checkpointLocation", os.path.join(base, "ck_upsert"))
              .start())
        try:
            q2.processAllAvailable()
        finally:
            q2.stop()
        upsert_s = time.perf_counter() - t
        progress = [p for p in list(q.recentProgress) + list(q2.recentProgress)
                    if p["numInputRows"] > 0]
        return {"k": k, "base": base, "store": store, "table": f"perfbench_tumble_{k}",
                "tumble_s": tumble_s, "upsert_s": upsert_s, "progress": progress,
                "tumble_progress": [p for p in q.recentProgress
                                    if p["numInputRows"] > 0],
                "run_ids": (str(q.runId), str(q2.runId))}

    def _keep_last(self, cycle: dict) -> None:
        if self.last is not None:
            shutil.rmtree(self.last["base"], ignore_errors=True)
        self.last = cycle

    def warm_up(self, spark) -> None:
        self._keep_last(self._cycle(spark))

    def measure(self, spark, seconds: float, tracer=None) -> Segment:
        seg = Segment()
        seg.cycles = []
        t0 = time.perf_counter()
        for _ in range(self.passes_for(seconds)):
            with _span(tracer, "streaming.cycle"):
                cycle = self._cycle(spark)
            for p in cycle["progress"]:
                ms = float(p["durationMs"]["triggerExecution"])
                seg.latencies_ms.append(ms)
                seg.ops.append((
                    "tumbling_counts" if p["runId"] == cycle["run_ids"][0]
                    else "upsert_stream", ms))
            if not seg.cycles and tracer is not None:
                cycle["store_bytes"] = sum(
                    os.path.getsize(f) for f in glob.glob(
                        os.path.join(cycle["store"], "v*", "*")))
                cycle["store_rows"] = read_store(spark, cycle["store"]).count()
                seg.first = cycle
            seg.cycles.append(cycle)
            self._keep_last(cycle)
        seg.wall_s = time.perf_counter() - t0
        return seg

    def check(self, spark, segments: list[Segment]) -> int:
        """The last cycle's tumbling output against its batch image and
        its store against last-writer-wins over all change rows; a
        mismatch fails every micro-batch of the measured segments."""
        con = duckdb.connect()
        rel = con.execute(
            "SELECT time_bucket(INTERVAL 1 HOUR, ts) AS hour, event_type, "
            "COUNT(*) AS n, ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) "
            "AS DOUBLE), 4) AS total FROM read_parquet("
            f"'{self.ev_dir}/*.parquet') GROUP BY ALL")
        ref = ([d[0] for d in rel.description], rel.fetchall())
        got = spark.table(self.last["table"])
        ok_tumble = _same(got.columns, [tuple(r) for r in got.collect()], *ref)
        rel = con.execute(
            "SELECT doc_id, ts, n_chars, source FROM (SELECT *, row_number() "
            "OVER (PARTITION BY doc_id ORDER BY ts DESC) AS rn FROM "
            f"read_parquet('{self.cdc_dir}/*.parquet')) WHERE rn = 1")
        ref = ([d[0] for d in rel.description], rel.fetchall())
        store = read_store(spark, self.last["store"]).select(*ref[0])
        ok_store = _same(store.columns, [tuple(r) for r in store.collect()], *ref)
        con.close()
        if ok_tumble and ok_store:
            return 0
        print(f"perfbench: event_stream mismatch: tumbling ok={ok_tumble}, "
              f"upsert store ok={ok_store}", file=sys.stderr)
        return sum(len(s.ops) for s in segments)

    def layers(self, spark, tracer, seg: Segment) -> dict[str, float]:
        c = seg.first
        for name, rid in zip(("tumbling_counts", "upsert_stream"), c["run_ids"]):
            self.counters[name] = tr.harvest(spark, tr.job_ids(spark, rid))
        h = {k: sum(g[k] for g in self.counters.values())
             for k in tr.STAGE_COUNTERS}
        n = max(1, len(c["progress"]))
        tumble = c["tumble_progress"]
        state = tumble[-1]["stateOperators"] if tumble else []
        out = {
            "streaming.microbatches": float(len(c["progress"])),
            "streaming.trigger_ms_p50": _median(
                [p["durationMs"]["triggerExecution"] for p in c["progress"]],
                "micro-batch progress"),
            "streaming.add_batch_ms_p50": _median(
                [p["durationMs"].get("addBatch", 0) for p in c["progress"]],
                "micro-batch progress"),
            "streaming.state_rows": float(state[0]["numRowsTotal"]) if state else 0.0,
            "streaming.rows_per_s": self.ev_rows / c["tumble_s"],
            "streaming.upsert.rows_per_s": self.cdc_rows / c["upsert_s"],
            "streaming.upsert.bytes_written_per_input_byte":
                c["store_bytes"] / self.cdc_bytes,
            "streaming.upsert.store_rows": float(c["store_rows"]),
            "spark.jobs_per_query": h["jobs"] / n,
            "spark.stages_per_query": h["stages"] / n,
            "spark.tasks_per_query": h["tasks"] / n,
        }
        out.update({f"spark.{k}": v for k, v in h.items()
                    if not k.startswith("python")})
        return out


def instrument(spark, tracer: tr.Tracer) -> tr.Tracer:
    """Wrap the package's public calls in spans of ``tracer`` for a
    traced segment; the caller restores them with ``Tracer.restore``."""
    from adenhq_hive_spark import engine
    from adenhq_hive_spark.plans.graph import GraphRunner

    def graph_steps(rec, result):
        rec["steps"] = len(result.steps)

    tracer.wrap(engine, "assert_read_only", "engine.gate")
    tracer.wrap(Engine, "df", "engine.df")
    tracer.wrap(Engine, "sql", "engine.sql")
    tracer.wrap(type(spark.range(1)), "collect", "engine.collect",
                only_inside="engine.sql")
    tracer.wrap(QuerySpec, "run", "queries.build")
    tracer.wrap(GraphRunner, "execute", "plans.execute", on_result=graph_steps)
    return tracer


WORKLOADS = {
    "sql_interactive": SqlInteractive,
    "pipeline_batch": PipelineBatch,
    "event_stream": EventStream,
}
