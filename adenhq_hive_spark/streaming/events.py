"""Event-stream operators over the ``events`` table as a file stream.

Mapping from the reference runtime (SURVEY §2.9):

- EventBus pub/sub with type+stream filtering (event_bus.py:184-288)
  → ``subscribe``: predicate filter on the stream.
- Per-arrival processing, no event-time semantics (the reference delivers
  in arrival order and never reorders) → we ADD event-time windows +
  watermarks as new, documented semantics: late rows beyond the watermark
  are dropped from aggregates.
- Entry-point triggers webhook/timer/cron (edge.py:306-342) → source
  triggers (``availableNow`` for catch-up batches, processing-time for
  timer-like cadence).
- SharedStateManager scoped state (shared_state.py:49-128) →
  ``running_user_state``: per-key state via applyInPandasWithState,
  checkpointed by the engine.
- OutcomeAggregator progress rollups (outcome_aggregator.py:59-311) →
  ``foreach_batch_parquet``: epoch-partitioned batch sink, idempotent
  under foreachBatch's at-least-once replay.

Batch/stream parity: every windowed operator here has a batch image in
the declared query set (q56/q57/q58) — tests assert the streaming results
equal the batch results on the same data.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable, Iterator
from decimal import ROUND_HALF_UP, Decimal
from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from ..catalog import read_events


def read_event_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-source stream over the events parquet: the batch catalog's
    own read (:func:`catalog.read_events`, footer-detected ts unit),
    one file per trigger.  The file source monitors a DIRECTORY; the
    glob filter selects the events table out of the sf dir."""
    reader = (
        spark.readStream.option("maxFilesPerTrigger", 1)
        .option("pathGlobFilter", "events.parquet")
    )
    return read_events(
        spark, reader, os.path.join(sf_dir, "events.parquet"), sf_dir
    )


def subscribe(
    stream: DataFrame,
    event_types: list[str] | None = None,
    user_ids: list[int] | None = None,
) -> DataFrame:
    """EventBus subscription image: type + stream(=user) filtering
    (event_bus._matches, event_bus.py:265-288)."""
    out = stream
    if event_types is not None:
        out = out.filter(F.col("event_type").isin(event_types))
    if user_ids is not None:
        out = out.filter(F.col("user_id").isin(user_ids))
    return out


def tumbling_counts(
    stream: DataFrame, width: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-type tumbling-window counts with late-data policy (watermark).

    Batch image: q57 (date_trunc('HOUR', ts) grouping).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("total"),
        )
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "n",
            "total",
        )
    )


def sliding_counts(
    stream: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Sliding-window per-type counts: PAPER.md §0 layer 3 (streaming
    runtime), the timer-cadence rollup of the reference's EventBus
    events.  Batch image: pl_sliding_window (the same window() grouping,
    DuckDB-checked by window expansion); tests/test_streaming.py pins
    stream == batch on the same rows."""
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width, slide).alias("win"), "event_type")
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("start"), F.col("win.end").alias("end"),
                "event_type", "n")
    )


def session_counts(
    stream: DataFrame, gap: str = "30 minutes", watermark: str = "30 minutes"
) -> DataFrame:
    """Gap-based session windows per user (session_window builtin).

    Batch image: q58's gap-and-island SQL — same 30-minute gap rule.
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("win.start").alias("session_start"),
            F.col("win.end").alias("session_end"),
            "n_events",
        )
    )


def _frame(schema: T.StructType, rows: list[tuple]) -> pd.DataFrame:
    """One output batch of a state function: typed-empty (object
    columns, which Arrow casts to ``schema``) when there are no rows,
    else one column per schema field, in schema order."""
    if not rows:
        return pd.DataFrame(
            {c.name: pd.Series(dtype="object") for c in schema}
        )
    return pd.DataFrame(
        {c.name: [r[i] for r in rows] for i, c in enumerate(schema)}
    )


def _combine(
    df: DataFrame,
    keys: list[str],
    ddl: str,
    derive: Callable[[pd.DataFrame], pd.DataFrame] | None = None,
) -> DataFrame:
    """Map-side combine before the shuffle to keyed state: a STATELESS
    ``mapInPandas`` folds each Arrow batch to one ``(*keys, cnt)`` row
    per distinct key (``derive`` first adds computed key columns;
    ``ddl`` types the keys).  The state task for a hot key then gets
    distinct keys per batch instead of raw rows (BASELINE.md "Round 10
    (second session): the skewed STREAMING regime measured", 1.18-2.05x
    over shuffling rows).  The merges downstream are count-weighted, so
    the grouping cannot change their result."""

    def reduce_part(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if len(pdf) == 0:
                continue
            if derive is not None:
                pdf = derive(pdf)
            out = (
                pdf.groupby(keys, as_index=False, sort=False)
                .size()
                .rename(columns={"size": "cnt"})
            )
            yield out[[*keys, "cnt"]]

    return df.mapInPandas(reduce_part, f"{ddl}, cnt long")


def _fold_day_counts(open_days: dict[str, int], pdf: pd.DataFrame) -> None:
    """Add a batch's per-day row counts to the open-day buffer."""
    for day, c in pdf["day"].astype(str).value_counts().items():
        open_days[day] = open_days.get(day, 0) + int(c)


def _close_days(
    days: DataFrame,
    out_schema: T.StructType,
    state_schema: T.StructType,
    init: tuple,
    score: Callable[[Any, tuple, list], tuple[tuple, list[tuple]]],
    fold: Callable[[dict, pd.DataFrame], None] = _fold_day_counts,
) -> DataFrame:
    """The day-closing core of the per-key daily streams
    (anomaly_stream, cusum_stream, hist_quantile_stream).

    ``days`` carries the key ``event_type``, ``day`` and whatever
    ``fold`` reads.  Per key the state is the operator's running fields
    (``init`` before the key's first row) followed by a JSON buffer of
    the still-open days, which ``fold(open_days, pdf)`` grows (default:
    per-day row counts).  A day closes when a strictly later day arrives
    for its key (a per-key watermark by data progress, the right bound
    for a source that replays in order); the newest day stays open, so
    every emitted row is final and the operator never revises.  Each
    trigger pops every older day, oldest first, and hands their buffers
    to ``score(key, running, closed) -> (running, tails)``: one output
    row ``(key, day, *tail)`` per closed day.

    A NULL ts would become the day 'NaT', which sorts AFTER every ISO
    date and would hold the newest-open-day slot forever (real days all
    close, the NaT bucket never drains), so those rows are dropped.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        *running, open_json = state.get if state.exists else (*init, "{}")
        open_days: dict[str, Any] = json.loads(open_json)
        for pdf in pdfs:
            fold(open_days, pdf)
        closing: list[str] = []
        if open_days:
            newest = max(open_days)
            closing = sorted(d for d in open_days if d < newest)
        running, tails = score(
            key[0], tuple(running), [open_days.pop(d) for d in closing]
        )
        state.update((*running, json.dumps(open_days)))
        yield _frame(out_schema, [
            (key[0], pd.Timestamp(d).date(), *t)
            for d, t in zip(closing, tails)
        ])

    return (
        days.filter(F.col("day").isNotNull())
        .groupBy("event_type")
        .applyInPandasWithState(
            update,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


_STATE_SCHEMA = T.StructType(
    [
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)
_USER_STATE_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("total_value", T.DoubleType()),
    ]
)


def running_user_state(stream: DataFrame) -> DataFrame:
    """Custom stateful operator: per-user running (count, value-sum) kept
    in the checkpointed state store — the SharedMemory/SharedStateManager
    image (node.py:264-452, shared_state.py:49-128): run-scoped keyed
    state that survives across triggers.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        n, total = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            total += float(pdf["value"].sum())
        state.update((n, total))
        yield _frame(_USER_STATE_OUT, [(key[0], n, round(total, 4))])

    return (
        stream.select("user_id", "value")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_USER_STATE_OUT,
            stateStructType=_STATE_SCHEMA,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def _write_epoch(df: DataFrame, epoch_id: int, path: str) -> None:
    """Write one foreachBatch micro-batch as the ``epoch_id=N`` partition
    of the parquet dataset at ``path``. foreachBatch is at-least-once;
    with dynamic partition overwrite a replayed epoch REPLACES its own
    partition instead of appending a second copy of every row."""
    (
        df.withColumn("epoch_id", F.lit(epoch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("epoch_id")
        .parquet(path)
    )


def foreach_batch_parquet(stream: DataFrame, out_dir: str):
    """Exactly-once sink: each micro-batch lands in parquet as its own
    ``epoch_id`` partition (:func:`_write_epoch`), so a replayed epoch
    replaces rather than duplicates its rows (foreachBatch;
    OutcomeAggregator write-through image)."""
    return stream.writeStream.foreachBatch(
        lambda batch_df, epoch_id: _write_epoch(batch_df, epoch_id, out_dir)
    )


def run_to_completion(
    stream: DataFrame,
    query_name: str,
    checkpoint_dir: str,
    output_mode: str = "complete",
):
    """Drive a streaming DataFrame over all currently-available input
    (availableNow semantics via processAllAvailable) into a memory sink;
    returns the started query (caller stops it). Checkpointed → a second
    run with the same checkpoint resumes, not reprocesses (the
    checkpoint/resume mapping of executor.py:719-738)."""
    q = (
        stream.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
    q.processAllAvailable()
    return q


def dedup_stream(stream: DataFrame, keys: list[str] | None = None,
                 watermark: str = "1 hour") -> DataFrame:
    """Streaming exact dedup: drop re-delivered events by key within the
    watermark horizon (the ingest-dedup tier of an LLM pipeline — at-
    least-once sources become effectively-once). State for a key is kept
    until the watermark passes it, so memory is bounded.  PAPER.md §0
    layer 3 (streaming runtime): the at-least-once delivery of its
    EventBus and entry-point triggers."""
    return stream.withWatermark("ts", watermark).dropDuplicates(
        keys or ["event_id"]
    )


def purchase_click_join(
    purchases: DataFrame, clicks: DataFrame, horizon: str = "1 hour"
) -> DataFrame:
    """Stream-stream inner join with an event-time range: each purchase
    joins clicks of the same user within the preceding ``horizon``
    (the streaming image of the as-of/attribution join; state on both
    sides bounded by watermark + range condition).  PAPER.md §0 layer 3
    (streaming runtime): two subscribed event streams joined by key."""
    p = (
        purchases.withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("p_ts"),
        )
    )
    c = (
        clicks.withWatermark("ts", "30 minutes")
        .select(
            F.col("user_id").alias("c_user"),
            F.col("event_id").alias("click_id"),
            F.col("ts").alias("c_ts"),
        )
    )
    return p.join(
        c,
        F.expr(
            f"p_user = c_user AND c_ts <= p_ts AND "
            f"c_ts >= p_ts - INTERVAL {horizon}"
        ),
    ).select("purchase_id", "click_id", "p_ts", "c_ts")


_SESSION_STATE = T.StructType(
    [
        T.StructField("start_ts", T.LongType()),   # epoch micros
        T.StructField("last_ts", T.LongType()),
        T.StructField("n_events", T.LongType()),
    ]
)
_SESSION_OUT = T.StructType(
    [
        T.StructField("user_id", T.LongType()),
        T.StructField("session_start", T.TimestampType()),
        T.StructField("session_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
    ]
)


def stateful_sessions(stream: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Custom sessionization with explicit keyed state + event-time
    timeouts — the full applyInPandasWithState surface (vs the
    session_window builtin in ``session_counts``).

    A session closes two ways, mirroring the reference's execution-stream
    lifecycle (streams end on terminal events or inactivity): (a) a new
    event arrives after the gap → the finished session is emitted
    immediately; (b) the event-time watermark passes last_ts + gap →
    the timeout fires and the pending session is emitted. State per user
    is O(1) (start, last, count).  PAPER.md §0 layer 3 (streaming
    runtime): the ExecutionStream lifecycle as keyed state with
    timeouts.
    """
    import datetime as _dt

    gap_us = gap_minutes * 60 * 1_000_000

    def _us(ts) -> int:
        return int(ts.value // 1000) if hasattr(ts, "value") else int(
            ts.timestamp() * 1_000_000
        )

    def _dtv(us: int):
        return _dt.datetime.utcfromtimestamp(us / 1_000_000)

    def update(key, pdfs, state):
        user_id = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield _frame(
                _SESSION_OUT, [(user_id, _dtv(start), _dtv(last), n)]
            )
            return
        ts_list = []
        for pdf in pdfs:
            ts_list.extend(_us(t) for t in pdf["ts"])
        ts_list.sort()
        start, last, n = state.get if state.exists else (None, None, 0)
        rows = []
        for t in ts_list:
            if last is not None and t - last > gap_us:
                rows.append((user_id, _dtv(start), _dtv(last), n))
                start, last, n = t, t, 1
            elif start is None:
                start, last, n = t, t, 1
            else:
                last, n = t, n + 1
        state.update((start, last, n))
        state.setTimeoutTimestamp((last + gap_us) // 1000)  # epoch millis
        yield _frame(_SESSION_OUT, rows)

    return (
        stream.select("user_id", "ts")
        .withWatermark("ts", f"{gap_minutes} minutes")
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=_SESSION_OUT,
            stateStructType=_SESSION_STATE,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )


_ANOMALY_OUT = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("day", T.DateType()),
    T.StructField("n_events", T.LongType()),
    T.StructField("n_days_prior", T.LongType()),
    T.StructField("is_anomaly", T.BooleanType()),
])

_ANOMALY_STATE = T.StructType([
    T.StructField("n", T.LongType()),
    T.StructField("s1", T.LongType()),
    T.StructField("s2", T.LongType()),
    T.StructField("open_days", T.StringType()),  # JSON {iso_day: count}
])


def anomaly_stream(stream: DataFrame, k: int = 2) -> DataFrame:
    """Streaming twin of :func:`operators.anomaly.daily_count_anomalies`:
    per-key daily counts flagged online against the key's PRIOR days.

    Semantics differ from the batch op deliberately — an online sentinel
    tests each closing day against the distribution of days already seen
    (the only information available at decision time), while the batch
    op tests against the full history. The decision is the same
    denominator-cleared integer inequality
    ``(n*x - S1)^2 * (n-1) >= k^2 * n * (n*S2 - S1^2)`` over the PRIOR
    running sums — no floating stddev in the state or the decision.

    State per key: running (n, S1, S2) over CLOSED days plus the JSON
    buffer of still-open day counts of the day-closing core
    (:func:`_close_days`): a day closes when a strictly later day
    arrives for that key, so every emitted flag is final.  Output mode
    append-compatible: one row per (key, closed day).

    Scale: state is three BIGINTs + a small JSON per key; the wide work
    is the groupBy(event_type) shuffle of raw events — at petabyte
    volume, pre-aggregate per (key, day) in the micro-batch before the
    stateful stage (same two-level shape as the batch op).
    """

    def score(key, running, closed):
        n, s1, s2 = running
        tails = []
        for x in closed:
            dev = n * x - s1
            varnum = n * s2 - s1 * s1
            # unlike the batch op, x is NOT in the prior sums, so a
            # zero-variance history with x off the constant is an
            # infinite-z anomaly, not a vacuous case
            flag = bool(
                n > 1
                and (
                    (varnum == 0 and dev != 0)
                    or dev * dev * (n - 1) >= k * k * n * varnum > 0
                )
            )
            tails.append((x, n, flag))
            n, s1, s2 = n + 1, s1 + x, s2 + x * x
        return (n, s1, s2), tails

    return _close_days(
        stream.select("event_type", F.to_date("ts").alias("day")),
        _ANOMALY_OUT, _ANOMALY_STATE, (0, 0, 0), score,
    )


def decontaminate_stream(
    doc_stream: DataFrame,
    eval_df: DataFrame,
    out_dir: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
):
    """Streaming benchmark decontamination: drop arriving documents that
    share any word ``n``-gram with a STATIC eval set — the ingest-time
    guard that keeps eval leakage out of a continuously-growing corpus.

    Shape: ``foreachBatch``. The dirty-id detection needs an anti-join
    of the stream against a stream-DERIVED id set, which Structured
    Streaming's incremental planner rejects (LeftAnti with a streaming
    right side); inside ``foreachBatch`` each micro-batch is a plain
    batch DataFrame, so the batch n-gram algebra applies unchanged and
    semantics are identical per batch. The eval side IS static, so its
    exploded+distinct n-gram set is computed ONCE here and persisted —
    not rebuilt every trigger as calling the batch operator per batch
    would.

    Idempotence: foreachBatch is at-least-once, so the sink writes
    ``epoch_id=N`` PARTITIONS with dynamic partition overwrite — an
    epoch retry REPLACES its own partition instead of appending a
    duplicate copy of every clean document.

    Returns the DataStreamWriter (caller starts it; clean docs land in
    ``out_dir`` as epoch-partitioned parquet).
    """
    from pyspark import StorageLevel

    from ..operators.ngrams import word_ngrams

    grams = word_ngrams(F.col(text_col), n, lowercase=True)
    eval_grams = (
        eval_df.select(F.explode(grams).alias("g"))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)
    )

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        bad = (
            batch_df.select(F.col(id_col), F.explode(grams).alias("g"))
            .join(eval_grams, "g", "left_semi")
            .select(id_col)
            .distinct()
        )
        _write_epoch(batch_df.join(bad, id_col, "left_anti"), epoch_id, out_dir)

    return doc_stream.writeStream.foreachBatch(write)


def contract_gate_stream(
    stream: DataFrame,
    rules: list,
    out_dir: str,
    quarantine_dir: str,
):
    """Ingest contract gate: each micro-batch is validated against a
    data contract (operators/contract.validate_contract); batches that
    PASS every rule land in ``out_dir``, violating batches land whole
    in ``quarantine_dir`` with their per-rule violation counts attached
    as JSON — quarantine-don't-drop, so a broken upstream never
    silently loses data and operators can replay the quarantined epochs
    after fixing the source.

    foreachBatch (the contract aggregates need a full batch view);
    both sinks are epoch-partitioned with dynamic partition overwrite,
    so at-least-once retries replace their own epoch rather than
    duplicating rows.  PAPER.md §0 layer 4 (sinks), fed by the layer-3
    stream.  Returns the DataStreamWriter.
    """
    from ..operators.contract import validate_contract

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        report = validate_contract(batch_df, rules).collect()
        ok = all(r.ok for r in report)
        out = batch_df
        if not ok:
            out = out.withColumn(
                "contract_report",
                F.lit(json.dumps(
                    {r.rule: r.n_violations for r in report if not r.ok}
                )),
            )
        _write_epoch(out, epoch_id, out_dir if ok else quarantine_dir)

    return stream.writeStream.foreachBatch(write)


def postings_maintain_stream(
    doc_stream: DataFrame,
    index_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
):
    """Ingest-time inverted-index maintenance: each arriving document
    batch's (shingle, cid, n_b) posting rows are appended to a persisted
    shingle-postings index (operators/dedup.build_shingle_postings) —
    the live delta path of that index, and the piece that
    keeps :func:`~adenhq_hive_spark.operators.dedup.dedup_incremental`'s
    ``corpus_postings`` current WITHOUT ever re-reading corpus text.

    Posting rows are per-(shingle, doc), so the merge is a pure append:
    no per-key regroup, no read-modify-write of existing index rows —
    a micro-batch costs O(batch), never O(corpus). foreachBatch is
    at-least-once, so rows land in ``epoch_id=N`` partitions with
    dynamic partition overwrite: an epoch retry REPLACES its own
    partition instead of double-counting a batch's shingles.

    Read the index back with :func:`read_postings_index` (drops the
    epoch bookkeeping column). At cluster scale, compact + bucket the
    accumulated epochs by ``shingle`` periodically (the
    save_trigram_index pattern) so probe joins are shuffle-free.

    Returns the DataStreamWriter (caller starts it).
    """
    from ..operators.dedup import build_shingle_postings

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        _write_epoch(
            build_shingle_postings(batch_df, text_col, id_col, k),
            epoch_id,
            index_dir,
        )

    return doc_stream.writeStream.foreachBatch(write)


def read_postings_index(spark, index_dir: str) -> DataFrame:
    """The streaming-maintained shingle-postings index as the
    (cid, n_b, shingle) relation dedup_incremental consumes — same
    column order as build_shingle_postings, so full-rebuild parity
    checks compare positionally."""
    return spark.read.parquet(index_dir).select("cid", "n_b", "shingle")


_HH_OUT = T.StructType(
    [
        T.StructField("bucket", T.IntegerType()),
        T.StructField("token", T.StringType()),
        T.StructField("mg_count", T.LongType()),
        T.StructField("bucket_total", T.LongType()),
    ]
)
_HH_STATE = T.StructType(
    [
        T.StructField("counters_json", T.StringType()),
        T.StructField("total", T.LongType()),
    ]
)


def heavy_hitters_stream(
    doc_stream: DataFrame,
    text_col: str = "text",
    capacity: int = 1024,
    n_buckets: int = 16,
) -> DataFrame:
    """Streaming twin of :func:`operators.sketch.heavy_hitters`: a
    continuously-maintained Misra-Gries candidate sketch over the token
    stream of arriving documents (the same ``text.ws_tokens`` tokens).

    Tokens hash to one of ``n_buckets`` state keys (xxhash64 pmod), so
    sketch maintenance parallelizes across buckets AND every occurrence
    of a given token lands in the SAME bucket — the per-bucket MG
    guarantee (count > bucket_total/capacity survives, undercount at
    most bucket_total/capacity) is therefore a global per-token
    guarantee, not a per-partition one.  Each trigger emits the full
    current sketch of every updated bucket (at most ``capacity`` rows
    per bucket — bounded output); downstream consumers union buckets
    and, as in the batch tier, re-count candidates exactly when an
    exact answer is needed.  The batch twin's sketch-then-verify
    contract is pinned by the parity test (stream candidates ⊇ batch
    candidates on the same files).

    State per bucket: a JSON counter map (bounded by capacity) + the
    bucket's exact token total.

    Map-side combine (:func:`_combine`) folds each source partition's
    token occurrences to (bucket, token, cnt) before the shuffle to
    state, so the hot-token bucket (one token at 50% of the stream maps
    to ONE bucket by design) is not a row funnel.  MG merge is
    count-weighted, so folding occurrences into counts first preserves
    the sketch guarantee exactly (same total, same increments,
    different grouping — Agarwal et al. mergeability).
    """
    from ..operators.sketch import mg_merge
    from ..operators.text import ws_tokens

    toks = doc_stream.select(
        F.explode(ws_tokens(text_col)).alias("token")
    ).select(
        "token",
        F.pmod(F.xxhash64("token"), F.lit(n_buckets))
        .cast("int")
        .alias("bucket"),
    )

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        counters_json, total = (
            state.get if state.exists else ("{}", 0)
        )
        sk = pd.Series(json.loads(counters_json), dtype="int64")
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            batch = pdf.groupby("token")["cnt"].sum()
            total += int(batch.sum())
            sk = mg_merge(sk, batch, capacity)
        state.update((json.dumps({k: int(v) for k, v in sk.items()}), total))
        yield _frame(
            _HH_OUT, [(key[0], t, int(c), total) for t, c in sk.items()]
        )

    return _combine(
        toks, ["bucket", "token"], "bucket int, token string"
    ).groupBy("bucket").applyInPandasWithState(
        update,
        outputStructType=_HH_OUT,
        stateStructType=_HH_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def distinct_users_stream(
    stream: DataFrame, width: str = "1 hour", watermark: str = "30 minutes"
) -> DataFrame:
    """Per-type tumbling-window APPROXIMATE distinct users — the
    streaming cardinality rollup (active-user dashboards) where an
    exact distinct would keep every seen id in state forever.

    Spark's approx_count_distinct is HyperLogLog++: fixed ~KB sketch
    per (window, type) group regardless of user count, and the sketch
    merge is commutative, so micro-batch boundaries cannot change the
    estimate — the batch twin computed on the same rows yields the
    IDENTICAL number (pinned in tests), making this one of the few
    approximate operators with exact stream/batch parity.  PAPER.md §0
    layer 3 (streaming runtime) feeding layer 5 (run analytics).
    """
    return (
        stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", width).alias("win"), "event_type")
        .agg(F.approx_count_distinct("user_id").alias("approx_users"))
        .select(
            F.col("win.start").alias("hour"),
            "event_type",
            "approx_users",
        )
    )


def span_scrub_stream(
    doc_stream: DataFrame,
    index_dir: str,
    out_dir: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 4,
    min_words: int = 8,
):
    """Ingest-time span surgery: each arriving document batch is checked
    for duplicated spans against everything ingested BEFORE it (plus
    batch-internal repeats), scrubbed, and written clean — the streaming
    composition of dedup_spans_incremental + scrub_spans, with the gram
    postings index maintained in the same trigger (the
    postings_maintain_stream pattern).

    First-seen copies pass through verbatim: corpus-known spans are
    scrubbed from every later arrival, and for duplicates WITHIN one
    micro-batch ``protect_first=True`` keeps each batch-internal gram's
    lowest-id holder intact (otherwise both same-batch copies lose the
    passage and the text survives nowhere).  All metadata columns of
    the stream ride through the scrub (``carry_cols``).

    Ordering/idempotence: the index is epoch-partitioned and each batch
    EXCLUDES ITS OWN epoch when reading it, so an at-least-once retry of
    epoch N sees exactly the pre-N corpus again instead of flagging
    every one of its own grams as duplicates; both sinks use dynamic
    partition overwrite, so the retry replaces rather than appends.

    Scale: the index is consumed UNAGGREGATED (dedup_spans_incremental
    only semi-joins gram existence), so a trigger costs one pass over
    the postings key join — no per-trigger groupBy over corpus history.
    The per-trigger read still scans the accumulated epochs; compact +
    bucket them by gram periodically (the save_trigram_index pattern)
    to keep the probe join pruned as the corpus grows.  The positional
    grams of each batch are NOT persisted (``cache=False``) — a
    long-running stream must not accumulate never-released cached
    plans.

    PAPER.md §0 layer 3 (streaming runtime) carrying the LLM-data
    pipeline's span dedup to ingest time.  Returns the DataStreamWriter
    (caller starts it).
    """
    from ..operators.dedup import (
        build_gram_postings,
        dedup_spans_incremental,
        scrub_spans,
    )

    spark = doc_stream.sparkSession
    carry = [c for c in doc_stream.columns if c not in (id_col, text_col)]

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        if os.path.isdir(index_dir):
            idx = (
                spark.read.parquet(index_dir)
                .filter(F.col("epoch_id") != epoch_id)
                .select("gram")
            )
        else:
            idx = spark.createDataFrame([], "gram string")
        spans = dedup_spans_incremental(
            batch_df, idx, text_col, id_col, k, min_words,
            protect_first=True, cache=False,
        )
        clean = scrub_spans(
            batch_df, spans, text_col, id_col, carry_cols=carry
        )
        _write_epoch(clean, epoch_id, out_dir)
        _write_epoch(
            build_gram_postings(batch_df, text_col, id_col, k),
            epoch_id,
            index_dir,
        )

    return doc_stream.writeStream.foreachBatch(write)


_CUSUM_OUT = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("day", T.DateType()),
    T.StructField("x", T.LongType()),
    T.StructField("s_pos_r6", T.DoubleType()),
    T.StructField("s_neg_r6", T.DoubleType()),
    T.StructField("alarm_pos", T.BooleanType()),
    T.StructField("alarm_neg", T.BooleanType()),
])

_CUSUM_STATE = T.StructType([
    T.StructField("sp6", T.LongType()),
    T.StructField("sn6", T.LongType()),
    T.StructField("open_days", T.StringType()),  # JSON {iso_day: count}
])


def cusum_stream(
    stream: DataFrame,
    target_mean: float | None = None,
    target_sd: float | None = None,
    slack: float = 0.5,
    threshold: float = 4.0,
    targets: "DataFrame | dict[str, tuple[float, float]] | None" = None,
) -> DataFrame:
    """Streaming twin of :func:`operators.stats.cusum_changepoints`:
    the textbook ONLINE CUSUM (Page 1954 is inherently sequential — the
    batch op's retrospective mean/sd become an explicit IN-CONTROL
    target (mean, sd) here, which is exactly how a production control
    chart is parameterized).  PAPER.md §0 layer 3 (streaming runtime)
    running layer 5's performance-pattern analysis online.

    Per key the state is the two quantized cumulative sums (sp6, sn6 —
    BIGINTs, the batch op's exact-integer discipline: z quantizes to
    ROUND(z*1e6) before any accumulation, so a replay reproduces the
    stream bit-for-bit) plus the open-day buffer of the day-closing
    core (:func:`_close_days`): a day closes when a strictly later day
    arrives for its key, every emitted row is final, and a NULL ts
    never wedges the newest-open-day slot.

    PARITY: feeding the batch operator's own global mean/sd as the
    target reproduces its s_pos/s_neg/alarms exactly (pinned in
    tests/test_streaming.py) — the two formulations differ only in
    where the reference comes from.

    FLEET MODE (``targets``, r8 verdict #6): pass a small per-key
    in-control relation — a dict ``{key: (mean, sd)}`` or a DataFrame
    with columns ``(event_type, mean, sd)`` (collected once at plan
    time; it is control-plane metadata, O(keys) rows) — and ONE query
    monitors every key against its own target.  Keys without an entry
    fall back to the scalar ``target_mean``/``target_sd`` default when
    given, and are passed through un-scored (x reported, s=0, no
    alarm) when not: an unknown key must never be judged against
    another fleet member's target.  Per-key parity with the batch
    operator is pinned in tests/test_streaming.py.

    Scale: state is two BIGINTs + a small JSON per key; pre-aggregate
    per (key, day) in the micro-batch before the stateful stage at
    high volume (same note as anomaly_stream).
    """
    if targets is None and target_sd is None:
        raise ValueError("provide target_mean/target_sd or targets")
    if (target_mean is None) != (target_sd is None):
        raise ValueError("target_mean and target_sd come as a pair")
    if target_sd is not None and target_sd <= 0:
        raise ValueError("target_sd must be > 0")
    per_key: dict[str, tuple[float, float]] = {}
    if targets is not None:
        if isinstance(targets, dict):
            per_key = {str(k): (float(m), float(s))
                       for k, (m, s) in targets.items()}
        else:  # (key, mean, sd) relation — metadata-sized by contract
            kc, mc, sc = targets.columns[:3]
            per_key = {
                str(r[kc]): (float(r[mc]), float(r[sc]))
                for r in targets.collect()
            }
        bad = [k for k, (_, s) in per_key.items() if s <= 0]
        if bad:
            raise ValueError(f"targets sd must be > 0 (bad keys: {bad})")
    k6 = int(round(slack * 1_000_000))
    h6 = int(round(threshold * 1_000_000))

    def score(key, running, closed):
        sp6, sn6 = running
        tgt = per_key.get(str(key))
        if tgt is None and target_sd is not None:
            tgt = (target_mean, target_sd)
        tails = []
        for x in closed:
            if tgt is None:
                # fleet mode, unknown key: report the day closed
                # but never score it against another key's target
                tails.append((x, 0.0, 0.0, False, False))
                continue
            # HALF_UP quantization, matching the batch twin's
            # F.round (java BigDecimal HALF_UP on the shortest
            # decimal repr of the double) — Python round() is
            # half-even and diverges by one 1e-6 step on exact
            # dyadic ties like 0.0078125, breaking the documented
            # bit-for-bit batch parity
            z = (x - tgt[0]) / tgt[1]
            z6 = int(
                Decimal(repr(z)).quantize(
                    Decimal("0.000001"), rounding=ROUND_HALF_UP
                ).scaleb(6)
            )
            sp6 = max(0, sp6 + z6 - k6)
            sn6 = max(0, sn6 + (-z6) - k6)
            tails.append((x, sp6 / 1e6, sn6 / 1e6, sp6 > h6, sn6 > h6))
        return (sp6, sn6), tails

    return _close_days(
        stream.select("event_type", F.to_date("ts").alias("day")),
        _CUSUM_OUT, _CUSUM_STATE, (0, 0), score,
    )


_HISTQ_OUT = T.StructType([
    T.StructField("event_type", T.StringType()),
    T.StructField("day", T.DateType()),
    T.StructField("n", T.LongType()),
    T.StructField("p50", T.LongType()),
    T.StructField("p90", T.LongType()),
    T.StructField("p99", T.LongType()),
])

_HISTQ_STATE = T.StructType([
    T.StructField("hist", T.StringType()),       # JSON {bucket: count}
    T.StructField("open_days", T.StringType()),  # JSON {day: {bucket: c}}
])


def _hdr_lb(b: int) -> int:
    """Python mirror of operators.sketch.hist_bucket_lb_sql."""
    if b <= 15:
        return b
    return (8 + (b % 8)) << ((b >> 3) - 1)


def _hdr_bucket_np(v):
    """HDR bucket of non-negative int64 values, vectorized: the numpy
    mirror of operators.sketch.hist_bucket_sql, bit-exact (bit_length
    via a 6-step binary shift, no float log2 edge cases)."""
    import numpy as np

    v = np.asarray(v, dtype=np.int64)
    bl = np.zeros(v.shape, dtype=np.int64)
    x = v.copy()
    for sh in (32, 16, 8, 4, 2, 1):
        m = x >> sh
        has = m > 0
        bl[has] += sh
        x = np.where(has, m, x)
    bl += (x > 0).astype(np.int64)
    s = bl - 4
    return np.where(v <= 15, v, s * 8 + (v >> np.maximum(s, 0)))


def hist_quantile_stream(
    stream: DataFrame,
    percentiles: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Streaming twin of :func:`operators.sketch.hist_quantiles`: a
    RUNNING per-key HDR log-histogram over event values, emitting
    prefix nearest-rank quantile estimates on every closed day — the
    mergeable-summary property demonstrated live (merging a closed
    day's bucket counts into the running sketch IS the batch
    elementwise-sum merge, pinned by the parity test).

    Per key the state is the running {bucket: count} histogram (at
    most ~500 entries regardless of volume — the same constant-state
    bound as the batch sketch) plus the day-closing core's buffer
    (:func:`_close_days`) of per-open-day bucket counts: a day closes
    when a strictly later day arrives for its key, its buckets merge
    into the running histogram, and one final row per closed day
    reports the estimates over every value seen through that day.

    estimate(p) = lower bound of the first bucket whose cumulative
    count reaches ceil(p*n/100) (clamped >= 1) — always <= the exact
    value and within 12.5% of it by the bucket-width bound, exactly
    the batch contract.  NULL and negative values are filtered (the
    batch op raises on negatives; a stream must not poison its state).

    PARITY: for any closed day D, the emitted (n, p50, p90, p99)
    equal hist_quantiles() over the batch image of days <= D
    (tests/test_streaming.py).

    Scale: state is O(buckets) per key.  Map-side combine
    (:func:`_combine`) folds each source partition to (event_type,
    day, bucket, cnt) — vectorized bucketing + one pandas groupby —
    so the stateful task for a key receives at most partitions x
    open-days x ~500 bucket rows per trigger instead of the key's raw
    row volume.  That is THE hot-key defense for keyed streaming
    state: a key carrying 50% of the stream no longer funnels 50% of
    the rows through one state task, it funnels a constant-size sketch
    delta (BASELINE.md "Round 10 (second session): the skewed STREAMING
    regime measured").
    """
    pcts = tuple(int(p) for p in percentiles)
    if not pcts or any(p < 1 or p > 100 for p in pcts):
        raise ValueError("percentiles must be in 1..100")
    if len(pcts) != 3:
        raise ValueError(
            "exactly three percentiles (the p50/p90/p99 output shape)"
        )

    def fold(open_days: dict[str, dict[str, int]], pdf: pd.DataFrame) -> None:
        days = pdf["day"].astype(str).to_numpy()
        for day, b, c in zip(
            days, pdf["bucket"].to_numpy(), pdf["cnt"].to_numpy()
        ):
            d = open_days.setdefault(day, {})
            b = str(int(b))
            d[b] = d.get(b, 0) + int(c)

    def score(key, running, closed):
        hist: dict[str, int] = json.loads(running[0])
        tails = []
        for buckets in closed:
            for b, c in buckets.items():
                hist[b] = hist.get(b, 0) + c
            n = sum(hist.values())
            cum = 0
            ests: dict[int, int] = {}
            want = {p: max((p * n + 99) // 100, 1) for p in pcts}
            for b in sorted(hist, key=int):
                cum += hist[b]
                for p in pcts:
                    if p not in ests and cum >= want[p]:
                        ests[p] = _hdr_lb(int(b))
            tails.append((n, *(ests[p] for p in pcts)))
        return (json.dumps(hist),), tails

    values = stream.select(
        "event_type",
        F.to_date("ts").alias("day"),
        F.col("value").cast("long").alias("v"),
    ).filter(F.col("v").isNotNull() & (F.col("v") >= 0))
    combined = _combine(
        values, ["event_type", "day", "bucket"],
        "event_type string, day date, bucket int",
        derive=lambda pdf: pdf.assign(
            bucket=_hdr_bucket_np(pdf["v"].to_numpy()).astype("int32")
        ),
    )
    return _close_days(
        combined, _HISTQ_OUT, _HISTQ_STATE, ("{}",), score, fold
    )


_TOOLCALL_OUT = T.StructType([
    T.StructField("req_id", T.StringType()),
    T.StructField("tool_idx", T.IntegerType()),
    T.StructField("call_id", T.StringType()),
    T.StructField("tool_name", T.StringType()),
    T.StructField("tool_input", T.StringType()),
    T.StructField("n_frags", T.LongType()),
])
_TOOLCALL_STATE = T.StructType([
    T.StructField("acc_json", T.StringType()),
])


def toolcall_assembly_stream(
    stream: DataFrame, finished_ttl_ms: int | None = None
) -> DataFrame:
    """Streaming twin of functions/llm_stream.py:assemble_tool_calls
    (reference litellm.py:903-970 accumulation as keyed streaming
    state): tool-call argument FRAGMENTS arrive as a live chunk stream
    — (req_id, tool_idx, chunk_idx, call_id, tool_name, frag, finish)
    — possibly out of order and across micro-batches; per-request
    state accumulates them, and when the request's finish marker (the
    finish_reason chunk) arrives, one assembled row per call index is
    emitted and the state is cleared.

    Same output shape as the batch operator plus the SAME validity
    discriminant (``get_json_object(tool_input, '$')``), applied
    OUTSIDE the state function so batch and stream share one JSON
    semantics — parity is stream == batch assemble_tool_calls on the
    identical fragment corpus (tests/test_streaming.py).

    Scale: state per in-flight request is bounded by the provider's
    max_tokens (the fragments ARE the argument text); an emitted
    request's accumulator is replaced by a FINISHED TOMBSTONE
    (``{"__finished__": true}``) so a fragment straggling in a LATER
    micro-batch is dropped instead of silently re-opening state that
    would never emit and never clear. With ``finished_ttl_ms`` set,
    tombstones — and orphaned accumulators whose finish marker never
    arrives — are reaped by a processing-time timeout (refreshed on
    every update), so steady-state memory tracks CONCURRENT requests,
    not stream history; use it on continuously-triggered deployments.
    The default (None) keeps NoTimeout semantics because a
    ProcessingTimeTimeout stream always has "another batch due", which
    makes drain-style harnesses (``processAllAvailable`` /
    availableNow catch-up runs) never observe completion — there the
    residue is one ~30-byte tombstone per finished request, freed with
    the checkpoint. Fragments pre-shuffle on req_id only — no map-side
    combine here because fragment order matters and per-request volume
    is tiny.
    """

    def update(
        key: tuple[Any, ...],
        pdfs: Iterator[pd.DataFrame],
        state: GroupState,
    ) -> Iterator[pd.DataFrame]:
        if finished_ttl_ms is not None and state.hasTimedOut:
            state.remove()
            yield _frame(_TOOLCALL_OUT, [])
            return

        def _arm() -> None:
            if finished_ttl_ms is not None:
                state.setTimeoutDuration(finished_ttl_ms)

        (acc_json,) = state.get if state.exists else ("{}",)
        acc: dict[str, dict] = json.loads(acc_json)
        done = acc.pop("__finished__", False)
        if done:
            # finished tombstone: the request already emitted — drop
            # late fragments whole, keep the tombstone (until the TTL
            # when one is configured)
            state.update((json.dumps({"__finished__": True}),))
            _arm()
            yield _frame(_TOOLCALL_OUT, [])
            return
        for pdf in pdfs:
            for r in pdf.itertuples(index=False):
                if bool(getattr(r, "finish", False)):
                    done = True
                    continue
                slot = acc.setdefault(
                    str(int(r.tool_idx)),
                    {"id": "", "name": "", "frags": []},
                )
                if isinstance(r.call_id, str) and r.call_id:
                    slot["id"] = r.call_id
                if isinstance(r.tool_name, str) and r.tool_name:
                    slot["name"] = r.tool_name
                if isinstance(r.frag, str):
                    slot["frags"].append([int(r.chunk_idx), r.frag])
        if not done:
            state.update((json.dumps(acc),))
            _arm()
            yield _frame(_TOOLCALL_OUT, [])
            return
        rows = []
        for idx in sorted(acc, key=int):
            slot = acc[idx]
            joined = "".join(
                f for _, f in sorted(slot["frags"], key=lambda p: p[0])
            )
            rows.append((key[0], int(idx), slot["id"] or None,
                         slot["name"] or None, joined, len(slot["frags"])))
        state.update((json.dumps({"__finished__": True}),))
        _arm()
        yield _frame(_TOOLCALL_OUT, rows)

    assembled = stream.groupBy("req_id").applyInPandasWithState(
        update,
        outputStructType=_TOOLCALL_OUT,
        stateStructType=_TOOLCALL_STATE,
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.NoTimeout
            if finished_ttl_ms is None
            else GroupStateTimeout.ProcessingTimeTimeout
        ),
    )
    return assembled.withColumn(
        "is_valid", F.get_json_object(F.col("tool_input"), "$").isNotNull()
    )
