"""Streaming tests: batch/stream parity (streaming windowed results must
equal the declared batch images), stateful operator, foreachBatch sink,
checkpoint resume."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adenhq_hive_spark.catalog import load_table
from adenhq_hive_spark.streaming.events import (
    foreach_batch_parquet,
    read_event_stream,
    run_to_completion,
    running_user_state,
    session_counts,
    sliding_counts,
    subscribe,
    tumbling_counts,
)

from .conftest import SF_SMOKE

@pytest.fixture()
def stream(spark):
    return read_event_stream(spark, SF_SMOKE)


@pytest.fixture(scope="module")
def batch_events(spark):
    return load_table(spark, SF_SMOKE, "events")


def test_stream_is_streaming(stream):
    assert stream.isStreaming
    assert dict(stream.dtypes)["ts"] == "timestamp"


def test_subscribe_filter_parity(spark, stream, batch_events, tmp_path):
    q = run_to_completion(
        subscribe(stream, event_types=["click", "error"])
        .groupBy("event_type")
        .count(),
        "sub_counts",
        str(tmp_path / "ck"),
    )
    try:
        got = {
            r.event_type: r["count"]
            for r in spark.sql("SELECT * FROM sub_counts").collect()
        }
    finally:
        q.stop()
    want = {
        r.event_type: r["count"]
        for r in batch_events.filter(
            F.col("event_type").isin(["click", "error"])
        ).groupBy("event_type").count().collect()
    }
    assert got == want


def test_tumbling_parity_with_q57(spark, stream, batch_events, tmp_path):
    q = run_to_completion(
        tumbling_counts(stream), "tumbling", str(tmp_path / "ck")
    )
    try:
        got = {
            (r.hour, r.event_type): (r.n, r.total)
            for r in spark.sql("SELECT * FROM tumbling").collect()
        }
    finally:
        q.stop()
    want = {
        (r.hour, r.event_type): (r.n, r.total)
        for r in batch_events.groupBy(
            F.date_trunc("HOUR", "ts").alias("hour"), "event_type"
        )
        .agg(
            F.count("*").alias("n"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 4
            ).alias("total"),
        )
        .collect()
    }
    assert got == want


def test_sliding_windows_cover(spark, stream, tmp_path):
    q = run_to_completion(
        sliding_counts(stream, "10 minutes", "5 minutes"),
        "sliding",
        str(tmp_path / "ck"),
    )
    try:
        rows = spark.sql("SELECT * FROM sliding").collect()
    finally:
        q.stop()
    assert rows
    # every window is exactly 10 minutes and aligned to the 5-minute slide
    for r in rows:
        assert (r.end - r.start).total_seconds() == 600
        assert r.start.minute % 5 == 0


def test_session_window_parity_with_q58(spark, stream, batch_events, tmp_path):
    q = run_to_completion(
        session_counts(stream), "sessions", str(tmp_path / "ck")
    )
    try:
        got = spark.sql("SELECT * FROM sessions").collect()
    finally:
        q.stop()
    # q58's gap-and-island batch formulation (same 30-min gap)
    from adenhq_hive_spark.queries import all_queries

    batch = all_queries()["q58"].run(spark, SF_SMOKE).collect()
    # session counts per user must match exactly
    got_per_user = {}
    for r in got:
        got_per_user[r.user_id] = got_per_user.get(r.user_id, 0) + 1
    want_per_user = {}
    for r in batch:
        want_per_user[r.user_id] = want_per_user.get(r.user_id, 0) + 1
    assert got_per_user == want_per_user
    # and the multiset of per-session event counts must match
    assert sorted((r.user_id, r.n_events) for r in got) == sorted(
        (r.user_id, r.n_events) for r in batch
    )


def test_running_user_state(spark, stream, batch_events, tmp_path):
    q = run_to_completion(
        running_user_state(stream),
        "user_state",
        str(tmp_path / "ck"),
        output_mode="update",
    )
    try:
        rows = spark.sql(
            "SELECT user_id, max(n_events) AS n FROM user_state GROUP BY user_id"
        ).collect()
    finally:
        q.stop()
    got = {r.user_id: r.n for r in rows}
    want = {
        r.user_id: r["count"]
        for r in batch_events.groupBy("user_id").count().collect()
    }
    assert got == want


def test_foreach_batch_sink_and_resume(spark, stream, tmp_path):
    out = str(tmp_path / "sink")
    ck = str(tmp_path / "ck")
    q = foreach_batch_parquet(
        subscribe(stream, event_types=["purchase"]), out
    ).option("checkpointLocation", ck).start()
    q.processAllAvailable()
    q.stop()
    written = spark.read.parquet(out)
    n1 = written.count()
    assert n1 > 0
    assert "epoch_id" in written.columns
    # resume from checkpoint: no new input → no duplicate reprocessing
    q2 = foreach_batch_parquet(
        subscribe(read_event_stream(spark, SF_SMOKE), ["purchase"]), out
    ).option("checkpointLocation", ck).start()
    q2.processAllAvailable()
    q2.stop()
    assert spark.read.parquet(out).count() == n1


def test_foreach_batch_sink_replayed_epoch_is_idempotent(spark, tmp_path):
    """foreachBatch is at-least-once: an epoch whose commit never landed
    runs again on restart with the same epoch id. Dropping the last
    commit and restarting must leave the row count unchanged."""
    import os

    import pandas as pd_

    src = tmp_path / "src"
    src.mkdir()
    for j in range(2):
        pd_.DataFrame(
            {"k": range(j * 10, (j + 1) * 10)}
        ).to_parquet(str(src / f"p{j}.parquet"))
        os.utime(str(src / f"p{j}.parquet"), (1_000_000 * (j + 1),) * 2)
    out, ck = str(tmp_path / "sink"), tmp_path / "ck"

    def run():
        stream = (
            spark.readStream.schema("k long")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = foreach_batch_parquet(stream, out).option(
            "checkpointLocation", str(ck)
        ).start()
        q.processAllAvailable()
        q.stop()

    run()
    assert spark.read.parquet(out).count() == 20
    last = max(int(f) for f in os.listdir(ck / "commits") if f.isdigit())
    for f in (str(last), f".{last}.crc"):
        if (ck / "commits" / f).exists():
            (ck / "commits" / f).unlink()
    run()
    written = spark.read.parquet(out)
    assert written.count() == 20
    assert sorted(r.k for r in written.collect()) == list(range(20))


def test_processing_time_trigger_cadence(spark, stream, tmp_path):
    # timer/cron entry-point image (agent_runtime.py:382-516): a
    # processing-time trigger drains the available input on a cadence
    q = (
        subscribe(stream, event_types=["signup"])
        .groupBy("event_type")
        .count()
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("timer_img")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(processingTime="1 second")
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM timer_img").collect()
        assert got and got[0]["count"] > 0
        assert q.isActive  # keeps ticking until stopped, unlike availableNow
    finally:
        q.stop()


def test_watermark_drops_late_rows(spark, tmp_path):
    """Documented new semantics (the reference never reorders or drops —
    SURVEY §2.9): rows later than the watermark are excluded from
    finalized windowed aggregates."""
    import datetime as dt
    import time as _time

    src = tmp_path / "src"
    src.mkdir()
    ck = str(tmp_path / "ck")
    schema = "event_id long, ts timestamp, user_id long, value double"

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
        .withWatermark("ts", "10 minutes")
        .groupBy(F.window("ts", "5 minutes").alias("win"))
        .agg(F.count("*").alias("n"))
        .select(F.col("win.start").alias("start"), "n")
    )
    # batch 1: two rows in window [10:00, 10:05) + one row far ahead that
    # advances the watermark past that window
    write_batch("b1", [
        (1, t0 + dt.timedelta(minutes=1), 1, 1.0),
        (2, t0 + dt.timedelta(minutes=2), 1, 1.0),
        (3, t0 + dt.timedelta(minutes=40), 1, 1.0),
    ])
    q = (
        stream.writeStream.outputMode("append")
        .format("memory").queryName("wm")
        .option("checkpointLocation", ck)
        .start()
    )
    try:
        q.processAllAvailable()
        # batch 2: a LATE row for the already-finalized 10:00 window
        _time.sleep(0.1)
        write_batch("b2", [(4, t0 + dt.timedelta(minutes=3), 1, 1.0)])
        q.processAllAvailable()
        # one more batch so any (wrongly) accepted late row would flush
        write_batch("b3", [(5, t0 + dt.timedelta(minutes=80), 1, 1.0)])
        q.processAllAvailable()
        rows = {r.start: r.n for r in spark.sql("SELECT * FROM wm").collect()}
    finally:
        q.stop()
    # the 10:00 window finalized with 2 rows; the late event_id=4 was dropped
    assert rows.get(dt.datetime(2024, 6, 1, 10, 0)) == 2


def test_streaming_dedup(spark, tmp_path):
    """Re-delivered events (same event_id) are emitted once."""
    import datetime as dt

    from adenhq_hive_spark.streaming.events import dedup_stream

    src = tmp_path / "dsrc"
    src.mkdir()
    schema = "event_id long, ts timestamp, user_id long"
    t0 = dt.datetime(2024, 6, 1, 10, 0, 0)
    rows = [(i, t0 + dt.timedelta(minutes=i), 1) for i in range(5)]
    spark.createDataFrame(rows, schema).write.mode("overwrite").parquet(
        str(src / "b1")
    )
    # redelivery: same ids again plus one new event
    spark.createDataFrame(
        rows + [(99, t0 + dt.timedelta(minutes=9), 1)], schema
    ).write.mode("overwrite").parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q = (
        dedup_stream(stream).writeStream.outputMode("append")
        .format("memory").queryName("dd")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = sorted(
            r.event_id for r in spark.sql("SELECT * FROM dd").collect()
        )
    finally:
        q.stop()
    assert got == [0, 1, 2, 3, 4, 99]


def test_stream_stream_join_matches_batch(spark, stream, batch_events, tmp_path):
    from adenhq_hive_spark.streaming.events import purchase_click_join

    purchases = subscribe(stream, event_types=["purchase"])
    clicks = subscribe(read_event_stream(spark, SF_SMOKE), ["click"])
    q = (
        purchase_click_join(purchases, clicks)
        .writeStream.outputMode("append")
        .format("memory").queryName("ssj")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = {
            (r.purchase_id, r.click_id)
            for r in spark.sql("SELECT * FROM ssj").collect()
        }
    finally:
        q.stop()
    b = batch_events
    want = {
        (r.purchase_id, r.click_id)
        for r in b.filter(F.col("event_type") == "purchase")
        .select(F.col("event_id").alias("purchase_id"),
                F.col("user_id").alias("u"), F.col("ts").alias("p_ts"))
        .join(
            b.filter(F.col("event_type") == "click").select(
                F.col("event_id").alias("click_id"),
                F.col("user_id").alias("u2"), F.col("ts").alias("c_ts")),
            F.expr("u = u2 AND c_ts <= p_ts AND "
                   "c_ts >= p_ts - INTERVAL 1 HOUR"),
        )
        .collect()
    }
    assert got == want and len(want) > 0


def test_stateful_sessions_match_batch_islands(spark, stream, tmp_path):
    """The explicit-state sessionizer agrees with q58's gap-and-island
    batch formulation for every session it emits; only each user's final
    (still-pending, not-yet-timed-out) session may be missing."""
    from adenhq_hive_spark.queries import all_queries
    from adenhq_hive_spark.streaming.events import stateful_sessions

    q = run_to_completion(
        stateful_sessions(stream), "st_sessions", str(tmp_path / "ck"),
        output_mode="append",
    )
    try:
        got = {
            (r.user_id, r.session_start, r.session_end, r.n_events)
            for r in spark.sql("SELECT * FROM st_sessions").collect()
        }
    finally:
        q.stop()
    batch = all_queries()["q58"].run(spark, SF_SMOKE).collect()
    batch_sessions = {
        (r.user_id, r.session_start, r.session_end, r.n_events)
        for r in batch
    }
    # everything emitted must be a true session
    assert got <= batch_sessions
    # at most one (the final pending) session per user may be missing
    missing = batch_sessions - got
    per_user = {}
    for u, *_ in missing:
        per_user[u] = per_user.get(u, 0) + 1
    assert all(v <= 1 for v in per_user.values()), per_user
    # and the bulk of sessions did get emitted
    assert len(got) >= len(batch_sessions) - 15


def test_sliding_parity_with_batch(spark, stream, batch_events, tmp_path):
    q = run_to_completion(
        sliding_counts(stream, "10 minutes", "5 minutes"),
        "sliding_parity",
        str(tmp_path / "ck"),
    )
    try:
        got = {
            (r.start, r.event_type): r.n
            for r in spark.sql("SELECT * FROM sliding_parity").collect()
        }
    finally:
        q.stop()
    want = {
        (r["window"]["start"], r.event_type): r.n
        for r in batch_events.groupBy(
            F.window("ts", "10 minutes", "5 minutes").alias("window"),
            "event_type",
        ).agg(F.count("*").alias("n")).collect()
    }
    assert got == want


# -- webhook entry point (webhook_server.py:21-60 analog) -----------------


def test_webhook_receiver_end_to_end(spark, tmp_path):
    """HTTP POST → spool file → streaming file source → windowed agg:
    the full webhook entry path, driven through a real socket."""
    import json
    import urllib.request
    import urllib.error

    from adenhq_hive_spark.streaming.webhook import (
        WebhookReceiver,
        WebhookRoute,
        webhook_event_stream,
    )

    spool = str(tmp_path / "spool")
    rx = WebhookReceiver(spool, [WebhookRoute("orders-src", "/orders")])
    rx.start()
    try:
        base = f"http://127.0.0.1:{rx.port}"
        for i in range(3):
            req = urllib.request.Request(
                f"{base}/orders?src=test",
                data=json.dumps({"order": i}).encode(),
                headers={"Content-Type": "application/json"},
            )
            with urllib.request.urlopen(req) as resp:
                assert resp.status == 202
        # unknown path → 404
        try:
            urllib.request.urlopen(
                urllib.request.Request(f"{base}/nope", data=b"{}")
            )
            assert False, "expected 404"
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        rx.stop()

    counted = (
        webhook_event_stream(spark, spool)
        .groupBy("source_id", "path")
        .count()
    )
    q = run_to_completion(counted, "webhook_counts", str(tmp_path / "ck_wh"))
    try:
        rows = spark.sql("SELECT * FROM webhook_counts").collect()
    finally:
        q.stop()
    assert [(r.source_id, r.path, r["count"]) for r in rows] == [
        ("orders-src", "/orders", 3)
    ]


def test_webhook_hmac_signature(tmp_path):
    import hashlib
    import hmac as hmac_mod
    import json
    import os
    import urllib.request
    import urllib.error

    from adenhq_hive_spark.streaming.webhook import WebhookReceiver, WebhookRoute

    spool = str(tmp_path / "spool_sig")
    rx = WebhookReceiver(
        spool, [WebhookRoute("sec", "/hook", secret="s3cret")]
    )
    rx.start()
    try:
        base = f"http://127.0.0.1:{rx.port}"
        body = json.dumps({"x": 1}).encode()
        # no signature → 401, nothing spooled
        try:
            urllib.request.urlopen(
                urllib.request.Request(f"{base}/hook", data=body)
            )
            assert False, "expected 401"
        except urllib.error.HTTPError as e:
            assert e.code == 401
        # valid signature → 202
        sig = hmac_mod.new(b"s3cret", body, hashlib.sha256).hexdigest()
        req = urllib.request.Request(
            f"{base}/hook", data=body,
            headers={"X-Hub-Signature-256": f"sha256={sig}"},
        )
        with urllib.request.urlopen(req) as resp:
            assert resp.status == 202
    finally:
        rx.stop()
    spooled = [f for f in os.listdir(spool) if f.endswith(".json")]
    assert len(spooled) == 1


def test_webhook_injected_event_triggers_pipeline(spark, tmp_path):
    """An injected HTTP-shaped event row (no live server) flows through
    a streaming pipeline — the driver-style trigger path."""
    from adenhq_hive_spark.streaming.webhook import (
        inject_webhook_event,
        webhook_event_stream,
    )

    spool = str(tmp_path / "spool_inj")
    for i in range(5):
        inject_webhook_event(spool, "timer-src", {"tick": i})
    parsed = (
        webhook_event_stream(spark, spool)
        .select(
            "source_id",
            F.get_json_object("payload", "$.tick").cast("int").alias("tick"),
        )
        .groupBy("source_id")
        .agg(F.count("*").alias("n"), F.sum("tick").alias("total"))
    )
    q = run_to_completion(parsed, "webhook_inj", str(tmp_path / "ck_inj"))
    try:
        row = spark.sql("SELECT * FROM webhook_inj").collect()[0]
    finally:
        q.stop()
    assert (row.source_id, row.n, row.total) == ("timer-src", 5, 10)


def test_streaming_ingest_curation(spark, tmp_path):
    """Streaming corpus ingestion with the curation tier applied per
    micro-batch: documents arrive as a file stream, each batch is PII-
    redacted, repetition/empty-filtered and md5-split before landing in
    the sink — the streaming face of the batch pl_curation ops."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.catalog import SCHEMAS, load_table
    from adenhq_hive_spark.operators.curation import hash_split, pii_redact

    src = str(tmp_path / "in")
    out = str(tmp_path / "out")
    ck = str(tmp_path / "ck")
    load_table(spark, "/root/testdata/sf0.001", "documents").write.parquet(
        src
    )
    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def curate(batch, epoch_id):
        curated = hash_split(
            pii_redact(batch).filter(F.length("redacted") >= 20)
        )
        curated.write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(curate).option(
        "checkpointLocation", ck
    ).start()
    q.processAllAvailable()
    q.stop()
    got = spark.read.parquet(out)
    n_src = spark.read.parquet(src).count()
    assert 0 < got.count() <= n_src
    assert {"split", "redacted", "n_email"} <= set(got.columns)
    # split assignment identical to the batch operator (follows the row)
    batch_split = {
        r.doc_id: r.split
        for r in hash_split(spark.read.parquet(src)).collect()
    }
    for r in got.select("doc_id", "split").collect():
        assert batch_split[r.doc_id] == r.split


def test_streaming_incremental_dedup_against_growing_corpus(spark, tmp_path):
    """The streaming face of dedup_incremental: each micro-batch is
    deduplicated against the ALREADY-ACCEPTED corpus before appending,
    so replayed/near-duplicate documents never enter the sink twice —
    exactly-once corpus growth built from the batch operator."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.catalog import SCHEMAS, load_table
    from adenhq_hive_spark.operators.dedup import dedup_incremental

    src = str(tmp_path / "in")
    out = str(tmp_path / "corpus")
    ck = str(tmp_path / "ck")
    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    # two files -> two micro-batches; the second file REPLAYS half of
    # the first (exact dups) so cross-batch dedup is actually exercised
    docs.filter(F.col("doc_id") < 300).write.parquet(src)
    docs.filter((F.col("doc_id") >= 200) & (F.col("doc_id") < 400)) \
        .write.mode("append").parquet(src)

    stream = (
        spark.readStream.schema(SCHEMAS["documents"])
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    def ingest(batch, epoch_id):
        import os

        if os.path.exists(out):
            corpus = spark.read.parquet(out)
            fresh = dedup_incremental(batch, corpus, k=3, threshold=0.9)
        else:
            from adenhq_hive_spark.operators.dedup import dedup_exact

            fresh = dedup_exact(batch)
        fresh.write.mode("append").parquet(out)

    q = stream.writeStream.foreachBatch(ingest).option(
        "checkpointLocation", ck
    ).start()
    q.processAllAvailable()
    q.stop()

    corpus = spark.read.parquet(out)
    n = corpus.count()
    # every doc_id at most once despite the replayed overlap
    assert corpus.select("doc_id").distinct().count() == n
    # no EXACT duplicate text survived across batches
    assert corpus.groupBy(F.md5("text")).count().filter("count > 1") \
        .count() == 0


def test_upsert_stream_last_writer_wins(spark, tmp_path):
    """CDC upsert store: per-key latest row survives across batches,
    re-delivered lower-seq rows never regress state, and readers see a
    consistent versioned store."""
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
        TimestampType,
    )

    from adenhq_hive_spark.streaming.upsert import read_store, upsert_stream

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    def write_batch(name, rows):
        spark.createDataFrame(rows, schema).coalesce(1).write.mode(
            "overwrite"
        ).parquet(str(src / name))

    # batch 1: keys 1, 2 (key 1 twice — higher ts must win in-batch)
    write_batch("b1", [
        (1, t0, 1.0),
        (1, t0 + dt.timedelta(minutes=5), 1.5),
        (2, t0, 2.0),
    ])
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    store = str(tmp_path / "store")
    ck = str(tmp_path / "ck")
    q = upsert_stream(stream, store).option(
        "checkpointLocation", ck
    ).start()
    q.processAllAvailable()
    q.stop()
    state = {r.doc_id: r for r in read_store(spark, store).collect()}
    assert state[1].value == 1.5 and state[2].value == 2.0

    # batch 2: update key 2, insert key 3, stale replay of key 1
    write_batch("b2", [
        (2, t0 + dt.timedelta(minutes=10), 2.5),
        (3, t0 + dt.timedelta(minutes=10), 3.0),
    ])
    stream2 = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    q2 = upsert_stream(stream2, store).option(
        "checkpointLocation", ck
    ).start()
    q2.processAllAvailable()
    q2.stop()
    state = {r.doc_id: r for r in read_store(spark, store).collect()}
    assert len(state) == 3
    assert state[1].value == 1.5      # untouched key survives the merge
    assert state[2].value == 2.5      # updated
    assert state[3].value == 3.0      # inserted


def test_upsert_store_empty_before_first_batch(spark, tmp_path):
    from adenhq_hive_spark.streaming.upsert import read_store

    assert read_store(spark, str(tmp_path / "nope")) is None


def test_anomaly_stream_online_semantics(spark, stream, batch_events, tmp_path):
    from adenhq_hive_spark.streaming.events import anomaly_stream

    q = run_to_completion(
        anomaly_stream(stream, k=2),
        "anomaly_sentinel",
        str(tmp_path / "ck_anom"),
        output_mode="update",
    )
    try:
        rows = spark.sql("SELECT * FROM anomaly_sentinel").collect()
    finally:
        q.stop()

    # python replay of the documented online semantics on the batch data:
    # close days oldest-first per key, newest day stays open
    import collections
    daily = collections.defaultdict(dict)
    for r in (
        batch_events.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day").count().collect()
    ):
        daily[r.event_type][str(r.day)] = r["count"]
    want = {}
    for etype, days in daily.items():
        n = s1 = s2 = 0
        newest = max(days)
        for day in sorted(d for d in days if d < newest):
            x = days[day]
            dev, varnum = n * x - s1, n * s2 - s1 * s1
            flag = n > 1 and (
                (varnum == 0 and dev != 0)
                or (varnum > 0 and dev * dev * (n - 1) >= 4 * n * varnum)
            )
            want[(etype, day)] = (x, n, flag)
            n, s1, s2 = n + 1, s1 + x, s2 + x * x

    got = {
        (r.event_type, str(r.day)): (r.n_events, r.n_days_prior, r.is_anomaly)
        for r in rows
    }
    assert got == want and len(got) > 0


def test_anomaly_stream_state_survives_triggers(spark, tmp_path):
    import os
    import pandas as pd_
    from adenhq_hive_spark.streaming.events import anomaly_stream

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, day_counts, mtime):
        rows = []
        for day, c in day_counts.items():
            for i in range(c):
                rows.append((len(rows), pd_.Timestamp(f"2026-01-{day:02d} 12:00:00"), "click"))
        pdf = pd_.DataFrame(rows, columns=["event_id", "ts", "event_type"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    # batch 1: five steady days of 10 (day 6 stays open at first)
    write_file("a.parquet", {d: 10 for d in range(1, 6)}, 1_000_000)
    # batch 2: the spike day 6 fills to 100, day 7 arrives and closes it
    write_file("b.parquet", {6: 100, 7: 10}, 2_000_000)

    raw = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = run_to_completion(
        anomaly_stream(raw, k=2),
        "anomaly_two_batches",
        str(tmp_path / "ck2"),
        output_mode="update",
    )
    try:
        rows = spark.sql("SELECT * FROM anomaly_two_batches").collect()
    finally:
        q.stop()
    out = {str(r.day): r for r in rows}
    # days 1-5 closed unflagged; day 6 (100 vs five prior 10s) flagged
    # with prior state carried across the trigger boundary
    assert len(out) == 6 and "2026-01-07" not in out
    assert out["2026-01-06"].is_anomaly and out["2026-01-06"].n_days_prior == 5
    assert not any(out[f"2026-01-0{d}"].is_anomaly for d in range(1, 6))


def test_upsert_time_travel_and_vacuum(spark, tmp_path):
    import datetime as dt

    from pyspark.sql.types import (
        DoubleType, LongType, StructField, StructType, TimestampType,
    )
    from adenhq_hive_spark.streaming.upsert import (
        list_versions, read_store, read_version, upsert_stream,
        vacuum_store,
    )

    schema = StructType([
        StructField("doc_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("value", DoubleType()),
    ])
    src = tmp_path / "src"
    src.mkdir()
    t0 = dt.datetime(2026, 2, 1, 9, 0, 0)
    spark.createDataFrame([(1, t0, 1.0)], schema).coalesce(1).write.parquet(
        str(src / "b1"))
    spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=1), 9.0), (2, t0, 2.0)], schema
    ).coalesce(1).write.parquet(str(src / "b2"))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(str(src) + "/*")
    )
    store = str(tmp_path / "store")
    q = upsert_stream(stream, store).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.processAllAvailable()
    q.stop()

    vs = list_versions(store)
    assert len(vs) == 2
    # time travel: first version has only the pre-update state of key 1
    old = {r.doc_id: r.value for r in read_version(spark, store, vs[0]).collect()}
    assert old == {1: 1.0}
    cur = {r.doc_id: r.value for r in read_store(spark, store).collect()}
    assert cur == {1: 9.0, 2: 2.0}

    try:
        read_version(spark, store, "v999")
        raise AssertionError("expected KeyError")
    except KeyError:
        pass

    # vacuum keeps the current version even with keep_last=1
    removed = vacuum_store(store, keep_last=1)
    assert removed == [vs[0]]
    assert list_versions(store) == [vs[1]]
    assert {r.doc_id: r.value for r in read_store(spark, store).collect()} == cur


def test_anomaly_stream_ignores_null_ts(spark, tmp_path):
    import pandas as pd_
    from adenhq_hive_spark.streaming.events import anomaly_stream

    src = tmp_path / "src"
    src.mkdir()
    rows = [(0, None, "click")]
    for d in (1, 2, 3):
        for i in range(5):
            rows.append(
                (len(rows), pd_.Timestamp(f"2026-03-0{d} 09:00:00"), "click")
            )
    pdf = pd_.DataFrame(rows, columns=["event_id", "ts", "event_type"])
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    pdf.to_parquet(str(src / "a.parquet"))

    raw = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .parquet(str(src))
    )
    q = run_to_completion(
        anomaly_stream(raw, k=2), "anomaly_nullts",
        str(tmp_path / "ck"), output_mode="update",
    )
    try:
        rows_out = spark.sql("SELECT * FROM anomaly_nullts").collect()
    finally:
        q.stop()
    # null-ts row dropped: days 1..2 closed normally (3 stays open as
    # the genuine newest day — a NaT bucket would have closed it)
    days = sorted(str(r.day) for r in rows_out)
    assert days == ["2026-03-01", "2026-03-02"]


def test_decontaminate_stream_parity_with_batch(spark, tmp_path):
    import pandas as pd_
    from adenhq_hive_spark.operators.curation import decontaminate
    from adenhq_hive_spark.streaming.events import decontaminate_stream

    leak = "alpha beta gamma delta epsilon zeta eta theta"
    docs = [
        (1, f"prefix {leak} suffix words here"),
        (2, "totally clean document with nothing shared at all"),
        (3, f"another {leak} carrier text"),
        (4, "clean again different words entirely present"),
    ]
    eval_rows = [(100, f"benchmark contains {leak} verbatim")]

    src = tmp_path / "src"
    src.mkdir()
    pd_.DataFrame(docs, columns=["doc_id", "text"]).to_parquet(
        str(src / "a.parquet"))

    eval_df = spark.createDataFrame(eval_rows, ["doc_id", "text"])
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src))
    out = str(tmp_path / "clean")
    q = decontaminate_stream(stream, eval_df, out, n=8).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.processAllAvailable()
    q.stop()
    got = sorted(r.doc_id for r in spark.read.parquet(out).collect())
    batch_df = spark.createDataFrame(docs, ["doc_id", "text"])
    want = sorted(
        r.doc_id for r in decontaminate(batch_df, eval_df, n=8).collect()
    )
    assert got == want == [2, 4]


def test_decontaminate_stream_retry_is_idempotent(spark, tmp_path):
    import pandas as pd_
    from adenhq_hive_spark.streaming.events import decontaminate_stream

    src = tmp_path / "src"
    src.mkdir()
    pd_.DataFrame(
        [(1, "clean words only here"), (2, "more clean words again")],
        columns=["doc_id", "text"],
    ).to_parquet(str(src / "a.parquet"))
    eval_df = spark.createDataFrame(
        [(9, "unrelated eval suite text")], ["doc_id", "text"]
    )
    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src))
    out = str(tmp_path / "clean")

    # same input replayed under a FRESH checkpoint = an epoch retry:
    # the epoch-partitioned dynamic overwrite must not duplicate docs
    for ck in ("ck1", "ck2"):
        q = decontaminate_stream(stream, eval_df, out, n=3).option(
            "checkpointLocation", str(tmp_path / ck)
        ).start()
        q.processAllAvailable()
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == 2
    assert sorted(r.doc_id for r in got.collect()) == [1, 2]


def test_contract_gate_stream_routes_and_quarantines(spark, tmp_path):
    import json
    import os

    import pandas as pd_
    from adenhq_hive_spark.operators.contract import not_null, unique
    from adenhq_hive_spark.streaming.events import contract_gate_stream

    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows, mtime):
        pdf = pd_.DataFrame(rows, columns=["doc_id", "text"])
        pdf["doc_id"] = pdf["doc_id"].astype("Int64")  # keep int64+null
        pdf.to_parquet(str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    write_file("a.parquet", [(1, "good"), (2, "also good")], 1_000_000)
    write_file("b.parquet", [(7, "dup"), (7, "dup again"), (None, "x")],
               2_000_000)

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    out, quar = str(tmp_path / "ok"), str(tmp_path / "bad")
    q = contract_gate_stream(
        stream, [not_null("doc_id"), unique("doc_id")], out, quar
    ).option("checkpointLocation", str(tmp_path / "ck")).start()
    q.processAllAvailable()
    q.stop()

    good = spark.read.parquet(out)
    assert sorted(r.doc_id for r in good.collect()) == [1, 2]
    bad = spark.read.parquet(quar)
    assert bad.count() == 3                 # whole batch quarantined
    report = json.loads(bad.select("contract_report").first()[0])
    assert report == {"not_null(doc_id)": 1, "unique(doc_id)": 1}


def test_postings_maintain_stream_parity_and_consume(spark, tmp_path):
    import pandas as pd_

    from adenhq_hive_spark.operators.dedup import (
        build_shingle_postings,
        dedup_incremental,
    )
    from adenhq_hive_spark.streaming.events import (
        postings_maintain_stream,
        read_postings_index,
    )

    corpus = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "totally different corpus content here now"),
        (3, "yet another unrelated body of words"),
    ]
    src = tmp_path / "src"
    src.mkdir()
    # two files -> two micro-batches (maxFilesPerTrigger-free default
    # still batches per discovery; parity must hold regardless of split)
    pd_.DataFrame(corpus[:2], columns=["doc_id", "text"]).to_parquet(
        str(src / "a.parquet"))
    pd_.DataFrame(corpus[2:], columns=["doc_id", "text"]).to_parquet(
        str(src / "b.parquet"))

    stream = spark.readStream.schema("doc_id long, text string").parquet(
        str(src))
    idx = str(tmp_path / "index")
    q = postings_maintain_stream(stream, idx).option(
        "checkpointLocation", str(tmp_path / "ck")
    ).start()
    q.processAllAvailable()
    q.stop()

    got = read_postings_index(spark, idx)
    corpus_df = spark.createDataFrame(corpus, ["doc_id", "text"])
    want = build_shingle_postings(corpus_df)
    assert got.exceptAll(want).count() == 0
    assert want.exceptAll(got).count() == 0

    # the maintained index IS dedup_incremental's corpus_postings
    new = spark.createDataFrame(
        [(10, "alpha beta gamma delta epsilon zeta"),   # exact dup
         (11, "alpha beta gamma delta epsilon other"),  # near dup
         (12, "fresh unique content nothing shared")],
        ["doc_id", "text"],
    )
    hashes = corpus_df.selectExpr("md5(text) AS _h").distinct()
    kept = sorted(
        r.doc_id
        for r in dedup_incremental(
            new, corpus_df, corpus_postings=got, corpus_hashes=hashes
        ).collect()
    )
    assert kept == [12]


def test_heavy_hitters_stream_state_and_batch_parity(spark, tmp_path):
    import os
    import pandas as pd_

    from adenhq_hive_spark.operators.sketch import heavy_hitters
    from adenhq_hive_spark.streaming.events import (
        heavy_hitters_stream,
        run_to_completion,
    )

    src = tmp_path / "hh_src"
    src.mkdir()

    def write_file(name, docs, mtime, start_id=0):
        pdf = pd_.DataFrame(
            [(start_id + i, t) for i, t in enumerate(docs)],
            columns=["doc_id", "text"],
        )
        pdf.to_parquet(str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    # 'hh' 15x per file (30 total); fillers are all unique so a small
    # capacity evicts them while 'hh' must survive both triggers
    docs1 = [("hh " * 3 + " ".join(f"a{i}_{j}" for j in range(7))) for i in range(5)]
    docs2 = [("hh " * 3 + " ".join(f"b{i}_{j}" for j in range(7))) for i in range(5)]
    write_file("f1.parquet", docs1, 1_000_000)
    write_file("f2.parquet", docs2, 2_000_000, start_id=100)

    raw = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = run_to_completion(
        heavy_hitters_stream(raw, capacity=8, n_buckets=4),
        "hh_stream",
        str(tmp_path / "hh_ck"),
        output_mode="update",
    )
    try:
        rows = spark.sql("SELECT * FROM hh_stream").collect()
    finally:
        q.stop()
    # final sketch per bucket = rows carrying that bucket's max total
    # (update mode re-emits the whole bucket sketch each trigger)
    max_total = {}
    for r in rows:
        max_total[r.bucket] = max(max_total.get(r.bucket, 0), r.bucket_total)
    final = {
        r.token: r for r in rows if r.bucket_total == max_total[r.bucket]
    }
    hh = final["hh"]
    # cumulative across BOTH triggers, undercount bounded by total/cap
    assert hh.mg_count <= 30
    assert hh.mg_count >= 30 - (hh.bucket_total // 8 + 1)

    # batch-twin parity: every exact heavy hitter is a stream candidate
    batch_df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(docs1 + docs2)],
        "doc_id long, text string",
    )
    exact = heavy_hitters(batch_df, min_share_bp=1500, capacity=64).collect()
    assert {r.token for r in exact} <= set(final)


def test_distinct_users_stream_matches_batch_hll(spark, tmp_path):
    import os
    import pandas as pd_

    from adenhq_hive_spark.streaming.events import (
        distinct_users_stream,
        run_to_completion,
    )

    src = tmp_path / "du_src"
    src.mkdir()
    rows1 = [(i, pd_.Timestamp("2026-01-01 10:%02d:00" % (i % 60)), "click", i % 7)
             for i in range(100)]
    rows2 = [(1000 + i, pd_.Timestamp("2026-01-01 10:%02d:00" % (i % 60)), "click", i % 11)
             for i in range(100)]
    for name, rows, mt in (("a.parquet", rows1, 1_000_000),
                           ("b.parquet", rows2, 2_000_000)):
        pdf = pd_.DataFrame(rows, columns=["event_id", "ts", "event_type", "user_id"])
        pdf["ts"] = pdf["ts"].astype("datetime64[us]")
        pdf.to_parquet(str(src / name))
        os.utime(str(src / name), (mt, mt))

    raw = (
        spark.readStream.schema(
            "event_id long, ts timestamp, event_type string, user_id long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = run_to_completion(
        distinct_users_stream(raw),
        "du_stream",
        str(tmp_path / "du_ck"),
        output_mode="complete",
    )
    try:
        got = {
            (r.hour, r.event_type): r.approx_users
            for r in spark.sql("SELECT * FROM du_stream").collect()
        }
    finally:
        q.stop()
    batch = (
        spark.read.parquet(str(src))
        .groupBy(F.window("ts", "1 hour").alias("win"), "event_type")
        .agg(F.approx_count_distinct("user_id").alias("a"))
        .select(F.col("win.start").alias("hour"), "event_type", "a")
        .collect()
    )
    # HLL++ merge is commutative: micro-batched == single-batch exactly
    assert got == {(r.hour, r.event_type): r.a for r in batch}
    # and the estimate is close to truth (11 distinct users)
    assert abs(next(iter(got.values())) - 11) <= 2


def test_span_scrub_stream_scrubs_later_arrivals_only(spark, tmp_path):
    import os
    import pandas as pd_

    from adenhq_hive_spark.streaming.events import span_scrub_stream

    def _w(prefix, n):
        return " ".join(f"{prefix}{i}" for i in range(n))

    src = tmp_path / "ss_src"
    src.mkdir()
    shared = _w("s", 10)
    intra = _w("q", 12)

    def write_file(name, rows, mtime):
        pdf = pd_.DataFrame(rows, columns=["doc_id", "text", "source"])
        pdf.to_parquet(str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    # batch 1: the ORIGINAL copy + an unrelated doc
    write_file("f1.parquet",
               [(1, _w("a", 5) + " " + shared, "s1"),
                (2, _w("b", 20), "s1")],
               1_000_000)
    # batch 2: a later doc repeating batch-1's run, one clean doc, and a
    # SAME-BATCH duplicate pair (docs 12/13) — first-seen must survive
    write_file("f2.parquet",
               [(10, shared + " " + _w("c", 5), "s2"),
                (11, _w("d", 20), "s2"),
                (12, intra, "s2"),
                (13, intra + " " + _w("e", 4), "s2")],
               2_000_000)

    raw = (
        spark.readStream.schema("doc_id long, text string, source string")
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        span_scrub_stream(
            raw, str(tmp_path / "ss_idx"), str(tmp_path / "ss_out")
        )
        .option("checkpointLocation", str(tmp_path / "ss_ck"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    out = {
        r.doc_id: r
        for r in spark.read.parquet(str(tmp_path / "ss_out")).collect()
    }
    # first-seen copy untouched; later arrival loses exactly the run
    assert out[1].clean_text == _w("a", 5) + " " + shared
    assert out[1].n_removed == 0
    assert out[10].clean_text == _w("c", 5) and out[10].n_removed == 10
    assert out[2].n_removed == 0 and out[11].n_removed == 0
    # same-batch duplicate pair: the lowest id keeps the passage, the
    # other loses it — the text survives in exactly one document
    assert out[12].clean_text == intra and out[12].n_removed == 0
    assert out[13].clean_text == _w("e", 4) and out[13].n_removed == 12
    # metadata columns ride through the scrub
    assert out[10].source == "s2" and out[1].source == "s1"


def test_cusum_stream_parity_with_batch_operator(
    spark, stream, batch_events, tmp_path
):
    """Online CUSUM fed the batch operator's own per-key mean/sd as the
    in-control target must reproduce the batch s_pos/s_neg/alarms
    exactly on every CLOSED day (the newest day per key stays open by
    the day-closing contract)."""
    from adenhq_hive_spark.operators.stats import cusum_changepoints
    from adenhq_hive_spark.streaming.events import cusum_stream

    key = "click"
    batch = {
        str(r.day.date()): r
        for r in cusum_changepoints(
            batch_events.filter(F.col("event_type") == key),
            "ts",
            "event_type",
        ).collect()
    }
    # the batch op's retrospective reference for this key
    daily = (
        batch_events.filter(F.col("event_type") == key)
        .groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
        .count()
        .collect()
    )
    xs = [r["count"] for r in daily]
    mean = sum(xs) / len(xs)
    var = sum(x * x for x in xs) / len(xs) - mean * mean
    sd = var ** 0.5

    q = run_to_completion(
        cusum_stream(
            stream.filter(F.col("event_type") == key),
            target_mean=mean,
            target_sd=sd,
        ),
        "cusum_stream_tbl",
        str(tmp_path / "ck_cusum"),
        output_mode="update",
    )
    try:
        got = {
            str(r.day): r
            for r in spark.sql("SELECT * FROM cusum_stream_tbl").collect()
        }
    finally:
        q.stop()

    newest = max(batch)
    closed = {d for d in batch if d < newest}
    assert set(got) == closed and len(got) > 5
    for day in closed:
        b, s = batch[day], got[day]
        assert s.x == b.x
        assert s.s_pos_r6 == pytest.approx(b.s_pos_r6, abs=2e-6)
        assert s.s_neg_r6 == pytest.approx(b.s_neg_r6, abs=2e-6)
        assert s.alarm_pos == b.alarm_pos
        assert s.alarm_neg == b.alarm_neg


def test_cusum_stream_rejects_bad_sd(spark, stream):
    from adenhq_hive_spark.streaming.events import cusum_stream

    with pytest.raises(ValueError):
        cusum_stream(stream, target_mean=0.0, target_sd=0.0)
    with pytest.raises(ValueError):
        cusum_stream(stream)  # neither scalar target nor fleet targets
    with pytest.raises(ValueError):
        cusum_stream(stream, targets={"click": (5.0, 0.0)})


def test_cusum_stream_fleet_targets_per_key_batch_parity(
    spark, stream, batch_events, tmp_path
):
    """FLEET MODE (r8 verdict #6): one query, a per-key (mean, sd)
    target relation — every key must reproduce ITS OWN batch-operator
    recursion exactly on closed days, and a key absent from the
    targets (with no scalar fallback) must pass through un-scored."""
    from adenhq_hive_spark.operators.stats import cusum_changepoints
    from adenhq_hive_spark.streaming.events import cusum_stream

    batch = {}
    targets = {}
    keys = [
        r.event_type
        for r in batch_events.select("event_type").distinct().collect()
    ]
    for key in keys:
        sub = batch_events.filter(F.col("event_type") == key)
        daily = (
            sub.groupBy(F.date_trunc("day", F.col("ts")).alias("day"))
            .count()
            .collect()
        )
        xs = [r["count"] for r in daily]
        mean = sum(xs) / len(xs)
        var = sum(x * x for x in xs) / len(xs) - mean * mean
        if var <= 0:
            continue
        targets[key] = (mean, var ** 0.5)
        batch[key] = {
            str(r.day.date()): r
            for r in cusum_changepoints(sub, "ts", "event_type").collect()
        }
    assert len(targets) >= 2
    # hold one key OUT of the fleet relation: it must close days
    # un-scored rather than borrow another key's target
    held_out = sorted(targets)[0]
    fleet = {k: v for k, v in targets.items() if k != held_out}
    tdf = spark.createDataFrame(
        [(k, m, s) for k, (m, s) in fleet.items()],
        "event_type string, mean double, sd double",
    )
    q = run_to_completion(
        cusum_stream(stream, targets=tdf),
        "cusum_fleet_tbl",
        str(tmp_path / "ck_cusum_fleet"),
        output_mode="update",
    )
    try:
        rows = spark.sql("SELECT * FROM cusum_fleet_tbl").collect()
    finally:
        q.stop()
    got = {(r.event_type, str(r.day)): r for r in rows}
    checked = unscored = 0
    for (key, day), s in got.items():
        if key == held_out:
            assert s.s_pos_r6 == 0.0 and s.s_neg_r6 == 0.0
            assert not s.alarm_pos and not s.alarm_neg
            unscored += 1
            continue
        if key not in batch or day not in batch[key]:
            continue
        b = batch[key][day]
        newest = max(batch[key])
        if day >= newest:
            continue
        assert s.x == b.x
        assert s.s_pos_r6 == pytest.approx(b.s_pos_r6, abs=2e-6)
        assert s.s_neg_r6 == pytest.approx(b.s_neg_r6, abs=2e-6)
        assert s.alarm_pos == b.alarm_pos
        assert s.alarm_neg == b.alarm_neg
        checked += 1
    assert checked > 10 and unscored > 0


def test_hist_quantile_stream_prefix_parity(
    spark, stream, batch_events, tmp_path
):
    """Running HDR quantile sketch (r9): every closed day's emitted
    (n, p50, p90, p99) must equal the BATCH hist_quantiles over the
    prefix image (days <= that day, same value filtering) — the
    mergeable-summary property live: merging closed-day buckets into
    the running histogram is the batch elementwise-sum merge."""
    from adenhq_hive_spark.operators.sketch import hist_quantiles
    from adenhq_hive_spark.streaming.events import hist_quantile_stream

    q = run_to_completion(
        hist_quantile_stream(stream),
        "histq_tbl",
        str(tmp_path / "ck_histq"),
        output_mode="update",
    )
    try:
        rows = spark.sql("SELECT * FROM histq_tbl").collect()
    finally:
        q.stop()
    assert len(rows) > 5
    by_key: dict = {}
    for r in rows:
        by_key.setdefault(r.event_type, []).append(r)
    checked = 0
    for key, rs in sorted(by_key.items())[:2]:  # bound test runtime
        last = max(rs, key=lambda r: r.day)
        base = batch_events.filter(
            (F.col("event_type") == key)
            & (F.to_date("ts") <= F.lit(str(last.day)))
            & F.col("value").isNotNull()
            & (F.col("value").cast("long") >= 0)
        )
        b = hist_quantiles(
            base, "value", group_col="event_type", id_col="event_id"
        ).collect()
        ests = {r.pct: r for r in b}
        assert last.n == ests[50].n
        assert (last.p50, last.p90, last.p99) == (
            ests[50].est, ests[90].est, ests[99].est
        )
        # sketch contract carried to the stream: est <= exact, within
        # the 12.5% bucket-width bound
        for p, got in ((50, last.p50), (90, last.p90), (99, last.p99)):
            assert got <= ests[p].exact
            assert ests[p].exact <= max(got + got // 8 + 1, got + 1)
        checked += 1
    assert checked == 2


def test_hist_quantile_stream_rejects_bad_percentiles(spark, stream):
    from adenhq_hive_spark.streaming.events import hist_quantile_stream

    with pytest.raises(ValueError):
        hist_quantile_stream(stream, percentiles=(0, 50, 99))
    with pytest.raises(ValueError):
        hist_quantile_stream(stream, percentiles=(50, 99))


def test_hdr_bucket_helpers_match_batch_sql(spark):
    """The stream's vectorized bucket (map-side combine) and its bucket
    lower bound must be bit-exact with the batch twin's SQL fragments,
    sketch.hist_bucket_sql / hist_bucket_lb_sql evaluated by Spark,
    across 0..2^62 with every power-of-two boundary."""
    import numpy as np

    from adenhq_hive_spark.operators.sketch import (
        hist_bucket_lb_sql,
        hist_bucket_sql,
    )
    from adenhq_hive_spark.streaming.events import _hdr_bucket_np, _hdr_lb

    vals = list(range(0, 600))
    for e in range(4, 62):
        vals += [2**e - 1, 2**e, 2**e + 1]
    rng = np.random.default_rng(7)
    vals += [int(x) for x in rng.integers(0, 2**62, size=2000)]
    rows = (
        spark.createDataFrame(list(enumerate(vals)), "i long, v long")
        .selectExpr("i", f"{hist_bucket_sql('v')} AS bucket")
        .selectExpr("i", "bucket", f"{hist_bucket_lb_sql('bucket')} AS lb")
        .orderBy("i")
        .collect()
    )
    got = _hdr_bucket_np(np.array(vals, dtype=np.int64))
    assert [int(b) for b in got] == [r.bucket for r in rows]
    assert [_hdr_lb(r.bucket) for r in rows] == [r.lb for r in rows]


def test_write_shards_stream_restart_matches_batch_manifest(spark, tmp_path):
    """Streaming export folded across a MID-STREAM RESTART must equal
    the one-shot batch manifest on the same rows (r9 verdict #7): the
    per-epoch deltas compose because content_crc32 is a modular sum."""
    import os

    import pandas as pd_
    from adenhq_hive_spark.operators.export import (
        finalize_manifest,
        shard_manifest,
        verify_shards,
        write_shards_stream,
    )

    docs = [
        (i, f"doc {i} body words " + ("pad " * (i % 4)))
        for i in range(1, 41)
    ]
    src = tmp_path / "src"
    src.mkdir()

    def write_file(name, rows, mtime):
        pd_.DataFrame(rows, columns=["doc_id", "text"]).to_parquet(
            str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    write_file("a.parquet", docs[:25], 1_000_000)
    out = str(tmp_path / "shards")
    ck = str(tmp_path / "ck")

    def run_stream():
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = write_shards_stream(stream, out, n_shards=4).option(
            "checkpointLocation", ck
        ).start()
        q.processAllAvailable()
        q.stop()

    run_stream()                                  # epoch 0: file a
    write_file("b.parquet", docs[25:], 2_000_000)
    run_stream()                                  # restart: file b only

    man = finalize_manifest(spark, out).collect()
    batch = shard_manifest(
        spark.createDataFrame(docs, ["doc_id", "text"]), n_shards=4
    ).collect()
    assert man == batch

    ver = verify_shards(spark, out).collect()
    assert ver and all(r.ok for r in ver)
    assert sum(r.n_docs for r in ver) == len(docs)


def test_write_shards_stream_epoch_replay_is_idempotent(spark, tmp_path):
    """Replaying the same input under a fresh checkpoint (= every epoch
    retried) must overwrite, not double-append: same manifest, same
    row count."""
    import os

    import pandas as pd_
    from adenhq_hive_spark.operators.export import (
        finalize_manifest,
        verify_shards,
        write_shards_stream,
    )

    docs = [(i, f"document {i} text") for i in range(1, 21)]
    src = tmp_path / "src"
    src.mkdir()
    for j, name in enumerate(["a.parquet", "b.parquet"]):
        pd_.DataFrame(
            docs[j * 10:(j + 1) * 10], columns=["doc_id", "text"]
        ).to_parquet(str(src / name))
        os.utime(str(src / name), (1_000_000 * (j + 1),) * 2)

    out = str(tmp_path / "shards")
    first = None
    for ck in ("ck1", "ck2"):
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(str(src))
        )
        q = write_shards_stream(stream, out, n_shards=4).option(
            "checkpointLocation", str(tmp_path / ck)
        ).start()
        q.processAllAvailable()
        q.stop()
        man = finalize_manifest(spark, out).collect()
        if first is None:
            first = man
    assert man == first
    ver = verify_shards(spark, out).collect()
    assert all(r.ok for r in ver)
    assert sum(r.n_docs for r in ver) == len(docs)
    data = spark.read.parquet(f"{out}/data")
    assert data.count() == len(docs)


def test_toolcall_assembly_stream_matches_batch(spark, tmp_path):
    """Streaming tool-call assembly == batch assemble_tool_calls on the
    identical fragment corpus (reference litellm.py:903-970 accumulation
    as keyed streaming state): fragments split across FILES (and thus
    micro-batches with maxFilesPerTrigger=1), out of chunk order, two
    interleaved calls, one malformed; emission happens only at the
    request's finish marker and state is freed after it."""
    import os
    import pandas as pd_

    from adenhq_hive_spark.functions.llm_stream import assemble_tool_calls
    from adenhq_hive_spark.streaming.events import (
        run_to_completion,
        toolcall_assembly_stream,
    )

    cols = ["req_id", "tool_idx", "chunk_idx", "call_id", "tool_name",
            "frag", "finish"]
    # r1: two interleaved calls, fragments split across the two files;
    # r2: single malformed call; r3: finish with no tool calls at all
    f1 = [
        ("r1", 0, 0, "call_a", "search", '{"qu', False),
        ("r1", 1, 0, "call_b", "fetch", '{"url": ', False),
        ("r2", 0, 1, None, None, '"boom', False),
        ("r1", 0, 2, None, None, ', "k": 3}', False),  # out of order
    ]
    f2 = [
        ("r1", 0, 1, None, None, 'ery": "x"', False),
        ("r2", 0, 0, "call_c", "post", '{"p": ', False),
        ("r1", 0, 0, None, None, None, True),   # finish r1
        ("r2", 0, 0, None, None, None, True),   # finish r2
        ("r3", 0, 0, None, None, None, True),   # finish r3 (no calls)
    ]
    src = tmp_path / "tc_src"
    src.mkdir()
    for name, rows, mtime in (("a.parquet", f1, 1_000_000),
                              ("b.parquet", f2, 2_000_000)):
        pdf = pd_.DataFrame(rows, columns=cols)
        pdf["tool_idx"] = pdf["tool_idx"].astype("int32")
        pdf["chunk_idx"] = pdf["chunk_idx"].astype("int32")
        pdf.to_parquet(str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    schema = ("req_id string, tool_idx int, chunk_idx int, "
              "call_id string, tool_name string, frag string, "
              "finish boolean")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = run_to_completion(
        toolcall_assembly_stream(stream), "tc_stream",
        str(tmp_path / "tc_ck"), output_mode="update",
    )
    try:
        got = {
            (r.req_id, r.tool_idx):
                (r.call_id, r.tool_name, r.tool_input, r.n_frags,
                 r.is_valid)
            for r in spark.sql("SELECT * FROM tc_stream").collect()
        }
    finally:
        q.stop()

    batch_frags = spark.createDataFrame(
        [r for r in f1 + f2 if not r[6]], schema
    ).drop("finish")
    want = {
        (r.req_id, r.tool_idx):
            (r.call_id, r.tool_name, r.tool_input, r.n_frags, r.is_valid)
        for r in assemble_tool_calls(batch_frags).collect()
    }
    assert got == want
    a = got[("r1", 0)]
    assert a[2] == '{"query": "x", "k": 3}' and a[4]
    assert not got[("r2", 0)][4]  # malformed -> is_valid False
    assert ("r3", 0) not in got   # finish with no calls emits nothing


def test_toolcall_assembly_stream_drops_late_fragments(spark, tmp_path):
    """A fragment arriving in a micro-batch AFTER the request's finish
    marker must be dropped by the finished tombstone — it must not
    re-open per-request state (the pre-fix leak: '__finished__' was
    popped but never written, so a late fragment re-created an
    accumulator that never emitted and, under NoTimeout, never
    cleared) and it must not cause a second emission for the call."""
    import os
    import pandas as pd_

    from adenhq_hive_spark.streaming.events import (
        run_to_completion,
        toolcall_assembly_stream,
    )

    cols = ["req_id", "tool_idx", "chunk_idx", "call_id", "tool_name",
            "frag", "finish"]
    f1 = [("r1", 0, 0, "call_a", "search", '{"q": 1}', False)]
    f2 = [("r1", 0, 0, None, None, None, True)]    # finish r1
    f3 = [("r1", 0, 1, None, None, ', "x": 2', False)]  # LATE fragment
    src = tmp_path / "tc_late_src"
    src.mkdir()
    for name, rows, mtime in (("a.parquet", f1, 1_000_000),
                              ("b.parquet", f2, 2_000_000),
                              ("c.parquet", f3, 3_000_000)):
        pdf = pd_.DataFrame(rows, columns=cols)
        pdf["tool_idx"] = pdf["tool_idx"].astype("int32")
        pdf["chunk_idx"] = pdf["chunk_idx"].astype("int32")
        # single-row files with an all-None string column would be
        # typed INT32 by pyarrow inference — pin the string columns
        for c in ("req_id", "call_id", "tool_name", "frag"):
            pdf[c] = pdf[c].astype("string")
        pdf.to_parquet(str(src / name))
        os.utime(str(src / name), (mtime, mtime))

    schema = ("req_id string, tool_idx int, chunk_idx int, "
              "call_id string, tool_name string, frag string, "
              "finish boolean")
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = run_to_completion(
        toolcall_assembly_stream(stream), "tc_late",
        str(tmp_path / "tc_late_ck"), output_mode="update",
    )
    try:
        rows = spark.sql(
            "SELECT * FROM tc_late WHERE req_id IS NOT NULL"
        ).collect()
    finally:
        q.stop()
    # exactly ONE emission, from the pre-finish fragment only: the late
    # fragment neither re-emits nor extends the assembled argument text
    assert len(rows) == 1
    assert rows[0].tool_input == '{"q": 1}'
    assert rows[0].n_frags == 1 and rows[0].is_valid
