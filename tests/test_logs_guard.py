"""Tests for run-log analytics, goal progress, the content guard, the
spillover truncation helper, and the catalog describe surface."""

from __future__ import annotations

import datetime as dt

import pytest

from adenhq_hive_spark.engine import Engine
from adenhq_hive_spark.operators.dedup import ngram_jaccard_pairs
from adenhq_hive_spark.operators.guard import filter_suspicious, flag_suspicious
from adenhq_hive_spark.operators.logs import (
    NODE_DETAIL_SCHEMA,
    RUN_SUMMARY_SCHEMA,
    TOOL_LOG_SCHEMA,
    failure_patterns,
    goal_progress,
    node_performance,
    query_node_details,
    query_runs,
    query_tool_logs,
)
from adenhq_hive_spark.sources.data_tools import DataStore

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def runs(spark):
    t0 = dt.datetime(2024, 1, 1, 12, 0, 0)
    rows = [
        ("r1", "agent_a", "completed", t0, t0 + dt.timedelta(minutes=5), 1000),
        ("r2", "agent_a", "failed", t0 + dt.timedelta(hours=1),
         t0 + dt.timedelta(hours=1, minutes=2), 500),
        ("r3", "agent_b", "completed", t0 + dt.timedelta(hours=2),
         t0 + dt.timedelta(hours=2, minutes=8), 2500),
    ]
    return spark.createDataFrame(rows, RUN_SUMMARY_SCHEMA)


@pytest.fixture(scope="module")
def details(spark):
    rows = [
        ("r1", "plan", "completed", 1200, 300, False),
        ("r1", "act", "completed", 3400, 700, False),
        ("r2", "plan", "completed", 1100, 280, False),
        ("r2", "act", "failed", 9000, 100, True),
        ("r3", "plan", "failed", 1300, 310, True),
        ("r3", "act", "failed", 800, 50, True),
    ]
    return spark.createDataFrame(rows, NODE_DETAIL_SCHEMA)


def test_query_runs_l1(runs):
    got = query_runs(runs, status="completed", limit=1).collect()
    assert len(got) == 1 and got[0].run_id == "r3"  # newest first


def test_query_node_details_l2(details):
    got = query_node_details(details, "r2", needs_attention=True).collect()
    assert [(r.node_id, r.status) for r in got] == [("act", "failed")]


def test_query_tool_logs_l3(spark):
    # steps arrive out of order and interleaved across runs and nodes
    rows = [
        ("r1", "act", 3, "search", True, 40),
        ("r2", "act", 1, "search", False, 90),
        ("r1", "plan", 2, "read", True, 10),
        ("r1", "act", 1, "fetch", True, 25),
        ("r1", "plan", 4, "write", False, 70),
    ]
    logs = spark.createDataFrame(rows, TOOL_LOG_SCHEMA)
    run = query_tool_logs(logs, "r1").collect()
    assert [(r.step, r.node_id, r.tool) for r in run] == [
        (1, "act", "fetch"), (2, "plan", "read"),
        (3, "act", "search"), (4, "plan", "write"),
    ]
    node = query_tool_logs(logs, "r1", node_id="act").collect()
    assert [(r.step, r.tool) for r in node] == [(1, "fetch"), (3, "search")]
    assert query_tool_logs(logs, "r9").collect() == []


def test_node_performance_rollup(details):
    perf = {r.node_id: r for r in node_performance(details).collect()}
    assert perf["plan"].n_visits == 3
    assert perf["plan"].n_failures == 1
    assert perf["act"].avg_latency_ms == 4400.0


def test_failure_patterns(details):
    top = failure_patterns(details).collect()
    assert top[0].node_id == "act" and top[0].n == 2


def test_goal_progress(spark):
    df = spark.createDataFrame(
        [("g1", 2.0, True), ("g1", 1.0, False), ("g1", 1.0, True),
         ("g2", 1.0, False)],
        ["goal_id", "weight", "met"],
    )
    got = {r.goal_id: r.progress for r in goal_progress(df).collect()}
    assert got == {"g1": 0.75, "g2": 0.0}


def test_guard_flags_oversize_code(spark):
    code = ("def exploit():\n    pass\n" + "x" * 6000)
    prose = "a perfectly normal sentence " * 300  # >5000 chars, no code
    short_code = "def f(): pass"
    df = spark.createDataFrame(
        [(1, code), (2, prose), (3, short_code)], ["id", "text"]
    )
    flags = {r.id: r.suspicious for r in flag_suspicious(df).collect()}
    assert flags == {1: True, 2: False, 3: False}
    kept = sorted(r.id for r in filter_suspicious(df).collect())
    assert kept == [2, 3]


def test_spillover_truncation(spark, tmp_path):
    store = DataStore(spark, str(tmp_path / "s"))
    big = spark.createDataFrame(
        [(i, "y" * 4000) for i in range(10)], ["id", "payload"]
    )
    res = store.truncate_with_spillover("r1", big, max_rows=3, max_chars=100)
    assert res["truncated"] and res["row_count"] == 3
    assert all(len(r["payload"]) == 101 for r in res["rows"])  # 100 + ellipsis
    full = store.load_data("r1", limit=100)
    assert full["total_rows"] == 10
    assert len(full["rows"][0]["payload"]) == 4000


def test_describe_dataset(spark):
    eng = Engine(spark, SF_SMOKE)
    d = eng.describe_dataset(with_row_counts=False)
    names = {t["table"] for t in d["tables"]}
    assert {"orders", "lineitem", "events", "documents"} <= names
    orders = next(t for t in d["tables"] if t["table"] == "orders")
    assert {"name": "o_orderkey", "type": "bigint", "nullable": True} \
        in orders["columns"]


def test_ngram_cap_keeps_high_jaccard_pairs(spark):
    from adenhq_hive_spark.catalog import load_table

    docs = load_table(spark, SF_SMOKE, "documents")
    exact = {(r.id_a, r.id_b) for r in
             ngram_jaccard_pairs(docs, threshold=0.5).collect()}
    capped = {(r.id_a, r.id_b) for r in
              ngram_jaccard_pairs(docs, threshold=0.5,
                                  max_shingle_df=20).collect()}
    assert capped <= exact
    # true near-dups share rare shingles, so the cap must not lose them
    assert len(capped & exact) / len(exact) >= 0.95


def test_approx_distinct_accuracy(spark):
    from adenhq_hive_spark.catalog import load_table
    from pyspark.sql import functions as F

    li = load_table(spark, SF_SMOKE, "lineitem")
    joined = (
        li.groupBy("l_returnflag")
        .agg(
            F.approx_count_distinct("l_suppkey").alias("approx"),
            F.countDistinct("l_suppkey").alias("exact"),
        )
        .collect()
    )
    for r in joined:
        assert abs(r.approx - r.exact) / r.exact <= 0.05  # HLL++ rsd
