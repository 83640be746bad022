"""Graph pipeline tests: node ops, conditional branching on scalar
memory, priorities, fan-in union, max_steps, JSON loading — mirrors the
reference's executor/edge test themes (test_graph_executor.py,
test_conditional_edge_direct_key.py)."""

from __future__ import annotations

import pytest

from adenhq_hive_spark.catalog import register_views
from adenhq_hive_spark.plans.graph import (
    EdgeSpec,
    GraphRunner,
    GraphSpec,
    GraphValidationError,
    NodeSpec,
    graph_from_json,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def runner(spark):
    register_views(spark, SF_SMOKE)
    return GraphRunner(spark)


def test_linear_sql_filter_select(runner, spark):
    g = GraphSpec(
        nodes={
            "load": NodeSpec(
                "load", "sql",
                {"query": "SELECT o_orderkey, o_totalprice, o_orderstatus FROM orders"},
                output="orders_df",
            ),
            "keep_big": NodeSpec(
                "keep_big", "filter",
                {"condition": "o_totalprice > 100000 and o_orderstatus == 'F'"},
                inputs=["orders_df"], output="big",
            ),
            "shape": NodeSpec(
                "shape", "select",
                {"mapping": {"id": "o_orderkey", "total": "o_totalprice"}},
                inputs=["big"], output="result",
            ),
        },
        edges=[EdgeSpec("load", "keep_big"), EdgeSpec("keep_big", "shape")],
        entry="load",
        terminals={"shape"},
    )
    res = GraphRunner(spark).execute(g)
    assert res.completed and res.steps == ["load", "keep_big", "shape"]
    df = res.memory["result"]
    assert df.columns == ["id", "total"]
    assert df.count() > 0
    assert df.filter("total <= 100000").count() == 0


def test_conditional_branch_on_scalar(runner, spark):
    def mk(threshold):
        return GraphSpec(
            nodes={
                "count": NodeSpec(
                    "count", "sql",
                    {"query": "SELECT COUNT(*) FROM orders"}, output="cnt_df",
                ),
                "as_scalar": NodeSpec(
                    "as_scalar", "scalar", inputs=["cnt_df"], output="n_orders",
                ),
                "big_path": NodeSpec(
                    "big_path", "sql", {"query": "SELECT 'big' AS path"},
                    output="out",
                ),
                "small_path": NodeSpec(
                    "small_path", "sql", {"query": "SELECT 'small' AS path"},
                    output="out",
                ),
            },
            edges=[
                EdgeSpec("count", "as_scalar"),
                EdgeSpec("as_scalar", "big_path",
                         condition=f"n_orders > {threshold}", priority=1),
                EdgeSpec("as_scalar", "small_path"),
            ],
            entry="count",
            terminals={"big_path", "small_path"},
        )

    r1 = GraphRunner(spark).execute(mk(100))
    assert r1.steps[-1] == "big_path"
    r2 = GraphRunner(spark).execute(mk(10**9))
    assert r2.steps[-1] == "small_path"


def test_priority_wins(runner, spark):
    g = GraphSpec(
        nodes={
            "start": NodeSpec("start", "sql", {"query": "SELECT 1 AS one"},
                              output="d"),
            "lo": NodeSpec("lo", "sql", {"query": "SELECT 'lo' AS x"}, output="o"),
            "hi": NodeSpec("hi", "sql", {"query": "SELECT 'hi' AS x"}, output="o"),
        },
        edges=[
            EdgeSpec("start", "lo", condition="1 == 1", priority=0),
            EdgeSpec("start", "hi", condition="1 == 1", priority=5),
        ],
        entry="start",
        terminals={"lo", "hi"},
    )
    assert GraphRunner(spark).execute(g).steps[-1] == "hi"


def test_union_fan_in(runner, spark):
    g = GraphSpec(
        nodes={
            "a": NodeSpec("a", "sql",
                          {"query": "SELECT c_custkey AS k FROM customer LIMIT 5"},
                          output="da"),
            "b": NodeSpec("b", "sql",
                          {"query": "SELECT s_suppkey AS k FROM supplier LIMIT 5"},
                          output="db"),
            "merge": NodeSpec("merge", "union", inputs=["da", "db"],
                              output="merged"),
        },
        edges=[EdgeSpec("a", "b"), EdgeSpec("b", "merge")],
        entry="a",
        terminals={"merge"},
    )
    res = GraphRunner(spark).execute(g)
    assert res.memory["merged"].count() == 10


def test_max_steps_cap(runner, spark):
    g = GraphSpec(
        nodes={
            "loop": NodeSpec("loop", "sql", {"query": "SELECT 1 AS x"},
                             output="d"),
        },
        edges=[EdgeSpec("loop", "loop")],
        entry="loop",
        max_steps=7,
    )
    res = GraphRunner(spark).execute(g)
    assert not res.completed
    assert len(res.steps) == 7


def test_write_sql_rejected_in_node(runner, spark):
    g = GraphSpec(
        nodes={"bad": NodeSpec("bad", "sql", {"query": "DROP TABLE orders"})},
        edges=[],
        entry="bad",
    )
    with pytest.raises(Exception, match="read-only"):
        GraphRunner(spark).execute(g)


def test_validation_errors(spark):
    with pytest.raises(GraphValidationError, match="entry"):
        GraphRunner(spark).execute(
            GraphSpec(nodes={}, edges=[], entry="nope")
        )


def test_graph_from_json_roundtrip(runner, spark):
    g = graph_from_json(
        {
            "entry": "load",
            "terminals": ["top"],
            "max_steps": 10,
            "nodes": [
                {"id": "load", "op": "sql",
                 "params": {"query": "SELECT p_partkey, p_retailprice FROM part"},
                 "output": "parts"},
                {"id": "top", "op": "sql",
                 "params": {"query": "SELECT * FROM parts ORDER BY p_retailprice DESC LIMIT 3"},
                 "output": "top3"},
            ],
            "edges": [{"source": "load", "target": "top"}],
        }
    )
    res = GraphRunner(spark).execute(g)
    assert res.completed
    assert res.memory["top3"].count() == 3


def test_allowed_columns_scoping(runner, spark):
    g = GraphSpec(
        nodes={
            "load": NodeSpec(
                "load", "sql",
                {"query": "SELECT c_custkey, c_name, c_acctbal FROM customer"},
                output="cust",
            ),
            "scoped": NodeSpec(
                "scoped", "select", {"mapping": {}}, inputs=["cust"],
                output="visible",
                allowed_columns={"cust": ["c_custkey", "c_name"]},
            ),
        },
        edges=[EdgeSpec("load", "scoped")],
        entry="load",
        terminals={"scoped"},
    )
    res = GraphRunner(spark).execute(g)
    # acctbal is pruned before the node body ever sees the frame
    assert res.memory["visible"].columns == ["c_custkey", "c_name"]


def test_diamond_fan_out_fan_in(runner, spark):
    # entry fans out to two branches; the merge node sees both outputs
    # (parallel fan-out + convergence, executor.py:1686-1991 image)
    g = GraphSpec(
        nodes={
            "start": NodeSpec("start", "sql",
                              {"query": "SELECT 1 AS seed"}, output="seed"),
            "br_a": NodeSpec("br_a", "sql",
                             {"query": "SELECT 'a' AS branch"}, output="da"),
            "br_b": NodeSpec("br_b", "sql",
                             {"query": "SELECT 'b' AS branch"}, output="db"),
            "merge": NodeSpec("merge", "union", inputs=["da", "db"],
                              output="merged"),
        },
        edges=[
            EdgeSpec("start", "br_a"),
            EdgeSpec("start", "br_b"),
            EdgeSpec("br_a", "merge"),
            EdgeSpec("br_b", "merge"),
        ],
        entry="start",
        terminals={"merge"},
    )
    res = GraphRunner(spark).execute(g)
    assert res.completed
    assert set(res.steps) == {"start", "br_a", "br_b", "merge"}
    assert res.steps.count("merge") == 1  # convergence: merge ran once
    got = sorted(r.branch for r in res.memory["merged"].collect())
    assert got == ["a", "b"]


def test_node_retry_with_backoff(runner, spark):
    attempts = {"n": 0}

    def flaky(memory):
        attempts["n"] += 1
        if attempts["n"] < 3:
            raise RuntimeError("transient")
        return spark.createDataFrame([(attempts["n"],)], ["tries"])

    g = GraphSpec(
        nodes={
            "flaky": NodeSpec("flaky", "python", fn=flaky, output="out",
                              retries=3, backoff_base_s=0.01),
        },
        edges=[],
        entry="flaky",
        terminals={"flaky"},
    )
    res = GraphRunner(spark).execute(g)
    assert res.completed
    assert res.memory["out"].collect()[0].tries == 3
    assert len(res.steps) == 1  # retries are not new steps


def test_node_retry_exhausted(runner, spark):
    def always_fails(memory):
        raise RuntimeError("permanent")

    g = GraphSpec(
        nodes={"bad": NodeSpec("bad", "python", fn=always_fails,
                               retries=1, backoff_base_s=0.01)},
        edges=[],
        entry="bad",
    )
    with pytest.raises(RuntimeError, match="permanent"):
        GraphRunner(spark).execute(g)


def test_on_failure_edge(runner, spark):
    def boom(memory):
        raise RuntimeError("node blew up")

    g = GraphSpec(
        nodes={
            "risky": NodeSpec("risky", "python", fn=boom, output="x",
                              retries=1, backoff_base_s=0.01),
            "recover": NodeSpec("recover", "sql",
                                {"query": "SELECT 'recovered' AS status"},
                                output="out"),
        },
        edges=[EdgeSpec("risky", "recover", on_failure=True)],
        entry="risky",
        terminals={"recover"},
    )
    res = GraphRunner(spark).execute(g)
    assert res.completed
    assert res.steps == ["risky", "recover"]
    assert "node blew up" in res.memory["risky__error"]
    assert res.memory["out"].collect()[0].status == "recovered"


def test_on_failure_edge_not_taken_on_success(runner, spark):
    g = GraphSpec(
        nodes={
            "fine": NodeSpec("fine", "sql", {"query": "SELECT 1 AS a"},
                             output="d"),
            "normal": NodeSpec("normal", "sql", {"query": "SELECT 2 AS b"},
                               output="o"),
            "handler": NodeSpec("handler", "sql", {"query": "SELECT 3 AS c"},
                                output="h"),
        },
        edges=[
            EdgeSpec("fine", "normal"),
            EdgeSpec("fine", "handler", on_failure=True),
        ],
        entry="fine",
        terminals={"normal", "handler"},
    )
    res = GraphRunner(spark).execute(g)
    assert res.steps == ["fine", "normal"]
    assert "handler" not in res.steps


# -- checkpoint / pause / resume (executor.py:719-738 semantics) ----------


def _ckpt_graph(fail_once: dict | None = None):
    """3-node linear graph; optional python node that crashes on its
    first invocation (simulating a killed run mid-DAG)."""

    def maybe_crash(df, memory):
        if fail_once is not None and not fail_once.get("crashed"):
            fail_once["crashed"] = True
            raise RuntimeError("simulated executor loss")
        return df.limit(50)

    return GraphSpec(
        nodes={
            "load": NodeSpec(
                "load", "sql",
                {"query": "SELECT o_orderkey, o_totalprice FROM orders"},
                output="base",
            ),
            "shrink": NodeSpec(
                "shrink", "python", inputs=["base"], output="small",
                fn=maybe_crash,
            ),
            "count": NodeSpec(
                "count", "sql",
                {"query": "SELECT COUNT(*) AS n FROM small"},
                output="final",
            ),
            "tally": NodeSpec(
                "tally", "scalar", inputs=["final"], output="n_rows",
            ),
        },
        edges=[EdgeSpec("load", "shrink"), EdgeSpec("shrink", "count"),
               EdgeSpec("count", "tally")],
        entry="load",
        terminals={"tally"},
    )


def test_pause_and_resume_identical_result(runner, spark, tmp_path):
    ckpt = str(tmp_path / "ckpt")
    baseline = GraphRunner(spark).execute(_ckpt_graph())
    paused = GraphRunner(spark).execute(
        _ckpt_graph(), checkpoint_dir=ckpt, pause_after=2
    )
    assert paused.paused and not paused.completed
    assert paused.steps == ["load", "shrink"]
    resumed = GraphRunner(spark).resume(_ckpt_graph(), ckpt)
    assert resumed.completed and not resumed.paused
    assert resumed.steps == baseline.steps
    assert resumed.memory["n_rows"] == baseline.memory["n_rows"] == 50


def test_crash_mid_dag_resumes_from_last_boundary(runner, spark, tmp_path):
    ckpt = str(tmp_path / "ckpt_crash")
    fail_once = {}
    g = _ckpt_graph(fail_once)
    with pytest.raises(RuntimeError, match="simulated executor loss"):
        GraphRunner(spark).execute(g, checkpoint_dir=ckpt)
    assert fail_once["crashed"]
    # resume re-runs ONLY the in-flight node (shrink), not load
    resumed = GraphRunner(spark).resume(g, ckpt)
    assert resumed.completed
    assert resumed.steps == ["load", "shrink", "count", "tally"]
    assert resumed.memory["n_rows"] == 50


def test_resume_completed_run_is_noop(runner, spark, tmp_path):
    ckpt = str(tmp_path / "ckpt_done")
    done = GraphRunner(spark).execute(_ckpt_graph(), checkpoint_dir=ckpt)
    assert done.completed
    again = GraphRunner(spark).resume(_ckpt_graph(), ckpt)
    assert again.completed and again.memory["n_rows"] == done.memory["n_rows"]


def test_checkpoint_truncates_lineage(runner, spark, tmp_path):
    """After a boundary, memory DataFrames are parquet-backed reads —
    the resumed plan re-reads files instead of replaying upstream ops."""
    ckpt = str(tmp_path / "ckpt_lineage")
    paused = GraphRunner(spark).execute(
        _ckpt_graph(), checkpoint_dir=ckpt, pause_after=1
    )
    plan = paused.memory["base"]._jdf.queryExecution().executedPlan().toString()
    assert "FileScan parquet" in plan
    assert str(tmp_path) in plan  # reads the checkpoint, not the source


def test_checkpoint_crash_mid_write_keeps_previous_state(spark, tmp_path):
    """A changed DataFrame key is written to a NEW versioned dir; a crash
    before the manifest swap leaves the previous manifest pointing at its
    intact parquet — never at a half-rewritten one."""
    from adenhq_hive_spark.plans.checkpoint import CheckpointStore

    ckpt = str(tmp_path / "store")
    store = CheckpointStore(spark, ckpt)
    df1 = spark.range(10).withColumnRenamed("id", "x")
    store.save({"d": df1}, ["n1"], [], False)
    manifest_before = open(store.manifest_path).read()

    # simulate a crash mid-save of a CHANGED df: the new versioned write
    # happens, but the process dies before the manifest rename
    df2 = spark.range(99).withColumnRenamed("id", "x")
    df2.write.mode("overwrite").parquet(str(tmp_path / "store/df_d_v2.parquet"))
    # (no manifest swap — crash point)

    assert open(store.manifest_path).read() == manifest_before
    fresh = CheckpointStore(spark, ckpt)
    memory, steps, queue, completed = fresh.load()
    assert steps == ["n1"]
    assert memory["d"].count() == 10  # previous state, fully intact


def test_checkpoint_rewrites_changed_df_and_gcs_old_version(spark, tmp_path):
    """Identity tracking holds strong references (no id() address-reuse
    hazard): a new DataFrame object is rewritten even if it aliases the
    old address, unchanged objects are skipped, and superseded parquet
    versions are GCed after the manifest swap."""
    import os

    from adenhq_hive_spark.plans.checkpoint import CheckpointStore

    ckpt = str(tmp_path / "store2")
    store = CheckpointStore(spark, ckpt)
    out1 = store.save({"d": spark.range(5)}, ["a"], [], False)
    dirs1 = {n for n in os.listdir(ckpt) if n.endswith(".parquet")}
    # unchanged (same object): no new version
    out2 = store.save({"d": out1["d"]}, ["a", "b"], [], False)
    assert {n for n in os.listdir(ckpt) if n.endswith(".parquet")} == dirs1
    # changed (new object): new version written, old version GCed
    out3 = store.save(
        {"d": out2["d"].filter("id < 3")}, ["a", "b", "c"], [], False
    )
    dirs3 = {n for n in os.listdir(ckpt) if n.endswith(".parquet")}
    assert dirs3 != dirs1 and len(dirs3) == 1
    assert out3["d"].count() == 3
    fresh_mem, *_ = CheckpointStore(spark, ckpt).load()
    assert fresh_mem["d"].count() == 3


def test_graph_execution_adds_no_plan_overhead(spark):
    """The GraphSpec runner is driver-side wiring only: the capstone
    pipeline's physical plan must have the exact same operator sequence
    whether composed directly or executed through the DAG runner."""
    import re

    from adenhq_hive_spark.queries import all_queries

    specs = all_queries()
    sf = "/root/testdata/sf0.001"
    direct = specs["pl_curation_pipeline"].run(spark, sf)
    graphed = specs["pl_graph_curation"].run(spark, sf)

    def op_sequence(df):
        s = df._jdf.queryExecution().executedPlan().toString()
        return [
            re.match(r"[+\-:\s*|(]*([A-Za-z]+)", line).group(1)
            for line in s.splitlines()
            if line.strip()
        ]

    assert op_sequence(direct) == op_sequence(graphed)


def test_agent_loop_feedback_edges_and_verdict_contract(spark):
    """pl_graph_agent_loop (r9): the iterate-judge-accept loop must
    actually traverse the conditional feedback edge (multiple 'step'
    executions), resolve EVERY document exactly once, and respect the
    judge contract - ACCEPT only at >= 120 draft chars, attempts
    capped at 3, RETRY never in the final output."""
    from adenhq_hive_spark.queries import all_queries

    sf = "/root/testdata/sf0.001"
    out = all_queries()["pl_graph_agent_loop"].run(spark, sf).collect()
    docs = spark.read.parquet(f"{sf}/documents.parquet").count()
    assert len(out) == docs
    assert len({r.doc_id for r in out}) == docs
    assert {r.verdict for r in out} <= {"ACCEPT", "ESCALATE"}
    for r in out:
        assert 1 <= r.n_attempts <= 3
        if r.verdict == "ACCEPT":
            assert r.draft_chars >= 120
    # at least one doc needed the feedback loop, and not every doc
    # resolved on the same attempt, otherwise the loop demo degenerates
    # (at sf0.001 a 15-word draft is almost always < 120 chars, so
    # attempt 1 rarely accepts — {2, 3} is the expected shape)
    attempts = {r.n_attempts for r in out}
    assert max(attempts) >= 2 and len(attempts) >= 2


def test_agent_loop_judges_each_pending_row_once(spark, monkeypatch):
    """The judge sees exactly the pending rows of each attempt: every
    document, then the RETRY rows of attempts 1 and 2, so a document
    resolved on attempt n is judged n times. A provider callable counts
    the rows it is given through an accumulator, and applies the
    heuristic rule, so the rows stay the registered entry's."""
    from adenhq_hive_spark.functions import llm
    from adenhq_hive_spark.queries import all_queries

    seen = spark.sparkContext.accumulator(0)
    judge_udf = llm.judge_udf

    def counting_judge(provider="heuristic", min_chars=20):
        def verdicts(texts):
            seen.add(len(texts))
            return [
                "RETRY" if len(t.strip()) < min_chars
                else "ESCALATE" if any(m in t.lower() for m in ("i cannot", "error:", "traceback"))
                else "ACCEPT"
                for t in texts
            ]

        return judge_udf(verdicts, min_chars)

    spec = all_queries()["pl_graph_agent_loop"]
    expected = spec.run(spark, SF_SMOKE).collect()
    monkeypatch.setattr(llm, "judge_udf", counting_judge)
    out = spec.run(spark, SF_SMOKE).collect()
    assert out == expected
    assert seen.value == sum(r.n_attempts for r in out)
