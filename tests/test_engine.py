"""Engine envelope + read-only gate tests — mirrors the reference's
csv_sql golden/security tests (test_csv_tool.py:714-790, 824-866)."""

from __future__ import annotations

import pytest

from adenhq_hive_spark.engine import Engine, ReadOnlyViolation, assert_read_only

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def engine(spark):
    return Engine(spark, SF_SMOKE)


def test_envelope_shape(engine):
    env = engine.sql(
        "SELECT o_orderstatus AS status, COUNT(*) AS n FROM orders "
        "GROUP BY o_orderstatus ORDER BY n DESC, status"
    )
    assert env.success
    assert env.columns == ["status", "n"]
    assert env.column_count == 2
    assert env.row_count == len(env.rows) == 3
    assert not env.truncated
    assert set(env.rows[0]) == {"status", "n"}
    d = env.to_dict()
    assert d["success"] and d["row_count"] == 3


def test_truncation_flag(engine):
    env = engine.sql("SELECT l_orderkey FROM lineitem", max_rows=7)
    assert env.truncated and env.row_count == 7


def test_max_rows_clamp(engine):
    env = engine.sql("SELECT 1 AS x", max_rows=999_999)
    assert env.success  # clamped to 10k, no error


@pytest.mark.parametrize(
    "bad",
    [
        "DROP TABLE orders",
        "DELETE FROM orders",
        "INSERT INTO orders VALUES (1)",
        "UPDATE orders SET o_orderstatus = 'X'",
        "CREATE TABLE t (a INT)",
        "ALTER TABLE orders ADD COLUMN x INT",
        "TRUNCATE TABLE orders",
        "CREATE VIEW v AS SELECT 1",
    ],
)
def test_write_statements_rejected(spark, engine, bad):
    with pytest.raises(ReadOnlyViolation):
        assert_read_only(spark, bad)
    env = engine.sql(bad)
    assert not env.success and "read-only" in env.error


def test_keyword_in_literal_allowed(engine):
    env = engine.sql("SELECT 'DROP TABLE x' AS s")
    assert env.success and env.rows == [{"s": "DROP TABLE x"}]


def test_parse_error_reported(engine):
    env = engine.sql("SELEKT nope")
    assert not env.success and "parse" in env.error.lower()


def test_cte_and_subqueries_allowed(spark):
    assert_read_only(
        spark,
        "WITH t AS (SELECT 1 AS a) SELECT * FROM t "
        "WHERE a IN (SELECT 1)",
    )


def test_events_ts_unit_detection_ns_and_us(spark, tmp_path):
    """The events read path must detect the parquet's physical ts unit:
    the testdata generator has shipped both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) eras, and reading one as the other lands every
    timestamp in 1970 (regression for the footer-detection fix)."""
    import duckdb

    from adenhq_hive_spark.catalog import events_ts_unit, load_table

    con = duckdb.connect()
    base = (
        "SELECT CAST(1 AS BIGINT) AS event_id, "
        "TIMESTAMP '2024-03-01 12:00:00' AS ts, "
        "CAST(7 AS BIGINT) AS user_id, 'click' AS event_type, "
        "CAST(1.5 AS DOUBLE) AS value, '{}' AS props"
    )
    us_dir = tmp_path / "us"
    ns_dir = tmp_path / "ns"
    us_dir.mkdir()
    ns_dir.mkdir()
    con.execute(
        f"COPY ({base}) TO '{us_dir}/events.parquet' (FORMAT PARQUET)"
    )
    # DuckDB's parquet writer always emits TIMESTAMP(us); build the
    # ns-era fixture via pyarrow (same approach as scripts/make_sf1.py)
    import pyarrow as pa
    import pyarrow.parquet as pq

    tbl = pq.read_table(str(us_dir / "events.parquet"))
    ns_schema = pa.schema(
        [
            f if f.name != "ts" else pa.field("ts", pa.timestamp("ns"))
            for f in tbl.schema
        ]
    )
    pq.write_table(tbl.cast(ns_schema), str(ns_dir / "events.parquet"))
    assert events_ts_unit(str(us_dir / "events.parquet")) == "us"
    assert events_ts_unit(str(ns_dir / "events.parquet")) == "ns"
    for d in (us_dir, ns_dir):
        row = load_table(spark, str(d), "events").collect()[0]
        assert str(row.ts) == "2024-03-01 12:00:00", (d, row.ts)
    # the stream reads through the same catalog function
    from adenhq_hive_spark.streaming.events import (
        read_event_stream,
        run_to_completion,
    )

    for d in (us_dir, ns_dir):
        q = run_to_completion(
            read_event_stream(spark, str(d)),
            f"ts_unit_{d.name}",
            str(tmp_path / f"ck_{d.name}"),
            output_mode="append",
        )
        try:
            row = spark.sql(f"SELECT * FROM ts_unit_{d.name}").collect()[0]
        finally:
            q.stop()
        assert str(row.ts) == "2024-03-01 12:00:00", (d, row.ts)


def test_concurrent_query_execution(spark):
    """The reference runs concurrent execution streams (edge.py
    max_concurrent); a single SparkSession must serve parallel query
    submissions safely with identical per-query results."""
    from concurrent.futures import ThreadPoolExecutor

    from adenhq_hive_spark.queries import all_queries

    specs = all_queries()
    names = ["q01", "q06", "q09", "q36", "q44", "q47", "q51", "q57"]
    sf = "/root/testdata/sf0.001"
    expected = {
        n: [tuple(r) for r in specs[n].run(spark, sf).collect()]
        for n in names
    }

    def run(n):
        return n, [tuple(r) for r in specs[n].run(spark, sf).collect()]

    with ThreadPoolExecutor(max_workers=8) as ex:
        got = dict(ex.map(run, names * 2))  # each query twice, in parallel
    for n in names:
        assert got[n] == expected[n], n


def test_driver_contract_wiring():
    """Guard the driver-facing contracts against renames/drift:
    every bench HEADLINE name resolves in the registry; every exported
    queries() key has either an oracle or a documented rows-only reason;
    core-first export keeps exactly the aNN_ prefix block first."""
    import bench

    import __spark_entry__ as E
    from adenhq_hive_spark.queries import all_queries

    specs = all_queries()
    missing = [n for n in bench.HEADLINE if n not in specs]
    assert missing == [], missing

    qs = E.queries()
    oracles = E.oracle_sql()
    rows_only = set(qs) - set(oracles)
    # rows-only set is intentional and justified in each spec's doc
    for key in rows_only:
        name = key.split("_", 1)[1] if key[:1] == "a" and key[1:3].isdigit() else key
        assert specs[name].has_oracle is False, key
    first50 = list(qs)[:50]
    assert all(k[0] == "a" and k[1:3].isdigit() for k in first50)
    assert len(qs) >= 120


def test_explain_reports_pushdown_and_shuffles(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    r = eng.explain(
        "SELECT l_orderkey, SUM(l_quantity) AS q FROM lineitem "
        "WHERE l_discount > 0.05 GROUP BY l_orderkey"
    )
    assert r["success"]
    assert len(r["scans"]) == 1
    assert "GreaterThan(l_discount,0.05)" in r["scans"][0]["pushed_filters"]
    # column pruning: only the three referenced columns reach the scan
    assert r["scans"][0]["read_schema"].count(":") == 3
    assert r["n_exchanges"] >= 1  # the groupBy shuffle


def test_explain_codegen_count_without_aqe_wrapper(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    # single-stage scan+filter: codegen is determined pre-execution
    r = eng.explain("SELECT l_orderkey FROM lineitem WHERE l_discount > 0.05")
    assert r["n_codegen_subtrees"] >= 1 and r["whole_stage_codegen"]


def test_explain_is_read_only_gated(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    r = eng.explain("DROP TABLE lineitem")
    assert not r["success"] and "read-only" in r["error"].lower()


def test_result_cache_hits_and_whitespace_normalization(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    a = eng.sql("SELECT COUNT(*) AS n FROM region", use_cache=True)
    assert (eng.cache_hits, eng.cache_misses) == (0, 1)
    b = eng.sql("SELECT  COUNT(*)   AS n\n FROM region", use_cache=True)
    assert b.rows == a.rows and b.success  # served from cache...
    assert b is not a and b.rows is not a.rows  # ...as a per-call copy
    assert eng.cache_hits == 1
    # different max_rows is a different key
    c = eng.sql("SELECT COUNT(*) AS n FROM region", max_rows=5,
                use_cache=True)
    assert c is not a and eng.cache_misses == 2
    # uncached calls bypass entirely
    d = eng.sql("SELECT COUNT(*) AS n FROM region")
    assert d is not a and eng.cache_hits == 1


def test_result_cache_hit_mutation_does_not_poison_cache(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    stmt = "SELECT COUNT(*) AS n FROM region"
    eng.sql(stmt, use_cache=True)
    hit = eng.sql(stmt, use_cache=True)
    hit.rows[0]["n"] = -999            # caller post-processes in place
    hit.rows.append({"n": 0})
    clean = eng.sql(stmt, use_cache=True)
    assert clean.rows == [{"n": 5}]    # cached snapshot unharmed


def test_result_cache_lru_bound_and_failure_not_cached(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE, result_cache_size=2)
    eng.sql("SELECT 1 AS a", use_cache=True)
    eng.sql("SELECT 2 AS a", use_cache=True)
    eng.sql("SELECT 3 AS a", use_cache=True)   # evicts "SELECT 1"
    assert len(eng._result_cache) == 2
    eng.sql("SELECT 1 AS a", use_cache=True)
    assert eng.cache_misses == 4               # 1 was evicted, re-misses
    # gated failures never enter the cache
    r = eng.sql("DROP TABLE region", use_cache=True)
    assert not r.success
    assert all("drop" not in k[0].lower() for k in eng._result_cache)


def test_result_cache_no_collision_on_literal_whitespace(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    a = eng.sql("SELECT 'a  b' AS s", use_cache=True)
    b = eng.sql("SELECT 'a b' AS s", use_cache=True)
    assert a.rows[0]["s"] == "a  b" and b.rows[0]["s"] == "a b"
    assert b is not a                       # distinct cache entries


def test_explain_node_counts_exact_and_analysis_error_enveloped(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    r = eng.explain(
        "SELECT n_name, COUNT(*) AS c FROM customer "
        "JOIN nation ON c_nationkey = n_nationkey GROUP BY n_name"
    )
    # one grouping shuffle; the broadcast join is NOT an Exchange and
    # nothing is double-counted from the tree + detail sections
    assert r["n_exchanges"] == 1
    assert r["n_broadcast_joins"] == 1
    assert r["n_sort_merge_joins"] == 0
    # analysis failures return the envelope, not a raised exception
    bad = eng.explain("SELECT * FROM no_such_table")
    assert bad["success"] is False and "no_such_table" in bad["error"]


def test_query_history_records_all_paths(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    # the literals make the statement's generated code new to this JVM
    q = "SELECT COUNT(*) + 7919 AS n FROM region WHERE r_regionkey < 7907"
    eng.sql(q, use_cache=True)
    eng.sql(q, use_cache=True)             # hit
    eng.sql("DROP TABLE region")           # gated
    eng.sql(q)                             # re-run, classes cached
    h = eng.history()
    assert len(h) == 4
    assert [e["cached"] for e in h] == [False, True, False, False]
    assert h[0]["success"] and h[0]["row_count"] == 1
    assert h[1]["ms"] <= h[0]["ms"]        # cache hit is not slower
    assert not h[2]["success"] and h[2]["error"]
    assert eng.history(limit=2)[0]["sql"] == "DROP TABLE region"
    # Janino compiles per call: only the first run generates classes
    assert h[0]["codegen_compiles"] > 0
    assert [e["codegen_compiles"] for e in h[1:]] == [0, 0, 0]


def test_sql_analysis_error_enveloped_and_recorded(spark):
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    r = eng.sql("SELECT * FROM no_such_table")
    assert not r.success and "no_such_table" in r.error
    h = eng.history()
    assert len(h) == 1 and not h[0]["success"]
    assert eng.history(limit=0) == []       # [-0:] pitfall guarded
    assert eng.history(limit=-3) == []


def test_result_cache_miss_return_and_nested_values_are_private(spark):
    """The envelope returned on the MISS (store) path and nested
    containers reached through a HIT copy must both be unable to poison
    the cached snapshot."""
    from adenhq_hive_spark.engine import Engine

    eng = Engine(spark, SF_SMOKE)
    stmt = "SELECT COUNT(*) AS n, array(1, 2) AS xs FROM region"
    first = eng.sql(stmt, use_cache=True)      # miss: stores snapshot
    first.rows[0]["n"] = -999                  # mutate the MISS result
    first.rows[0]["xs"].append(99)             # ...and a nested list
    hit = eng.sql(stmt, use_cache=True)
    assert hit.rows == [{"n": 5, "xs": [1, 2]}]
    hit.rows[0]["xs"].append(77)               # nested mutation via HIT
    clean = eng.sql(stmt, use_cache=True)
    assert clean.rows == [{"n": 5, "xs": [1, 2]}]


# ---- the tool edge: one gate, one cap, one capped collect, one page

_K = [{"k": i} for i in range(5)]  # one 5-row table behind every tool


@pytest.fixture()
def files(spark, tmp_path):
    from adenhq_hive_spark.sources.csv_tool import csv_write
    from adenhq_hive_spark.sources.jsonl_tool import jsonl_write

    csv_path, jsonl_path = str(tmp_path / "t.csv"), str(tmp_path / "t.jsonl")
    assert csv_write(spark, csv_path, ["k"], _K)["success"]
    assert jsonl_write(spark, jsonl_path, _K)["success"]
    workbook = {"t": [["k"]] + [[r["k"]] for r in _K]}
    return {"csv": csv_path, "jsonl": jsonl_path, "excel": workbook}


def _sql_tool(spark, engine, files, tool):
    """``run(query, max_rows) -> (success, row_count, truncated, error)``
    for one of the five SQL entry points, each over the 5-row table."""
    from adenhq_hive_spark.sources.bigquery_tool import run_bigquery_query
    from adenhq_hive_spark.sources.csv_tool import csv_sql
    from adenhq_hive_spark.sources.excel_tool import excel_sql
    from adenhq_hive_spark.sources.jsonl_tool import jsonl_sql

    def as_tuple(d):
        return (d["success"], d.get("row_count"), d.get("query_truncated"),
                d.get("error"))

    if tool == "engine":
        def run(q, m):
            env = engine.sql(q.replace("data", "region"), max_rows=m)
            return env.success, env.row_count, env.truncated, env.error
        return run
    if tool == "bigquery":
        def reader(s, sql):  # the remote side runs the query itself
            return s.sql(sql.replace("data", "(SELECT id AS k FROM range(5))"))
        return lambda q, m: as_tuple(
            run_bigquery_query(spark, q, max_rows=m, reader=reader))
    call = {"csv": csv_sql, "jsonl": jsonl_sql, "excel": excel_sql}[tool]
    return lambda q, m: as_tuple(call(spark, files[tool], q, max_rows=m))


SQL_TOOLS = ["engine", "csv", "jsonl", "excel", "bigquery"]


@pytest.mark.parametrize("tool", SQL_TOOLS)
def test_one_cap_for_every_sql_tool(spark, engine, files, tool, monkeypatch):
    from adenhq_hive_spark import engine as engine_mod

    monkeypatch.setattr(engine_mod, "MAX_ROWS_CAP", 2)
    run = _sql_tool(spark, engine, files, tool)
    assert run("SELECT * FROM data", 1000)[:3] == (True, 2, True)


@pytest.mark.parametrize("tool", SQL_TOOLS)
def test_non_integer_max_rows_is_an_error_envelope(spark, engine, files, tool):
    run = _sql_tool(spark, engine, files, tool)
    ok, _, _, error = run("SELECT * FROM data", "x")
    assert not ok and error.startswith("Query failed: ")


@pytest.mark.parametrize("tool", ["csv", "jsonl", "excel"])
def test_gate_runs_before_the_tool_registers_data(spark, engine, files, tool):
    spark.range(3).createOrReplaceTempView("data")
    ok, _, _, error = _sql_tool(spark, engine, files, tool)(
        "DROP TABLE data", 10)
    assert not ok and "read-only" in error
    assert spark.table("data").columns == ["id"]  # still the range view
    assert spark.table("data").count() == 3
    spark.catalog.dropTempView("data")


@pytest.mark.parametrize("tool", SQL_TOOLS)
def test_spark_not_implemented_error_is_an_error_envelope(spark, engine,
                                                         files, tool):
    """Collecting a year-month interval raises Spark's own
    NotImplementedError subclass; only a missing connector propagates."""
    ok, _, _, error = _sql_tool(spark, engine, files, tool)(
        "SELECT INTERVAL '1' YEAR AS y", 10)
    assert not ok and error.startswith("Query failed: ")


def test_bigquery_reader_errors_are_an_error_envelope(spark):
    from adenhq_hive_spark.sources.bigquery_tool import run_bigquery_query

    def broken(s, sql):
        raise RuntimeError("credentials expired")

    res = run_bigquery_query(spark, "SELECT 1 AS one", reader=broken)
    assert res == {"success": False,
                   "error": "Query failed: credentials expired"}


@pytest.mark.parametrize("reader", ["csv", "jsonl", "excel", "store"])
def test_page_readers_clamp_negative_limit_and_offset(spark, files, tmp_path,
                                                      reader):
    from adenhq_hive_spark.sources.csv_tool import csv_read
    from adenhq_hive_spark.sources.data_tools import DataStore
    from adenhq_hive_spark.sources.excel_tool import excel_read
    from adenhq_hive_spark.sources.jsonl_tool import jsonl_read

    if reader == "store":
        store = DataStore(spark, str(tmp_path / "store"))
        store.save_data("t", spark.createDataFrame(_K).coalesce(1))
        read = lambda limit, offset: store.load_data("t", limit, offset)
    else:
        call = {"csv": csv_read, "jsonl": jsonl_read, "excel": excel_read}
        read = lambda limit, offset: call[reader](
            spark, files[reader], limit=limit, offset=offset)
    empty = read(-1, -2)
    assert empty["success"] and empty["rows"] == []
    assert empty["total_rows"] == 5
    first = read(2, -2)
    assert [int(r["k"]) for r in first["rows"]] == [0, 1]
    assert first["total_rows"] == 5
    # the short last page, a page past the end, and one covering it all
    for limit, offset, keys in ((10, 3, [3, 4]), (2, 7, []),
                                (9, 0, [0, 1, 2, 3, 4])):
        page = read(limit, offset)
        assert [int(r["k"]) for r in page["rows"]] == keys
        assert page["total_rows"] == 5


def _jobs_in_group(spark, group, fn):
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("limit, offset, counted, has_more", [
    (10, 0, False, False),  # the slice reaches the end: its total is exact
    (10, 3, False, False),
    (2, 0, True, True),     # a full page cannot tell what follows it
    (2, 7, True, False),    # nor can an empty page past the end
])
def test_read_page_counts_only_when_the_slice_cannot_tell_the_total(
        spark, tmp_path, limit, offset, counted, has_more):
    """One job (the slice) when the page ends the data; the slice plus
    ``df.count()``'s jobs otherwise."""
    from adenhq_hive_spark.engine import read_page

    path = str(tmp_path / "t.parquet")
    spark.createDataFrame(_K).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    _, count_jobs = _jobs_in_group(spark, f"count-{limit}-{offset}", df.count)
    (page, cursor), jobs = _jobs_in_group(
        spark, f"page-{limit}-{offset}", lambda: read_page(df, limit, offset))
    assert jobs == 1 + (count_jobs if counted else 0)
    assert page["total_rows"] == 5
    assert page["row_count"] == len(page["rows"])
    assert cursor == {"offset": offset, "has_more": has_more}
