"""Physical-plan regression tests: the 100 TB posture, locked in.

These assert the plan SHAPES that matter at scale — filter pushdown,
column pruning, broadcast dimension joins, partial aggregation,
partition pruning, whole-stage codegen — so a refactor that silently
turns a pruned broadcast plan into a full-scan shuffle join fails CI,
not the cluster.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adenhq_hive_spark.catalog import load_table
from adenhq_hive_spark.operators.skew import salted_join, write_date_partitioned
from adenhq_hive_spark.queries import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_q06_pushdown_and_pruning(spark):
    plan = _plan(QUERIES["q06"].run(spark, SF_SMOKE))
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in plan
    # only the 6 needed columns are read from the 11-column table
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    assert "l_quantity" in scan and "l_orderkey" not in scan and "l_tax" not in scan


def test_q06_partial_aggregation(spark):
    plan = _plan(QUERIES["q06"].run(spark, SF_SMOKE))
    assert "partial_sum" in plan  # map-side combine before the shuffle


def test_q24_broadcasts_all_dims(spark):
    plan = _plan(QUERIES["q24"].run(spark, SF_SMOKE))
    assert plan.count("BroadcastHashJoin") == 3
    assert "SortMergeJoin" not in plan


def test_q25_snowflake_broadcasts(spark):
    plan = _plan(QUERIES["q25"].run(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q25_scale_mode_parity_and_hint_strip(spark):
    """r8 verdict #5: the sf>=10 hint crossover is mechanical.  Both
    SQL forms (static hints / AQE) must collect identical values, the
    stripper must actually remove every hint comment, and the small-sf
    registered contract must keep the hinted plan."""
    from adenhq_hive_spark.queries.relational import (
        Q25_HINTS_MAX_BYTES,
        q25_engine_sql,
    )

    hinted = q25_engine_sql(hints=True)
    plain = q25_engine_sql(hints=False)
    assert "/*+" in hinted and "BROADCAST" in hinted
    assert "/*+" not in plain and "*/" not in plain
    assert Q25_HINTS_MAX_BYTES == 1_000_000_000
    QUERIES["q25"].run(spark, SF_SMOKE)  # registers the views
    a = spark.sql(hinted).collect()
    b = spark.sql(plain).collect()
    assert a == b
    # below the crossover the registered form stays hinted: the static
    # plan broadcasts the dims with no AQE re-plan rounds
    plan = _plan(QUERIES["q25"].run(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan


def test_q43_topk_is_take_ordered(spark):
    plan = _plan(QUERIES["q43"].run(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan  # no global sort for LIMIT 25


def test_whole_stage_codegen_on_scan_pipeline(spark):
    df = QUERIES["q06"].run(spark, SF_SMOKE)
    df.collect()  # AQE finalizes the plan only on execution
    final = df._jdf.queryExecution().executedPlan().toString()
    # codegen stages are rendered as "*(N) Operator" in the final plan —
    # the scan→filter→partial-agg pipeline must be fused
    assert "*(1)" in final
    assert "isFinalPlan=true" in final


def test_semi_anti_join_shapes(spark):
    semi = _plan(QUERIES["q28"].run(spark, SF_SMOKE))
    anti = _plan(QUERIES["q29"].run(spark, SF_SMOKE))
    assert "LeftSemi" in semi
    assert "LeftAnti" in anti


def test_cosine_topk_is_distributed_batch_scan(spark):
    """Brute-force top-k: one Arrow-batch BLAS scan over a real file
    scan (queries ride a numpy broadcast) — no n x q pair explosion in
    the plan, and no driver-materialized candidate side."""
    plan = _plan(QUERIES["pl_cosine_topk"].run(spark, SF_SMOKE))
    assert "MapInPandas" in plan
    assert "FileScan parquet" in plan
    assert "LocalTableScan" not in plan


def test_cosine_dedup_is_distributed(spark):
    """The exact semantic-dedup tier must not collect vectors to the
    driver: its lineage is parquet scan → block manifest (range) →
    applyInPandas, so the plan contains no LocalTableScan (driver-side
    materialized data) and the vector input is a real FileScan."""
    df = QUERIES["pl_cosine_dedup"].run(spark, SF_SMOKE)
    plan = _plan(df)
    assert "LocalTableScan" not in plan
    assert "FileScan parquet" in plan
    assert "FlatMapGroupsInPandas" in plan  # blocked BLAS pair kernel
    assert "Range (" in plan  # manifest generated distributively


def test_cosine_dedup_blocked_multiblock_equivalence(spark):
    """Forcing many small blocks (B > 1, cross-block pairs in both id
    orientations) must give identical pairs to the single-block path."""
    from adenhq_hive_spark.operators.similarity import (
        _cosine_pairs_blocked,
    )

    v = (
        load_table(spark, SF_SMOKE, "embeddings")
        .select(F.col("vec_id").alias("id"), F.col("embedding").alias("v"))
    )
    one = _cosine_pairs_blocked(v, 0.45, n_blocks=1)
    many = _cosine_pairs_blocked(v, 0.45, n_blocks=7)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, many.collect()))


def test_lsh_plan_has_no_literal_projections(spark):
    """LSH signatures come from one broadcast tensor + Arrow matmul, not
    thousands of per-plane literal array expressions in the plan."""
    df = QUERIES["pl_lsh_topk"].run(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().analyzed().toString()
    # the old implementation embedded every plane element as a literal —
    # the analyzed plan would contain hundreds of float literals
    assert plan.count("0.") < 100
    assert "ArrowEvalPython" in _plan(df)


def test_salted_join_equivalence(spark):
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMOKE, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = (
        li.join(orders, "l_orderkey")
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("q"))
    )
    salted = (
        salted_join(li, orders, on="l_orderkey", salt=8)
        .groupBy("l_orderkey")
        .agg(F.count("*").alias("n"), F.round(F.sum("l_quantity"), 4).alias("q"))
    )
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))


def test_salted_join_left_outer_equivalence_and_rejects_right(spark):
    li = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    dim = (
        load_table(spark, SF_SMOKE, "customer")
        .select(F.col("c_custkey").alias("o_orderkey"), "c_name")
        .limit(100)
    )
    plain = li.join(dim, "o_orderkey", "left")
    salted = salted_join(li, dim, on="o_orderkey", how="left", salt=8)
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    for bad in ("right", "full", "outer", "full_outer", "rightouter"):
        with pytest.raises(ValueError, match="salted_join does not support"):
            salted_join(li, dim, on="o_orderkey", how=bad)


def test_asof_join_null_attribute_stays_null(spark):
    """The carried right values must all come from the SAME most-recent
    right row: a NULL attribute on that row stays NULL instead of being
    back-filled from an older right row."""
    from adenhq_hive_spark.operators.asof import asof_join

    right = spark.createDataFrame(
        [(1, 10, "old-price", "old-note"),
         (1, 20, "new-price", None)],       # newest row: note is NULL
        ["k", "ts", "price", "note"],
    )
    left = spark.createDataFrame([(1, 25, "probe")], ["k", "ts", "tag"])
    row = asof_join(
        left, right, on="k", left_ts="ts", right_ts="ts",
        right_values=["price", "note"],
    ).collect()[0]
    assert row.asof_price == "new-price"
    assert row.asof_note is None  # not "old-note"


def test_date_partitioned_write_prunes(spark, tmp_path):
    events = load_table(spark, SF_SMOKE, "events")
    out = str(tmp_path / "events_by_day")
    write_date_partitioned(events, out)
    back = spark.read.parquet(out)
    one_day = back.filter(F.col("dt") == "2024-01-05")
    plan = _plan(one_day)
    assert "PartitionFilters: [isnotnull(dt" in plan
    assert one_day.count() > 0
    # partition pruning: only one directory's files are scanned
    scan = next(l for l in plan.splitlines() if "FileScan" in l)
    assert "dt" in scan


def test_limit_queries_stable_across_parallelism(spark):
    """Every LIMIT query must be totally ordered: identical rows at any
    shuffle parallelism (the driver's session may differ from ours)."""
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        results = {}
        for parts in ("5", "32"):
            spark.conf.set("spark.sql.shuffle.partitions", parts)
            for name in ("q36", "q42", "q43", "q33"):
                rows = [tuple(r) for r in QUERIES[name].run(spark, SF_SMOKE).collect()]
                results.setdefault(name, []).append(rows)
        for name, (a, b) in results.items():
            assert a == b, f"{name} changed under different parallelism"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Bucketing: co-located join without an Exchange on either side —
    the pre-partitioning strategy for repeated big-big joins at scale."""
    li = load_table(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, SF_SMOKE, "orders").select("o_orderkey", "o_totalprice")
    spark.sql("DROP TABLE IF EXISTS b_li")
    spark.sql("DROP TABLE IF EXISTS b_orders")
    (li.write.mode("overwrite").bucketBy(8, "l_orderkey")
       .sortBy("l_orderkey").saveAsTable("b_li"))
    (orders.write.mode("overwrite").bucketBy(8, "o_orderkey")
       .sortBy("o_orderkey").saveAsTable("b_orders"))
    try:
        joined = spark.table("b_li").join(
            spark.table("b_orders"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        ).groupBy("l_orderkey").count()
        # disable broadcast so the join strategy itself is exercised
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            plan = _plan(joined)
        finally:
            spark.conf.set(
                "spark.sql.autoBroadcastJoinThreshold", str(16 * 1024 * 1024)
            )
        join_section = plan.split("HashAggregate")[-1]
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        # neither join input needs an Exchange: buckets are co-located
        assert "Exchange hashpartitioning(l_orderkey" not in join_section
        assert "Exchange hashpartitioning(o_orderkey" not in join_section
        assert joined.count() > 0
    finally:
        spark.sql("DROP TABLE IF EXISTS b_li")
        spark.sql("DROP TABLE IF EXISTS b_orders")


def test_timestamp_queries_survive_non_utc_session(spark, ducks):
    """register_views pins UTC at runtime, so timestamp results match the
    UTC-naive oracle even when the driver session starts non-UTC."""
    from adenhq_hive_spark.normalize import normalize

    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        for name in ("q48", "q57"):
            spec = QUERIES[name]
            df = spec.run(spark, SF_SMOKE)
            s = normalize(df.columns, [tuple(r) for r in df.collect()])
            rel = ducks.execute(spec.oracle)
            d = normalize([x[0] for x in rel.description], rel.fetchall())
            assert s == d, f"{name} shifted under non-UTC session"
        assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")


def test_aqe_splits_skewed_join(spark):
    """AQE skew-join handling: a pathologically hot key is split into
    multiple reducer tasks at runtime (the no-manual-salting path;
    operators/skew.salted_join is the fallback for when AQE cannot)."""
    skewed = spark.range(0, 200_000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",  # 90% key 0
        "id AS payload",
    )
    dim = spark.range(0, 200_000).selectExpr("id AS k", "id * 2 AS attr")
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "64KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "64KB",
        "spark.sql.adaptive.coalescePartitions.enabled": "false",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        joined = skewed.join(dim, "k")
        joined.collect()  # execute THIS plan so AQE finalizes it
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "skew=true" in final, "AQE did not mark the skewed join"
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
        spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")


def test_salted_join_spreads_hot_key_across_reducers(spark):
    """The manual-salting path for when AQE cannot help (broadcast-
    ineligible side, known-skewed key): the shuffle must partition on
    (key, __salt) — ONE hot key then lands on `salt` reducers instead
    of one — and the result must equal the plain join."""
    skewed = spark.range(0, 100_000).selectExpr(
        "CASE WHEN id % 10 < 9 THEN 0 ELSE id END AS k",  # 90% key 0
        "id AS payload",
    )
    dim = spark.range(0, 1_000).selectExpr("id AS k", "id * 2 AS attr")
    saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = salted_join(skewed, dim, on="k", salt=8)
        joined.collect()
        final = joined._jdf.queryExecution().executedPlan().toString()
        # the exchange key includes the salt: the hot key is spread
        import re

        parts = re.findall(r"hashpartitioning\(([^)]*)\)", final)
        assert any("k#" in p and "__salt#" in p for p in parts), final
        # correctness on the same skewed input
        plain = skewed.join(dim, "k").groupBy("k").count()
        salted = joined.groupBy("k").count()
        assert sorted(map(tuple, plain.collect())) == sorted(
            map(tuple, salted.collect())
        )
        # the hot key's rows really occupy all `salt` buckets
        n_buckets = (
            skewed.filter("k = 0")
            .select(
                F.pmod(
                    F.xxhash64(*[F.col(c) for c in skewed.columns]),
                    F.lit(8),
                ).alias("s")
            )
            .distinct()
            .count()
        )
        assert n_buckets == 8
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)


# ---- curation tier: the 100 TB posture of the hygiene ops ------------------


def test_hash_split_is_map_only(spark):
    """The split assignment is a pure per-row projection: no Exchange
    (shuffle) may appear before the scan → project pipeline."""
    from adenhq_hive_spark.operators.curation import hash_split

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(hash_split(docs))
    assert "Exchange" not in plan
    assert "FileScan parquet" in plan


def test_mixture_sample_is_map_only_filter(spark):
    from adenhq_hive_spark.operators.curation import mixture_sample

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(mixture_sample(docs, {"src0": "8000"}))
    assert "Exchange" not in plan
    assert "Filter" in plan


def test_decontaminate_broadcasts_eval_grams(spark):
    """The eval n-gram set is the small side by construction — the
    contamination check must be broadcast semi/anti joins, never a
    sort-merge shuffle of the train corpus."""
    from adenhq_hive_spark.operators.curation import decontaminate

    docs = load_table(spark, SF_SMOKE, "documents")
    out = decontaminate(
        docs.filter(F.col("source") != "src0"),
        docs.filter(F.col("source") == "src0"),
        n=5,
    )
    out.collect()  # let AQE finalize
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan and "LeftAnti" in plan
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_pack_sequences_window_partitioned_not_global(spark):
    """The running token sum must window WITHIN source — a global
    single-partition window would serialize the corpus."""
    from adenhq_hive_spark.operators.curation import pack_sequences

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(pack_sequences(docs, max_tokens=512))
    # partitioned window => hashpartitioning on source, never SinglePartition
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_corpus_snapshot_partition_prunes_by_split(spark, tmp_path):
    """Reading one split of a written corpus snapshot must partition-
    prune (PartitionFilters in the scan), not post-filter a full scan."""
    from adenhq_hive_spark.operators.curation import (
        hash_split,
        write_corpus_snapshot,
    )

    docs = load_table(spark, SF_SMOKE, "documents")
    out = str(tmp_path / "corpus")
    write_corpus_snapshot(hash_split(docs), out)
    back = spark.read.parquet(out)
    train = back.filter(F.col("split") == "train")
    plan = _plan(train)
    assert "PartitionFilters: [isnotnull(split" in plan
    n_train = train.count()
    assert 0 < n_train < back.count()
    # deterministic routing: rewrite yields the identical train slice
    write_corpus_snapshot(hash_split(docs), out)
    assert (
        spark.read.parquet(out).filter(F.col("split") == "train").count()
        == n_train
    )


def test_passage_dedup_windows_on_block_hash_not_global(spark):
    """First-occurrence selection must window on the md5 block key —
    hash-distributed, no hot reducer — never a single global partition;
    and the plan must contain no cartesian/broadcast-NL join."""
    from adenhq_hive_spark.operators.curation import passage_dedup

    docs = load_table(spark, SF_SMOKE, "documents")
    df = passage_dedup(docs, block=10)
    # the window key is the md5 of the block (projected to a _w alias in
    # the physical plan, so check the analyzed plan for the spec)
    logical = df._jdf.queryExecution().analyzed().toString()
    assert "md5(" in logical and "windowspecdefinition" in logical
    plan = _plan(df)
    assert "SinglePartition" not in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_token_budget_sample_windows_per_domain(spark):
    """The running token sum must window WITHIN each domain (parallel
    across domains), never globally serialize the corpus."""
    from adenhq_hive_spark.operators.curation import token_budget_sample

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(token_budget_sample(docs, {"src0": 500, "src1": 800}))
    assert "hashpartitioning(source" in plan
    assert "SinglePartition" not in plan


def test_grep_df_filter_is_jvm_side(spark, tmp_path):
    """grep_df must evaluate the regex as a JVM rlike Filter — no
    Python evaluation (BatchEvalPython) in the scan loop."""
    from adenhq_hive_spark.sources.grep_tool import grep_df

    f = tmp_path / "x.txt"
    f.write_text("alpha\nbeta\n")
    plan = _plan(grep_df(spark, str(f), "a"))
    assert "RLIKE" in plan or "rlike" in plan
    assert "BatchEvalPython" not in plan


def test_shuffle_shard_no_global_sort(spark):
    """Sharding must be shard-local sorts behind one hash shuffle on
    shard_id — a global total order (Sort global=true / SinglePartition
    window) would serialize the corpus at scale."""
    from adenhq_hive_spark.operators.curation import shuffle_shard

    docs = load_table(spark, SF_SMOKE, "documents")
    plan = _plan(shuffle_shard(docs))
    assert "hashpartitioning(shard_id" in plan
    assert "SinglePartition" not in plan
    # every physical Sort is partition-local (global flag false)
    for seg in plan.split("Sort [")[1:]:
        flags = seg.split("]", 1)[1]
        assert flags.lstrip().startswith(", false") or flags.startswith(
            ", false"
        ), seg[:120]


def test_snapshot_diff_hashes_before_join(spark):
    """md5 must be computed map-side (project under the exchange) so only
    (id, hash) pairs shuffle — the full text column must not cross the
    full-outer-join exchange."""
    from adenhq_hive_spark.operators.curation import snapshot_diff

    docs = load_table(spark, SF_SMOKE, "documents")
    old = docs.filter(F.col("doc_id") % 2 == 0)
    df = snapshot_diff(old, docs)
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "FullOuter" in plan
    exchanges = [
        blk for blk in plan.split("\n\n") if blk.lstrip().startswith("(")
        and ") Exchange" in blk.split("\n")[0]
    ]
    assert exchanges, plan
    for blk in exchanges:
        input_line = next(l for l in blk.split("\n") if l.startswith("Input"))
        assert "text#" not in input_line, blk


def test_editdist_no_cartesian_and_jvm_levenshtein(spark):
    plan = _plan(QUERIES["pl_editdist"].run(spark, SF_SMOKE))
    # verify tier joins candidates to texts by key — never all-pairs
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "levenshtein" in plan          # JVM expression, not a UDF
    assert "BatchEvalPython" not in plan  # no row-at-a-time Python


def test_event_anomaly_single_raw_shuffle(spark):
    df = QUERIES["pl_event_anomaly"].run(spark, SF_SMOKE)
    plan = _plan(df)
    # one grouped agg of raw events (with partial map-side combine);
    # window work happens on the tiny (type, day) table
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "InMemoryTableScan" not in plan


def test_pack_efficiency_is_one_agg_over_exploded_lengths(spark):
    df = QUERIES["pl_pack_efficiency"].run(spark, SF_SMOKE)
    plan = _plan(df)
    scans = [l for l in plan.splitlines() if "FileScan parquet" in l]
    assert len(scans) == 1                 # documents read exactly once
    assert "partial_count" in plan or "partial_sum" in plan
    # only the text column is needed from documents
    assert "doc_id" not in scans[0]


def test_cross_source_matrix_joins_by_key(spark):
    plan = _plan(QUERIES["pl_cross_source_dups"].run(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_skew_report_golden_and_topk_plan(spark):
    from adenhq_hive_spark.operators.skew import skew_report

    # 70/25/5 rows over keys 1..3
    df = spark.createDataFrame(
        [(i, 1 if i < 70 else (2 if i < 95 else 3)) for i in range(100)],
        ["row_id", "k"],
    )
    out = {r.key: r for r in skew_report(
        df, "k", top=2, target_rows_per_task=30).collect()}
    assert set(out) == {"1", "2"}          # top-2 only
    assert out["1"].n_rows == 70 and out["1"].pct_of_total == 70.0
    assert out["1"].salt_factor == 3       # ceil(70/30)
    assert out["2"].pct_of_total == 25.0 and out["2"].salt_factor == 1
    # top-k stays TakeOrderedAndProject — never a global sort
    plan = _plan(skew_report(df, "k", top=2))
    assert "TakeOrderedAndProject" in plan


def test_r5_ops_plan_shapes(spark):
    """100 TB posture of the r5 additions, locked in:
    - pl_curriculum: every Window is partitioned (the exact-rank scale
      path) — no single-task global ordering anywhere in the plan;
    - pl_pref_pairs: ONE aggregation with map-side partial max/min, no
      window, no join of the data with itself;
    - pl_chat_format: one data shuffle (the conversation groupBy) and a
      TakeOrderedAndProject for the ordered LIMIT;
    - pl_temperature_mix / pl_length_buckets: map-side partial sums.
    """
    import re

    def executed(name):
        df = QUERIES[name].run(spark, SF_SMOKE)
        df.write.mode("overwrite").format("noop").save()
        return df._jdf.queryExecution().executedPlan().toString()

    p = executed("pl_curriculum")
    for line in p.splitlines():
        if "Window [" in line:
            spec = line.split("windowspecdefinition(")[1]
            # a partitioned window lists partition columns before the
            # frame; an unpartitioned one starts with the frame spec
            assert not spec.startswith("specifiedwindowframe"), line

    p = executed("pl_pref_pairs")
    assert "partial_max" in p and "partial_min" in p
    assert "Window" not in p
    assert "Join" not in p  # single-agg shape, no self-join

    p = executed("pl_chat_format")
    assert "partial_collect_list" in p
    assert "TakeOrderedAndProject" in p
    assert len(re.findall(r"Exchange hashpartitioning", p)) == 1

    for name in ("pl_temperature_mix", "pl_length_buckets"):
        assert "partial_sum" in executed(name)


def test_fourth_window_ops_plan_shapes(spark):
    """100 TB posture of the fourth-window additions, locked in:
    - pl_sem_decontaminate: MAP-ONLY — zero exchanges of any kind (the
      eval matrix rides a broadcast variable, not a plan-side join);
    - pl_dedup_spans: no cartesian/broadcast-nested-loop pair join, all
      windows partitioned (per-doc islands), partial aggs on the gram
      df count;
    - pl_heavy_hitters: the exact verify joins the token stream against
      the bounded candidate set as a BROADCAST join (the one hash
      exchange belongs to the candidate-only group-by);
    - pl_asof_nearest: no pair join (union+carry, windows partitioned
      by user), exactly the key exchanges — never a range join;
    - q81: a single partitioned window over orders, no join.
    """
    import re

    def executed(name):
        df = QUERIES[name].run(spark, SF_SMOKE)
        df.write.mode("overwrite").format("noop").save()
        return df._jdf.queryExecution().executedPlan().toString()

    # the OPERATOR is map-only (the registered query adds an orderBy
    # range exchange for the hash contract's total order — not counted)
    from adenhq_hive_spark.operators.similarity import semantic_decontaminate

    emb = load_table(spark, SF_SMOKE, "embeddings")
    op = semantic_decontaminate(
        emb.filter(F.col("vec_id") >= 25),
        emb.filter(F.col("vec_id") < 25),
        threshold=0.38,
    )
    op.write.mode("overwrite").format("noop").save()
    p = op._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in p and "Join" not in p

    p = executed("pl_dedup_spans")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p
    for line in p.splitlines():
        if "Window [" in line:
            spec = line.split("windowspecdefinition(")[1]
            assert not spec.startswith("specifiedwindowframe"), line

    p = executed("pl_heavy_hitters")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p

    p = executed("pl_asof_nearest")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    for line in p.splitlines():
        if "Window [" in line:
            spec = line.split("windowspecdefinition(")[1]
            assert not spec.startswith("specifiedwindowframe"), line

    p = executed("q81")
    assert "Join" not in p
    assert len(re.findall(r"Window \[", p)) == 1


def test_late_window_ops_plan_shapes(spark):
    """Scale posture of the late fourth-window additions:
    - pl_feature_hash: vocabulary (df) and corpus-N sides are BROADCAST
      onto tf, tf itself rides map-side partial aggregation;
    - pl_hash_sim: no cartesian/nested-loop pair join anywhere — the
      dim-key join carries a query-sized left side;
    - pl_leak_census: gram-key equi-join only, partial aggregation on
      the distinct counts;
    - q87 (FILTER aggregates): one scan, map-side partials, no join;
    - q89 (GROUP BY ALL): plain partial-agg group-by, no join.
    """

    def executed(name):
        df = QUERIES[name].run(spark, SF_SMOKE)
        df.write.mode("overwrite").format("noop").save()
        return df._jdf.queryExecution().executedPlan().toString()

    p = executed("pl_feature_hash")
    assert "BroadcastHashJoin" in p
    assert "partial_count" in p
    assert "CartesianProduct" not in p

    p = executed("pl_hash_sim")
    assert "CartesianProduct" not in p

    p = executed("pl_leak_census")
    assert "CartesianProduct" not in p
    assert "BroadcastNestedLoopJoin" not in p
    assert "partial_count" in p

    for name in ("q87", "q89"):
        p = executed(name)
        assert "partial_count" in p or "partial_sum" in p
        assert "Join" not in p


def test_bloom_probe_is_shuffle_free(spark):
    """The Bloom membership pass — explode to grams, probe via k
    BroadcastHashJoins on word index — must plan with ZERO shuffle
    exchanges (broadcast exchanges are the point): any hash/range
    exchange here would reintroduce the corpus-sized shuffle the tier
    exists to avoid (the verify join afterwards is the only shuffle)."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.operators.curation import (
        _word_ngrams,
        bloom_probe_grams,
        build_gram_bloom,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    ev = docs.filter(F.col("source") == "src0")
    n_bits = 1 << 16
    bloom = build_gram_bloom(ev, "text", n=5, n_bits=n_bits)
    words_df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(bloom) if w],
        "word_idx int, bloom_word long",
    )
    grams = (
        docs.filter(F.col("source") != "src0")
        .select("doc_id",
                F.explode(_word_ngrams(F.col("text"), 5)).alias("g"))
    )
    probe = bloom_probe_grams(grams, words_df, n_bits)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "Exchange hashpartitioning" not in plan
    assert "Exchange rangepartitioning" not in plan


# ---- round-7 continuation operators ----------------------------------------


def test_cms_partial_aggregation_and_constant_shuffle(spark):
    """The CMS counter aggregate must combine map-side: the shuffle then
    carries at most depth*width keys per task, the constant-state
    property the sketch exists for."""
    plan = _plan(QUERIES["pl_cms_registers"].run(spark, SF_SMOKE))
    assert "partial_count" in plan
    # the dense grid joins two spark.range legs, never a collected
    # LocalTableScan
    assert "LocalTableScan" not in plan


def test_kmv_topk_is_take_ordered(spark):
    """KMV's global k-smallest over the prefiltered hashes must compile
    to TakeOrderedAndProject (O(k) driver traffic), not a global sort."""
    plan = _plan(QUERIES["pl_kmv_distinct"].run(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in plan


def test_knn_purity_no_cartesian(spark):
    """The kNN graph comes from the broadcast-matrix kernel: the plan
    must contain no join at all on the pair space — only the vote/rollup
    joins on the k-row-per-query output."""
    plan = _plan(QUERIES["pl_knn_purity"].run(spark, SF_SMOKE))
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_winsorize_broadcasts_bounds(spark):
    """The |sources|-row bound relation must come back as a broadcast,
    never a shuffled join against the corpus."""
    plan = _plan(QUERIES["pl_winsorize"].run(spark, SF_SMOKE))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_seq_motif_single_shuffle_no_window(spark):
    """Sort-inside-aggregate: one user-key exchange, no window operator
    (the motif math is projection-level)."""
    plan = _plan(QUERIES["pl_seq_motif"].run(spark, SF_SMOKE))
    assert plan.count("Exchange hashpartitioning") == 1
    assert "Window" not in plan


def test_r8_ops_plan_shapes(spark):
    """Round-8 operators: the scale posture locked in.

    - hist_quantiles: partial aggregation on the (group, bucket) key
      (the sketch's constant-size shuffle) and no cartesian product
    - pmi_colloc: total-ordered top-n via TakeOrderedAndProject, and
      partial agg on the bigram count
    - cluster_split: exact mode is hash-key groupBy + join, no
      cartesian, no window over the corpus
    - label_kl: the (group,label) count is partially aggregated; no
      corpus-sized join (terms join the metadata-sized marginals)
    """
    p_hist = _plan(QUERIES["pl_hist_quantiles"].run(spark, SF_SMOKE))
    assert "partial_count" in p_hist or "partial_sum" in p_hist
    assert "CartesianProduct" not in p_hist

    p_pmi = _plan(QUERIES["pl_pmi_colloc"].run(spark, SF_SMOKE))
    assert "TakeOrderedAndProject" in p_pmi
    assert "partial_count" in p_pmi

    p_split = _plan(QUERIES["pl_cluster_split"].run(spark, SF_SMOKE))
    assert "CartesianProduct" not in p_split
    assert "Window" not in p_split

    p_kl = _plan(QUERIES["pl_label_kl"].run(spark, SF_SMOKE))
    assert "partial_count" in p_kl
    assert "CartesianProduct" not in p_kl


def test_sessionize_single_exchange_two_windows(spark):
    """Both windows (lag + running sum) and the session rollup reuse
    ONE user-key ordering: exactly one hashpartitioning exchange on
    user_id reaches the plan (the rollup on (user, session_n) rides
    the same partitioning)."""
    plan = _plan(QUERIES["pl_sessionize"].run(spark, SF_SMOKE))
    import re as _re

    user_exchanges = _re.findall(
        r"Exchange hashpartitioning\(user_id", plan
    )
    assert len(user_exchanges) == 1, plan[:2000]


def test_r8_batch2_plan_shapes(spark):
    """Round-8 second batch: the scale posture locked in.

    - welch_ttest: ONE scan (one FileScan), partial aggregation, no
      join between the two cohorts' rollups, no cartesian
    - bootstrap_ci: the explode(B) folds into partial aggregation
      before the (group, replicate) shuffle; no cartesian
    - kanon: single groupBy with partial aggregation (the DISTINCT
      expand keeps the class key), no window, no join
    - dp_counts: one partial-agg rollup, no window
    - kmv_jaccard: corpus is scanned once (signatures), the pair stage
      broadcasts the tiny pair relation — no SortMergeJoin anywhere
    - readability: pure map + sort — no aggregation, no join
    - cusum: the daily rollup is partially aggregated; group stats
      broadcast back (no SortMergeJoin)
    """
    p_welch = _plan(QUERIES["pl_welch_ttest"].run(spark, SF_SMOKE))
    assert p_welch.count("FileScan parquet") == 1
    assert "partial_sum" in p_welch or "partial_count" in p_welch
    assert "Join" not in p_welch

    p_boot = _plan(QUERIES["pl_bootstrap_ci"].run(spark, SF_SMOKE))
    assert "partial_sum" in p_boot
    assert "CartesianProduct" not in p_boot

    p_kanon = _plan(QUERIES["pl_kanon"].run(spark, SF_SMOKE))
    assert "partial_count" in p_kanon
    assert "Join" not in p_kanon and "Window" not in p_kanon

    p_dp = _plan(QUERIES["pl_dp_counts"].run(spark, SF_SMOKE))
    assert "partial_count" in p_dp
    assert "Window" not in p_dp

    # the O(groups x k) signature is materialized once and referenced
    # three times — an InMemoryTableScan (persist) or ExistingRDD scan
    # (checkpoint, when an earlier test configured a checkpoint dir)
    # proves the corpus parquet is read once (the FileScan string
    # recurs only inside the printed cached subtree)
    p_kmv = _plan(QUERIES["pl_kmv_jaccard"].run(spark, SF_SMOKE))
    assert "InMemoryTableScan" in p_kmv or "ExistingRDD" in p_kmv
    assert "SortMergeJoin" not in p_kmv
    assert "BroadcastHashJoin" in p_kmv or "BroadcastNestedLoopJoin" in p_kmv

    p_read = _plan(QUERIES["pl_readability"].run(spark, SF_SMOKE))
    assert "HashAggregate" not in p_read
    assert "Join" not in p_read

    p_cusum = _plan(QUERIES["pl_cusum"].run(spark, SF_SMOKE))
    assert "partial_count" in p_cusum
    assert "SortMergeJoin" not in p_cusum


def test_mannwhitney_no_global_window(spark):
    """The value-order prefix sum must be the deterministic-bucket +
    offset shape, never a single-task global window (and never sampled
    repartitionByRange, whose boundaries differ per plan branch):
    every Window node keys on _bkt."""
    plan = _plan(QUERIES["pl_mannwhitney"].run(spark, SF_SMOKE))
    assert "rangepartitioning" not in plan
    import re as _re

    for m in _re.finditer(r"Window \[", plan):
        seg = plan[m.start():m.start() + 400]
        assert "_bkt" in seg, seg
    assert "CartesianProduct" not in plan


def test_autocorr_single_daily_rollup(spark):
    """Lags ride ONE partial-aggregated daily rollup and one grp-keyed
    window pass — no per-lag rescans, no joins."""
    plan = _plan(QUERIES["pl_autocorr"].run(spark, SF_SMOKE))
    assert plan.count("FileScan parquet") == 1
    assert "partial_count" in plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan


def test_srm_and_cuped_plan_shapes(spark):
    """SRM: one partial-aggregated count rollup, no joins, no windows.
    CUPED: one (unit, period) rollup then constant-size folds — no
    corpus-sized join, no window, no cartesian."""
    p_srm = _plan(QUERIES["pl_srm"].run(spark, SF_SMOKE))
    assert "partial_count" in p_srm or "partial_sum" in p_srm
    assert "Join" not in p_srm and "Window" not in p_srm

    p_cuped = _plan(QUERIES["pl_cuped"].run(spark, SF_SMOKE))
    assert "partial_count" in p_cuped or "partial_sum" in p_cuped
    assert "Window" not in p_cuped
    assert "CartesianProduct" not in p_cuped
    assert "SortMergeJoin" not in p_cuped


def test_lifecycle_tier_plan_shapes(spark):
    """retention: unit-keyed rollups + broadcast cohort sizes, no
    cartesian over data (the a x b grid join is metadata-sized).
    kaplan_meier: one data-sized (group, unit) rollup, windows over the
    O(groups x lifetimes) curve, broadcast gmax — no SortMergeJoin.
    cramers_v: contingency rollup + broadcast marginals + in-row fold."""
    p_ret = _plan(QUERIES["pl_retention"].run(spark, SF_SMOKE))
    assert "partial_count" in p_ret
    assert "SortMergeJoin" not in p_ret

    p_km = _plan(QUERIES["pl_kaplan_meier"].run(spark, SF_SMOKE))
    assert "partial_min" in p_km or "partial_max" in p_km
    assert "SortMergeJoin" not in p_km

    p_cv = _plan(QUERIES["pl_cramers_v"].run(spark, SF_SMOKE))
    assert "partial_count" in p_cv
    assert "SortMergeJoin" not in p_cv
    assert "BroadcastHashJoin" in p_cv or "BroadcastNestedLoopJoin" in p_cv


def test_gini_uses_distributed_rank(spark):
    """Gini ranks per-unit totals through exact_rank: range partition
    (materialized once) + broadcast offsets — the plan must carry a
    rangepartitioning exchange and no single-task global window."""
    plan = _plan(QUERIES["pl_gini"].run(spark, SF_SMOKE))
    assert (
        "rangepartitioning" in plan
        or "InMemoryTableScan" in plan
        or "ExistingRDD" in plan
    )
    assert "CartesianProduct" not in plan


def test_exact_rank_materialization_barrier_stays(spark):
    """Pin the exact_rank fix: the range-partitioned relation MUST be
    materialized (InMemoryTableScan under persist, ExistingRDD under a
    checkpoint dir) so the counts branch and the window branch read ONE
    boundary draw — removing the barrier silently reintroduces the
    nondeterministic-boundary rank corruption (r8 second session)."""
    plan = _plan(QUERIES["pl_hist_quantiles"].run(spark, SF_SMOKE))
    assert "InMemoryTableScan" in plan or "ExistingRDD" in plan


def test_bucketed_join_is_shuffle_free_on_the_join_keys(spark):
    """pl_bucketed_join (r9): with the broadcast shortcut disabled the
    join of the two bucketed tables must be a SortMergeJoin whose
    children are bare bucketed FileScans — NO Exchange on either join
    key (the shuffle happened at write time).  With broadcast enabled
    (the registered small-sf plan) there must STILL be no key
    exchange."""
    from pyspark.sql import functions as F

    df = QUERIES["pl_bucketed_join"].run(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "hashpartitioning(o_orderkey" not in plan
    assert "hashpartitioning(l_orderkey" not in plan
    assert "Bucketed: true" in plan
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        import hashlib

        tag = hashlib.md5(SF_SMOKE.encode()).hexdigest()[:10]
        o = spark.table(f"bkt_orders_{tag}")
        l = spark.table(f"bkt_lineitem_{tag}")
        j = (
            o.join(l, o["o_orderkey"] == l["l_orderkey"])
            .groupBy("o_orderpriority")
            .agg(F.count("*").alias("n"))
        )
        j.collect()
        p2 = j._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in p2
        assert "hashpartitioning(o_orderkey" not in p2
        assert "hashpartitioning(l_orderkey" not in p2
        # both scans read bucketed layout (AQE prints the initial plan
        # too, so the count doubles)
        assert p2.count("Bucketed: true") >= 2
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


# ---- the one scan spread ---------------------------------------------------


def _jobs_in_group(spark, group, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    number of Spark jobs it launched."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_scan_spread_decides_from_the_plan(spark):
    """spread_small_scan round-robins a narrow scan to the default
    parallelism and leaves a wide or shuffled input alone, deciding from
    the physical plan with zero Spark jobs. A broadcast below the input
    does not set its width: the stream side is still one scan split."""
    from adenhq_hive_spark.catalog import spread_small_scan

    par = spark.sparkContext.defaultParallelism
    docs = load_table(spark, SF_SMOKE, "documents").select(
        "doc_id", "source", "text"
    )
    nation = load_table(spark, SF_SMOKE, "nation")
    assert docs.rdd.getNumPartitions() == 1
    cases = {
        "scan": (docs, True),
        "broadcast": (
            docs.join(F.broadcast(nation), F.col("doc_id") == F.col("n_nationkey")),
            True,
        ),
        "wide": (spark.range(0, 1000, 1, par), False),
        "shuffled": (docs.groupBy("source").count(), False),
    }
    for name, (df, spreads) in cases.items():
        out, jobs = _jobs_in_group(
            spark, f"scan-spread-{name}", lambda: spread_small_scan(df)
        )
        assert jobs == 0, name
        if spreads:
            assert out.rdd.getNumPartitions() == par, name
        else:
            assert out is df, name


def test_scan_spread_runs_no_job_inside_builders(spark, monkeypatch):
    """Inputs with shuffles, broadcasts and a persisted relation below
    them: deciding their width used to execute them (21/21/7/7/1/1 jobs
    in the helper before the action ran them again). Now 0."""
    import adenhq_hive_spark.catalog as catalog
    import adenhq_hive_spark.queries.pipeline as pipeline
    from adenhq_hive_spark.operators.dedup import release_persisted

    real = catalog.spread_small_scan
    jobs = {}

    def counted(df):
        group = f"scan-spread-{len(jobs)}"
        out, jobs[group] = _jobs_in_group(spark, group, lambda: real(df))
        return out

    monkeypatch.setattr(catalog, "spread_small_scan", counted)
    monkeypatch.setattr(pipeline, "spread_small_scan", counted)
    for name in (
        "pl_dedup_incremental", "pl_dedup_incr_indexed", "pl_curation_pipeline",
        "pl_graph_curation", "pl_kmv_jaccard", "pl_kmv_jaccard_xxh",
    ):
        before = len(jobs)
        QUERIES[name].run(spark, SF_SMOKE)
        release_persisted()
        assert len(jobs) > before, f"{name} never calls the helper"
    assert set(jobs.values()) == {0}, jobs


# ---- one Python evaluation per stage ----------------------------------------

#: Entries that stack Python evaluations in one stage on purpose: each
#: chains public multimodal operators (a generator, ``decode_media``,
#: ``annotate_media``) that the entry composes, one Arrow pass each.
_STACKED_PYTHON = {"pl_media_annotate", "pl_media_decode", "pl_media_phash"}


def test_python_census_splits_stages_at_exchanges_and_caches(spark):
    from adenhq_hive_spark.catalog import python_eval_census
    from adenhq_hive_spark.operators.dedup import _materialize, release_persisted

    @F.pandas_udf("long")
    def plus(x):
        return x + 1

    def same(it):
        yield from it

    judged = spark.range(10).withColumn("y", plus("id"))
    assert python_eval_census(judged.mapInPandas(same, "id long, y long")) == (2, 2)
    assert python_eval_census(
        judged.repartition(2).mapInPandas(same, "id long, y long")) == (2, 1)
    try:  # every later plan of judged reads the cache
        twice = _materialize(judged).mapInPandas(same, "id long, y long")
        assert python_eval_census(twice.unionByName(twice)) == (3, 1)
    finally:
        release_persisted()


def test_no_stage_stacks_python_evaluations(spark):
    """A task runs each Python eval node of its stage in its own worker
    process, all at once, so over every registry entry no stage may
    stack two on one root-to-leaf path. Catalyst copies a pandas-UDF
    call into each filter it pushes below it (an inferred join-key
    ``isnotnull`` too), so a UDF column that a filter reads must be
    materialized or made opaque (mapInPandas) first. One UDF in two
    branches is allowed (the LSH tiers hash the query and the candidate
    side); test_graph.py's judge count covers repeated evaluation."""
    from adenhq_hive_spark.catalog import python_eval_census
    from adenhq_hive_spark.operators.dedup import release_persisted

    chains = {}
    for name in sorted(QUERIES):
        try:
            chains[name] = python_eval_census(QUERIES[name].run(spark, SF_SMOKE))[1]
        finally:
            release_persisted()
    stacked = {name: n for name, n in chains.items() if n > 1}
    assert set(stacked) == _STACKED_PYTHON, stacked
