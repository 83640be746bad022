"""The Q-set oracle harness: every declared query runs on Spark AND on the
DuckDB oracle at sf0.001; normalized results must hash-match exactly
(SURVEY §5.4).  This mirrors the driver's CORRECTNESS gate at sf0.01.
"""

from __future__ import annotations

import os

import pytest

from adenhq_hive_spark.catalog import TABLES
from adenhq_hive_spark.normalize import normalize
from adenhq_hive_spark.queries import all_queries

from .conftest import SF_SMOKE

QUERIES = all_queries()
ORACLE_CHECKED = sorted(n for n, s in QUERIES.items() if s.oracle is not None)
ROWS_ONLY = sorted(n for n, s in QUERIES.items() if s.oracle is None)


def _assert_strict_match(name, df, rel):
    spark_cols = df.columns
    spark_rows = [tuple(r) for r in df.collect()]
    duck_cols = [d[0] for d in rel.description]
    duck_rows = rel.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column names differ: {spark_cols} vs {duck_cols}"
    )
    # strict: -0.0 stays distinct — the driver's hash does not collapse
    # signed zeros (r7 pl_jl_project), so the local gate must not either
    s_norm = normalize(spark_cols, spark_rows, strict=True)
    d_norm = normalize(duck_cols, duck_rows, strict=True)
    if s_norm != d_norm:
        s_lines, d_lines = s_norm.splitlines(), d_norm.splitlines()
        diffs = [
            f"  spark: {a!r}\n  duck : {b!r}"
            for a, b in zip(s_lines, d_lines)
            if a != b
        ][:5]
        pytest.fail(
            f"{name}: result mismatch ({len(s_lines) - 1} vs "
            f"{len(d_lines) - 1} rows)\n" + "\n".join(diffs)
        )


@pytest.mark.parametrize("name", ORACLE_CHECKED)
def test_oracle_match(spark, ducks, name):
    spec = QUERIES[name]
    _assert_strict_match(name, spec.run(spark, SF_SMOKE),
                         ducks.execute(spec.oracle))


@pytest.fixture(scope="module")
def tiny_negative_embeddings(tmp_path_factory):
    """sf0.001 with its embeddings table replaced by four vectors whose
    components round to zero from below: a tiny negative first component
    (q54's per-label average, q66's exploded values) and a vector whose
    largest component is tiny and negative (q76's argmax)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    d = tmp_path_factory.mktemp("neg_zero_sf")
    for t in TABLES:
        if t != "embeddings":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", d / f"{t}.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array([0, 1, 2, 3], pa.int64()),
        "embedding": pa.array(
            [[-1e-5, 0.5, -0.25], [-1e-5, -0.5, -0.9],
             [0.125, -1e-5, 0.75], [-1e-5, 0.25, 0.5]],
            pa.list_(pa.float32()),
        ),
        "label": pa.array([0, 1, 1, 0], pa.int32()),
    }), d / "embeddings.parquet")
    return str(d)


@pytest.mark.parametrize("name", ["q54", "q66", "q76"])
def test_round_over_embedding_keeps_sign_of_zero(spark, name,
                                                 tiny_negative_embeddings):
    """Spark's ROUND(x, 4) of a tiny negative value is 0.0 where
    DuckDB's is -0.0, which the strict hash keeps apart; the queries
    that ROUND embedding components must agree on it."""
    import duckdb

    from adenhq_hive_spark.catalog import _REGISTERED_MARKER, register_views

    sf = tiny_negative_embeddings
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{sf}/{t}.parquet')")
    active = spark.conf.get(_REGISTERED_MARKER, None)
    try:
        _assert_strict_match(name, QUERIES[name].run(spark, sf),
                             con.execute(QUERIES[name].oracle))
    finally:
        con.close()
        if active:
            register_views(spark, active, force=True)


@pytest.mark.parametrize("name", ROWS_ONLY)
def test_rows_only_runs(spark, name):
    spec = QUERIES[name]
    df = spec.run(spark, SF_SMOKE)
    assert df.count() >= 0
    assert len(df.columns) > 0


def test_fast_money_sign_safe(spark):
    """The scaled-BIGINT money-sum rewrite must match the portable
    decimal form for NEGATIVE values too (sign-aware round-half-up) —
    the contract columns happen to be non-negative, but the rewrite
    applies to every _QM call site, so it must not be a silent trap."""
    from adenhq_hive_spark.queries.relational import _fast_money

    vals = [
        -1.00005, -0.99995, -123.45675, -0.00005, 0.0, 0.00005,
        123.45675, 0.99995, 1.00005, -7e8, 7e8, -0.12345, 0.12345,
    ]
    spark.createDataFrame(
        [(i % 3, v) for i, v in enumerate(vals)], "g int, x double"
    ).createOrReplaceTempView("fm_probe")
    decimal_sql = (
        "SELECT g, CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE) AS s "
        "FROM fm_probe GROUP BY g"
    )
    fast_sql = _fast_money(decimal_sql)
    assert fast_sql != decimal_sql, "rewrite did not fire"
    dec = {r.g: r.s for r in spark.sql(decimal_sql).collect()}
    fast = {r.g: r.s for r in spark.sql(fast_sql).collect()}
    assert fast == dec, f"{fast} != {dec}"
