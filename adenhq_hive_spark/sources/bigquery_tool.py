"""BigQuery tool parity: read-only remote SQL (reference
bigquery_tool.py:149-275) and dataset description (277-392).

The Spark BigQuery connector jar (or a JDBC driver) is not in this
container, so ``run_bigquery_query`` runs the engine's gated-SQL core
(``engine.capped_envelope``) with the remote read as its build step: a
caller-provided ``reader`` (the injection point a real connector fills)
or the connector, which raises ``MissingConnector`` (a
NotImplementedError) when the jar is absent. The gate, the clamp and
the envelope are real and tested.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..engine import Build, MissingConnector, capped_envelope, gated_df


def _connector_reader(spark: SparkSession, sql: str) -> DataFrame:
    """Default reader: the real connector path (jar not present here)."""
    try:
        return (
            spark.read.format("bigquery")
            .option("query", sql)
            .load()
        )
    except Exception as exc:
        raise MissingConnector(
            "spark-bigquery connector jar not on the classpath; pass a "
            "`reader` (e.g. JDBC) or install the connector."
        ) from exc


def run_bigquery_query(
    spark: SparkSession,
    sql: str,
    max_rows: int = 1000,
    reader: Build | None = None,
) -> dict[str, Any]:
    """Read-only remote SQL with schema + truncation envelope
    (bigquery_tool.py:235-243 shape)."""
    df: DataFrame | None = None

    def build(spark: SparkSession, sql: str) -> DataFrame:
        nonlocal df
        df = (reader or _connector_reader)(spark, sql)
        return df

    env = capped_envelope(lambda: gated_df(spark, sql, build), max_rows)
    if not env.success:
        return env.to_tool_dict()
    return {
        "success": True,
        "columns": env.columns,
        "schema": [{"name": n, "type": t} for n, t in df.dtypes],
        "rows": env.rows,
        "row_count": env.row_count,
        "query_truncated": env.truncated,
    }


def describe_dataset(
    spark: SparkSession, with_row_counts: bool = False
) -> dict[str, Any]:
    """Catalog listing over the session catalog (bigquery_tool.py:277-392
    shape) — tables, column schemas, optional row counts."""
    tables = []
    for t in spark.catalog.listTables():
        cols = [
            {"name": c.name, "type": c.dataType, "nullable": c.nullable}
            for c in spark.catalog.listColumns(t.name)
        ]
        entry: dict[str, Any] = {"table": t.name, "columns": cols}
        if with_row_counts:
            entry["row_count"] = spark.table(t.name).count()
        tables.append(entry)
    return {
        "success": True,
        "tables": sorted(tables, key=lambda e: e["table"]),
        "table_count": len(tables),
    }
