"""CSV tool parity: read/write/append/info/sql over header-schema CSV
files (reference csv_tool.py:14-385).

Semantics matched to the reference:

- ``csv_read``  — header row = schema, offset/limit row pagination
  (csv_tool.py:57-64), row-dict envelope (csv_tool.py:71-81).
- ``csv_write`` — creates the file with a header; keys not in ``columns``
  are dropped (csv_tool.py:133).
- ``csv_append``— appends rows matching the existing header
  (csv_tool.py:147-212).
- ``csv_info``  — schema + row count + size without materializing rows
  (csv_tool.py:214-271).
- ``csv_sql``   — read-only SELECT over the file as table ``data``
  (csv_tool.py:358) through the engine's gated-SQL core
  (``engine.capped_envelope``).

Scan/SQL go through Spark (distributed, schema-inferred like DuckDB's
read_csv_auto); write/append are driver-side single-file at this API edge
(the reference's DictWriter layout) — large results belong in
``data_tools``/parquet, not CSV.
"""

from __future__ import annotations

import csv
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..engine import capped_envelope, gated_df, read_page


def _envelope(**kw: Any) -> dict[str, Any]:
    out = {"success": True}
    out.update(kw)
    return out


def _error(msg: str) -> dict[str, Any]:
    return {"success": False, "error": msg}


def _read_df(spark: SparkSession, file_path: str):
    return (
        spark.read.option("header", True)
        .option("inferSchema", True)
        .csv(file_path)
    )


def csv_read(
    spark: SparkSession, file_path: str, limit: int = 100, offset: int = 0
) -> dict[str, Any]:
    """Paginated CSV scan: header schema + offset/limit row slice."""
    if not os.path.exists(file_path):
        return _error(f"File not found: {file_path}")
    page, cursor = read_page(_read_df(spark, file_path), limit, offset)
    return {**page, "column_count": len(page["columns"]), **cursor}


def csv_write(
    spark: SparkSession,
    file_path: str,
    columns: list[str],
    rows: list[dict[str, Any]],
) -> dict[str, Any]:
    """Create a CSV with header; undeclared row keys are dropped."""
    try:
        os.makedirs(os.path.dirname(os.path.abspath(file_path)), exist_ok=True)
        with open(file_path, "w", newline="", encoding="utf-8") as f:
            w = csv.DictWriter(f, fieldnames=columns, extrasaction="ignore")
            w.writeheader()
            for row in rows:
                w.writerow({k: row.get(k, "") for k in columns})
    except OSError as exc:
        return _error(f"Write failed: {exc}")
    return _envelope(file_path=file_path, rows_written=len(rows))


def csv_append(
    spark: SparkSession, file_path: str, rows: list[dict[str, Any]]
) -> dict[str, Any]:
    """Append rows under the file's existing header."""
    if not os.path.exists(file_path):
        return _error(f"File not found: {file_path}")
    with open(file_path, newline="", encoding="utf-8") as f:
        header = next(csv.reader(f), None)
    if not header:
        return _error("File has no header")
    unknown = {k for row in rows for k in row} - set(header)
    if unknown:
        return _error(f"Unknown columns: {sorted(unknown)}")
    with open(file_path, "a", newline="", encoding="utf-8") as f:
        w = csv.DictWriter(f, fieldnames=header, extrasaction="ignore")
        for row in rows:
            w.writerow({k: row.get(k, "") for k in header})
    return _envelope(file_path=file_path, rows_appended=len(rows))


def csv_info(spark: SparkSession, file_path: str) -> dict[str, Any]:
    """Schema + row count + byte size without materializing data rows."""
    if not os.path.exists(file_path):
        return _error(f"File not found: {file_path}")
    df = _read_df(spark, file_path)
    return _envelope(
        file_path=file_path,
        columns=list(df.columns),
        column_count=len(df.columns),
        dtypes={name: dtype for name, dtype in df.dtypes},
        row_count=df.count(),
        size_bytes=os.path.getsize(file_path),
    )


def csv_sql(
    spark: SparkSession, file_path: str, query: str, max_rows: int = 1000
) -> dict[str, Any]:
    """Read-only SQL over the file registered as table ``data``."""
    if not os.path.exists(file_path):
        return _error(f"File not found: {file_path}")

    def build(spark: SparkSession, sql: str) -> DataFrame:
        _read_df(spark, file_path).createOrReplaceTempView("data")
        return spark.sql(sql)

    return capped_envelope(
        lambda: gated_df(spark, query, build), max_rows).to_tool_dict()
