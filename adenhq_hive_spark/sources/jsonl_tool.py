"""JSONL source/sink: the interchange format of LLM training-data
pipelines (one JSON document per line — the layout of every public
pretraining dump and eval set).

No single reference tool maps here; this extends the csv_tool parity
surface (same envelope contract, reference csv_tool.py:14-385) to the
format a training-data engine actually ingests. Spark-first:

- ``jsonl_read``  — distributed ``spark.read.json`` (schema inferred,
  nested structs preserved), offset/limit pagination, corrupt lines
  surfaced under ``_corrupt_record`` instead of failing the scan
  (PERMISSIVE mode — a 100 TB dump always has bad lines).
- ``jsonl_write`` / ``jsonl_append`` — driver-side at this API edge
  (the tool surface writes small result files; corpus-sized output
  belongs to ``write_jsonl_dataset``).
- ``write_jsonl_dataset`` — the distributed sink: ``df.write.json``,
  optionally partitioned — the export path for curated corpora.
- ``jsonl_sql``   — read-only SQL over the file as table ``data``
  through the engine's gated-SQL core (``engine.capped_envelope``).
"""

from __future__ import annotations

import json
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


def _read_df(spark: SparkSession, file_path: str) -> DataFrame:
    return (
        spark.read.option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(file_path)
    )


def jsonl_read(
    spark: SparkSession, file_path: str, limit: int = 100, offset: int = 0
) -> dict[str, Any]:
    """Paginated JSONL scan: inferred schema + offset/limit row slice."""
    if not os.path.exists(file_path):
        return _error(f"File not found: {file_path}")
    page, cursor = read_page(_read_df(spark, file_path), limit, offset)
    return {**page, "column_count": len(page["columns"]), **cursor}


def jsonl_write(
    spark: SparkSession, file_path: str, rows: list[dict[str, Any]]
) -> dict[str, Any]:
    """Create a JSONL file from row dicts (driver-side API edge)."""
    try:
        parent = os.path.dirname(os.path.abspath(file_path))
        os.makedirs(parent, exist_ok=True)
        with open(file_path, "w", encoding="utf-8") as f:
            for row in rows:
                f.write(json.dumps(row, ensure_ascii=False) + "\n")
    except (OSError, TypeError, ValueError) as exc:
        return _error(f"Write failed: {exc}")
    return _envelope(file_path=file_path, rows_written=len(rows))


def jsonl_append(
    spark: SparkSession, file_path: str, rows: list[dict[str, Any]]
) -> dict[str, Any]:
    """Append row dicts to an existing JSONL file."""
    if not os.path.exists(file_path):
        return _error(f"File not found: {file_path}")
    try:
        with open(file_path, "a", encoding="utf-8") as f:
            for row in rows:
                f.write(json.dumps(row, ensure_ascii=False) + "\n")
    except (OSError, TypeError, ValueError) as exc:
        return _error(f"Append failed: {exc}")
    return _envelope(file_path=file_path, rows_appended=len(rows))


def jsonl_info(spark: SparkSession, file_path: str) -> dict[str, Any]:
    """Schema + row/corrupt-line counts + byte size, no data rows."""
    if not os.path.exists(file_path):
        return _error(f"File not found: {file_path}")
    df = _read_df(spark, file_path)
    # Spark refuses a query that references ONLY the internal corrupt-
    # record column of a raw JSON scan; the documented escape is to
    # cache the parsed frame first (API-edge file, so the cache is tiny)
    if "_corrupt_record" in df.columns:
        df = df.cache()
        n_corrupt = df.filter(df["_corrupt_record"].isNotNull()).count()
    else:
        n_corrupt = 0
    try:
        return _envelope(
            file_path=file_path,
            columns=list(df.columns),
            column_count=len(df.columns),
            dtypes={name: dtype for name, dtype in df.dtypes},
            row_count=df.count(),
            corrupt_lines=n_corrupt,
            size_bytes=os.path.getsize(file_path),
        )
    finally:
        if "_corrupt_record" in df.columns:
            df.unpersist()


def jsonl_sql(
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


def write_jsonl_dataset(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Distributed JSONL export of a curated corpus — the sink a
    training job reads. Optionally partitioned (e.g. by split/source):
    reading one partition back prunes instead of scanning everything,
    same layout contract as curation.write_corpus_snapshot."""
    writer = df.write.mode(mode)
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.json(path)
