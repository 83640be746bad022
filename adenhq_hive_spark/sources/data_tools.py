"""Spillover / intermediate-result store (reference data_tools.py:24-377).

The reference writes large intermediate tool results to files and pages
them back with byte-offset reads (data_tools.py:132-157).  Spark-first,
the intermediate store is a Parquet directory per key: columnar,
splittable, schema-carrying — pagination becomes offset/limit on a
DataFrame (no byte-boundary trimming needed), appends are native
(``mode=append``), and a 100 TB intermediate is just as listable as a
1 MB one.
"""

from __future__ import annotations

import os
import shutil
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from ..engine import read_page, take_capped


class DataStore:
    """Parquet-backed keyed store for intermediate results."""

    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(root, exist_ok=True)

    def _path(self, key: str) -> str:
        safe = "".join(c if c.isalnum() or c in "-_." else "_" for c in key)
        return os.path.join(self.root, safe)

    def save_data(self, key: str, df: DataFrame, mode: str = "overwrite") -> dict[str, Any]:
        df.write.mode(mode).parquet(self._path(key))
        return {"success": True, "key": key, "path": self._path(key)}

    def append_data(self, key: str, df: DataFrame) -> dict[str, Any]:
        if not os.path.exists(self._path(key)):
            return {"success": False, "error": f"No data for key: {key}"}
        df.write.mode("append").parquet(self._path(key))
        return {"success": True, "key": key}

    def load_data(
        self, key: str, limit: int = 1000, offset: int = 0
    ) -> dict[str, Any]:
        """Paginated load (offset/limit ≈ the reference's byte-seek reads,
        but row-exact and schema-aware)."""
        path = self._path(key)
        if not os.path.exists(path):
            return {"success": False, "error": f"No data for key: {key}"}
        page, cursor = read_page(self.spark.read.parquet(path), limit, offset)
        return {**page, "key": key, **cursor}

    def load_df(self, key: str) -> DataFrame:
        """The distributed path: hand the intermediate back as a DataFrame."""
        return self.spark.read.parquet(self._path(key))

    def list_data_files(self) -> dict[str, Any]:
        entries = []
        for name in sorted(os.listdir(self.root)):
            p = os.path.join(self.root, name)
            if os.path.isdir(p):
                size = sum(
                    os.path.getsize(os.path.join(dp, f))
                    for dp, _, fs in os.walk(p)
                    for f in fs
                )
                entries.append({"key": name, "size_bytes": size})
        return {"success": True, "files": entries, "count": len(entries)}

    def delete_data(self, key: str) -> dict[str, Any]:
        path = self._path(key)
        if not os.path.exists(path):
            return {"success": False, "error": f"No data for key: {key}"}
        shutil.rmtree(path)
        return {"success": True, "key": key}

    def compact(self, key: str, target_file_bytes: int = 128 * 1024 * 1024
                ) -> dict[str, Any]:
        """Compact a key's small files into ~target-sized parquet files.

        The small-file problem is the classic failure mode of streaming/
        append-heavy stores at scale (every foreachBatch append adds
        files; a million 1 MB files kill scan planning). Rewrites through
        a staging directory then swaps, so readers never see a partial
        state on local filesystems.
        """
        path = self._path(key)
        if not os.path.exists(path):
            return {"success": False, "error": f"No data for key: {key}"}
        size = sum(
            os.path.getsize(os.path.join(dp, f))
            for dp, _, fs in os.walk(path)
            for f in fs
        )
        n_before = sum(
            1 for dp, _, fs in os.walk(path) for f in fs if f.endswith(".parquet")
        )
        n_files = max(1, -(-size // target_file_bytes))  # ceil division
        staging = path + "__compact_tmp"
        self.spark.read.parquet(path).coalesce(n_files).write.mode(
            "overwrite"
        ).parquet(staging)
        old = path + "__old"
        os.rename(path, old)
        os.rename(staging, path)
        shutil.rmtree(old)
        return {
            "success": True,
            "key": key,
            "files_before": n_before,
            "files_after": n_files,
        }

    # ---- text-artifact surface (reference data_tools.py:173-228, 313-377)
    #
    # Besides keyed DataFrame intermediates, the reference's data_dir holds
    # flat text artifacts (HTML reports, CSV exports) with three verbs the
    # parquet store can't express: save/edit a text file surgically, and
    # resolve it to a clickable file:// URI.  These are driver-side file
    # ops over single artifacts — never data-plane — so plain Python is
    # the right tool, not a Spark job.

    @staticmethod
    def _valid_filename(filename: str) -> bool:
        return bool(filename) and not (
            ".." in filename or "/" in filename or "\\" in filename
        )

    def save_text(self, filename: str, content: str) -> dict[str, Any]:
        """Write a flat text artifact into the store root."""
        if not self._valid_filename(filename):
            return {"error": "Invalid filename. Use simple names like 'report.html'"}
        path = os.path.join(self.root, filename)
        with open(path, "w", encoding="utf-8") as f:
            f.write(content)
        return {
            "success": True,
            "filename": filename,
            "size_bytes": os.path.getsize(path),
        }

    def edit_data(
        self, filename: str, old_text: str, new_text: str
    ) -> dict[str, Any]:
        """Surgical find-and-replace in a saved text artifact; ``old_text``
        must match exactly once (reference data_tools.py:313-377)."""
        if not self._valid_filename(filename):
            return {"error": "Invalid filename. Use simple names like 'report.html'"}
        path = os.path.join(self.root, filename)
        if not os.path.isfile(path):
            return {"error": f"File not found: {filename}"}
        try:
            with open(path, encoding="utf-8") as f:
                content = f.read()
            count = content.count(old_text)
            if count == 0:
                return {
                    "error": (
                        "old_text not found in the file. "
                        "Make sure you're matching the exact text, "
                        "including whitespace and newlines."
                    )
                }
            if count > 1:
                return {
                    "error": (
                        f"old_text found {count} times — it must be unique. "
                        "Include more surrounding context to match exactly once."
                    )
                }
            updated = content.replace(old_text, new_text, 1)
            with open(path, "w", encoding="utf-8") as f:
                f.write(updated)
            return {
                "success": True,
                "filename": filename,
                "size_bytes": len(updated.encode("utf-8")),
                "replacements": 1,
            }
        except Exception as e:
            return {"error": f"Failed to edit data: {str(e)}"}

    def serve_file_to_user(
        self, filename: str, label: str = ""
    ) -> dict[str, Any]:
        """Resolve a stored artifact to a file:// URI envelope (reference
        data_tools.py:173-228; browser auto-open is a TUI concern and is
        intentionally not performed here)."""
        if not self._valid_filename(filename):
            return {"error": "Invalid filename. Use simple names like 'report.html'"}
        path = os.path.join(self.root, filename)
        if not os.path.exists(path):
            return {"error": f"File not found: {filename}"}
        full_path = os.path.abspath(path)
        return {
            "success": True,
            "file_uri": f"file://{full_path}",
            "file_path": full_path,
            "label": label or filename,
        }

    def truncate_with_spillover(
        self, key: str, df: DataFrame, max_rows: int = 100,
        max_chars: int = 3_000,
    ) -> dict[str, Any]:
        """Result-size control (event_loop_node.py:88-89, 1943-2040 image):
        return at most ``max_rows`` rows with long string cells truncated
        to ``max_chars``; the FULL untruncated result is spilled to the
        store under ``key`` for paginated retrieval."""
        from pyspark.sql import functions as F

        self.save_data(key, df)
        truncated_cols = [
            F.when(
                F.length(c) > max_chars,
                F.concat(F.substring(F.col(c), 1, max_chars), F.lit("…")),
            ).otherwise(F.col(c)).alias(c)
            if t == "string" else F.col(c)
            for c, t in df.dtypes
        ]
        rows, truncated = take_capped(df.select(*truncated_cols), max_rows)
        return {
            "success": True,
            "rows": rows,
            "row_count": len(rows),
            "truncated": truncated,
            "spillover_key": key,
        }
