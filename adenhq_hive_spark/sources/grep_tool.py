"""grep_search parity: regex scan over file lines, Spark-first
(reference grep_search/grep_search.py:12-100).

The reference walks a sandbox directory in Python and regex-matches each
line, returning ``{file, line_number, line_content}`` matches plus an
envelope.  Spark-first, the same contract is a declarative plan:

- ``spark.read.text(..., wholetext=True)`` + ``input_file_name()`` reads
  each file as one row (keeps per-file line numbering exact without any
  driver-side walk — numbering survives arbitrary partitioning because
  the split happens inside the row);
- ``posexplode(split(content, '\\n'))`` yields (line_number, line);
- ``rlike(pattern)`` filters JVM-side (whole-stage codegen, no Python
  in the scan loop).

At 100 TB of text this is a map-only scan — no shuffle, no collect —
and the DataFrame form (``grep_df``) composes with any downstream op.
The dict envelope (``grep_search``) mirrors the reference's API shape
for parity callers and bounds its collect with ``max_matches``.

Caveats vs the reference, by design:
- patterns are evaluated by Java's regex engine (rlike); the early
  validation still uses Python ``re`` for the same invalid-pattern
  error surface (reference lines 38-43) — the common grep subset is
  identical in both engines;
- binary/undecodable files: Spark's text reader substitutes invalid
  UTF-8 rather than skipping the file (reference skips on
  UnicodeDecodeError); match results on real text files are identical.
"""

from __future__ import annotations

import os
import re
from typing import Any
from urllib.parse import unquote

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..engine import take_capped


def grep_df(
    spark: SparkSession,
    path: str,
    pattern: str,
    recursive: bool = False,
    glob: str | None = None,
) -> DataFrame:
    """Distributed grep: DataFrame of (file, line_number, line_content)
    for lines matching ``pattern`` under ``path``.

    ``path`` may be a single file or a directory; ``recursive=True``
    descends subdirectories (Spark's recursiveFileLookup — partition-
    discovery-free, works on any FileSystem). ``glob`` optionally
    restricts filenames (e.g. ``*.py``).
    """
    re.compile(pattern)  # early validation: raises re.error like the ref
    reader = spark.read
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if glob:
        reader = reader.option("pathGlobFilter", glob)
    # NB: wholetext must go through the .text() kwarg — the loose
    # .option("wholetext", ...) spelling is silently ignored by the reader
    files = reader.text(path, wholetext=True).select(
        F.input_file_name().alias("file"), F.col("value").alias("content")
    )
    lines = files.select(
        "file",
        F.posexplode(F.split(F.col("content"), "\n")).alias(
            "idx", "line_content"
        ),
    ).select(
        "file",
        (F.col("idx") + 1).alias("line_number"),
        F.col("line_content"),
    )
    return lines.filter(F.col("line_content").rlike(pattern))


def grep_search(
    spark: SparkSession,
    path: str,
    pattern: str,
    recursive: bool = False,
    max_matches: int = 10_000,
) -> dict[str, Any]:
    """Reference-shaped envelope over :func:`grep_df`
    (grep_search.py:82-91): success flag, echo of the request, matches
    as dicts, total count.  Collect is bounded by ``max_matches``."""
    try:
        regex_err = None
        try:
            re.compile(pattern)
        except re.error as e:
            regex_err = e.msg
        if regex_err is not None:
            return {"error": f"Invalid regex pattern: {regex_err}"}
        if not os.path.exists(path):
            return {"error": f"Directory or file not found: {path}"}
        df = grep_df(spark, path, pattern, recursive=recursive)
        rows, truncated = take_capped(df, max_matches)
        base = path if os.path.isdir(path) else os.path.dirname(path) or "."

        def display(uri: str) -> str:
            # input_file_name() yields a percent-encoded file: URI
            p = unquote(uri[len("file:"):]) if uri.startswith("file:") else uri
            return os.path.relpath(p, base)

        matches = [
            {
                "file": display(r["file"]),
                "line_number": r["line_number"],
                "line_content": r["line_content"].strip(),
            }
            for r in rows
        ]
        return {
            "success": True,
            "pattern": pattern,
            "path": path,
            "recursive": recursive,
            "matches": matches,
            "total_matches": len(matches),
            "truncated": truncated,
        }
    except Exception as e:  # generic fallback, reference lines 97-100
        return {"error": f"Failed to perform grep search: {str(e)}"}
