"""External row sources and sinks: the adapter layer for the reference's
web/SaaS tool fleet (web_scrape_tool.py, web_search_tool.py, slack/
stripe/github/gmail/... — SURVEY §2.1: "external source → DataFrame",
"foreachBatch sinks / custom DataSource; not reimplemented as analytics
operators").

Every reference connector returns the same row envelope
(§1.1 ``{columns, rows}``); this module is the single seam where those
rows enter the engine (schema-validated DataFrame) and leave it
(batched sink callable).  The actual HTTP/SaaS clients are intentionally
NOT here — they are injected callables, so the engine stays
dependency-free and the connector surface is testable with fakes.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..engine import take_capped

FetchFn = Callable[..., list[dict[str, Any]]]


def rows_to_df(
    spark: SparkSession,
    rows: list[dict[str, Any]],
    schema: T.StructType,
    strict: bool = False,
) -> DataFrame:
    """Row-envelope → DataFrame under a declared schema.

    Undeclared keys are dropped (csv_write's extras policy,
    csv_tool.py:133); missing keys become NULL. ``strict=True`` raises on
    undeclared keys instead (input_schema validation, node.py:185-198).
    """
    names = [f.name for f in schema.fields]
    if strict:
        unknown = {k for r in rows for k in r} - set(names)
        if unknown:
            raise ValueError(f"undeclared keys: {sorted(unknown)}")
    shaped = [tuple(r.get(n) for n in names) for r in rows]
    return spark.createDataFrame(shaped, schema)


def external_source(
    spark: SparkSession,
    fetch: FetchFn,
    schema: T.StructType,
    pages: Iterable[Any] | None = None,
    **fetch_kwargs: Any,
) -> DataFrame:
    """Wrap a fetch callable (one SaaS list/search endpoint) as a source.

    ``pages`` drives repeated fetches (cursor/page tokens) unioned into
    one DataFrame — the reference's paginated listing loops. The fetch
    itself is driver-side (these APIs are rate-limited row streams, not
    distributed scans — web_scrape is documented 'not a distributed
    scan', SURVEY §2.1); the RESULT is distributed immediately.
    """
    all_rows: list[dict[str, Any]] = []
    if pages is None:
        all_rows = fetch(**fetch_kwargs)
    else:
        for p in pages:
            all_rows.extend(fetch(page=p, **fetch_kwargs))
    return rows_to_df(spark, all_rows, schema)


def external_sink(
    df: DataFrame,
    send: Callable[[list[dict[str, Any]]], None],
    batch_size: int = 500,
) -> int:
    """Push a (small, final) result to an external service in batches —
    the SaaS create/update sink half. Returns rows sent.

    Guard rail: this collects to the driver, so it refuses unbounded
    inputs — cap with limit()/truncate_with_spillover first; large
    exports belong in parquet (DataStore), not a SaaS API.
    """
    rows, too_many = take_capped(df, 100_000)
    if too_many:
        raise ValueError(
            "external_sink refuses >100k rows; write parquet instead"
        )
    for i in range(0, len(rows), batch_size):
        send(rows[i : i + batch_size])
    return len(rows)
