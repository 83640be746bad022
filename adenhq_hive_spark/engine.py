"""Engine API: SQL in, reference-shaped result envelope out.

The reference's query tools all return the same row-oriented envelope
``{success, columns, column_count, rows, row_count}`` (csv_tool.py:368-376,
excel_tool.py:128-139, bigquery_tool.py:235-243) and enforce a read-only
SELECT surface via a keyword blocklist (csv_tool.py:333-352; the BigQuery
variant strips comments first, bigquery_tool.py:27-58).

Here the gate is done properly: parse the statement with Spark's own SQL
parser and reject anything that is not a pure query (DDL/DML parse to
``Command``/``*Statement`` plan nodes).  No regex fragility — a literal
string containing "DROP" passes, an actual ``DROP TABLE`` cannot.

Result materialization is capped (``max_rows``, like bigquery_tool.py's
clamp at 209-214) with a ``truncated`` flag (bigquery_tool.py:233) so the
API edge never collects an unbounded result to the driver.

This module is the one tool edge behind every SQL and read tool: the
``MAX_ROWS_CAP`` clamp (``clamp_rows``), the gate (``gated_df``), the
capped collect (``take_capped`` / ``capped_envelope``) and the
offset/limit page (``read_page``). ``Engine.sql``, the csv/jsonl/excel
``*_sql`` tools, ``run_bigquery_query`` and the graph ``sql`` node call
them; no tool gates, clamps or caps its collect on its own.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field, replace
from typing import Any

from pyspark.sql import DataFrame, SparkSession

from .catalog import DEFAULT_SF_DIR, register_views
from .session import codegen_compile_counter


class ReadOnlyViolation(Exception):
    """Raised when a statement is not a read-only query."""


class MissingConnector(NotImplementedError):
    """Raised by a build step whose data source is not installed (the
    BigQuery connector jar). The one error ``capped_envelope`` lets
    through: every other failure, Spark's own ``NotImplementedError``
    subclasses included, becomes an error envelope."""


@dataclass
class ResultEnvelope:
    """The reference's tabular result-set shape (csv_tool.py:71-81)."""

    success: bool
    columns: list[str] = field(default_factory=list)
    rows: list[dict[str, Any]] = field(default_factory=list)
    row_count: int = 0
    column_count: int = 0
    truncated: bool = False
    error: str | None = None

    def to_dict(self) -> dict[str, Any]:
        out = {
            "success": self.success,
            "columns": self.columns,
            "column_count": self.column_count,
            "rows": self.rows,
            "row_count": self.row_count,
            "truncated": self.truncated,
        }
        if self.error is not None:
            out["error"] = self.error
        return out

    def to_tool_dict(self) -> dict[str, Any]:
        """The file tools' shape (csv_tool.py:368-376): ``to_dict`` with
        ``query_truncated`` for ``truncated``, or ``{success, error}``."""
        if not self.success:
            return {"success": False, "error": self.error}
        out = self.to_dict()
        out["query_truncated"] = out.pop("truncated")
        return out


def assert_read_only(spark: SparkSession, sql: str) -> None:
    """Reject non-query statements by inspecting the parsed logical plan.

    Queries parse to relational nodes (Project/Aggregate/Sort/...); every
    write/DDL path in Spark parses to a ``Command`` subclass or a
    ``*Statement``/``*Command`` node.  Multi-statement input is rejected by
    the parser itself (it only accepts a single statement).
    """
    parser = spark._jsparkSession.sessionState().sqlParser()
    try:
        plan = parser.parsePlan(sql)
    except Exception as exc:  # ParseException from the JVM
        raise ReadOnlyViolation(f"SQL failed to parse: {exc}") from exc

    cls_name = plan.getClass().getName()
    simple = cls_name.rsplit(".", 1)[-1]
    jvm = spark.sparkContext._jvm
    is_command = False
    for marker in (
        "org.apache.spark.sql.catalyst.plans.logical.Command",
        "org.apache.spark.sql.catalyst.plans.logical.ParsedStatement",
    ):
        try:
            marker_cls = jvm.java.lang.Class.forName(marker)
            if marker_cls.isInstance(plan):
                is_command = True
                break
        except Exception:
            continue
    if is_command or simple.endswith("Command") or simple.endswith("Statement"):
        raise ReadOnlyViolation(
            f"Only read-only queries are allowed; got {simple}. "
            "Write operations (INSERT/UPDATE/DELETE/CREATE/DROP/ALTER/...) "
            "are not permitted."
        )


MAX_ROWS_CAP = 10_000  # bigquery_tool.py:209-214

# (spark, sql) -> DataFrame: registers a tool's views, or reads remotely
Build = Callable[[SparkSession, str], DataFrame]


def clamp_rows(max_rows: int) -> int:
    """``max_rows`` clamped to 1..``MAX_ROWS_CAP``."""
    return max(1, min(int(max_rows), MAX_ROWS_CAP))


def gated_df(spark: SparkSession, sql: str, build: Build | None = None
             ) -> DataFrame:
    """Gated SQL → lazy DataFrame. ``build`` runs only after the gate
    passed, so a rejected statement registers no view and reads no file;
    without it the statement runs as ``spark.sql``."""
    assert_read_only(spark, sql)
    return spark.sql(sql) if build is None else build(spark, sql)


def take_capped(df: DataFrame, n: int) -> tuple[list[dict[str, Any]], bool]:
    """At most ``n`` rows as dicts, and whether more existed: collects
    ``n + 1`` rows instead of counting the whole result
    (bigquery_tool.py:227-233)."""
    taken = df.limit(n + 1).collect()
    return [r.asDict(recursive=True) for r in taken[:n]], len(taken) > n


def capped_envelope(to_df: Callable[[], DataFrame], max_rows: int
                    ) -> ResultEnvelope:
    """Clamp, build the gated DataFrame, capped collect, envelope. A gate
    rejection, a bad ``max_rows`` and an analysis or run failure all come
    back as an error envelope; only ``MissingConnector`` propagates."""
    try:
        n = clamp_rows(max_rows)
        df = to_df()
        rows, truncated = take_capped(df, n)
    except ReadOnlyViolation as exc:
        return ResultEnvelope(success=False, error=str(exc))
    except MissingConnector:
        raise
    except Exception as exc:  # analysis errors (unknown table/column)
        return ResultEnvelope(success=False, error=f"Query failed: {exc}")
    return ResultEnvelope(
        success=True,
        columns=list(df.columns),
        column_count=len(df.columns),
        rows=rows,
        row_count=len(rows),
        truncated=truncated,
    )


def read_page(df: DataFrame, limit: int, offset: int
              ) -> tuple[dict[str, Any], dict[str, Any]]:
    """One offset/limit page of ``df`` (csv_tool.py:57-64) as the keys
    every reader returns, ``{success, columns, rows, row_count,
    total_rows}``, and its cursor ``{offset, has_more}`` for the readers
    that report one. Negative ``limit``/``offset`` clamp to 0."""
    limit = max(0, int(limit))
    offset = max(0, int(offset))
    sliced = df.offset(offset).limit(limit) if offset else df.limit(limit)
    rows = [r.asDict(recursive=True) for r in sliced.collect()]
    # A short page that is non-empty, or starts at 0, reached the end of
    # the data: its total is exact without a second (count) job.
    ended = len(rows) < limit and (len(rows) > 0 or offset == 0)
    total = offset + len(rows) if ended else df.count()
    page = {
        "success": True,
        "columns": list(df.columns),
        "rows": rows,
        "row_count": len(rows),
        "total_rows": total,
    }
    return page, {"offset": offset, "has_more": offset + len(rows) < total}


class Engine:
    """Thin façade: catalog registration + gated SQL + envelope edge.

    ``sql()`` is the reference's ``csv_sql``/``excel_sql``/``run_bigquery_query``
    surface unified: arbitrary read-only SELECT over the registered tables.
    """

    def __init__(
        self,
        spark: SparkSession,
        sf_dir: str = DEFAULT_SF_DIR,
        result_cache_size: int = 128,
    ):
        self.spark = spark
        self.sf_dir = sf_dir
        # result cache (warehouse-style): envelopes keyed by normalized
        # (sql, max_rows), LRU-bounded. Sound because an Engine is bound
        # to one immutable sf_dir snapshot; rebind (new Engine) to see
        # new data. Opt-in per call — a cached envelope is shared, not
        # copied.
        from collections import OrderedDict

        self._result_cache: OrderedDict = OrderedDict()
        self._result_cache_size = result_cache_size
        self.cache_hits = 0
        self.cache_misses = 0
        # bounded query history (observability: what ran, how long, how
        # big, did it hit the cache) — the run-log surface for the SQL
        # side, sibling of operators/logs.py's runtime-log queries
        self._history: list[dict] = []
        self._history_size = 1000
        self._compiles = codegen_compile_counter(spark)
        register_views(spark, sf_dir)

    def _record(self, sql: str, max_rows: int, t0: float, compiles0: int,
                env: "ResultEnvelope", cached: bool) -> None:
        import time as _time

        self._history.append({
            "sql": sql,
            "max_rows": max_rows,
            "ms": round((_time.perf_counter() - t0) * 1000, 1),
            "codegen_compiles": self._compiles() - compiles0,
            "success": env.success,
            "row_count": env.row_count,
            "truncated": env.truncated,
            "cached": cached,
            "error": env.error,
        })
        if len(self._history) > self._history_size:
            del self._history[: -self._history_size]

    def history(self, limit: int = 50) -> list[dict]:
        """The most recent ``limit`` sql() invocations, oldest first —
        statement, wall ms, row count, truncation, cache hit, error, and
        ``codegen_compiles``: how many generated classes Janino compiled
        during the call (0 when every class came from Spark's cache).
        That count is JVM-wide, so a call that overlaps other queries in
        the same JVM also counts their compiles."""
        if limit <= 0:  # [-0:] would be the FULL list
            return []
        return list(self._history[-limit:])

    def df(self, sql: str) -> DataFrame:
        """Gated SQL → lazy DataFrame (no materialization)."""
        return gated_df(self.spark, sql)

    def sql(
        self, sql: str, max_rows: int = 1000, use_cache: bool = False
    ) -> ResultEnvelope:
        """Gated SQL → materialized envelope, capped at ``max_rows``
        (``capped_envelope``).

        ``use_cache=True`` memoizes successful envelopes per normalized
        (sql, max_rows) — the snapshot is immutable, so a repeat of the
        same statement re-reads nothing. Whitespace normalization of the
        key is applied only when the statement carries no string
        literal — collapsing runs of spaces INSIDE a literal would make
        semantically different queries collide.
        """
        import time as _time

        t0 = _time.perf_counter()
        compiles0 = self._compiles()
        cache_key = None
        if use_cache:
            normalized = (
                " ".join(sql.split())
                if "'" not in sql and '"' not in sql
                else sql
            )
            cache_key = (normalized, max_rows)
        cached = cache_key in self._result_cache
        if cached:
            self._result_cache.move_to_end(cache_key)
            self.cache_hits += 1
            env = self._copy_env(self._result_cache[cache_key])
        else:
            env = capped_envelope(lambda: self.df(sql), max_rows)
            if cache_key is not None:
                self.cache_misses += 1
                if env.success:
                    # the cached snapshot must be private: the envelope
                    # handed back on the MISS is as mutable to the caller
                    # as a hit copy (rows hold nested lists/dicts from
                    # asDict(recursive=True), so both store and return
                    # sides need deep copies)
                    self._result_cache[cache_key] = self._copy_env(env)
                    while len(self._result_cache) > self._result_cache_size:
                        self._result_cache.popitem(last=False)
        self._record(sql, max_rows, t0, compiles0, env, cached=cached)
        return env

    @staticmethod
    def _copy_env(env: ResultEnvelope) -> ResultEnvelope:
        """Deep per-call copy of a cached envelope: fresh row dicts AND
        fresh nested containers (arrays/structs collect as lists/dicts),
        so no caller mutation can reach the cached snapshot."""
        import copy as _copy

        return replace(
            env,
            columns=list(env.columns),
            rows=_copy.deepcopy(env.rows),
        )

    def describe_dataset(self, with_row_counts: bool = True) -> dict:
        """Catalog listing with row counts by default
        (``bigquery_tool.describe_dataset``)."""
        from .sources.bigquery_tool import describe_dataset

        return describe_dataset(self.spark, with_row_counts)

    def explain(self, sql: str, mode: str = "formatted") -> dict:
        """Gated SQL → optimizer-plan report, no execution.

        The query-inspection surface the reference's SQL tools lack but
        any 100 TB operator needs before running: the FINAL Catalyst
        physical plan plus the scan-health facts that predict cost —
        per-scan pushed filters and read schemas (is the filter/projection
        reaching parquet?), whether every join is broadcast or an
        exchange, and the exchange count (shuffle budget). Read-only
        gated like ``sql``; planning happens on the driver, nothing runs.

        Returns ``{success, plan, scans: [{pushed_filters, read_schema}],
        n_exchanges, n_broadcast_joins, n_sort_merge_joins,
        n_codegen_subtrees, whole_stage_codegen}``.
        """
        try:
            df = self.df(sql)
        except ReadOnlyViolation as exc:
            return {"success": False, "error": str(exc)}
        except Exception as exc:  # analysis errors (unknown table/column)
            return {"success": False, "error": f"Query failed: {exc}"}
        import contextlib
        import io

        def _capture(m) -> str:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(m)
            return buf.getvalue()

        explained = _capture(mode)
        # `codegen` mode prints "Found N WholeStageCodegen subtrees";
        # with AQE enabled the count is for the PRE-execution plan (AQE
        # finalizes codegen per stage at runtime) — 0 here means "not
        # determined yet", not "interpreted" (run-then-explain for final
        # spans; scripts/explain_audit.py does that for the headline set)
        import re as _re

        m = _re.search(r"Found (\d+) WholeStageCodegen", _capture("codegen"))
        n_codegen = int(m.group(1)) if m else 0
        # node counts from the formatted detail headers "(N) NodeName" —
        # exact one-per-node, unlike substring counting, which sees each
        # node twice (tree line + header) and matches BroadcastExchange/
        # ReusedExchange inside "Exchange"
        detail = explained if mode == "formatted" else _capture("formatted")
        nodes = _re.findall(r"^\(\d+\) (\S+)", detail, _re.M)
        from collections import Counter as _Counter

        node_counts = _Counter(nodes)
        scans = []
        for block in explained.split("Scan parquet")[1:]:
            facts: dict[str, str] = {}
            for line in block.splitlines():
                line = line.strip()
                if line.startswith("PushedFilters:"):
                    facts["pushed_filters"] = line.split(":", 1)[1].strip()
                elif line.startswith("ReadSchema:"):
                    facts["read_schema"] = line.split(":", 1)[1].strip()
            if facts:  # the plan-tree mention carries no detail lines
                scans.append(facts)
        return {
            "success": True,
            "plan": explained,
            "scans": scans,
            "n_exchanges": node_counts["Exchange"],
            "n_broadcast_joins": node_counts["BroadcastHashJoin"],
            "n_sort_merge_joins": node_counts["SortMergeJoin"],
            "n_codegen_subtrees": n_codegen,
            "whole_stage_codegen": n_codegen > 0,
        }
