"""Table catalog: explicit StructType schemas for the driver testdata and
temp-view registration.

The reference infers schemas at the edge (DuckDB ``read_csv_auto``,
csv_tool.py:358; Excel header row, excel_tool.py:79-121) and declares them
per node (node.py:185-198).  Here the ten testdata tables get explicit
schemas (FIXTURES.md) — never ``inferSchema`` — so a schema drift in the
input fails fast instead of silently changing types.  At 100 TB scale an
explicit schema also avoids a footer-sampling pass over thousands of files.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, DataFrameReader, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamReader

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # Logical schema (what every consumer sees). The PHYSICAL ts type has
    # varied across testdata generator versions — TIMESTAMP(NANOS) vs
    # TIMESTAMP(MICROS) — so the events read path detects the unit from the
    # parquet footer (events_ts_unit below) instead of hardcoding either.
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Raw read schema for ns-era events files: Spark has no ns timestamp, so
# with spark.sql.legacy.parquet.nanosAsLong=true the column reads as LongType
# and read_events converts ns → µs. DuckDB applies the same floor-truncation
# when casting TIMESTAMP_NS → TIMESTAMP, so both engines see identical µs.
EVENTS_SCHEMA_NS = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)

_EVENTS_TS_UNIT_CACHE: dict[str, str] = {}


def events_ts_unit(path: str) -> str:
    """Physical ts unit ('ns' or 'us') of an events parquet, from the footer.

    One driver-side footer read per path (cached) — on a cluster this is a
    single metadata fetch, not a data scan. Detecting beats hardcoding: the
    testdata generator has emitted both TIMESTAMP(NANOS) and
    TIMESTAMP(MICROS) across versions, and reading ns data as µs (or vice
    versa) is silently wrong by 1000×.
    """
    unit = _EVENTS_TS_UNIT_CACHE.get(path)
    if unit is None:
        import pyarrow.parquet as pq

        target = path
        if os.path.isdir(path):
            parts = sorted(
                n for n in os.listdir(path) if n.endswith(".parquet")
            )
            if parts:
                target = os.path.join(path, parts[0])
        ts_type = pq.read_schema(target).field("ts").type
        unit = getattr(ts_type, "unit", "ns") or "ns"
        _EVENTS_TS_UNIT_CACHE[path] = unit
    return unit


# Keyed by the live SparkSession OBJECT (weakly): entries die with their
# session, so a new session that happens to reuse a dead session's address
# can never receive DataFrames bound to the old (stopped) session, and the
# cache cannot grow across session lifetimes.
_TABLE_CACHE: "weakref.WeakKeyDictionary[SparkSession, dict[tuple[str, str], DataFrame]]" = (
    weakref.WeakKeyDictionary()
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one testdata table with its declared schema.

    Reading with an explicit schema (not ``inferSchema``/footer merge) keeps
    the scan single-pass; parquet column pruning + predicate pushdown then
    apply per query. The analyzed DataFrame is cached per (session,
    sf_dir, table): testdata paths are immutable within a run, and reusing
    the relation skips repeated file-listing/footer work in per-query
    fixed overhead (lazy plan only — no data is cached).
    """
    per_session = _TABLE_CACHE.setdefault(spark, {})
    key = (sf_dir, name)
    cached = per_session.get(key)
    if cached is not None:
        return cached
    df = _load_table_uncached(spark, sf_dir, name)
    per_session[key] = df
    return df


def _load_table_uncached(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        return read_events(spark, spark.read, path)
    return spark.read.schema(SCHEMAS[name]).parquet(path)


def read_events(
    spark: SparkSession,
    reader: DataFrameReader | DataStreamReader,
    path: str,
    source: str | None = None,
) -> DataFrame:
    """The one events read, batch or stream: ``reader`` is ``spark.read``
    or a configured ``spark.readStream``, ``path`` the events parquet
    whose footer gives the ts unit, and ``source`` what the reader loads
    (default ``path``; a file stream watches a directory).

    µs-era files read with the declared schema as they are.  ns-era
    files read ts as a BIGINT (``nanosAsLong``) and convert it by
    integer ns→µs floor division, which keeps full precision (a double
    division at 1.7e18 would not) and matches DuckDB's ns→µs cast.
    """
    if events_ts_unit(path) == "ns":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        raw = reader.schema(EVENTS_SCHEMA_NS).parquet(source or path)
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000"))
        ).select(*SCHEMAS["events"].names)
    return reader.schema(SCHEMAS["events"]).parquet(source or path)


_REGISTERED_MARKER = "spark.spark_graft.registered_sf_dir"


def register_views(spark: SparkSession, sf_dir: str, force: bool = False) -> None:
    """Register all testdata tables as temp views (idempotent, cached).

    Mirrors the reference's table-alias registration (csv_tool.py:358
    registers the file as table ``data``; excel_tool.py:603 one view per
    sheet) — here one view per testdata table under its own name.
    Re-registration is skipped when the same sf_dir is already active on
    this session (saves ~10 parquet-footer reads per query call).
    """
    # Timestamp semantics guard: collected timestamps and every
    # year()/date_trunc() result depend on the session timezone. The
    # DuckDB oracle is UTC-naive, so a non-UTC driver session would shift
    # every timestamp-valued result. Set it here (runtime-settable) so
    # the contract holds on sessions we don't configure.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        if not force and spark.conf.get(_REGISTERED_MARKER, None) == sf_dir:
            return
    except Exception:
        pass
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
    spark.conf.set(_REGISTERED_MARKER, sf_dir)


def spread_small_scan(df: DataFrame) -> DataFrame:
    """Round-robin ``df`` to the default parallelism when its plan reads
    at most half that many partitions; otherwise return it as it is.

    Why it exists: the local testdata tables are single-row-group
    parquet files, and a row group is the unit of split — every
    downstream map stage (regex batteries, shingle explosion, md5
    ladders, partial aggregation) inherits a 1-2 task scan no matter how
    many cores the session has. Spreading costs one small round-robin
    exchange and buys full-width compute (measured 2.3-2.6x on the
    regex/shingle tiers at sf0.1). At cluster scale the scan is already
    wide and this is a no-op.

    The width comes from the physical plan, never from ``df.rdd``: under
    AQE that runs every shuffle, broadcast and cache build below the
    frame, and the caller's action then runs them again.
    """
    par = df.sparkSession.sparkContext.defaultParallelism
    width = _scan_width(df._jdf.queryExecution().executedPlan())
    return df.repartition(par) if width is not None and width * 2 <= par else df


def _scan_width(plan) -> int | None:
    """Partitions the stream side of a physical plan reads (a union's
    sum, else its widest child), or None when a shuffle sets it. AQE,
    cached and reused plans are walked, not run; a broadcast counts 0;
    a leaf's RDD is built but never run."""
    cls = plan.getClass().getSimpleName()
    if cls in ("ShuffleExchangeExec", "ShuffleQueryStageExec", "AQEShuffleReadExec"):
        return None
    if cls in ("BroadcastExchangeExec", "BroadcastQueryStageExec"):
        return 0
    if cls == "AdaptiveSparkPlanExec":
        return _scan_width(plan.executedPlan())
    if cls == "InMemoryTableScanExec":
        return _scan_width(plan.relation().cachedPlan())
    if cls == "ReusedExchangeExec":
        return _scan_width(plan.child())
    if cls.endswith("QueryStageExec"):
        return _scan_width(plan.plan())
    kids = plan.children()
    if kids.isEmpty():
        return plan.execute().getNumPartitions()
    widths = [_scan_width(kids.apply(i)) for i in range(kids.size())]
    if None in widths:
        return None
    return sum(widths) if cls == "UnionExec" else max(widths)


_PYTHON_EVAL = "org.apache.spark.sql.execution.python.PythonSQLMetrics"


def python_eval_census(df: DataFrame) -> tuple[int, int]:
    """(Python eval nodes, the most of them on one root-to-leaf path of
    one stage) in ``df``'s physical plan as planned.

    A task gives each Python eval node it runs its own worker process,
    all alive at once, so the second number is the workers one task of
    the worst stage holds. A stage ends at an exchange; a cached
    relation's plan is walked once, as a stage of its own; a reused
    exchange is counted where it was first planned. Nothing runs."""
    metrics = df.sparkSession._jvm.java.lang.Class.forName(_PYTHON_EVAL)
    identity = df.sparkSession._jvm.java.lang.System.identityHashCode
    stages, cached, nodes, longest = [df._jdf.queryExecution().executedPlan()], set(), 0, 0

    def chain(plan) -> int:
        nonlocal nodes
        cls = plan.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            return chain(plan.executedPlan())
        if cls in ("ShuffleExchangeExec", "BroadcastExchangeExec"):
            stages.append(plan.child())
            return 0
        if cls.endswith("QueryStageExec"):
            stages.append(plan.plan())
            return 0
        if cls == "ReusedExchangeExec":
            return 0
        if cls == "InMemoryTableScanExec":
            relation = identity(plan.relation().cacheBuilder())
            if relation not in cached:
                cached.add(relation)
                stages.append(plan.relation().cachedPlan())
            return 0
        kids = plan.children()
        below = max((chain(kids.apply(i)) for i in range(kids.size())), default=0)
        if metrics.isInstance(plan):
            nodes += 1
            return below + 1
        return below

    while stages:
        longest = max(longest, chain(stages.pop()))
    return nodes, longest
