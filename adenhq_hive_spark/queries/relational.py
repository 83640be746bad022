"""Q1-Q60: the declared relational correctness contract (SURVEY.md §2.11).

Every query here reproduces a capability of the reference's SQL surface
(csv_sql, reference csv_tool.py:273-385; excel_sql, excel_tool.py:473-654;
run_bigquery_query, bigquery_tool.py:149-275 — all promise "standard SQL")
or a runtime behavior with a batch image (runtime_logs_tool.py filters,
event_bus.py pub/sub, shared-state sessionization).

Dialect rules (SURVEY §5.4): one portable SQL string runs on BOTH Spark and
the DuckDB oracle unless the spec sets ``oracle_sql_str`` (dual-form).
Determinism discipline, applied throughout:

- every LIMIT is preceded by a total-order ORDER BY (unique tie-break key);
- money/quantity sums go through DECIMAL (exact, order-independent) and are
  cast back to DOUBLE, so Spark's partial aggregation order can't change
  the value: ``CAST(SUM(CAST(x AS DECIMAL(18,4))) AS DOUBLE)``;
- averages are computed as exact-decimal-sum / count, then ROUND 4;
- no double→int CAST (Spark truncates, DuckDB rounds) — FLOOR/CEIL only;
- computed integer columns are cast explicitly (Spark int vs DuckDB int64);
- strings cast via VARCHAR(n) (valid in both; Spark ignores into string).
"""

from __future__ import annotations

import re

from . import QuerySpec, register

# ---- shared SQL fragments -------------------------------------------------

# Exact, order-independent sum of a money/quantity double column.
def _dsum(expr: str, alias: str, scale: int = 4) -> str:
    return f"CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE) AS {alias}"


# Exact average: decimal sum / count, rounded to 4.
def _davg(expr: str, alias: str, scale: int = 4) -> str:
    return (
        f"ROUND(CAST(SUM(CAST({expr} AS DECIMAL(18,{scale}))) AS DOUBLE)"
        f" / COUNT(*), 4) AS {alias}"
    )


_DSUM_RE = re.compile(
    r"CAST\(SUM\(CAST\((.+?) AS DECIMAL\(18,4\)\)\) AS DOUBLE\)"
)


def _fast_money(sql: str) -> str:
    """Rewrite decimal money sums to a scaled-BIGINT split for the Spark side.

    SUM over DECIMAL(18,4) forces Spark's decimal(28,4) aggregation buffer
    off the Long-backed fast path into per-row BigDecimal arithmetic (~2x
    whole-query cost on TPC-H Q1 at 6M rows). Equivalent exact plan that
    stays inside whole-stage codegen:

    - per row: quantize to a scaled integer q = CAST(x*10000 +
      sign-aware half AS BIGINT). CAST(double AS BIGINT) truncates
      toward zero, so the half must carry the operand's sign
      (+0.5 for x >= 0, -0.5 for x < 0) to round half away from zero —
      the same HALF_UP rule as Spark's decimal cast, for either sign.
      For this data (<= 4 decimal digits of true precision) q equals
      the decimal cast bit-for-bit.
    - per group: two BIGINT sums over q DIV 1e6 and q % 1e6. Spark's
      DIV truncates toward zero and % takes the dividend's sign, so
      (q DIV d)*d + (q % d) == q for negative q too. The hi/lo
      split keeps each partial < 9.2e18 out to ~1e12 rows per group --
      overflow-proof far past 100 TB, where a single SUM(q) would not be.
    - finalize: recombine hi*1e6 + lo in DECIMAL(38,0) (one decimal op per
      group, not per row), cast to DOUBLE, unscale.

    The DuckDB oracle keeps the portable decimal form (its hugeint-backed
    decimal sum is already fast); both sides produce identical doubles.
    """

    def repl(m: re.Match[str]) -> str:
        x = m.group(1)
        q = (
            f"CAST(({x}) * 10000 + "
            f"(CASE WHEN ({x}) < 0 THEN -0.5 ELSE 0.5 END) AS BIGINT)"
        )
        return (
            f"(CAST(CAST(SUM({q} DIV 1000000) AS DECIMAL(38,0)) * 1000000"
            f" + SUM({q} % 1000000) AS DOUBLE) / 10000)"
        )

    return _DSUM_RE.sub(repl, sql)


def _QM(**kw) -> QuerySpec:
    """Register a money-sum query: the portable decimal-sum SQL stays the
    DuckDB oracle; Spark runs the ``_fast_money`` scaled-BIGINT rewrite."""
    sql = kw.pop("engine_sql")
    return register(
        QuerySpec(engine_sql=_fast_money(sql), oracle_sql_str=sql, **kw)
    )


Q = register

# ---- scans / projections / predicates (Q1-Q5) -----------------------------

Q(QuerySpec(
    name="q01",
    doc="Scan + projection + rename + offset/limit pagination "
        "(csv_read offset/limit csv_tool.py:57-64; input_mapping rename "
        "edge.py:276-303).",
    engine_sql="""
        SELECT c_custkey AS id, c_name AS name
        FROM customer
        ORDER BY c_custkey NULLS LAST
        LIMIT 50 OFFSET 10
    """,
))

Q(QuerySpec(
    name="q02",
    doc="Arithmetic + comparison predicate (safe_eval arith/compare, "
        "safe_eval.py:105-115).",
    engine_sql="""
        SELECT l_orderkey, l_linenumber
        FROM lineitem
        WHERE l_extendedprice * (1 - l_discount) > 30000 AND l_quantity >= 25
        ORDER BY l_orderkey NULLS LAST, l_linenumber NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q03",
    doc="Chained/boolean predicate with BETWEEN, OR, LIKE "
        "(safe_eval boolean ops safe_eval.py:117-130).",
    engine_sql="""
        SELECT o_orderkey
        FROM orders
        WHERE o_totalprice BETWEEN 1000 AND 200000
          AND (o_orderstatus = 'F' OR o_orderpriority LIKE '1-%')
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q04",
    doc="IN-list + CASE (safe_eval `in` + ternary, safe_eval.py:125-144).",
    engine_sql="""
        SELECT o_orderkey,
               CASE WHEN o_orderstatus IN ('F','O') THEN 'known' ELSE 'other' END AS st
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q05",
    doc="Status rollup — runtime-log analog: filter/sort/limit over run "
        "summaries (runtime_logs_tool.py:127-138; outcome counters "
        "outcome_aggregator.py:105-110).",
    engine_sql="""
        SELECT o_orderstatus AS status, COUNT(*) AS n
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY n DESC NULLS LAST, status NULLS LAST
        LIMIT 10
    """,
))

# ---- aggregations (Q6-Q19) ------------------------------------------------

_QM(
    name="q06",
    doc="TPC-H Q1 pricing summary — grouped multi-aggregate over the fact "
        "table (documented GROUP BY surface csv_tool.py:301-303).",
    engine_sql=f"""
        SELECT l_returnflag, l_linestatus,
               {_dsum("l_quantity", "sum_qty")},
               {_dsum("l_extendedprice", "sum_base")},
               {_dsum("l_extendedprice * (1 - l_discount)", "sum_disc")},
               {_davg("l_quantity", "avg_qty")},
               COUNT(*) AS cnt
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
)

_QM(
    name="q07",
    doc="Multi-key aggregation: orders by (year, priority).",
    engine_sql=f"""
        SELECT CAST(YEAR(o_orderdate) AS INT) AS yr, o_orderpriority,
               COUNT(*) AS n, {_dsum("o_totalprice", "total")}
        FROM orders
        GROUP BY CAST(YEAR(o_orderdate) AS INT), o_orderpriority
        ORDER BY yr NULLS LAST, o_orderpriority NULLS LAST
    """,
)

_QM(
    name="q08",
    doc="Global aggregate, no GROUP BY (csv_info row stats analog, "
        "csv_tool.py:214-271).",
    engine_sql=f"""
        SELECT COUNT(*) AS cnt,
               MIN(l_extendedprice) AS min_price,
               MAX(l_extendedprice) AS max_price,
               {_dsum("l_quantity", "sum_qty")}
        FROM lineitem
    """,
)

Q(QuerySpec(
    name="q09",
    doc="COUNT(DISTINCT) per group.",
    engine_sql="""
        SELECT l_returnflag, COUNT(DISTINCT l_suppkey) AS n_supp
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag NULLS LAST
    """,
))

Q(QuerySpec(
    name="q10",
    doc="Two DISTINCT aggregates in one SELECT (Spark expand path).",
    engine_sql="""
        SELECT l_linestatus,
               COUNT(DISTINCT l_suppkey) AS n_supp,
               COUNT(DISTINCT l_partkey) AS n_part
        FROM lineitem
        GROUP BY l_linestatus
        ORDER BY l_linestatus NULLS LAST
    """,
))

Q(QuerySpec(
    name="q11",
    doc="HAVING: customers with more than 5 orders.",
    engine_sql="""
        SELECT o_custkey, COUNT(*) AS n_orders
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) > 5
        ORDER BY o_custkey NULLS LAST
    """,
))

_QM(
    name="q12",
    doc="ROLLUP (year, priority) with GROUPING() + COALESCE labels.",
    engine_sql=f"""
        SELECT COALESCE(CAST(yr AS VARCHAR(16)), 'ALL') AS yr_label,
               COALESCE(o_orderpriority, 'ALL') AS prio_label,
               CAST(GROUPING(yr) AS INT) AS g_yr,
               CAST(GROUPING(o_orderpriority) AS INT) AS g_prio,
               COUNT(*) AS n, {_dsum("o_totalprice", "total")}
        FROM (SELECT CAST(YEAR(o_orderdate) AS INT) AS yr, o_orderpriority,
                     o_totalprice
              FROM orders) t
        GROUP BY ROLLUP (yr, o_orderpriority)
        ORDER BY g_yr NULLS LAST, g_prio NULLS LAST,
                 yr_label NULLS LAST, prio_label NULLS LAST
    """,
)

_QM(
    name="q13",
    doc="CUBE over (returnflag, linestatus).",
    engine_sql=f"""
        SELECT COALESCE(l_returnflag, 'ALL') AS flag,
               COALESCE(l_linestatus, 'ALL') AS status,
               CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
               CAST(GROUPING(l_linestatus) AS INT) AS g_status,
               {_dsum("l_quantity", "sum_qty")}
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
        ORDER BY g_flag NULLS LAST, g_status NULLS LAST,
                 flag NULLS LAST, status NULLS LAST
    """,
)

Q(QuerySpec(
    name="q14",
    doc="GROUPING SETS ((mktsegment),(nationkey),()) over customer.",
    engine_sql="""
        SELECT COALESCE(c_mktsegment, 'ALL') AS seg,
               COALESCE(CAST(c_nationkey AS VARCHAR(16)), 'ALL') AS nat,
               CAST(GROUPING(c_mktsegment) AS INT) AS g_seg,
               CAST(GROUPING(c_nationkey) AS INT) AS g_nat,
               COUNT(*) AS n
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY g_seg NULLS LAST, g_nat NULLS LAST,
                 seg NULLS LAST, nat NULLS LAST
    """,
))

Q(QuerySpec(
    name="q15",
    doc="Conditional aggregation (SUM(CASE WHEN ...)) — pivot-style wide "
        "agg; status counters analog (outcome_aggregator.py:405-423).",
    engine_sql="""
        SELECT CAST(YEAR(o_orderdate) AS INT) AS yr,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
               CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o,
               CAST(SUM(CASE WHEN o_orderstatus = 'P' THEN 1 ELSE 0 END) AS BIGINT) AS n_p
        FROM orders
        GROUP BY CAST(YEAR(o_orderdate) AS INT)
        ORDER BY yr NULLS LAST
    """,
))

Q(QuerySpec(
    name="q16",
    doc="Statistical aggregates: stddev/var/corr (delegated-SQL stats "
        "surface).",
    engine_sql="""
        SELECT 'customer' AS src,
               ROUND(STDDEV_SAMP(c_acctbal), 4) AS sd,
               ROUND(VAR_POP(c_acctbal), 4) AS vp,
               CAST(NULL AS DOUBLE) AS corr_qp
        FROM customer
        UNION ALL
        SELECT 'lineitem' AS src,
               CAST(NULL AS DOUBLE) AS sd,
               CAST(NULL AS DOUBLE) AS vp,
               ROUND(CORR(l_quantity, l_extendedprice), 4) AS corr_qp
        FROM lineitem
        ORDER BY src NULLS LAST
    """,
))

Q(QuerySpec(
    name="q17",
    doc="Exact median per mktsegment — dual-form: Spark PERCENTILE vs "
        "DuckDB MEDIAN (both exact interpolated).",
    engine_sql="""
        SELECT c_mktsegment, ROUND(PERCENTILE(c_acctbal, 0.5), 4) AS med
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment NULLS LAST
    """,
    oracle_sql_str="""
        SELECT c_mktsegment, ROUND(MEDIAN(c_acctbal), 4) AS med
        FROM customer
        GROUP BY c_mktsegment
        ORDER BY c_mktsegment NULLS LAST
    """,
))

Q(QuerySpec(
    name="q18",
    doc="Deterministic sorted string_agg of nation names per region — "
        "dual-form: concat_ws(sort_array(collect_list)) vs "
        "string_agg(... ORDER BY).",
    engine_sql="""
        SELECT r.r_name,
               concat_ws(',', sort_array(collect_list(n.n_name))) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY r.r_name NULLS LAST
    """,
    oracle_sql_str="""
        SELECT r.r_name,
               string_agg(n.n_name, ',' ORDER BY n.n_name) AS nations
        FROM region r JOIN nation n ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name
        ORDER BY r.r_name NULLS LAST
    """,
))

Q(QuerySpec(
    name="q19",
    doc="Weighted aggregate — goal progress Σ(w·x)/Σ(w) "
        "(goal.py:155-163, outcome_aggregator.py:225-311).",
    engine_sql="""
        SELECT l_returnflag,
               ROUND(CAST(SUM(CAST(l_quantity * l_discount AS DECIMAL(18,6))) AS DOUBLE)
                     / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4)
                 AS weighted
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag NULLS LAST
    """,
))

# ---- search predicates (Q20-Q22) ------------------------------------------

Q(QuerySpec(
    name="q20",
    doc="contains/starts_with/ends_with search — excel_search match types "
        "(excel_tool.py:748-756), via portable LIKE forms.",
    engine_sql="""
        SELECT 'contains' AS mode, p_partkey FROM part WHERE p_name LIKE '%red%'
        UNION ALL
        SELECT 'starts' AS mode, p_partkey FROM part WHERE p_name LIKE 'small%'
        UNION ALL
        SELECT 'ends' AS mode, p_partkey FROM part WHERE p_name LIKE '%bolt'
        ORDER BY mode NULLS LAST, p_partkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q21",
    doc="Case-insensitive search (excel_search case_sensitive=False, "
        "excel_tool.py:748-756).",
    engine_sql="""
        SELECT p_partkey, p_type
        FROM part
        WHERE LOWER(p_type) LIKE '%econ%'
        ORDER BY p_partkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q22",
    doc="Regex predicate — grep_search (grep_search.py:12-100); dual-form "
        "rlike vs regexp_matches.",
    engine_sql="""
        SELECT p_partkey, p_name
        FROM part
        WHERE p_name RLIKE '^[a-f]'
        ORDER BY p_partkey NULLS LAST
    """,
    oracle_sql_str="""
        SELECT p_partkey, p_name
        FROM part
        WHERE regexp_matches(p_name, '^[a-f]')
        ORDER BY p_partkey NULLS LAST
    """,
))

# ---- joins (Q23-Q34) ------------------------------------------------------

Q(QuerySpec(
    name="q23",
    doc="Inner equi-join (excel_sql multi-sheet join surface, "
        "excel_tool.py:507-508).",
    engine_sql="""
        SELECT o.o_orderkey, c.c_name, o.o_totalprice
        FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        ORDER BY o.o_orderkey NULLS LAST
        LIMIT 100
    """,
))

_QM(
    name="q24",
    doc="4-way star join: revenue per (nation, year).",
    engine_sql=f"""
        SELECT n.n_name, CAST(YEAR(o.o_orderdate) AS INT) AS yr,
               {_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        GROUP BY n.n_name, CAST(YEAR(o.o_orderdate) AS INT)
        ORDER BY n.n_name NULLS LAST, yr NULLS LAST
    """,
)

_Q25_SQL = f"""
    SELECT /*+ BROADCAST(n), BROADCAST(r), BROADCAST(s), BROADCAST(c),
               SHUFFLE_HASH(l) */
           n.n_name,
           {_dsum("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM nation n
    JOIN region r ON n.n_regionkey = r.r_regionkey
                  AND r.r_name = 'ASIA'
    JOIN customer c ON c.c_nationkey = n.n_nationkey
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                    AND s.s_nationkey = c.c_nationkey
    GROUP BY n.n_name
    ORDER BY n.n_name NULLS LAST
"""

#: lineitem.parquet size above which q25 drops its static hints and
#: lets AQE plan the snowflake — the measured crossover (BASELINE.md
#: r8: hinted 5.71 s vs AQE 4.44 s at sf10; hints win at <= sf1).
#: ~1 GB sits between sf1 (~0.18 GB) and sf10 (~1.8 GB).
Q25_HINTS_MAX_BYTES = 1_000_000_000


def q25_engine_sql(hints: bool) -> str:
    """The q25 Spark SQL (scaled-BIGINT money rewrite), with or without
    the static join hints.  Hint presence is a pure physical-plan
    choice — the parity test asserts both forms collect identical
    values."""
    import re as _re

    sql = _fast_money(_Q25_SQL)
    if not hints:
        sql = _re.sub(r"/\*\+.*?\*/", "", sql, flags=_re.S)
    return sql


def _q25_builder(spark, sf):
    """Mechanical scale-mode (r8 verdict #5): static hints below the
    measured crossover, AQE above it — decided from the actual fact-
    table size on disk, not an advisory note."""
    import os as _os

    try:
        big = (
            _os.path.getsize(_os.path.join(sf, "lineitem.parquet"))
            > Q25_HINTS_MAX_BYTES
        )
    except OSError:
        big = False
    return spark.sql(q25_engine_sql(hints=not big))


Q(QuerySpec(
    name="q25",
    doc="6-way snowflake (TPC-H Q5 shape): local-supplier revenue per "
        "nation in ASIA. SCALE-MODE (BASELINE.md r8 q25 ledger): below "
        "the measured crossover the STATIC plan is final (no AQE "
        "re-plan rounds) - region filter reaches customer through "
        "nation BEFORE the fact joins, so the customer broadcast build "
        "is ASIA-only (~1/5 size) and the orders->lineitem shuffled-"
        "hash join probes 5x fewer rows; above ~1 GB of lineitem "
        "(between sf1 and sf10) the hints are stripped mechanically "
        "and AQE plans the join (hinted 5.71 s vs AQE 4.44 s at sf10). "
        "Both forms are value-identical (parity-pinned). DuckDB parses "
        "the hint as a comment, so the hinted string is the oracle.",
    builder=_q25_builder,
    oracle_sql_str=_Q25_SQL,
))


Q(QuerySpec(
    name="q26",
    doc="Left outer join with COALESCE for null probe side — customers "
        "including zero-order ones.",
    engine_sql="""
        SELECT c.c_custkey, CAST(COALESCE(oc.n_orders, 0) AS BIGINT) AS n_orders
        FROM customer c
        LEFT JOIN (SELECT o_custkey, COUNT(*) AS n_orders
                   FROM orders GROUP BY o_custkey) oc
          ON oc.o_custkey = c.c_custkey
        ORDER BY c.c_custkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q27",
    doc="Full outer join of two aggregated event slices (click counts vs "
        "purchase sums per user).",
    engine_sql="""
        SELECT COALESCE(a.user_id, b.user_id) AS user_id,
               CAST(COALESCE(a.n_clicks, 0) AS BIGINT) AS n_clicks,
               CAST(COALESCE(b.purchase_total, 0.0) AS DOUBLE) AS purchase_total
        FROM (SELECT user_id, COUNT(*) AS n_clicks
              FROM events WHERE event_type = 'click' GROUP BY user_id) a
        FULL OUTER JOIN
             (SELECT user_id,
                     CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS purchase_total
              FROM events WHERE event_type = 'purchase' GROUP BY user_id) b
          ON a.user_id = b.user_id
        ORDER BY user_id NULLS LAST
    """,
))

Q(QuerySpec(
    name="q28",
    doc="Left semi join via EXISTS: customers with at least one open order.",
    engine_sql="""
        SELECT c.c_custkey
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_orderstatus = 'O')
        ORDER BY c.c_custkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q29",
    doc="Left anti join via NOT EXISTS: customers with no pending ('P') "
        "orders.",
    engine_sql="""
        SELECT c.c_custkey
        FROM customer c
        WHERE NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderstatus = 'P')
        ORDER BY c.c_custkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q30",
    doc="Cross join of small dims: region × distinct order status.",
    engine_sql="""
        SELECT r.r_name, s.o_orderstatus
        FROM region r
        CROSS JOIN (SELECT DISTINCT o_orderstatus FROM orders) s
        ORDER BY r.r_name NULLS LAST, s.o_orderstatus NULLS LAST
    """,
))

Q(QuerySpec(
    name="q31",
    doc="Theta/range band join against a VALUES-derived size-class table.",
    engine_sql="""
        SELECT t.cls, COUNT(*) AS n
        FROM part p
        JOIN (VALUES ('small', 0, 15), ('medium', 16, 35), ('large', 36, 100))
             AS t(cls, lo, hi)
          ON p.p_size BETWEEN t.lo AND t.hi
        GROUP BY t.cls
        ORDER BY t.cls NULLS LAST
    """,
))

Q(QuerySpec(
    name="q32",
    doc="Self join: consecutive events of the same user "
        "(event_id is globally consecutive).",
    engine_sql="""
        SELECT e1.event_id AS id1, e2.event_id AS id2, e1.user_id
        FROM events e1
        JOIN events e2 ON e2.event_id = e1.event_id + 1
                       AND e2.user_id = e1.user_id
        ORDER BY e1.event_id NULLS LAST
        LIMIT 200
    """,
))

Q(QuerySpec(
    name="q33",
    doc="As-of join: for each purchase event, the latest click of the same "
        "user at or before it; portable window formulation "
        "(range join + row_number()=1). See operators/asof.py for the "
        "scalable merge-based implementation.",
    engine_sql="""
        SELECT purchase_id, click_id, click_ts
        FROM (
          SELECT p.event_id AS purchase_id, c.event_id AS click_id,
                 c.ts AS click_ts,
                 ROW_NUMBER() OVER (PARTITION BY p.event_id
                                    ORDER BY c.ts DESC, c.event_id DESC) AS rn
          FROM events p
          JOIN events c ON c.user_id = p.user_id
                        AND c.event_type = 'click'
                        AND c.ts <= p.ts
          WHERE p.event_type = 'purchase'
        ) x
        WHERE rn = 1
        ORDER BY purchase_id NULLS LAST
        LIMIT 2000
    """,
))

Q(QuerySpec(
    name="q34",
    doc="Interval-overlap join over derived per-user daily activity "
        "intervals (same day, different users).",
    engine_sql="""
        WITH iv AS (
          SELECT user_id, CAST(date_trunc('DAY', ts) AS TIMESTAMP) AS day,
                 MIN(ts) AS start_ts, MAX(ts) AS end_ts
          FROM events GROUP BY user_id, CAST(date_trunc('DAY', ts) AS TIMESTAMP)
        )
        SELECT a.day, a.user_id AS u1, b.user_id AS u2
        FROM iv a JOIN iv b
          ON a.day = b.day AND a.user_id < b.user_id
         AND a.start_ts < b.end_ts AND b.start_ts < a.end_ts
        ORDER BY a.day NULLS LAST, u1 NULLS LAST, u2 NULLS LAST
        LIMIT 500
    """,
))

# ---- sorts / top-k / frequency (Q35, Q42, Q43) ----------------------------

Q(QuerySpec(
    name="q35",
    doc="Top-k frequency: most common p_brand (pattern analysis, "
        "builder/query.py:222-283).",
    engine_sql="""
        SELECT p_brand, COUNT(*) AS n
        FROM part
        GROUP BY p_brand
        ORDER BY n DESC NULLS LAST, p_brand NULLS LAST
        LIMIT 10
    """,
))

Q(QuerySpec(
    name="q42",
    doc="Multi-key mixed asc/desc sort with explicit NULLS LAST "
        "(runtime_logs sort runtime_logs_tool.py:136).",
    engine_sql="""
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders
        ORDER BY o_orderstatus ASC NULLS LAST, o_totalprice DESC NULLS LAST,
                 o_orderkey ASC NULLS LAST
        LIMIT 200
    """,
))

Q(QuerySpec(
    name="q43",
    doc="Top-k: 25 highest-revenue lineitems (TakeOrderedAndProject path).",
    engine_sql="""
        SELECT l_orderkey, l_linenumber,
               ROUND(l_extendedprice * (1 - l_discount), 4) AS revenue
        FROM lineitem
        ORDER BY revenue DESC NULLS LAST,
                 l_orderkey NULLS LAST, l_linenumber NULLS LAST
        LIMIT 25
    """,
))

# ---- window functions (Q36-Q41) -------------------------------------------

Q(QuerySpec(
    name="q36",
    doc="Top-3 orders per customer via row_number (top-k per group).",
    engine_sql="""
        SELECT o_custkey, o_orderkey, o_totalprice
        FROM (
          SELECT o_custkey, o_orderkey, o_totalprice,
                 ROW_NUMBER() OVER (PARTITION BY o_custkey
                                    ORDER BY o_totalprice DESC, o_orderkey) AS rn
          FROM orders
        ) t
        WHERE rn <= 3
        ORDER BY o_custkey NULLS LAST, o_totalprice DESC NULLS LAST,
                 o_orderkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q37",
    doc="rank / dense_rank / ntile over supplier balances per nation.",
    engine_sql="""
        SELECT s_nationkey, s_suppkey,
               CAST(RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INT) AS rk,
               CAST(DENSE_RANK() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC) AS INT) AS drk,
               CAST(NTILE(4) OVER (PARTITION BY s_nationkey
                                   ORDER BY s_acctbal DESC, s_suppkey) AS INT) AS tile
        FROM supplier
        ORDER BY s_nationkey NULLS LAST, rk NULLS LAST, s_suppkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q38",
    doc="lag/lead: per-user event value deltas (event stream deltas).",
    engine_sql="""
        SELECT user_id, event_id,
               ROUND(value - (LAG(value) OVER w), 4) AS delta_prev,
               ROUND((LEAD(value) OVER w) - value, 4) AS delta_next
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id NULLS LAST, event_id NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q39",
    doc="first_value / last_value with explicit full frame.",
    engine_sql="""
        SELECT user_id, event_id,
               FIRST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_id,
               LAST_VALUE(event_id) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_id
        FROM events
        ORDER BY user_id NULLS LAST, event_id NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q40",
    doc="Running revenue per customer (ROWS UNBOUNDED PRECEDING; "
        "exact decimal running sum).",
    engine_sql="""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                    AS DOUBLE) AS running_total
        FROM orders
        ORDER BY o_custkey NULLS LAST, o_orderkey NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q41",
    doc="3-row moving average of order totals per customer "
        "(exact decimal sum / window count).",
    engine_sql="""
        SELECT o_custkey, o_orderkey,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
                     / COUNT(*) OVER w, 4) AS mov_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        ORDER BY o_custkey NULLS LAST, o_orderkey NULLS LAST
        LIMIT 500
    """,
))

# ---- set operations (Q44-Q46) ---------------------------------------------

Q(QuerySpec(
    name="q44",
    doc="UNION ALL + UNION (distinct) of tagged nationkey sets "
        "(fan-in convergence analog, executor.py:1734-1766).",
    engine_sql="""
        SELECT 'all' AS tag, CAST(k AS INT) AS k, COUNT(*) AS n FROM (
          SELECT c_nationkey AS k FROM customer
          UNION ALL
          SELECT s_nationkey AS k FROM supplier
        ) u GROUP BY k
        UNION ALL
        SELECT 'distinct' AS tag, CAST(k AS INT) AS k, 1 AS n FROM (
          SELECT c_nationkey AS k FROM customer
          UNION
          SELECT s_nationkey AS k FROM supplier
        ) d
        ORDER BY tag NULLS LAST, k NULLS LAST
    """,
))

Q(QuerySpec(
    name="q45",
    doc="INTERSECT and EXCEPT of customer vs supplier nation keys.",
    engine_sql="""
        SELECT 'both' AS tag, CAST(k AS INT) AS k FROM (
          SELECT c_nationkey AS k FROM customer
          INTERSECT
          SELECT s_nationkey AS k FROM supplier
        ) i
        UNION ALL
        SELECT 'cust_only' AS tag, CAST(k AS INT) AS k FROM (
          SELECT c_nationkey AS k FROM customer
          EXCEPT
          SELECT s_nationkey AS k FROM supplier
        ) e
        ORDER BY tag NULLS LAST, k NULLS LAST
    """,
))

Q(QuerySpec(
    name="q46",
    doc="DISTINCT dedup + md5 content key (dedup of cumulative lists, "
        "executor.py:670-679; exact-dedup tier).",
    engine_sql="""
        SELECT DISTINCT l_returnflag, l_linestatus,
               md5(concat(l_returnflag, '|', l_linestatus)) AS row_key
        FROM lineitem
        ORDER BY l_returnflag NULLS LAST, l_linestatus NULLS LAST
    """,
))

# ---- scalar function suites (Q47-Q51) -------------------------------------

Q(QuerySpec(
    name="q47",
    doc="String function suite over p_name (documented string surface "
        "csv_tool.py:301-306; coercion helpers excel_tool.py:792-801).",
    engine_sql="""
        SELECT p_partkey,
               UPPER(p_name) AS up, LOWER(p_name) AS lo,
               CAST(LENGTH(p_name) AS INT) AS len,
               TRIM(p_name) AS tr,
               SUBSTR(p_name, 1, 5) AS sub,
               REPLACE(p_name, ' ', '_') AS rep,
               CONCAT(p_brand, ':', p_name) AS cc,
               LPAD(p_brand, 12, '.') AS pad,
               CAST(INSTR(p_name, 'a') AS INT) AS pos_a,
               LEFT(p_name, 3) AS l3, RIGHT(p_name, 3) AS r3,
               REVERSE(p_brand) AS rev
        FROM part
        ORDER BY p_partkey NULLS LAST
        LIMIT 50
    """,
))

Q(QuerySpec(
    name="q48",
    doc="Date/time suite over o_orderdate (ISO-timestamp surface, "
        "excel_tool.py:796-797, time_tool.py:20).",
    engine_sql="""
        SELECT o_orderkey,
               CAST(YEAR(o_orderdate) AS INT) AS y,
               CAST(MONTH(o_orderdate) AS INT) AS m,
               CAST(DAY(o_orderdate) AS INT) AS d,
               CAST(date_trunc('MONTH', o_orderdate) AS TIMESTAMP) AS month_start,
               CAST(EXTRACT(HOUR FROM o_orderdate) AS INT) AS h
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q49",
    doc="Date arithmetic — dual-form: Spark date_add/datediff vs DuckDB "
        "INTERVAL/datediff('day').",
    engine_sql="""
        SELECT o_orderkey,
               CAST(date_add(CAST(o_orderdate AS DATE), 30) AS TIMESTAMP)
                 AS plus30,
               CAST(datediff(TIMESTAMP '2000-01-01 00:00:00', o_orderdate) AS INT)
                 AS days_to_y2k
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
    oracle_sql_str="""
        SELECT o_orderkey,
               CAST(CAST(o_orderdate + INTERVAL 30 DAY AS DATE) AS TIMESTAMP)
                 AS plus30,
               CAST(datediff('day', o_orderdate, TIMESTAMP '2000-01-01 00:00:00') AS INT)
                 AS days_to_y2k
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q50",
    doc="Math function suite (safe_eval arithmetic vocabulary, "
        "safe_eval.py:36-53,105-115).",
    engine_sql="""
        SELECT p_partkey,
               ABS(p_retailprice - 1000.0) AS a,
               ROUND(p_retailprice, 1) AS r,
               CAST(FLOOR(p_retailprice) AS BIGINT) AS fl,
               CAST(CEIL(p_retailprice) AS BIGINT) AS ce,
               ROUND(SQRT(p_retailprice), 4) AS sq,
               ROUND(POWER(p_size, 2), 4) AS pw,
               CAST(MOD(p_size, 7) AS INT) AS md,
               CAST(SIGN(p_retailprice - 1200.0) AS INT) AS sg,
               LEAST(p_retailprice, 1000.0) AS le,
               GREATEST(p_retailprice, 1000.0) AS ge
        FROM part
        ORDER BY p_partkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q51",
    doc="CASE / COALESCE / NULLIF / CAST suite (output_cleaner type "
        "vocabulary, output_cleaner.py:364-388).",
    engine_sql="""
        SELECT l_orderkey, l_linenumber,
               CASE WHEN l_discount > 0.05 THEN 'hi'
                    WHEN l_discount > 0.0  THEN 'lo'
                    ELSE 'none' END AS disc_band,
               ROUND(CAST(COALESCE(NULLIF(l_discount, 0.0), -1.0)
                          AS DOUBLE), 4) AS disc_or_sentinel,
               CAST(CAST(l_quantity AS DECIMAL(18,2)) AS DOUBLE) AS qty_dec,
               CAST(l_linenumber AS VARCHAR(16)) AS line_str
        FROM lineitem
        ORDER BY l_orderkey NULLS LAST, l_linenumber NULLS LAST
        LIMIT 200
    """,
))

# ---- LLM-pipeline tables (Q52-Q55) ----------------------------------------

Q(QuerySpec(
    name="q52",
    doc="documents text stats per language (text-analysis tier; "
        "documents table north star).",
    engine_sql="""
        SELECT lang, COUNT(*) AS n,
               ROUND(CAST(SUM(n_chars) AS DOUBLE) / COUNT(*), 4) AS avg_chars,
               CAST(MIN(LENGTH(text)) AS BIGINT) AS min_len,
               CAST(MAX(LENGTH(text)) AS BIGINT) AS max_len
        FROM documents
        GROUP BY lang
        ORDER BY lang NULLS LAST
    """,
))

Q(QuerySpec(
    name="q53",
    doc="Text dedup clusters by content fingerprint: exact md5 tier plus a "
        "prefix-shingle fingerprint (first 3 words) that yields real "
        "clusters on the testdata — dual-form (Spark slice/split are "
        "1-based like DuckDB list slicing).",
    engine_sql="""
        SELECT md5(concat_ws(' ', slice(split(text, ' '), 1, 3))) AS fp,
               COUNT(*) AS n,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id,
               COUNT(DISTINCT md5(text)) AS n_exact
        FROM documents
        GROUP BY md5(concat_ws(' ', slice(split(text, ' '), 1, 3)))
        HAVING COUNT(*) > 1
        ORDER BY fp NULLS LAST
    """,
    oracle_sql_str="""
        SELECT md5(array_to_string(string_split(text, ' ')[1:3], ' ')) AS fp,
               COUNT(*) AS n,
               CAST(MIN(doc_id) AS BIGINT) AS keep_id,
               COUNT(DISTINCT md5(text)) AS n_exact
        FROM documents
        GROUP BY md5(array_to_string(string_split(text, ' ')[1:3], ' '))
        HAVING COUNT(*) > 1
        ORDER BY fp NULLS LAST
    """,
))

Q(QuerySpec(
    name="q54",
    doc="Embedding array ops per label — dual-form: element_at/size vs "
        "[1]/len (DuckDB lists are 1-based like element_at).",
    engine_sql="""
        SELECT label, COUNT(*) AS n,
               ROUND(AVG(CAST(element_at(embedding, 1) AS DOUBLE)), 4) + 0.0
                 AS avg_c1,
               CAST(MIN(size(embedding)) AS INT) AS dim
        FROM embeddings
        GROUP BY label
        ORDER BY label NULLS LAST
    """,
    oracle_sql_str="""
        SELECT label, COUNT(*) AS n,
               ROUND(AVG(CAST(embedding[1] AS DOUBLE)), 4) + 0.0 AS avg_c1,
               CAST(MIN(len(embedding)) AS INT) AS dim
        FROM embeddings
        GROUP BY label
        ORDER BY label NULLS LAST
    """,
))

Q(QuerySpec(
    name="q55",
    doc="JSON extraction from events.props — dual-form: get_json_object vs "
        "json_extract_string (props kept as JSON string like the "
        "reference's data dicts, event_bus.py:115).",
    engine_sql="""
        SELECT event_type,
               CAST(SUM(CAST(get_json_object(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type NULLS LAST
    """,
    oracle_sql_str="""
        SELECT event_type,
               CAST(SUM(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS sum_k,
               COUNT(*) AS n
        FROM events
        GROUP BY event_type
        ORDER BY event_type NULLS LAST
    """,
))

# ---- streaming batch images (Q56-Q58) -------------------------------------

Q(QuerySpec(
    name="q56",
    doc="Event-bus subscription filter image: type-filtered counts "
        "(event_bus._matches, event_bus.py:265-288).",
    engine_sql="""
        SELECT event_type, COUNT(*) AS n,
               CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total
        FROM events
        WHERE event_type IN ('click', 'error', 'purchase')
        GROUP BY event_type
        ORDER BY event_type NULLS LAST
    """,
))

Q(QuerySpec(
    name="q57",
    doc="Tumbling-window image: hourly per-type counts "
        "(streaming window batch equivalent).",
    engine_sql="""
        SELECT CAST(date_trunc('HOUR', ts) AS TIMESTAMP) AS hour, event_type,
               COUNT(*) AS n,
               ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 4) AS total
        FROM events
        GROUP BY CAST(date_trunc('HOUR', ts) AS TIMESTAMP), event_type
        ORDER BY hour NULLS LAST, event_type NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q58",
    doc="Session windows via portable gap-and-island SQL (30-min gap); "
        "session semantics of the runtime's execution streams "
        "(shared_state.py scopes).",
    engine_sql="""
        WITH flagged AS (
          SELECT user_id, ts, event_id,
                 CASE WHEN LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           IS NULL THEN 1
                      WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           > INTERVAL 30 MINUTE THEN 1
                      ELSE 0 END AS new_session
          FROM events
        ), sessions AS (
          SELECT user_id, ts, event_id,
                 CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                   AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, COUNT(*) AS n_events,
               MIN(ts) AS session_start, MAX(ts) AS session_end
        FROM sessions
        GROUP BY user_id, session_id
        ORDER BY user_id NULLS LAST, session_id NULLS LAST
        LIMIT 1000
    """,
))

# ---- subqueries (Q59-Q60) -------------------------------------------------

Q(QuerySpec(
    name="q59",
    doc="Correlated scalar subquery: customers above their nation's "
        "average balance.",
    engine_sql="""
        SELECT c.c_custkey
        FROM customer c
        WHERE c.c_acctbal > (SELECT AVG(c2.c_acctbal) FROM customer c2
                             WHERE c2.c_nationkey = c.c_nationkey)
        ORDER BY c.c_custkey NULLS LAST
    """,
))

Q(QuerySpec(
    name="q60",
    doc="Uncorrelated subquery + IN: orders of the top-10 revenue "
        "customers.",
    engine_sql="""
        SELECT o_orderkey, o_custkey
        FROM orders
        WHERE o_custkey IN (
          SELECT o_custkey FROM (
            SELECT o_custkey,
                   CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS rev
            FROM orders GROUP BY o_custkey
            ORDER BY rev DESC NULLS LAST, o_custkey NULLS LAST
            LIMIT 10
          ) top10
        )
        ORDER BY o_orderkey NULLS LAST
    """,
))

# ---- extended coverage (Q61-Q68) ------------------------------------------

Q(QuerySpec(
    name="q61",
    doc="String suite 2: split_part/translate/repeat/rpad/instr — all "
        "portable names in both dialects.",
    engine_sql="""
        SELECT p_partkey,
               split_part(p_name, ' ', 1) AS first_word,
               split_part(p_brand, '#', 2) AS brand_num,
               translate(p_name, 'aeiou', '.....') AS devowel,
               repeat(p_brand, 2) AS twice,
               rpad(p_brand, 12, '.') AS padded,
               CAST(instr(p_name, 'e') AS INT) AS pos_e
        FROM part
        ORDER BY p_partkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q62",
    doc="Date suite 2: quarter / last_day / make_date / day-of-week "
        "(dual-form: Spark 1=Sunday vs DuckDB 0=Sunday).",
    engine_sql="""
        SELECT o_orderkey,
               CAST(QUARTER(o_orderdate) AS INT) AS qtr,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
                 AS month_end,
               CAST(make_date(CAST(YEAR(o_orderdate) AS INT), 1, 1)
                    AS TIMESTAMP) AS year_start,
               CAST(DAYOFWEEK(o_orderdate) - 1 AS INT) AS dow
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
    oracle_sql_str="""
        SELECT o_orderkey,
               CAST(QUARTER(o_orderdate) AS INT) AS qtr,
               CAST(last_day(CAST(o_orderdate AS DATE)) AS TIMESTAMP)
                 AS month_end,
               CAST(make_date(CAST(YEAR(o_orderdate) AS INT), 1, 1)
                    AS TIMESTAMP) AS year_start,
               CAST(DAYOFWEEK(o_orderdate) AS INT) AS dow
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q63",
    doc="Boolean aggregates + try_cast (graceful coercion, output_cleaner "
        "type repair analog).",
    engine_sql="""
        SELECT l_returnflag,
               bool_and(l_quantity > 0) AS all_positive,
               bool_or(l_discount > 0.09) AS any_deep_discount,
               CAST(SUM(CASE WHEN try_cast(l_linestatus AS INT) IS NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS non_numeric_status
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag NULLS LAST
    """,
))

Q(QuerySpec(
    name="q64",
    doc="NULL aggregation semantics: COUNT(col) skips NULLs, SUM of "
        "all-NULL is NULL, COALESCE at the aggregate level.",
    engine_sql="""
        SELECT o_orderstatus,
               COUNT(*) AS n_rows,
               COUNT(NULLIF(o_orderpriority, '5-LOW')) AS n_not_low,
               CAST(COALESCE(SUM(CAST(NULLIF(o_totalprice, o_totalprice)
                                      AS DECIMAL(18,4))), 0) AS DOUBLE)
                 AS sum_of_nulls
        FROM orders
        GROUP BY o_orderstatus
        ORDER BY o_orderstatus NULLS LAST
    """,
))

Q(QuerySpec(
    name="q65",
    doc="Two-level aggregation: average per-customer order count and "
        "spend (aggregate of aggregates).",
    engine_sql="""
        SELECT COUNT(*) AS n_customers,
               ROUND(CAST(SUM(n_orders) AS DOUBLE) / COUNT(*), 4)
                 AS avg_orders_per_cust,
               ROUND(CAST(SUM(spend) AS DOUBLE) / COUNT(*), 4)
                 AS avg_spend_per_cust
        FROM (
          SELECT o_custkey, COUNT(*) AS n_orders,
                 SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS spend
          FROM orders GROUP BY o_custkey
        ) per_cust
    """,
))

Q(QuerySpec(
    name="q66",
    doc="Array explode with position — dual-form: posexplode (0-based, "
        "+1) vs unnest + generate_subscripts (1-based).",
    engine_sql="""
        SELECT vec_id, CAST(pos + 1 AS BIGINT) AS pos,
               ROUND(CAST(val AS DOUBLE), 4) + 0.0 AS val
        FROM embeddings
        LATERAL VIEW posexplode(embedding) t AS pos, val
        WHERE vec_id < 3
        ORDER BY vec_id NULLS LAST, pos NULLS LAST
    """,
    oracle_sql_str="""
        SELECT vec_id,
               CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
               ROUND(CAST(unnest(embedding) AS DOUBLE), 4) + 0.0 AS val
        FROM embeddings
        WHERE vec_id < 3
        ORDER BY vec_id NULLS LAST, pos NULLS LAST
    """,
))

Q(QuerySpec(
    name="q67",
    doc="Correlated EXISTS on two columns: users who had an error after "
        "a purchase (event-sequence predicate).",
    engine_sql="""
        SELECT DISTINCT p.user_id
        FROM events p
        WHERE p.event_type = 'purchase'
          AND EXISTS (SELECT 1 FROM events e
                      WHERE e.user_id = p.user_id
                        AND e.event_type = 'error'
                        AND e.ts > p.ts)
        ORDER BY p.user_id NULLS LAST
    """,
))

Q(QuerySpec(
    name="q68",
    doc="HAVING over multiple aggregates with CASE: high-value volatile "
        "customers.",
    engine_sql="""
        SELECT o_custkey,
               COUNT(*) AS n,
               CAST(MAX(o_totalprice) - MIN(o_totalprice) AS DOUBLE) AS spread
        FROM orders
        GROUP BY o_custkey
        HAVING COUNT(*) >= 3
           AND MAX(o_totalprice) - MIN(o_totalprice) >
               CASE WHEN COUNT(*) > 10 THEN 300000 ELSE 150000 END
        ORDER BY o_custkey NULLS LAST
    """,
))

_QM(
    name="q69",
    doc="Pivot: returnflag x linestatus quantity matrix via conditional "
        "aggregation (one column per pivot value) on BOTH sides — the "
        "same shape Spark's native DataFrame pivot lowers to with an "
        "explicit value list, minus a distinct-values scan, and it "
        "keeps the money sums on the scaled-BIGINT fast path.",
    engine_sql=f"""
        SELECT l_returnflag,
               {_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity ELSE 0 END", "qty_F")},
               {_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity ELSE 0 END", "qty_O")}
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag NULLS LAST
    """,
)

Q(QuerySpec(
    name="q70",
    doc="Unpivot/melt: wide per-status counts back to long (engine: "
        "stack(); oracle: UNION ALL — the portable unpivot image).",
    engine_sql="""
        SELECT o_custkey, metric, CAST(val AS BIGINT) AS val
        FROM (
          SELECT o_custkey,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
          FROM orders GROUP BY o_custkey
        ) w
        LATERAL VIEW stack(2, 'n_f', n_f, 'n_o', n_o) t AS metric, val
        ORDER BY o_custkey NULLS LAST, metric NULLS LAST
        LIMIT 500
    """,
    oracle_sql_str="""
        WITH w AS (
          SELECT o_custkey,
                 CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_f,
                 CAST(SUM(CASE WHEN o_orderstatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_o
          FROM orders GROUP BY o_custkey
        )
        SELECT o_custkey, metric, val FROM (
          SELECT o_custkey, 'n_f' AS metric, n_f AS val FROM w
          UNION ALL
          SELECT o_custkey, 'n_o' AS metric, n_o AS val FROM w
        ) u
        ORDER BY o_custkey NULLS LAST, metric NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q71",
    doc="Distribution window functions: percent_rank / cume_dist over "
        "customer balances per segment (portable names).",
    engine_sql="""
        SELECT c_mktsegment, c_custkey,
               ROUND(PERCENT_RANK() OVER w, 4) AS pct_rank,
               ROUND(CUME_DIST() OVER w, 4) AS cume
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
        ORDER BY c_mktsegment NULLS LAST, c_custkey NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q72",
    doc="Bag semantics set ops: EXCEPT ALL keeps duplicate multiplicity "
        "(lineitem suppkeys minus 'R'-flag suppkeys).",
    engine_sql="""
        SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS n FROM (
          SELECT l_suppkey AS k FROM lineitem
          EXCEPT ALL
          SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
        ) e
        GROUP BY k
        ORDER BY k NULLS LAST
    """,
))

Q(QuerySpec(
    name="q73",
    doc="Date formatting — dual-form: Spark date_format pattern letters vs "
        "DuckDB strftime percent codes.",
    engine_sql="""
        SELECT o_orderkey,
               date_format(o_orderdate, 'yyyy-MM') AS ym,
               date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss') AS full_ts
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
    oracle_sql_str="""
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m') AS ym,
               strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS full_ts
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q74",
    doc="JSON construction — dual-form: to_json(struct(...)) vs "
        "to_json(struct_pack(...)); round-trips through the q55 "
        "extraction path.",
    engine_sql="""
        SELECT o_orderkey,
               to_json(struct(o_orderkey AS k, o_orderstatus AS s)) AS payload
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
    oracle_sql_str="""
        SELECT o_orderkey,
               to_json(struct_pack(k := o_orderkey, s := o_orderstatus)) AS payload
        FROM orders
        ORDER BY o_orderkey NULLS LAST
        LIMIT 100
    """,
))

Q(QuerySpec(
    name="q75",
    doc="Forward-looking window frame: average of the NEXT 3 order totals "
        "per customer (ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING, exact "
        "decimal sum / count).",
    engine_sql="""
        SELECT o_custkey, o_orderkey,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) OVER w AS DOUBLE)
                     / NULLIF(COUNT(*) OVER w, 0), 4) AS next3_avg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                     ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)
        ORDER BY o_custkey NULLS LAST, o_orderkey NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q76",
    doc="Argmax over array elements: each vector's max component and its "
        "1-based position (explode + ranked window) — dual-form "
        "(posexplode vs unnest+generate_subscripts).",
    engine_sql="""
        SELECT vec_id, CAST(pos + 1 AS BIGINT) AS pos,
               ROUND(CAST(val AS DOUBLE), 4) + 0.0 AS max_val
        FROM (
          SELECT vec_id, pos, val,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY val DESC, pos) AS rn
          FROM embeddings
          LATERAL VIEW posexplode(embedding) t AS pos, val
          WHERE vec_id < 100
        ) x
        WHERE rn = 1
        ORDER BY vec_id NULLS LAST
    """,
    oracle_sql_str="""
        SELECT vec_id, pos, max_val FROM (
          SELECT vec_id,
                 CAST(generate_subscripts(embedding, 1) AS BIGINT) AS pos,
                 ROUND(CAST(unnest(embedding) AS DOUBLE), 4) + 0.0
                   AS max_val,
                 unnest(embedding) AS raw_val
          FROM embeddings
          WHERE vec_id < 100
        ) e
        QUALIFY ROW_NUMBER() OVER (PARTITION BY vec_id
                                   ORDER BY raw_val DESC, pos) = 1
        ORDER BY vec_id NULLS LAST
    """,
))

Q(QuerySpec(
    name="q77",
    doc="nth_value with explicit full frame: each user's 2nd event id "
        "alongside first/last (frame-sensitive analytic completeness, "
        "extends q39).",
    engine_sql="""
        SELECT user_id, event_id,
               NTH_VALUE(event_id, 2) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                 AS second_id
        FROM events
        ORDER BY user_id NULLS LAST, event_id NULLS LAST
        LIMIT 300
    """,
))

Q(QuerySpec(
    name="q78",
    doc="INTERSECT ALL (bag semantics): per-key multiplicity is "
        "min(left, right) — completes the q45/q72 set-op family.",
    engine_sql="""
        SELECT CAST(k AS BIGINT) AS k, COUNT(*) AS n FROM (
          SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'A'
          INTERSECT ALL
          SELECT l_suppkey AS k FROM lineitem WHERE l_returnflag = 'R'
        ) i
        GROUP BY k
        ORDER BY k NULLS LAST
    """,
))

Q(QuerySpec(
    name="q79",
    doc="Conversion funnel over the event stream: users reaching "
        "signup -> click (after signup) -> purchase (after that click), "
        "event-time ordered (product-analytics staple; the reference's "
        "runtime-log rollups stop at flat status counts — "
        "runtime_logs_tool.py — so this extends the family). Single "
        "portable SQL: three MIN-per-stage aggregations chained on "
        "strictly-later timestamps; each stage is one shuffle on "
        "user_id, and AQE broadcasts the shrinking stage frontier.",
    engine_sql="""
        WITH s AS (
          SELECT user_id, MIN(ts) AS t0 FROM events
          WHERE event_type = 'signup' GROUP BY user_id
        ),
        c AS (
          SELECT e.user_id, MIN(e.ts) AS t1
          FROM events e JOIN s ON s.user_id = e.user_id AND e.ts > s.t0
          WHERE e.event_type = 'click' GROUP BY e.user_id
        ),
        p AS (
          SELECT e.user_id, MIN(e.ts) AS t2
          FROM events e JOIN c ON c.user_id = e.user_id AND e.ts > c.t1
          WHERE e.event_type = 'purchase' GROUP BY e.user_id
        )
        SELECT stage, users FROM (
          SELECT 'stage1_signup' AS stage, COUNT(*) AS users FROM s
          UNION ALL
          SELECT 'stage2_click' AS stage, COUNT(*) AS users FROM c
          UNION ALL
          SELECT 'stage3_purchase' AS stage, COUNT(*) AS users FROM p
        ) f
        ORDER BY stage NULLS LAST
    """,
))

Q(QuerySpec(
    name="q80",
    doc="Cohort retention matrix: users bucketed by first-seen week, "
        "counted per activity-week offset (growth-analytics staple). "
        "Dual-form: week-offset arithmetic is unix_timestamp on Spark "
        "vs epoch(interval) on DuckDB; date_trunc('week') is ISO-Monday "
        "on both engines.",
    engine_sql="""
        WITH firstw AS (
          SELECT user_id, date_trunc('week', MIN(ts)) AS cw
          FROM events GROUP BY user_id
        ),
        act AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
        )
        SELECT CAST(CAST(f.cw AS DATE) AS TIMESTAMP) AS cohort_week,
               CAST((unix_timestamp(a.aw) - unix_timestamp(f.cw)) / 604800
                    AS INT) AS week_offset,
               COUNT(*) AS users
        FROM act a JOIN firstw f ON a.user_id = f.user_id
        GROUP BY f.cw, a.aw
        ORDER BY cohort_week NULLS LAST, week_offset NULLS LAST
    """,
    oracle_sql_str="""
        WITH firstw AS (
          SELECT user_id, date_trunc('week', MIN(ts)) AS cw
          FROM events GROUP BY user_id
        ),
        act AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS aw FROM events
        )
        SELECT CAST(CAST(f.cw AS DATE) AS TIMESTAMP) AS cohort_week,
               -- DuckDB date_trunc('week', ts) yields DATE; DATE - DATE
               -- is integer days (always a multiple of 7 here)
               CAST(floor((a.aw - f.cw) / 7) AS INT) AS week_offset,
               COUNT(*) AS users
        FROM act a JOIN firstw f ON a.user_id = f.user_id
        GROUP BY f.cw, a.aw
        ORDER BY cohort_week NULLS LAST, week_offset NULLS LAST
    """,
))

# ---- time-RANGE window frames (Q81-Q82) ------------------------------------
# RANGE frames bound by calendar intervals over a timestamp ORDER BY —
# the frame is defined by VALUE distance, not row count, so duplicate
# timestamps (frame peers) make the result deterministic without a
# unique tie-break in the window order. Both engines accept the same
# `RANGE BETWEEN INTERVAL n unit PRECEDING AND CURRENT ROW` syntax, so
# these stay single-form portable (verified value-identical).

Q(QuerySpec(
    name="q81",
    doc="Trailing 7-day revenue per customer: time-RANGE window "
        "(INTERVAL 6 DAYS PRECEDING) over o_orderdate with the exact "
        "decimal money-sum discipline.",
    engine_sql="""
        SELECT o_custkey, o_orderkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                    OVER (PARTITION BY o_custkey ORDER BY o_orderdate
                          RANGE BETWEEN INTERVAL 6 DAYS PRECEDING
                                    AND CURRENT ROW)
                    AS DOUBLE) AS rev_7d
        FROM orders
        ORDER BY o_custkey NULLS LAST, o_orderkey NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q82",
    doc="Trailing 1-hour activity count per user: time-RANGE window "
        "over the events stream (exercises the detected-unit ns/us "
        "timestamp path through a value-bounded frame).",
    engine_sql="""
        SELECT user_id, event_id,
               COUNT(*) OVER (PARTITION BY user_id ORDER BY ts
                              RANGE BETWEEN INTERVAL 1 HOURS PRECEDING
                                        AND CURRENT ROW) AS n_1h
        FROM events
        ORDER BY user_id NULLS LAST, event_id NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q83",
    doc="Numeric-RANGE window: parts within a 50-unit retail-price band "
        "below each part, per brand — value-bounded frame over a DOUBLE "
        "ORDER BY (the numeric sibling of q81's calendar-interval "
        "frame; deterministic because the frame depends on values, "
        "not row order).",
    engine_sql="""
        SELECT p_brand, p_partkey,
               COUNT(*) OVER (PARTITION BY p_brand ORDER BY p_retailprice
                              RANGE BETWEEN 50.0 PRECEDING
                                        AND CURRENT ROW) AS n_band
        FROM part
        ORDER BY p_brand NULLS LAST, p_partkey NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q84",
    doc="Running DISTINCT user count per event type by day — the "
        "first-occurrence-flag + cumulative-sum rewrite of COUNT("
        "DISTINCT) OVER, which no engine supports directly: each "
        "user contributes on their first-seen day only, then a "
        "partitioned running sum accumulates.",
    engine_sql="""
        WITH firsts AS (
          SELECT event_type, user_id,
                 MIN(CAST(date_trunc('DAY', ts) AS TIMESTAMP)) AS first_day
          FROM events GROUP BY event_type, user_id
        ), daily AS (
          SELECT event_type, first_day AS day, COUNT(*) AS new_users
          FROM firsts GROUP BY event_type, first_day
        )
        SELECT event_type, day,
               CAST(SUM(new_users) OVER (
                 PARTITION BY event_type ORDER BY day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS users_to_date
        FROM daily
        ORDER BY event_type NULLS LAST, day NULLS LAST
    """,
))

Q(QuerySpec(
    name="q85",
    doc="Distribution-standing window functions: percent_rank and "
        "cume_dist of each customer's balance within their market "
        "segment (unique tie-break key makes both deterministic; "
        "identical IEEE division then ROUND 4 on both engines).",
    engine_sql="""
        SELECT c_mktsegment, c_custkey,
               ROUND(percent_rank() OVER w, 4) AS pr,
               ROUND(cume_dist() OVER w, 4) AS cd
        FROM customer
        WINDOW w AS (PARTITION BY c_mktsegment
                     ORDER BY c_acctbal, c_custkey)
        ORDER BY c_mktsegment NULLS LAST, c_custkey NULLS LAST
        LIMIT 500
    """,
))

_Q86_SQL = """
        WITH RECURSIVE days(d) AS (
          SELECT CAST(date_trunc('DAY', MAX(o_orderdate)) AS TIMESTAMP)
                 - INTERVAL 59 DAYS FROM orders
          UNION ALL
          SELECT d + INTERVAL 1 DAY FROM days
          WHERE d < (SELECT CAST(date_trunc('DAY', MAX(o_orderdate))
                          AS TIMESTAMP)
                     FROM orders)
        ), daily AS (
          SELECT CAST(date_trunc('DAY', o_orderdate) AS TIMESTAMP) AS day,
                 COUNT(*) AS n
          FROM orders
          GROUP BY CAST(date_trunc('DAY', o_orderdate) AS TIMESTAMP)
        )
        SELECT d.d AS day, CAST(COALESCE(dd.n, 0) AS BIGINT) AS n_orders
        FROM days d LEFT JOIN daily dd ON dd.day = d.d
        ORDER BY day NULLS LAST
    """

Q(QuerySpec(
    name="q86",
    doc="Recursive CTE (WITH RECURSIVE, Spark 4): gap-filled 60-day "
        "order calendar ending at the newest order date — empty days "
        "appear with zero counts, the shape dashboards need and plain "
        "GROUP BY cannot produce. Single-form portable; depth bounded "
        "(60) well under the engine recursion limit. SURFACE-COVERAGE "
        "form only: Spark runs the recursion step by step, 430 "
        "sequential jobs of 616 stages in all (statusTracker count, the "
        "same at sf0.001 and sf0.01; measured 27x DuckDB at sf1) — for "
        "production use the 4-job twin pl_calendar_fill "
        "(sequence()+explode, same oracle, identical rows).",
    engine_sql=_Q86_SQL,
))

Q(QuerySpec(
    name="pl_calendar_fill",
    doc="Scale-path twin of q86: the same gap-filled 60-day order "
        "calendar via sequence()+explode — 4 jobs of 6 stages instead "
        "of q86's 430 jobs of 616 stages (27x at sf1, see BASELINE). Shares "
        "q86's recursive oracle, so the hash row pins the two "
        "formulations equal.",
    engine_sql="""
        WITH bounds AS (
          SELECT CAST(date_trunc('DAY', MAX(o_orderdate)) AS TIMESTAMP)
                   AS mx
          FROM orders
        ), days AS (
          SELECT explode(sequence(mx - INTERVAL 59 DAYS, mx,
                                  INTERVAL 1 DAY)) AS d
          FROM bounds
        ), daily AS (
          SELECT CAST(date_trunc('DAY', o_orderdate) AS TIMESTAMP) AS day,
                 COUNT(*) AS n
          FROM orders
          GROUP BY CAST(date_trunc('DAY', o_orderdate) AS TIMESTAMP)
        )
        SELECT d.d AS day, CAST(COALESCE(dd.n, 0) AS BIGINT) AS n_orders
        FROM days d LEFT JOIN daily dd ON dd.day = d.d
        ORDER BY day NULLS LAST
    """,
    oracle_sql_str=_Q86_SQL,
))

Q(QuerySpec(
    name="q87",
    doc="Aggregate FILTER clause: per-priority order counts with "
        "conditional sub-counts in one scan (the standard replacement "
        "for SUM(CASE) pivots; single-form portable).",
    engine_sql="""
        SELECT o_orderpriority,
               COUNT(*) FILTER (WHERE o_totalprice > 100000) AS n_big,
               COUNT(*) FILTER (WHERE o_orderstatus = 'F') AS n_filled,
               COUNT(*) AS n
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority NULLS LAST
    """,
))

Q(QuerySpec(
    name="q88",
    doc="LOCF gap-fill via LAST_VALUE ... IGNORE NULLS: carry each "
        "customer's most recent large-order key forward across their "
        "order history (dual-form: Spark puts IGNORE NULLS after the "
        "call, DuckDB inside the parens — values identical).",
    engine_sql="""
        SELECT o_custkey, o_orderkey,
               LAST_VALUE(CASE WHEN o_totalprice > 150000
                               THEN o_orderkey END) IGNORE NULLS
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_big_order
        FROM orders
        ORDER BY o_custkey NULLS LAST, o_orderkey NULLS LAST
        LIMIT 500
    """,
    oracle_sql_str="""
        SELECT o_custkey, o_orderkey,
               LAST_VALUE(CASE WHEN o_totalprice > 150000
                               THEN o_orderkey END IGNORE NULLS)
                 OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS last_big_order
        FROM orders
        ORDER BY o_custkey NULLS LAST, o_orderkey NULLS LAST
        LIMIT 500
    """,
))

Q(QuerySpec(
    name="q89",
    doc="GROUP BY ALL / ORDER BY ALL dialect conveniences (both "
        "engines infer the grouping and ordering keys from the select "
        "list; single-form portable). QUALIFY is deliberately absent: "
        "Spark has no QUALIFY clause — its rewrite is the subquery "
        "row_number pattern q36 already declares.",
    engine_sql="""
        SELECT o_orderpriority, o_orderstatus,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue
        FROM orders
        GROUP BY ALL
        ORDER BY ALL
    """,
))

Q(QuerySpec(
    name="q90",
    doc="Grouped exact multi-percentile bands (p50/p90/p99 of extended "
        "price per return flag) — the latency-SLO query shape. Dual "
        "form: Spark's exact `percentile` and DuckDB's `quantile_cont` "
        "share the linear-interpolation definition; ROUND(...,4) "
        "closes the float tail.",
    engine_sql="""
        SELECT l_returnflag,
               ROUND(percentile(l_extendedprice, 0.5), 4) AS p50,
               ROUND(percentile(l_extendedprice, 0.9), 4) AS p90,
               ROUND(percentile(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
    oracle_sql_str="""
        SELECT l_returnflag,
               ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
               ROUND(quantile_cont(l_extendedprice, 0.9), 4) AS p90,
               ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
        FROM lineitem
        GROUP BY l_returnflag
        ORDER BY l_returnflag
    """,
))

Q(QuerySpec(
    name="q91",
    doc="Bag-semantics set operations: INTERSECT ALL / EXCEPT ALL over "
        "customer-nation multisets (q44/q45 cover the DISTINCT "
        "variants). Single-form portable — both engines implement the "
        "SQL-standard multiset min/difference semantics.",
    engine_sql="""
        WITH a AS (SELECT c_nationkey AS k FROM customer
                   WHERE c_acctbal > 1000),
             b AS (SELECT c_nationkey AS k FROM customer
                   WHERE c_mktsegment = 'BUILDING')
        SELECT 'intersect_all' AS op, k, COUNT(*) AS n
        FROM (SELECT k FROM a INTERSECT ALL SELECT k FROM b)
        GROUP BY k
        UNION ALL
        SELECT 'except_all' AS op, k, COUNT(*) AS n
        FROM (SELECT k FROM a EXCEPT ALL SELECT k FROM b)
        GROUP BY k
        ORDER BY op, k
    """,
))

Q(QuerySpec(
    name="q92",
    doc="Array higher-order-function suite in one declared query: "
        "transform + aggregate (fold), filter + size, exists, forall "
        "over the embedding arrays. Dual form: DuckDB spells these "
        "list_transform/list_reduce (seeded via list_prepend, matching "
        "Spark's 0.0 init exactly) and derives exists/forall from "
        "list_filter lengths. In-row left folds keep the float sums "
        "order-identical (the jl_project discipline).",
    engine_sql="""
        SELECT vec_id,
               ROUND(aggregate(transform(embedding,
                                         x -> CAST(x AS DOUBLE)),
                               CAST(0.0 AS DOUBLE), (a, x) -> a + x), 4)
                 AS vec_sum,
               size(filter(embedding, x -> x > 0)) AS n_pos,
               exists(embedding, x -> x > CAST(0.2 AS FLOAT)) AS has_big,
               forall(embedding, x -> x > CAST(-0.5 AS FLOAT)) AS bounded,
               ROUND(aggregate(transform(embedding,
                               x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
                               CAST(0.0 AS DOUBLE), (a, x) -> a + x), 4)
                 AS norm2
        FROM embeddings
        ORDER BY vec_id
    """,
    oracle_sql_str="""
        SELECT vec_id,
               ROUND(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(embedding,
                                      x -> CAST(x AS DOUBLE))),
                   (a, x) -> a + x), 4) AS vec_sum,
               CAST(len(list_filter(embedding, x -> x > 0)) AS INT)
                 AS n_pos,
               len(list_filter(embedding,
                               x -> x > CAST(0.2 AS FLOAT))) > 0
                 AS has_big,
               len(list_filter(embedding,
                               x -> NOT (x > CAST(-0.5 AS FLOAT)))) = 0
                 AS bounded,
               ROUND(list_reduce(
                   list_prepend(CAST(0.0 AS DOUBLE),
                       list_transform(embedding,
                           x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (a, x) -> a + x), 4) AS norm2
        FROM embeddings
        ORDER BY vec_id
    """,
))

Q(QuerySpec(
    name="q93",
    doc="Lateral column aliases: a SELECT-list alias referenced by later "
        "expressions in the same SELECT (Spark 3.4+ and DuckDB both "
        "support the dialect convenience; single-form portable). The "
        "classic derived-metric chain without a subquery.",
    engine_sql="""
        SELECT o_orderpriority,
               COUNT(*) AS n_orders,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE)
                 AS revenue,
               ROUND(revenue / n_orders, 4) AS avg_order_value,
               ROUND(avg_order_value / 1000, 4) AS aov_k
        FROM orders
        GROUP BY o_orderpriority
        ORDER BY o_orderpriority
    """,
))
