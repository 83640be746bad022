"""Seeded input generation for the benchmark.

Writes the ten catalog tables (``adenhq_hive_spark.catalog.TABLES``) as
one parquet file each, with the schemas and value domains of the
project's synthetic TPC-H-style test data (FIXTURES.md): uniform keys,
two-decimal money, day-precision order/ship dates, a sorted Poisson
event clock, a 30-word document vocabulary with planted exact and near
duplicates, and unit-norm 64-d embeddings. Row counts scale with ``sf``
the same way (lineitem = 6M x sf).

Everything is drawn from one ``numpy.random.Generator`` seeded by the
caller, and the parquet writer is pinned (one row group, no statistics
drift, no pandas metadata), so the same (seed, sf) yields byte-identical
files. Also builds the event-stream inputs: replicated event part files
and the CDC change batches.
"""

from __future__ import annotations

import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

WORDS = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.15, 0.15, 0.145, 0.145)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
P_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
P_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
P_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

_EPOCH = dt.datetime(1970, 1, 1)
_DAY_US = 86_400 * 1_000_000


def _us(d: dt.datetime) -> int:
    return (d - _EPOCH) // dt.timedelta(microseconds=1)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(
        table.replace_schema_metadata(None), path,
        row_group_size=max(1, table.num_rows), compression="snappy",
    )


def _money(rng: np.random.Generator, lo: float, hi: float, n: int):
    # + 0.0 turns a -0.0 from rounding into 0.0
    return np.round(rng.uniform(lo, hi, n), 2) + 0.0


def _days(rng, start: dt.datetime, end: dt.datetime, n: int):
    span = (end - start).days + 1
    d = rng.integers(0, span, n) * _DAY_US + _us(start)
    return pa.array(d, pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(
        len(values), n, p=p)].tolist(), pa.string())


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-soup documents of 10..100 words; 5% are near copies of an
    earlier-drawn document (one appended token) and a few are exact
    copies, so every dedup tier has true positives."""
    vocab = np.asarray(WORDS, dtype=object)
    texts = [
        " ".join(vocab[rng.integers(0, len(vocab), rng.integers(10, 101))])
        for _ in range(n)
    ]
    near = rng.choice(n, n // 20, replace=False)
    for i in near:
        src = int(rng.integers(0, n))
        while src in near or src == i:
            src = int(rng.integers(0, n))
        texts[i] = texts[src] + " dup"
    exact = [i for i in rng.choice(n, max(2, n // 600), replace=False)
             if i not in near]
    for i in exact:
        src = int(rng.integers(0, n))
        while src in near or src == i:
            src = int(rng.integers(0, n))
        texts[i] = texts[src]
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": _choice(rng, LANGS, n, LANG_P),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def events(rng: np.random.Generator, n: int, n_users: int) -> pa.Table:
    """A sorted Poisson clock over 30 days (event_id follows ts), uniform
    users and types, exponential two-decimal values."""
    start = _us(dt.datetime(2024, 1, 1))
    ts = np.sort(rng.integers(0, 30 * _DAY_US, n)) + start
    return pa.table({
        "event_id": pa.array(np.arange(n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": _choice(rng, EVENT_TYPES, n),
        "value": pa.array(np.round(rng.exponential(50.0, n), 2)),
        "props": pa.array(
            [json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
            pa.string(),
        ),
    })


def generate(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write the ten catalog tables for scale factor ``sf`` to
    ``out_dir``; returns row counts by table."""
    rng = np.random.default_rng([seed, int(round(sf * 1e6))])
    os.makedirs(out_dir, exist_ok=True)
    n_cust = max(15, int(150_000 * sf))
    n_supp = max(5, int(10_000 * sf))
    n_part = max(20, int(200_000 * sf))
    n_ord = max(150, int(1_500_000 * sf))
    n_line = max(600, int(6_000_000 * sf))
    n_ev = max(100, int(1_000_000 * sf))
    n_doc = max(500, int(50_000 * sf))
    n_emb = max(500, int(20_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": pa.array(REGIONS, pa.string()),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], pa.string()),
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_cust)),
        "c_mktsegment": _choice(rng, SEGMENTS, n_cust),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": pa.array(_money(rng, -999.99, 9999.99, n_supp)),
    })
    adj = rng.integers(0, len(P_ADJ), n_part)
    noun = rng.integers(0, len(P_NOUN), n_part)
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": pa.array(
            [f"{P_ADJ[a]} {P_NOUN[b]}" for a, b in zip(adj, noun)]),
        "p_brand": pa.array(
            [f"Brand#{b}" for b in rng.integers(1, 26, n_part)]),
        "p_type": _choice(rng, P_TYPES, n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": pa.array(
            np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1)),
    })
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": _choice(rng, ("F", "O", "P"), n_ord),
        "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, n_ord)),
        "o_orderdate": _days(rng, dt.datetime(1995, 1, 1),
                             dt.datetime(2001, 8, 1), n_ord),
        "o_orderpriority": _choice(rng, PRIORITIES, n_ord),
    })
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_line).astype(float)),
        "l_extendedprice": pa.array(_money(rng, 900.0, 105000.0, n_line)),
        "l_discount": pa.array(rng.integers(0, 11, n_line) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_line) / 100.0),
        "l_returnflag": _choice(rng, ("A", "N", "R"), n_line),
        "l_linestatus": _choice(rng, ("F", "O"), n_line),
        "l_shipdate": _days(rng, dt.datetime(1995, 1, 2),
                            dt.datetime(2001, 11, 4), n_line),
    })
    tables["events"] = events(rng, n_ev, max(15, int(15_000 * sf)))
    tables["documents"] = documents(rng, n_doc)
    vecs = rng.standard_normal((n_emb, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    # A component that rounds to zero at four decimals is set to +0:
    # for a tiny negative value Spark's ROUND gives 0.0 and DuckDB's
    # -0.0, and the strict result hash keeps the sign (q66 rounds every
    # component). About one seed in thirty drew one among the vectors
    # q66 reads.
    vecs[np.abs(vecs) < 5e-5] = 0.0
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
    })
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def replicate_events(sf_dir: str, out_dir: str, copies: int,
                     n_files: int) -> int:
    """Write ``copies`` replicas of the events table as ``n_files`` part
    files; replica i is shifted by i ms so copies never share a
    timestamp. Returns the total row count."""
    base = pq.read_table(os.path.join(sf_dir, "events.parquet"))
    ts = base["ts"].cast(pa.int64()).to_numpy()
    reps = []
    for i in range(copies):
        reps.append(base.set_column(
            1, "ts", pa.array(ts + i * 1000, pa.timestamp("us"))))
    whole = pa.concat_tables(reps)
    os.makedirs(out_dir, exist_ok=True)
    step = -(-whole.num_rows // n_files)
    for f in range(n_files):
        _write(whole.slice(f * step, step),
               os.path.join(out_dir, f"part-{f:03d}.parquet"))
    return whole.num_rows


CDC_SCHEMA = pa.schema([
    ("doc_id", pa.int64()),
    ("ts", pa.timestamp("us")),
    ("n_chars", pa.int64()),
    ("source", pa.string()),
])


def cdc_batches(rng: np.random.Generator, n_docs: int, n_batches: int,
                rows_per_batch: int) -> list[pa.Table]:
    """CDC change batches keyed on doc_id, recent keys favoured: each
    key is drawn as the newest ``n_docs`` keys minus an exponential
    offset, so a small hot set is rewritten again and again. ``ts``
    rises strictly across all rows, so last-writer-wins is defined by
    ``ts`` alone."""
    out = []
    t0 = _us(dt.datetime(2024, 2, 1))
    seq = 0
    for _ in range(n_batches):
        off = np.minimum(rng.exponential(n_docs / 8, rows_per_batch),
                         n_docs - 1).astype(np.int64)
        keys = (n_docs - 1) - off
        ts = t0 + (seq + np.arange(rows_per_batch)) * 1000
        seq += rows_per_batch
        out.append(pa.table({
            "doc_id": pa.array(keys, pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "n_chars": pa.array(rng.integers(44, 578, rows_per_batch),
                                pa.int64()),
            "source": pa.array(
                [f"src{s}" for s in rng.integers(0, 20, rows_per_batch)]),
        }, schema=CDC_SCHEMA))
    return out


def write_table(table: pa.Table, path: str) -> None:
    _write(table, path)
