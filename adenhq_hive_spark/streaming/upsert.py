"""Streaming CDC upsert sink: keep a keyed parquet store (last-writer-wins
per key) current as change rows stream in — the continuous counterpart
of ``operators.curation.snapshot_diff``: diff answers "what changed
between snapshots", this sink maintains the current snapshot. The
reference keeps its conversation/outcome state as append-only logs that
a reader reduces; the store here is the same shape: append-only deltas
that a reader resolves.

Layout (Hive 3 ACID, "Apache Hive: From MapReduce to Enterprise-grade
Big Data Warehousing", SIGMOD 2019: base + delta directories, merge on
read, compaction):

- Each micro-batch appends its change rows, as they arrived, as the
  parquet directory ``v{epoch}`` under the store path. It does not read
  the store, join or sort: one write job, no shuffle. Writes cost
  O(batch), not O(store).
- A per-epoch manifest (``_manifests/v{epoch}.json``) records the key
  and seq columns, the schema and the parts: a base plus its deltas.
  ``_CURRENT`` names the current manifest and is flipped atomically, so
  readers never see a half-written store and Spark never reads the
  directory it is writing.
- Readers resolve the parts with :func:`_resolve`, the one rule for
  in-batch duplicates, keys across batches, reads and compaction: per
  key the highest ``seq_col`` wins, ties go to the other columns in
  order. A store therefore does not depend on where batch boundaries
  fall, and a re-delivered lower-seq row never regresses a key.
- A read merges the base plus fewer than ``COMPACT_DELTAS`` deltas: the
  micro-batch that would make the count reach it writes
  ``_resolve(base ∪ deltas ∪ batch)`` as the new base instead, in its
  own ``v{epoch}`` (Hive's minor-compaction default is 10 deltas). The
  amortized write cost is O(batch + store / COMPACT_DELTAS).
- Old parts stay until :func:`vacuum_store` drops the manifests outside
  retention and the data directories no retained manifest references,
  which is what makes :func:`read_version` time travel possible.
- At 100 TB scale the same layout is what Delta/Iceberg/Hive ACID keep
  internally; bucketing the base by key hash ("Hive – a petabyte scale
  data warehouse using Hadoop", ICDE 2010) would let compaction rewrite
  only the buckets the deltas touch.
"""

from __future__ import annotations

import json
import os
import shutil

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

_CURRENT = "_CURRENT"
_MANIFESTS = "_manifests"
# deltas a read may merge before the batch that would add one more
# compacts instead (Hive: hive.compactor.delta.num.threshold = 10)
COMPACT_DELTAS = 10


def _resolve(df: DataFrame, key_col: str, seq_col: str) -> DataFrame:
    """Per key, the row with the highest ``seq_col``; ties go to the
    other columns in order (ascending)."""
    w = Window.partitionBy(key_col).orderBy(
        F.col(seq_col).desc(), *[
            F.col(c) for c in df.columns if c not in (key_col, seq_col)
        ]
    )
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def _epoch(version: str) -> int:
    return int(version[1:])


def _is_version(name: str) -> bool:
    return name.startswith("v") and name[1:].isdigit()


def _write_atomic(target: str, text: str) -> None:
    tmp = os.path.join(os.path.dirname(target),
                       f".{os.path.basename(target)}.tmp")
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(text)
    os.replace(tmp, target)


def _current_version(path: str) -> str | None:
    marker = os.path.join(path, _CURRENT)
    if not os.path.exists(marker):
        return None
    with open(marker, encoding="utf-8") as f:
        return f.read().strip() or None


def _manifest(path: str, version: str) -> dict:
    mp = os.path.join(path, _MANIFESTS, f"{version}.json")
    if not os.path.exists(mp):
        raise KeyError(
            f"version {version!r} not found in {path!r}; "
            f"available: {list_versions(path)}"
        )
    with open(mp, encoding="utf-8") as f:
        return json.load(f)


def _parts(m: dict) -> list[str]:
    return ([m["base"]] if m["base"] else []) + m["deltas"]


def _read_parts(spark: SparkSession, path: str, parts: list[str],
                schema: StructType) -> DataFrame:
    return spark.read.schema(schema).parquet(
        *[os.path.join(path, p) for p in parts])


def read_store(spark: SparkSession, path: str) -> DataFrame | None:
    """Current state of an upsert store, or None before the first
    batch."""
    v = _current_version(path)
    return None if v is None else read_version(spark, path, v)


def _merge_batch(
    batch_df: DataFrame,
    path: str,
    key_col: str,
    seq_col: str,
    epoch_id: int,
) -> None:
    version = f"v{epoch_id}"
    schema = batch_df.schema
    current = _current_version(path)
    # a checkpoint replays at most its last epoch; an older one means a
    # second checkpoint, whose parts would overwrite this store's
    if current is not None and epoch_id < _epoch(current):
        raise ValueError(
            f"epoch {epoch_id} is older than {path!r}'s current version "
            f"{current}: a store belongs to one checkpoint"
        )
    # a replayed epoch builds on the manifest before it, never on itself
    older = [v for v in list_versions(path) if _epoch(v) < epoch_id]
    parent = _manifest(path, older[-1]) if older else {
        "key_col": key_col, "seq_col": seq_col,
        "schema": schema.jsonValue(), "base": None, "deltas": []}
    stored = StructType.fromJson(parent["schema"])
    if ((parent["key_col"], parent["seq_col"], stored.simpleString())
            != (key_col, seq_col, schema.simpleString())):
        raise ValueError(
            f"batch ({key_col}, {seq_col}, {schema.simpleString()}) does "
            f"not match store {path!r} ({parent['key_col']}, "
            f"{parent['seq_col']}, {stored.simpleString()})"
        )
    base, deltas = parent["base"], parent["deltas"] + [version]
    out = batch_df
    if len(deltas) >= COMPACT_DELTAS:
        folded = _read_parts(batch_df.sparkSession, path, _parts(parent),
                             stored).unionByName(batch_df)
        out = _resolve(folded, key_col, seq_col)
        base, deltas = version, []
    out.write.mode("overwrite").parquet(os.path.join(path, version))
    os.makedirs(os.path.join(path, _MANIFESTS), exist_ok=True)
    _write_atomic(
        os.path.join(path, _MANIFESTS, f"{version}.json"),
        json.dumps({"key_col": key_col, "seq_col": seq_col,
                    "schema": schema.jsonValue(),
                    "base": base, "deltas": deltas}),
    )
    _write_atomic(os.path.join(path, _CURRENT), version)


def upsert_stream(
    stream: DataFrame,
    path: str,
    key_col: str = "doc_id",
    seq_col: str = "ts",
):
    """foreachBatch writer maintaining a keyed last-writer-wins store at
    ``path``. Use ``read_store`` for the current state. Returns the
    DataStreamWriter (caller starts it; pair with a checkpoint for
    resume — a replayed epoch rewrites its own part and manifest on top
    of the previous epoch's manifest, so at-least-once delivery leaves
    the store as one delivery would). A store belongs to one checkpoint:
    epochs name its parts."""
    os.makedirs(path, exist_ok=True)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        _merge_batch(batch_df, path, key_col, seq_col, epoch_id)

    return stream.writeStream.foreachBatch(write)


def list_versions(path: str) -> list[str]:
    """All retained store versions (manifests), oldest first.

    Every micro-batch writes a NEW manifest and flips ``_CURRENT`` — old
    manifests and the parts they name stay on disk until
    :func:`vacuum_store` removes them, which is what makes
    :func:`read_version` time travel possible. Returns version names
    sorted by epoch number.
    """
    mdir = os.path.join(path, _MANIFESTS)
    if not os.path.isdir(mdir):
        return []
    vs = [v for v, ext in map(os.path.splitext, os.listdir(mdir))
          if ext == ".json" and _is_version(v)]
    return sorted(vs, key=_epoch)


def read_version(
    spark: SparkSession, path: str, version: str
) -> DataFrame:
    """Read a specific retained store version (time travel) — the state
    as of that epoch, immutable after write. Raises KeyError for
    unknown versions (including already-vacuumed ones)."""
    m = _manifest(path, version)
    df = _read_parts(spark, path, _parts(m),
                     StructType.fromJson(m["schema"]))
    # a lone base is already resolved; anything with a delta is not
    return _resolve(df, m["key_col"], m["seq_col"]) if m["deltas"] else df


def vacuum_store(path: str, keep_last: int = 2) -> list[str]:
    """Drop all but the newest ``keep_last`` versions (never the one
    ``_CURRENT`` points at), then every data directory that no retained
    version references. Returns the removed version names. Run it with
    the stream stopped or ``keep_last`` >= 2: a replayed epoch builds on
    the version before it."""
    vs = list_versions(path)
    kept = set(vs[-keep_last:] if keep_last else []) | {
        _current_version(path)}
    doomed = [v for v in vs if v not in kept]
    for v in doomed:
        os.remove(os.path.join(path, _MANIFESTS, f"{v}.json"))
    live = {p for v in vs if v in kept for p in _parts(_manifest(path, v))}
    for d in os.listdir(path):
        if _is_version(d) and d not in live and os.path.isdir(
                os.path.join(path, d)):
            shutil.rmtree(os.path.join(path, d), ignore_errors=True)
    return doomed
