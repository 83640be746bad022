"""Training-shard export: deterministic shard assignment, an
order-independent integrity manifest, and the parquet shard writer —
the last mile of a curation pipeline (reference analog: data_tools
save_data/serve_data envelopes; at 100 TB the consumer is a training
job reading fixed-size shards with a manifest to verify against).

Design contract:

- Shard assignment is a pure function of the ROW (first-8-hex md5 of
  the id, mod n_shards) — no global ordering, no sampling, so the same
  corpus always produces the same shards on any cluster layout, and a
  re-export after an upstream fix changes only the shards whose rows
  changed.
- The manifest is computable WITHOUT writing (``shard_manifest`` — the
  oracle-checkable surface) and recomputable FROM the written files
  (``verify_shards``), so corruption or a partial write is detected by
  comparing two independently-derived manifests.  Both sides run the
  same aggregate (``_shard_aggregate``) over different inputs, and the
  batch and streaming exports share one writer (``_write_export``).
- This is the package's only shard-export path; curation.shuffle_shard
  computes training-order addresses and writes nothing.
- The content checksum is an order-independent SUM of per-row 32-bit
  md5 slices mod 2^32 — commutative, so shard-internal row order
  (which Spark does not guarantee) cannot flap it, and both engines
  compute it with the same integer arithmetic.  The sum accumulates in
  DECIMAL(38,0): a BIGINT sum of 32-bit slices wraps silently past
  ~2^32 rows per shard under Spark's non-ANSI arithmetic, while the
  DuckDB oracle sums in HUGEINT — at the tens-of-billions-doc design
  target that divergence is reachable, so both manifest computations
  use the exact accumulator (same discipline as stats.mann_whitney_u).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .sketch import _hash32

_M32 = 1 << 32


def _shard_col(id_col: str, n_shards: int) -> Column:
    # checked here, before any job: the writer calls this first
    if n_shards < 1:
        raise ValueError("n_shards must be >= 1")
    return (_hash32(F.col(id_col).cast("string")) % n_shards).alias("shard")


def _shard_aggregate(
    df: DataFrame, shard: Column, text_col: str
) -> DataFrame:
    """(shard, n_docs, n_tokens, content_crc32) per ``shard`` value —
    the ONE per-shard aggregate, computed from the corpus by
    :func:`shard_manifest` and from the written files by
    :func:`verify_shards`, so the two sides cannot drift apart.

    n_tokens counts the non-empty pieces of a ``\\s+`` split, a rule of
    its own: ``text.ws_token_count`` splits on single spaces and
    ``text.token_counts`` (pl_tokens) keeps the empty piece of a blank
    text (tests/test_export.py pins all three);
    content_crc32 = SUM of per-row 32-bit md5 content slices mod 2^32.
    """
    rows = df.select(
        shard,
        F.size(
            F.filter(
                F.split(F.col(text_col), r"\s+"), lambda t: t != ""
            )
        ).cast("long").alias("_toks"),
        # the row CONTENT's slice, not the id's: a tampered text whose
        # id survives still moves the shard's checksum
        _hash32(F.col(text_col)).alias("_crc"),
    )
    return (
        rows.groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_toks").alias("n_tokens"),
            (
                F.sum(F.col("_crc").cast("decimal(38,0)")) % F.lit(_M32)
            ).alias("content_crc32"),
        )
        .select(
            F.col("shard").cast("long").alias("shard"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
            F.col("content_crc32").cast("long").alias("content_crc32"),
        )
    )


def shard_manifest(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> DataFrame:
    """Per-shard manifest WITHOUT writing: (shard, n_docs, n_tokens,
    content_crc32) ordered by shard — the oracle-checkable image of
    what :func:`write_shards` materializes.

    Scale: one map-only projection + one n_shards-key aggregation.
    """
    return _shard_aggregate(
        df, _shard_col(id_col, n_shards), text_col
    ).orderBy("shard")


def _write_export(
    df: DataFrame,
    data_path: str,
    manifest_path: str,
    id_col: str,
    text_col: str,
    n_shards: int,
) -> DataFrame:
    """The ONE shard writer: ``shard=N/`` parquet partitions of
    (id_col, text_col) under ``data_path`` and the manifest of ``df``
    under ``manifest_path``; returns the manifest.

    partitionBy(shard) gives one directory per shard — the layout a
    training loader shards workers over — and repartition(shard) keeps
    it to one task's files per shard directory.
    """
    shards = df.select(
        _shard_col(id_col, n_shards), F.col(id_col), F.col(text_col)
    )
    (
        shards.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(data_path)
    )
    manifest = shard_manifest(df, id_col, text_col, n_shards)
    manifest.write.mode("overwrite").parquet(manifest_path)
    return manifest


def write_shards(
    df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
) -> DataFrame:
    """Write the corpus as ``data/shard=N/`` parquet partitions plus a
    ``_manifest`` parquet next to them; returns the manifest.

    The manifest is a SECOND pass over ``df``, run after the write job
    (not the same job graph), so it describes the written files only if
    ``df`` is deterministic: recomputing it must yield the same rows
    (no rand(), no nondeterministic source, no limit over an unordered
    input — cache or checkpoint such a ``df`` first).  Under that
    condition a divergence found later by :func:`verify_shards`
    isolates the fault to storage, not the export.
    """
    return _write_export(
        df, f"{path}/data", f"{path}/_manifest", id_col, text_col, n_shards
    )


def write_shards_stream(
    doc_stream: DataFrame,
    path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 8,
):
    """Streaming shard export (reference layer 4, sources and sinks:
    the streaming twin of the data_tools save_data sink):
    ``foreachBatch`` writes each micro-batch through the same writer as
    :func:`write_shards`, into the same shard layout, plus a per-epoch
    manifest DELTA; :func:`finalize_manifest` folds the deltas into the
    ``_manifest`` that :func:`verify_shards` checks.  Returns the
    writeStream builder (caller sets checkpointLocation and starts).

    Exactly-once: shard assignment is a pure row function, so an epoch's
    output is DETERMINISTIC; each epoch writes to its own
    ``data/epoch=N/`` and ``_manifest_deltas/epoch=N/`` directories in
    overwrite mode, so a replayed epoch (foreachBatch is at-least-once)
    overwrites itself byte-identically instead of double-appending —
    the same idempotence contract as decontaminate_stream's sink.

    The manifest checksum composes across epochs BY CONSTRUCTION:
    content_crc32 is an order-independent modular SUM, so the fold is
    SUM(delta) mod 2^32 per shard — a streaming export and a one-shot
    batch export of the same rows produce the SAME final manifest
    (pinned in tests/test_streaming.py).

    Scale: each micro-batch does one n_shards-way repartition + one
    n_shards-key agg; state never accumulates in the stream (the ledger
    lives in the delta files), so a year-long export holds no memory.
    """

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        _write_export(
            batch_df,
            f"{path}/data/epoch={epoch_id}",
            f"{path}/_manifest_deltas/epoch={epoch_id}",
            id_col, text_col, n_shards,
        )

    return doc_stream.writeStream.foreachBatch(write)


def finalize_manifest(spark, path: str) -> DataFrame:
    """Close a :func:`write_shards_stream` export (reference layer 4,
    sources and sinks): fold the per-epoch manifest deltas into
    ``_manifest`` (the file :func:`verify_shards` compares against) and
    return it.  n_docs and
    n_tokens sum; content_crc32 folds as SUM mod 2^32 (modular sums
    compose).  DECIMAL(38,0) accumulators, same overflow discipline as
    the per-shard sums."""
    deltas = spark.read.parquet(f"{path}/_manifest_deltas")
    manifest = (
        deltas.groupBy("shard")
        .agg(
            F.sum(F.col("n_docs").cast("decimal(38,0)"))
            .cast("long").alias("n_docs"),
            F.sum(F.col("n_tokens").cast("decimal(38,0)"))
            .cast("long").alias("n_tokens"),
            (
                F.sum(F.col("content_crc32").cast("decimal(38,0)"))
                % F.lit(_M32)
            ).cast("long").alias("content_crc32"),
        )
        .select("shard", "n_docs", "n_tokens", "content_crc32")
        .orderBy("shard")
    )
    manifest.write.mode("overwrite").parquet(f"{path}/_manifest")
    return spark.read.parquet(f"{path}/_manifest").orderBy("shard")


def verify_shards(spark, path: str, text_col: str = "text") -> DataFrame:
    """Recompute the manifest FROM the written shard files and join it
    against the stored one: (shard, ok, stored/actual columns).  A
    missing shard, a lost row, or a flipped byte in ``text_col`` shows
    up as ok = false (or a NULL side on a wholly missing shard)."""
    data = spark.read.parquet(f"{path}/data")
    actual = _shard_aggregate(
        data, F.col("shard").cast("long").alias("shard"), text_col
    ).select(
        "shard",
        F.col("n_docs").alias("a_docs"),
        F.col("n_tokens").alias("a_tokens"),
        F.col("content_crc32").alias("a_crc"),
    )
    stored = spark.read.parquet(f"{path}/_manifest")
    return (
        stored.join(actual, "shard", "full")
        .select(
            "shard",
            (
                F.col("n_docs").eqNullSafe(F.col("a_docs"))
                & F.col("n_tokens").eqNullSafe(F.col("a_tokens"))
                & F.col("content_crc32").eqNullSafe(F.col("a_crc"))
            ).alias("ok"),
            "n_docs", "a_docs", "n_tokens", "a_tokens",
            "content_crc32", "a_crc",
        )
        .orderBy("shard")
    )
