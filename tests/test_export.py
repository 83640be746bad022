"""Training-shard export tier (operators/export.py): deterministic
assignment, manifest round-trip, and corruption detection."""

from __future__ import annotations

import shutil

import pyspark.sql.functions as F
import pytest

from adenhq_hive_spark.operators.export import (
    _shard_aggregate,
    shard_manifest,
    verify_shards,
    write_shards,
)
from adenhq_hive_spark.operators.text import token_counts, ws_token_count

SF = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet").select(
        "doc_id", "text"
    )


def test_manifest_partitions_the_corpus_exactly(spark):
    docs = _docs(spark)
    m = shard_manifest(docs, n_shards=8).collect()
    assert [r.shard for r in m] == sorted({r.shard for r in m})
    assert sum(r.n_docs for r in m) == docs.count()
    assert all(0 <= r.content_crc32 < (1 << 32) for r in m)
    # deterministic: same corpus, same manifest, any partitioning
    m2 = shard_manifest(docs.repartition(13), n_shards=8).collect()
    assert m == m2


def _md5_shard(n_shards):
    """The export's shard address, retyped independently of the code
    under test: first-8-hex md5 of the id, mod n_shards."""
    return (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % n_shards
    )


def _drop_one_row(docs, path):
    s0 = docs.filter(_md5_shard(4) == 0)
    victim = s0.agg(F.min("doc_id")).first()[0]
    s0.filter(F.col("doc_id") != victim).write.mode("overwrite").parquet(
        f"{path}/data/shard=0"
    )


def _tamper_one_text(docs, path):
    s0 = docs.filter(_md5_shard(4) == 0)
    victim = s0.agg(F.min("doc_id")).first()[0]
    s0.withColumn(
        "text",
        F.when(F.col("doc_id") == victim, F.lit("tampered")).otherwise(
            F.col("text")
        ),
    ).write.mode("overwrite").parquet(f"{path}/data/shard=0")


def _delete_shard_dir(docs, path):
    shutil.rmtree(f"{path}/data/shard=0")


_CORRUPTIONS = {
    "row_dropped": _drop_one_row,
    "text_tampered": _tamper_one_text,
    "shard_deleted": _delete_shard_dir,
}


@pytest.mark.parametrize("kind", list(_CORRUPTIONS))
def test_write_verify_roundtrip_and_corruption_detection(
    spark, tmp_path, kind
):
    docs = _docs(spark)
    path = str(tmp_path / "shards")
    written = write_shards(docs, path, n_shards=4).collect()
    assert sum(r.n_docs for r in written) == docs.count()
    v = verify_shards(spark, path).collect()
    assert len(v) == 4 and all(r.ok for r in v)
    # the payload survives the export, each row under its md5 address
    back = spark.read.parquet(f"{path}/data")
    assert sorted(back.select("doc_id", "text", "shard").collect()) == sorted(
        docs.select("doc_id", "text", _md5_shard(4).alias("shard")).collect()
    )
    # reading one shard partition-prunes (scan, not post-filter)
    one = back.filter(F.col("shard") == 3)
    plan = one._sc._jvm.PythonSQLUtils.explainString(
        one._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters: [isnotnull(shard" in plan

    # corrupt shard 0 only: every other shard still verifies
    _CORRUPTIONS[kind](docs, path)
    v2 = {r.shard: r for r in verify_shards(spark, path).collect()}
    assert v2[0].ok is False
    assert all(r.ok for s, r in v2.items() if s != 0)
    if kind == "text_tampered":
        assert v2[0].a_docs == v2[0].n_docs
        assert v2[0].a_crc != v2[0].content_crc32
    elif kind == "shard_deleted":
        assert v2[0].a_docs is None
    else:
        assert v2[0].a_docs == v2[0].n_docs - 1


def test_manifest_rejects_bad_shard_count(spark, tmp_path):
    with pytest.raises(ValueError):
        shard_manifest(_docs(spark), n_shards=0)
    # the writer refuses before it writes anything
    with pytest.raises(ValueError, match="n_shards must be >= 1"):
        write_shards(_docs(spark), str(tmp_path / "out"), n_shards=0)
    assert not (tmp_path / "out").exists()


def test_shard_assignment_is_row_pure(spark):
    """The same doc_id lands in the same shard regardless of which
    subset it is exported with — the re-export stability contract."""
    docs = _docs(spark)
    full = {
        r.doc_id: r.shard
        for r in docs.select(
            "doc_id", _md5_shard(8).alias("shard")
        ).collect()
    }
    half = docs.filter("doc_id % 2 = 0")
    m_half = shard_manifest(half, n_shards=8).collect()
    # recompute the half-corpus manifest from the full assignment map
    from collections import Counter

    want = Counter(full[d] for d in
                   [r.doc_id for r in half.select("doc_id").collect()])
    got = {r.shard: r.n_docs for r in m_half}
    assert got == dict(want)


def test_whitespace_token_rules_differ_on_tabs_newlines_and_blanks(spark):
    """Three whitespace token counts, each pinned on the texts where they
    disagree: ws_token_count splits on single spaces, the shard
    aggregate on \\s+ (both drop empty pieces), and token_counts
    (pl_tokens) splits the trimmed text on \\s+ and keeps the one empty
    piece of a blank text. A later unification shows up here first."""
    texts = ["a\tb", "a\nb", ""]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "id long, text string")
    ws = [r[0] for r in df.orderBy("id").select(ws_token_count("text")).collect()]
    shard = [r.n_tokens for r in _shard_aggregate(df, F.col("id").alias("shard"), "text")
             .orderBy("shard").collect()]
    pl = [r.tok_ws for r in token_counts(df).orderBy("id").collect()]
    assert ws == [1, 1, 0]
    assert shard == [2, 2, 0]
    assert pl == [2, 2, 1]
