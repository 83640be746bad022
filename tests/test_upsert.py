"""CDC upsert store (base + deltas, resolved on read): the store must not
depend on where micro-batch boundaries fall, a replayed epoch must leave
it unchanged, and compaction and vacuum must keep every retained version
readable."""

from __future__ import annotations

import datetime as dt
import json
import os

import pytest
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StructField,
    StructType,
    TimestampType,
)

from adenhq_hive_spark.normalize import result_hash
from adenhq_hive_spark.streaming.upsert import (
    COMPACT_DELTAS,
    _merge_batch,
    _parts,
    list_versions,
    read_store,
    read_version,
    upsert_stream,
    vacuum_store,
)

SCHEMA = StructType([
    StructField("doc_id", LongType()),
    StructField("ts", TimestampType()),
    StructField("value", DoubleType()),
])
T0 = dt.datetime(2026, 3, 1, 0, 0, 0)


def _t(minutes: int) -> dt.datetime:
    return T0 + dt.timedelta(minutes=minutes)


# four chunks of change rows: stale re-deliveries (a lower ts after a
# higher one) and ts ties (the lower value wins) cross chunk boundaries
CHUNKS = [
    [(1, _t(60), 9.0), (2, _t(0), 2.0), (3, _t(0), 3.0)],
    [(1, _t(0), 1.0), (2, _t(30), 2.5), (3, _t(0), 3.5)],
    [(4, _t(0), 4.0), (2, _t(10), 2.1)],
    [(1, _t(30), 1.5), (4, _t(0), 3.9)],
]


def _lww(rows):
    """Reference resolution: per key the highest ts, ties to the lowest
    value."""
    best = {}
    for r in rows:
        k = (-r[1].timestamp(), r[2])
        if r[0] not in best or k < best[r[0]][0]:
            best[r[0]] = (k, r)
    return [r for _, r in best.values()]


def _hash(df):
    return result_hash(df.columns, [tuple(r) for r in df.collect()],
                       strict=True)


def _ref_hash(rows):
    return result_hash([f.name for f in SCHEMA.fields], _lww(rows),
                       strict=True)


def _merge_all(spark, store, batches, first_epoch=0):
    for i, rows in enumerate(batches):
        _merge_batch(spark.createDataFrame(rows, SCHEMA), store, "doc_id",
                     "ts", first_epoch + i)


def _manifest(store, version):
    with open(os.path.join(store, "_manifests", f"{version}.json")) as f:
        return json.load(f)


def _layout(store):
    """Manifests, _CURRENT and the number of parquet files per directory
    (part-file names carry a fresh UUID on every write)."""
    with open(os.path.join(store, "_CURRENT")) as f:
        current = f.read()
    return current, {v: _manifest(store, v) for v in list_versions(store)}, {
        os.path.relpath(d, store): sum(n.endswith(".parquet") for n in ns)
        for d, _, ns in os.walk(store)
    }


def test_batch_boundaries_do_not_change_the_store(spark, tmp_path):
    """The same change rows split 1x4, 2x2 and 4x1 read back identical,
    and equal to last-writer-wins over all of them."""
    splits = {
        "1x4": [sum(CHUNKS, [])],
        "2x2": [CHUNKS[0] + CHUNKS[1], CHUNKS[2] + CHUNKS[3]],
        "4x1": CHUNKS,
    }
    hashes = {}
    for name, batches in splits.items():
        store = str(tmp_path / name)
        _merge_all(spark, store, batches)
        hashes[name] = _hash(read_store(spark, store))
    assert set(hashes.values()) == {_ref_hash(sum(CHUNKS, []))}, hashes


def test_stale_redelivery_never_regresses_a_key(spark, tmp_path):
    """(1, 01:00, 9.0) then, in a later micro-batch of the stream,
    (1, 00:00, 1.0): the key keeps 9.0, as it does in one batch."""
    src = tmp_path / "src"
    src.mkdir()
    for i, rows in enumerate([[(1, _t(60), 9.0)], [(1, _t(0), 1.0)]]):
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(
            str(src / f"b{i}"))
    stream = (spark.readStream.schema(SCHEMA)
              .option("maxFilesPerTrigger", "1").parquet(str(src) + "/*"))
    store = str(tmp_path / "store")
    q = upsert_stream(stream, store).option(
        "checkpointLocation", str(tmp_path / "ck")).start()
    q.processAllAvailable()
    q.stop()
    assert len(list_versions(store)) == 2
    assert [tuple(r) for r in read_store(spark, store).collect()] == [
        (1, _t(60), 9.0)]


def test_replayed_epoch_leaves_the_store_identical(spark, tmp_path):
    store = str(tmp_path / "store")
    _merge_all(spark, store, CHUNKS[:2])
    before = (_layout(store), _hash(read_store(spark, store)))
    _merge_all(spark, store, CHUNKS[1:2], first_epoch=1)
    assert (_layout(store), _hash(read_store(spark, store))) == before
    assert _manifest(store, "v1")["deltas"] == ["v0", "v1"]


def _compacted_store(spark, store):
    """COMPACT_DELTAS + 2 two-row batches: epoch COMPACT_DELTAS - 1
    compacts, the last two are deltas on the new base."""
    batches = [
        [(k % 3, _t((7 * k) % 5), float(k)), (10 + k, _t(0), float(k))]
        for k in range(COMPACT_DELTAS + 2)
    ]
    _merge_all(spark, store, batches)
    return batches


def test_compaction_reads_the_same_and_keeps_time_travel(spark, tmp_path):
    store = str(tmp_path / "store")
    batches = _compacted_store(spark, store)
    last_delta, compacted = (f"v{COMPACT_DELTAS - 2}",
                             f"v{COMPACT_DELTAS - 1}")
    assert _manifest(store, last_delta)["base"] is None
    assert len(_manifest(store, last_delta)["deltas"]) == COMPACT_DELTAS - 1
    m = _manifest(store, compacted)
    assert (m["base"], m["deltas"]) == (compacted, [])
    m = _manifest(store, list_versions(store)[-1])
    assert (m["base"], m["deltas"]) == (
        compacted, [f"v{COMPACT_DELTAS}", f"v{COMPACT_DELTAS + 1}"])

    every_row = sum(batches, [])
    assert _hash(read_store(spark, store)) == _ref_hash(every_row)
    # the compacted base reads like the deltas it folded
    assert _hash(read_version(spark, store, compacted)) == _ref_hash(
        sum(batches[:COMPACT_DELTAS], []))
    # a version from before the compaction still reads its own state
    assert _hash(read_version(spark, store, last_delta)) == _ref_hash(
        sum(batches[:COMPACT_DELTAS - 1], []))
    # and the same rows in one batch, never compacted, read the same
    one = str(tmp_path / "one")
    _merge_all(spark, one, [every_row])
    assert _hash(read_store(spark, one)) == _hash(read_store(spark, store))


@pytest.mark.parametrize("keep_last", [4, 2, 0])
def test_vacuum_keeps_every_part_a_retained_version_references(
        spark, tmp_path, keep_last):
    store = str(tmp_path / "store")
    _compacted_store(spark, store)
    before = list_versions(store)
    want = {v: _hash(read_version(spark, store, v))
            for v in before[-max(keep_last, 1):]}

    removed = vacuum_store(store, keep_last=keep_last)

    kept = list_versions(store)
    assert kept == before[-max(keep_last, 1):]
    assert removed == before[:len(before) - len(kept)]
    live = {p for v in kept for p in _parts(_manifest(store, v))}
    on_disk = {d for d in os.listdir(store) if d.startswith("v")}
    assert on_disk == live
    assert {v: _hash(read_version(spark, store, v)) for v in kept} == want
    with pytest.raises(KeyError):
        read_version(spark, store, removed[0])


def test_batch_with_another_schema_is_refused(spark, tmp_path):
    store = str(tmp_path / "store")
    _merge_all(spark, store, CHUNKS[:1])
    other = spark.createDataFrame([(1, _t(0))], "doc_id bigint, ts timestamp")
    with pytest.raises(ValueError, match="does not match store"):
        _merge_batch(other, store, "doc_id", "ts", 1)
    assert list_versions(store) == ["v0"]


def test_epoch_older_than_the_store_is_refused(spark, tmp_path):
    """A fresh checkpoint restarts at epoch 0; its parts would overwrite
    the ones the store's manifests name."""
    store = str(tmp_path / "store")
    _merge_all(spark, store, CHUNKS[:2])
    before = (_layout(store), _hash(read_store(spark, store)))
    with pytest.raises(ValueError, match="belongs to one checkpoint"):
        _merge_all(spark, store, CHUNKS[2:3])
    assert (_layout(store), _hash(read_store(spark, store))) == before
