"""Curation operator tests: golden inline fixtures (reference test style)
plus determinism/coverage properties for the hash-routed operators."""

from __future__ import annotations

import hashlib

import pytest
from pyspark.sql import functions as F

from adenhq_hive_spark.operators.curation import (
    contaminated_ids,
    decontaminate,
    hash_split,
    mixture_sample,
    pack_sequences,
    pii_redact,
)


@pytest.fixture(scope="module")
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today", "web"),
        (2, "completely unrelated text about databases and spark", "web"),
        (3, "the quick brown fox jumps somewhere else entirely now", "web"),
        (4, "another unique document with no overlap at all", "wiki"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "source"])


def test_contaminated_ids_detects_exact_ngram_overlap(spark, corpus):
    # eval doc shares the 5-gram "the quick brown fox jumps" with docs 1,3
    ev = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high")],
        ["doc_id", "text"],
    )
    bad = sorted(
        r.doc_id for r in contaminated_ids(corpus, ev, n=5).collect()
    )
    assert bad == [1, 3]
    clean = decontaminate(corpus, ev, n=5)
    assert sorted(r.doc_id for r in clean.collect()) == [2, 4]


def test_contaminated_ids_case_folds(spark, corpus):
    ev = spark.createDataFrame(
        [(100, "THE QUICK BROWN FOX JUMPS")], ["doc_id", "text"]
    )
    bad = sorted(
        r.doc_id for r in contaminated_ids(corpus, ev, n=5).collect()
    )
    assert bad == [1, 3]


def test_contamination_short_docs_no_false_positive(spark):
    train = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    ev = spark.createDataFrame([(9, "a b")], ["doc_id", "text"])
    assert contaminated_ids(train, ev, n=5).count() == 0


def test_pii_redact_golden(spark):
    df = spark.createDataFrame(
        [
            (1, "mail bob@corp.example.com or call 555-123-4567 now"),
            (2, "server at 10.0.0.1 and 192.168.1.255 no mail"),
            (3, "nothing sensitive here"),
        ],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in pii_redact(df).collect()}
    assert (rows[1].n_email, rows[1].n_phone, rows[1].n_ipv4) == (1, 1, 0)
    assert rows[1].redacted == "mail <EMAIL> or call <PHONE> now"
    assert (rows[2].n_email, rows[2].n_phone, rows[2].n_ipv4) == (0, 0, 2)
    assert rows[2].redacted == "server at <IPV4> and <IPV4> no mail"
    assert rows[3].redacted == "nothing sensitive here"


def test_hash_split_deterministic_and_total(spark):
    df = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    out = hash_split(df).groupBy("split").count().collect()
    got = {r.split: r["count"] for r in out}
    assert set(got) == {"train", "val", "test"}
    assert sum(got.values()) == 2000
    # ~80/10/10 with generous slack
    assert 1450 <= got["train"] <= 1750
    # row-level determinism matches a driver-side md5 reference
    sample = hash_split(df).filter(F.col("doc_id") < 50).collect()
    for r in sample:
        pfx = hashlib.md5(str(r.doc_id).encode()).hexdigest()[:4]
        exp = "train" if pfx < "cccd" else ("val" if pfx < "e666" else "test")
        assert r.split == exp, r.doc_id


def test_pack_sequences_chunk_assignment(spark):
    rows = [
        ("a", 1, "w " * 3),   # 3 tokens ("w w w " splits with trailing '')
        ("a", 2, "w " * 4),
        ("a", 3, "w " * 5),
        ("b", 4, "w " * 10),
    ]
    df = spark.createDataFrame(
        [(s, i, t.strip()) for s, i, t in rows],
        ["source", "doc_id", "text"],
    )
    out = {r.doc_id: r for r in pack_sequences(df, max_tokens=6).collect()}
    # group a: cumsum-exclusive 0,3,7 -> chunks 0,0,1
    assert (out[1].chunk_id, out[2].chunk_id, out[3].chunk_id) == (0, 0, 1)
    assert out[4].chunk_id == 0  # group b independent
    assert out[3].n_tokens == 5


def test_mixture_sample_rates_and_determinism(spark):
    df = (
        spark.range(0, 4000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 2 == 0, "web").otherwise("wiki"),
        )
    )
    out = mixture_sample(df, {"web": "4000", "wiki": "c000"})
    got = {
        r.source: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    # web ~25% of 2000, wiki ~75% of 2000
    assert 380 <= got["web"] <= 620
    assert 1380 <= got["wiki"] <= 1620
    # idempotent: same rows kept on re-run
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in mixture_sample(
        df, {"web": "4000", "wiki": "c000"}).collect())
    assert a == b


def test_stratified_sample_k_exact_counts_and_determinism(spark):
    from adenhq_hive_spark.operators.curation import stratified_sample_k

    df = (
        spark.range(0, 300)
        .withColumnRenamed("id", "doc_id")
        .withColumn("source", F.concat(F.lit("s"), F.col("doc_id") % 3))
    )
    out = stratified_sample_k(df, k=7)
    counts = {r.source: r["count"]
              for r in out.groupBy("source").count().collect()}
    assert counts == {"s0": 7, "s1": 7, "s2": 7}
    # small stratum: returns all rows, not k
    tiny = stratified_sample_k(df.filter(F.col("doc_id") < 4), k=7)
    assert tiny.count() == 4
    # deterministic
    a = sorted(r.doc_id for r in out.collect())
    b = sorted(r.doc_id for r in stratified_sample_k(df, k=7).collect())
    assert a == b


def test_chunk_text_windows_and_overlap(spark):
    from adenhq_hive_spark.operators.curation import chunk_text

    words = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, words), (2, "short doc only")], ["doc_id", "text"]
    )
    out = chunk_text(df, window=4, stride=3)
    rows = sorted(
        out.collect(), key=lambda r: (r.doc_id, r.chunk_idx)
    )
    d1 = [r for r in rows if r.doc_id == 1]
    # starts at 1, 4, 7 (n=10, last start = n - window + 1 = 7)
    assert [r.chunk_text for r in d1] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9"
    ]
    assert [r.n_tokens for r in d1] == [4, 4, 4]
    # overlap of window - stride = 1 token between consecutive chunks
    # short doc (< window): exactly one full chunk
    d2 = [r for r in rows if r.doc_id == 2]
    assert len(d2) == 1 and d2[0].chunk_text == "short doc only"


def test_chunk_text_rejects_bad_params(spark):
    from adenhq_hive_spark.operators.curation import chunk_text

    df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
    with pytest.raises(ValueError):
        chunk_text(df, window=0, stride=3)
    with pytest.raises(ValueError):
        chunk_text(df, window=4, stride=0)
    with pytest.raises(ValueError, match="stride"):
        chunk_text(df, window=4, stride=5)


# ---- property tests (driver-side reimplementation as the oracle) -----------


def test_chunk_text_property_full_coverage(spark):
    """For arbitrary docs and (window, stride): chunks reconstruct the
    token stream — chunk c covers tokens [c*stride, c*stride+window) and
    every token appears in at least one chunk."""
    import random

    from adenhq_hive_spark.operators.curation import chunk_text

    rng = random.Random(7)
    rows = []
    for doc in range(30):
        n = rng.randint(0, 40)
        rows.append((doc, " ".join(f"t{doc}_{i}" for i in range(n))))
    window = rng.randint(1, 12)
    stride = rng.randint(1, window)
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {}
    for r in chunk_text(df, window=window, stride=stride).collect():
        got.setdefault(r.doc_id, {})[r.chunk_idx] = r.chunk_text.split(" ")
    for doc, text in rows:
        toks = [t for t in text.split(" ") if t]
        chunks = got.get(doc, {})
        covered = set()
        for idx, ctoks in chunks.items():
            start = idx * stride
            assert ctoks == toks[start:start + window] or (
                not toks and ctoks == [""]
            ), (doc, idx)
            covered.update(range(start, start + len(ctoks)))
        if toks:
            assert covered == set(range(len(toks))), doc


def test_hash_split_property_partition_of_space(spark):
    """Arbitrary ascending boundary sets must partition every row into
    exactly one split, matching a driver-side md5 reimplementation."""
    import hashlib

    from adenhq_hive_spark.operators.curation import hash_split

    boundaries = {"a": "3000", "b": "9f00", "c": "c000"}
    df = spark.range(0, 500).withColumnRenamed("id", "doc_id")
    got = {r.doc_id: r.split for r in hash_split(
        df, boundaries=boundaries).collect()}
    assert len(got) == 500
    for i in range(500):
        pfx = hashlib.md5(str(i).encode()).hexdigest()[:4]
        exp = next(
            (name for name, b in boundaries.items() if pfx < b), "test"
        )
        assert got[i] == exp, (i, pfx)


def test_mixture_rates_for_targets_achieves_mixture(spark):
    from adenhq_hive_spark.operators.curation import (
        mixture_rates_for_targets,
        mixture_sample,
    )

    df = (
        spark.range(0, 9000)
        .withColumnRenamed("id", "doc_id")
        .withColumn(
            "source",
            F.when(F.col("doc_id") % 9 < 8, "web").otherwise("wiki"),
        )
    )
    counts = {
        r.source: r["count"]
        for r in df.groupBy("source").count().collect()
    }
    assert counts == {"web": 8000, "wiki": 1000}
    rates = mixture_rates_for_targets(counts, {"web": 0.5, "wiki": 0.5})
    out = mixture_sample(df, rates)
    got = {
        r.source: r["count"]
        for r in out.groupBy("source").count().collect()
    }
    # binding domain kept fully; web down-sampled to ~1000 (hash noise)
    assert got["wiki"] == 1000
    assert 850 <= got["web"] <= 1150
    # validation errors
    with pytest.raises(ValueError):
        mixture_rates_for_targets({}, {"web": 1.0})
    with pytest.raises(ValueError):
        mixture_rates_for_targets({"web": 10}, {"nope": 1.0})
    with pytest.raises(ValueError, match="zero counts"):
        mixture_rates_for_targets({"web": 0, "wiki": 0}, {"web": 1.0, "wiki": 1.0})


def test_temperature_weights_properties():
    from adenhq_hive_spark.operators.curation import temperature_weights

    counts = {"web": 8000, "wiki": 1000, "code": 1000}
    natural = temperature_weights(counts, alpha=1.0)
    assert natural["web"] == pytest.approx(0.8)
    uniform = temperature_weights(counts, alpha=0.0)
    assert all(v == pytest.approx(1 / 3) for v in uniform.values())
    mid = temperature_weights(counts, alpha=0.5)
    # temperature flattens: web's share shrinks toward uniform
    assert 1 / 3 < mid["web"] < 0.8
    assert sum(mid.values()) == pytest.approx(1.0)


def test_pack_chunks_concatenates_in_doc_order(spark):
    from adenhq_hive_spark.operators.curation import pack_chunks

    rows = [
        ("a", 1, "one two three"),
        ("a", 2, "four five"),
        ("a", 3, "six seven eight nine"),
    ]
    df = spark.createDataFrame(rows, ["source", "doc_id", "text"])
    out = {r.chunk_id: r for r in pack_chunks(df, max_tokens=5).collect()}
    # cumsum-exclusive: 0, 3, 5 -> chunks 0, 0, 1
    assert out[0].packed_text == "one two three four five"
    assert out[0].n_docs == 2 and out[0].n_tokens == 5
    assert out[1].packed_text == "six seven eight nine"


def test_null_text_propagates_without_corruption(spark):
    """NULL text yields NULL metrics (never -1 from size(null)) and
    non-null rows are unaffected — null docs cannot corrupt running
    token sums or chunk assignment."""
    from adenhq_hive_spark.operators.curation import (
        chunk_text,
        pack_sequences,
        pii_redact,
    )

    df = spark.createDataFrame(
        [(1, None, "web"), (2, "real text here now", "web")],
        ["doc_id", "text", "source"],
    )
    pack = {r.doc_id: r for r in pack_sequences(df, 512).collect()}
    assert pack[1].n_tokens is None
    assert pack[2].n_tokens == 4 and pack[2].chunk_id == 0
    chunks = {r.doc_id: r for r in chunk_text(df).collect()}
    assert chunks[1].chunk_text is None
    assert chunks[2].chunk_text == "real text here now"
    pii = {r.doc_id: r for r in pii_redact(df).collect()}
    assert pii[1].redacted is None and pii[1].n_email is None
    assert pii[2].redacted == "real text here now"


def test_passage_dedup_first_occurrence_semantics(spark):
    """Repeated blocks keep only their first (doc, position) occurrence;
    fully-duplicated docs survive as rows with n_kept = 0."""
    import hashlib

    from adenhq_hive_spark.operators.curation import passage_dedup

    blk = "b0 b1 b2 b3"  # one 4-token block, shared across docs
    rows = [
        (1, blk + " u1 u2 u3 u4"),          # first occurrence of blk
        (2, blk + " v1 v2 v3 v4"),          # blk deduped, tail kept
        (3, blk),                            # fully duplicated -> 0 kept
        (4, "w1 w2 w3 w4 " + blk),          # blk at position 2 deduped
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in passage_dedup(df, block=4).collect()}
    assert len(out) == 4
    assert (out[1].n_blocks, out[1].n_kept) == (2, 2)
    assert (out[2].n_blocks, out[2].n_kept) == (2, 1)
    assert (out[3].n_blocks, out[3].n_kept) == (1, 0)
    assert out[3].clean_md5 == hashlib.md5(b"").hexdigest()
    assert (out[4].n_blocks, out[4].n_kept) == (2, 1)
    # reassembly preserves original token order of the survivors
    assert out[2].clean_md5 == hashlib.md5(b"v1 v2 v3 v4").hexdigest()
    assert out[4].clean_md5 == hashlib.md5(b"w1 w2 w3 w4").hexdigest()


def test_token_budget_sample_semantics(spark):
    """Budget is enforced on the exclusive running sum (overshoot by at
    most one doc), selection order is md5(id), zero-budget and unlisted
    domains are dropped, and the result is deterministic."""
    from adenhq_hive_spark.operators.curation import token_budget_sample

    rows = [(i, " ".join(["w"] * 10), "a") for i in range(20)]  # 10 toks
    rows += [(100 + i, "x y z", "b") for i in range(5)]
    rows += [(200 + i, "p q", "c") for i in range(5)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = token_budget_sample(df, {"a": 35, "b": 0})
    got = {r.source: [] for r in out.collect()}
    for r in out.collect():
        got[r.source].append(r)
    # domain a: docs kept while exclusive cumsum < 35 -> 4 docs (40 toks)
    assert len(got["a"]) == 4 and sum(r.n_tokens for r in got["a"]) == 40
    # zero budget and unlisted domain produce nothing
    assert "b" not in got and "c" not in got
    # md5 order: kept set matches a driver-side reference
    order = sorted(range(20), key=lambda i: hashlib.md5(str(i).encode()).hexdigest())
    assert sorted(r.doc_id for r in got["a"]) == sorted(order[:4])
    with pytest.raises(ValueError):
        token_budget_sample(df, {})


def test_token_budget_property_prefix_and_bound(spark):
    """For arbitrary corpora and budgets: the kept set per domain is
    exactly the maximal md5-order prefix whose exclusive running sum is
    under budget — never exceeding budget by more than one document."""
    import random

    from adenhq_hive_spark.operators.curation import token_budget_sample

    rng = random.Random(11)
    rows, budgets = [], {}
    for d in range(4):
        dom = f"d{d}"
        budgets[dom] = rng.randint(0, 120)
        for i in range(rng.randint(0, 15)):
            doc_id = d * 1000 + i
            n = rng.randint(1, 30)
            rows.append((doc_id, " ".join(["w"] * n), dom))
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    got = {}
    for r in token_budget_sample(df, budgets).collect():
        got.setdefault(r.source, set()).add(r.doc_id)
    # driver-side reference: md5-order exclusive-cumsum prefix
    for dom, budget in budgets.items():
        docs = [(i, t) for i, t, s in rows if s == dom]
        docs.sort(key=lambda p: (hashlib.md5(str(p[0]).encode()).hexdigest(),
                                 p[0]))
        kept, cum = set(), 0
        for i, t in docs:
            if cum < budget:
                kept.add(i)
            cum += len(t.split())
        assert got.get(dom, set()) == kept, dom
        kept_tokens = sum(len(t.split()) for i, t in docs if i in kept)
        max_doc = max((len(t.split()) for i, t in docs), default=0)
        assert kept_tokens <= budget + max_doc


def test_passage_dedup_doc_scope_keeps_cross_doc_repeats(spark):
    """scope='doc': repeats are trimmed within a document but identical
    passages in OTHER documents are untouched."""
    from adenhq_hive_spark.operators.curation import passage_dedup

    blk = "b0 b1 b2 b3"
    df = spark.createDataFrame(
        [(1, blk + " " + blk), (2, blk)], ["doc_id", "text"]
    )
    out = {r.doc_id: r for r in passage_dedup(df, block=4, scope="doc").collect()}
    assert (out[1].n_blocks, out[1].n_kept) == (2, 1)  # intra-doc trim
    assert (out[2].n_blocks, out[2].n_kept) == (1, 1)  # cross-doc kept
    with pytest.raises(ValueError, match="scope"):
        passage_dedup(df, block=4, scope="global")


def test_snapshot_diff_all_four_statuses(spark):
    from adenhq_hive_spark.operators.curation import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(1, "alpha"), (2, "beta CHANGED"), (4, "delta")],
        ["doc_id", "text"],
    )
    rows = {r.doc_id: r for r in snapshot_diff(old, new).collect()}
    assert rows[1].status == "unchanged"
    assert rows[2].status == "changed"
    assert rows[3].status == "removed" and rows[3].new_md5 is None
    assert rows[4].status == "added" and rows[4].old_md5 is None
    assert rows[1].old_md5 == hashlib.md5(b"alpha").hexdigest()


def test_shuffle_shard_stable_address_and_contiguous_positions(spark):
    from adenhq_hive_spark.operators.curation import shuffle_shard

    df = spark.range(0, 200).withColumnRenamed("id", "doc_id")
    out = shuffle_shard(df, shard_hex_chars=1).collect()
    assert len(out) == 200
    assert {r.doc_id for r in out} == set(range(200))
    by_shard: dict[int, list[tuple[int, str]]] = {}
    for r in out:
        assert 0 <= r.shard_id < 16
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        by_shard.setdefault(r.shard_id, []).append((r.pos, h))
    for rows in by_shard.values():
        rows.sort()
        # pos is contiguous from 1 and walks the shard in md5 order
        assert [p for p, _ in rows] == list(range(1, len(rows) + 1))
        assert [h for _, h in rows] == sorted(h for _, h in rows)
    # shard routing follows md5(id) — independently recomputable
    for r in out[:20]:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        assert r.shard_id == int(h[0], 16)
    # deterministic under repartitioning: the (shard, pos) address of
    # every row is identical when the input partition layout changes
    again = shuffle_shard(df.repartition(7), shard_hex_chars=1).collect()
    assert {(r.shard_id, r.pos, r.doc_id) for r in again} == {
        (r.shard_id, r.pos, r.doc_id) for r in out
    }


def test_shuffle_shard_two_hex_chars_and_bounds(spark):
    from adenhq_hive_spark.operators.curation import shuffle_shard

    df = spark.range(0, 64).withColumnRenamed("id", "doc_id")
    out = shuffle_shard(df, shard_hex_chars=2).collect()
    for r in out:
        h = hashlib.md5(str(r.doc_id).encode()).hexdigest()
        assert r.shard_id == int(h[:2], 16)
    with pytest.raises(ValueError):
        shuffle_shard(df, shard_hex_chars=0)


def test_dsir_score_directionality_and_exactness(spark):
    """Docs written in the target's vocabulary must score positive;
    docs in the raw-only vocabulary negative. sum_w is an exact
    integer (order-independent), and the emitted score is exactly
    sum_w / n_toks / 1e6."""
    from adenhq_hive_spark.operators.curation import dsir_score

    target = spark.createDataFrame(
        [(100 + i, "alpha beta gamma delta") for i in range(4)],
        ["doc_id", "text"],
    )
    raw = spark.createDataFrame(
        [
            (1, "alpha beta gamma"),        # pure target vocab
            (2, "zeta eta theta iota"),     # pure raw vocab
            (3, "alpha beta zeta eta"),     # mixed
        ],
        ["doc_id", "text"],
    )
    out = {r.doc_id: r for r in dsir_score(raw, target).collect()}
    assert out[1].kept and out[1].dsir_score > 0
    assert not out[2].kept and out[2].dsir_score < 0
    for r in out.values():
        assert r.dsir_score == r.sum_w / r.n_toks / 1_000_000
    # mixed doc sits strictly between the pure docs
    assert out[2].dsir_score < out[3].dsir_score < out[1].dsir_score


def test_dsir_score_stable_under_repartition(spark):
    """Integer-sum contract: the same corpus split across different
    partition layouts produces identical sum_w (no float order
    sensitivity)."""
    from adenhq_hive_spark.operators.curation import dsir_score

    rows = [(i, f"tok{i % 7} alpha beta tok{i % 3}") for i in range(60)]
    raw = spark.createDataFrame(rows, ["doc_id", "text"])
    target = spark.createDataFrame(
        [(1000, "alpha beta alpha beta gamma")], ["doc_id", "text"]
    )
    a = {r.doc_id: r.sum_w for r in dsir_score(raw, target).collect()}
    b = {
        r.doc_id: r.sum_w
        for r in dsir_score(raw.repartition(13), target).collect()
    }
    assert a == b


def test_quality_classifier_learns_rule_battery(spark):
    """The distilled linear model must recover the rule labels far above
    chance on held-out docs, and scores must be calibrated-ish
    (p_keep higher for kept docs)."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.classifier import (
        quality_features,
        score_documents,
        train_quality_classifier,
    )

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    feats = quality_features(docs)
    model = train_quality_classifier(feats.filter("doc_id % 2 = 0"))
    scored = score_documents(model, feats.filter("doc_id % 2 = 1")).cache()
    n = scored.count()
    acc = scored.filter("prediction = label").count() / n
    assert acc >= 0.9
    means = {
        r.label: r.m
        for r in scored.groupBy("label")
        .agg(F.avg("p_keep").alias("m"))
        .collect()
    }
    assert means[1.0] > means[0.0] + 0.3


def test_pack_efficiency_golden(spark):
    from adenhq_hive_spark.operators.curation import pack_efficiency

    # token counts: 3, 5, 12 -> total 20
    rows = [
        (1, "a b c"),
        (2, "a b c d e"),
        (3, " ".join(["w"] * 12)),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.ctx_len: r for r in pack_efficiency(
        df, context_lengths=[4, 8, 64]).collect()}
    assert sorted(out) == [4, 8, 64]
    r4 = out[4]
    assert (r4.n_docs, r4.total_tokens) == (3, 20)
    assert (r4.n_over, r4.tokens_over) == (2, 9)       # 5->1 over, 12->8 over
    assert r4.n_seqs_concat == 5                        # ceil(20/4)
    assert r4.n_seqs_split == 1 + 2 + 3                 # ceil(3/4)+ceil(5/4)+ceil(12/4)
    assert r4.waste_frac_split == round((6 * 4 - 20) / (6 * 4), 4)
    r64 = out[64]
    assert (r64.n_over, r64.tokens_over) == (0, 0)
    assert r64.n_seqs_concat == 1 and r64.n_seqs_split == 3
    # split waste at L=64: 3*64 - 20 = 172 padding of 192 slots
    assert r64.waste_frac_split == round(172 / 192, 4)


def test_quality_weighted_sample_properties(spark):
    from adenhq_hive_spark.operators.curation import quality_weighted_sample
    from adenhq_hive_spark.catalog import load_table
    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    out = quality_weighted_sample(docs).collect()
    assert len(out) == docs.count()           # every doc labeled
    kept = sum(r.kept for r in out)
    assert 0 < kept < len(out)                # genuinely thinned
    # keep rate tracks the mean quality score (hash32/2^32 ~ U[0,1))
    mean_q = sum(r.quality_score for r in out) / len(out)
    assert abs(kept / len(out) - mean_q) < 0.1
    # determinism: re-run returns the identical keep set
    again = quality_weighted_sample(docs).collect()
    assert [(r.doc_id, r.kept) for r in out] == [
        (r.doc_id, r.kept) for r in again
    ]


def test_quality_weighted_sample_extremes(spark):
    from adenhq_hive_spark.operators.curation import quality_weighted_sample

    # score-1.0 docs are always kept; score-0 docs never
    good = ("the and of to is " + "word " * 20).strip()   # all rules pass
    # single 18-char token: word count 1 (<5), mean word len 18 (>12),
    # punct ratio 0.33 (>0.2), digit ratio 0.67 (>0.3), no stopwords
    bad = "111111111111!!!!!!"
    rows = [(i, good) for i in range(50)] + [(100 + i, bad) for i in range(50)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in quality_weighted_sample(df).collect()}
    assert all(out[i].kept for i in range(50))
    assert not any(out[100 + i].kept for i in range(50))


def test_curriculum_order_stages_and_determinism(spark):
    from adenhq_hive_spark.operators.curation import curriculum_order

    rows = [(i, " ".join("w" for _ in range(5 + i))) for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = curriculum_order(df, n_stages=4).collect()
    assert len(out) == 40
    by_stage = {}
    for r in out:
        by_stage.setdefault(r.stage, []).append(r)
    assert sorted(by_stage) == [1, 2, 3, 4]
    assert all(len(v) == 10 for v in by_stage.values())   # equi-depth
    # stages are length-ordered: every stage-k doc <= every stage-k+1 doc
    for k in (1, 2, 3):
        assert max(r.n_tokens for r in by_stage[k]) <= min(
            r.n_tokens for r in by_stage[k + 1]
        )
    # positions contiguous from 1; order deterministic across runs
    for v in by_stage.values():
        assert sorted(r.pos for r in v) == list(range(1, 11))
    again = curriculum_order(df, n_stages=4).collect()
    assert [tuple(r) for r in out] == [tuple(r) for r in again]


def test_exact_rank_matches_window_row_number(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from adenhq_hive_spark.operators.ranking import exact_rank

    # ties in the value column, unique tiebreak, multiple groups
    rows = [(i, i % 7, "g" + str(i % 3)) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "val", "grp"])
    got = {
        (r.grp, r.id): r.rk
        for r in exact_rank(
            df, order_cols=("val", "id"), part_cols=("grp",),
            rank_col="rk", num_partitions=5,
        ).collect()
    }
    w = Window.partitionBy("grp").orderBy("val", "id")
    want = {
        (r.grp, r.id): r.rk
        for r in df.withColumn("rk", F.row_number().over(w)).collect()
    }
    assert got == want
    # global (no partition) form, with totals
    ranked, totals = exact_rank(
        df, order_cols=("val", "id"), rank_col="rk", num_partitions=5,
        return_totals=True,
    )
    got_g = {r.id: r.rk for r in ranked.collect()}
    wg = Window.orderBy("val", "id")
    want_g = {
        r.id: r.rk for r in df.withColumn("rk", F.row_number().over(wg)).collect()
    }
    assert got_g == want_g and totals == {(): 200}
    # empty input
    assert exact_rank(
        df.filter("id < 0"), order_cols=("val", "id"), num_partitions=3
    ).count() == 0


def test_ntile_expr_matches_ansi_ntile(spark):
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from adenhq_hive_spark.operators.ranking import ntile_expr

    for n, k in [(40, 4), (41, 4), (43, 4), (3, 7), (1, 2), (100, 9)]:
        df = spark.range(1, n + 1).withColumnRenamed("id", "r")
        got = df.select(
            "r", F.expr(ntile_expr("r", n, k)).alias("s")
        )
        want = df.select(
            "r", F.ntile(k).over(Window.orderBy("r")).alias("s")
        )
        assert got.exceptAll(want).count() == 0, (n, k)
        assert want.exceptAll(got).count() == 0, (n, k)


def test_curriculum_scale_path_equals_ntile_form(spark):
    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.curation import (
        curriculum_order,
        curriculum_order_ntile,
    )

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    got = [tuple(r) for r in curriculum_order(docs, n_stages=4).collect()]
    want = [
        tuple(r) for r in curriculum_order_ntile(docs, n_stages=4).collect()
    ]
    assert got == want and len(got) > 0
    # n < n_stages edge: NTILE gives each row its own bucket
    tiny = spark.createDataFrame(
        [(1, "a b"), (2, "a b c d")], ["doc_id", "text"]
    )
    got2 = [tuple(r) for r in curriculum_order(tiny, n_stages=5).collect()]
    want2 = [
        tuple(r) for r in curriculum_order_ntile(tiny, n_stages=5).collect()
    ]
    assert got2 == want2 and [r[2] for r in got2] == [1, 2]


def test_source_scorecard_golden(spark):
    from adenhq_hive_spark.operators.curation import source_scorecard

    good = ("the and of to is " + "word " * 60).strip()   # gopher-passing
    dup = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, good, "clean"), (2, good + " extra", "clean"),
        (10, dup, "dupy"), (11, dup, "dupy"), (12, dup, "dupy"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in source_scorecard(df).collect()}
    assert set(out) == {"clean", "dupy"}
    c, d = out["clean"], out["dupy"]
    assert (c.n_docs, d.n_docs) == (2, 3)
    assert c.gopher_pass_rate == 1.0       # 65-word stopword-rich docs
    assert c.dup_rate == 0.0
    assert d.dup_rate == round(2 / 3, 4)   # two copies of three
    assert d.gopher_pass_rate == 0.0       # 12 words < min 50
    assert 0.0 <= d.mean_quality <= 1.0
    assert c.n_tokens == 65 + 66


def test_temperature_mixture_flattens_shares(spark):
    import math

    from adenhq_hive_spark.operators.curation import temperature_mixture

    # big: 3 docs x 16 tokens = 48; small: 1 doc x 3 tokens
    rows = [(i, " ".join(f"w{j}" for j in range(16)), "big") for i in range(3)]
    rows += [(99, "a b c", "small")]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r.source: r for r in temperature_mixture(df).collect()}
    assert out["big"].n_tokens == 48 and out["small"].n_tokens == 3
    tot = 51
    sq_b, sq_s = math.isqrt(48), math.isqrt(3)
    assert out["big"].raw_share == round(48 / tot, 4)
    # temperature flattening: small source's weight > raw share,
    # big source's weight < raw share
    assert out["small"].weight > out["small"].raw_share
    assert out["big"].weight < out["big"].raw_share
    assert out["big"].weight == round(sq_b / (sq_b + sq_s) + 1e-12, 4) or \
        abs(out["big"].weight - sq_b / (sq_b + sq_s)) < 1e-4
    # weights sum to ~1 across sources
    assert abs(out["big"].weight + out["small"].weight - 1.0) < 2e-4


def test_preference_pairs_golden(spark):
    from adenhq_hive_spark.operators.curation import preference_pairs

    rows = [
        # group 1: clear best/worst
        (1, 10, 5.0), (1, 11, 1.0), (1, 12, 3.0),
        # group 2: score tie at the top -> larger id wins chosen;
        # tie at the bottom -> smaller id wins rejected
        (2, 20, 9.0), (2, 21, 9.0), (2, 22, 2.0), (2, 23, 2.0),
        # group 3: single candidate -> dropped
        (3, 30, 7.0),
    ]
    df = spark.createDataFrame(rows, ["user_id", "event_id", "value"])
    out = {r.user_id: r for r in preference_pairs(df).collect()}
    assert set(out) == {1, 2}
    assert (out[1].chosen_id, out[1].rejected_id) == (10, 11)
    assert out[1].margin == 4.0 and out[1].n_candidates == 3
    assert (out[2].chosen_id, out[2].rejected_id) == (21, 22)
    assert out[2].margin == 7.0


def test_length_buckets_golden(spark):
    from adenhq_hive_spark.operators.curation import length_buckets

    rows = [
        (1, "", "a"),                                  # 0 tokens -> bucket 0
        (2, "w", "a"),                                 # 1 -> bucket 1 [1,1]
        (3, "w w w", "a"),                             # 3 -> bucket 2 [2,3]
        (4, " ".join(["w"] * 8), "a"),                 # 8 -> bucket 4 [8,15]
        (5, " ".join(["w"] * 15), "a"),                # 15 -> bucket 4
        (6, " ".join(["w"] * 16), "b"),                # 16 -> bucket 5 [16,31]
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.source, r.bucket): r for r in length_buckets(df).collect()}
    assert out[("a", 0)].n_docs == 1 and out[("a", 0)].lo_tokens == 0
    assert out[("a", 1)].lo_tokens == 1 and out[("a", 1)].hi_tokens == 1
    assert out[("a", 2)].n_tokens == 3
    b4 = out[("a", 4)]
    assert (b4.lo_tokens, b4.hi_tokens, b4.n_docs, b4.n_tokens) == (8, 15, 2, 23)
    assert out[("b", 5)].lo_tokens == 16 and out[("b", 5)].hi_tokens == 31


def test_preference_pairs_null_scores_excluded(spark):
    """NULL-scored candidates are not comparable: they can be neither
    chosen nor rejected, and a group left with < 2 scored candidates
    emits no pair (Spark's min(struct) would otherwise pick the NULL
    row as 'rejected' while a SQL twin ranks NULLS LAST)."""
    from adenhq_hive_spark.operators.curation import preference_pairs

    rows = [
        ("g1", 1, 5.0), ("g1", 2, None), ("g1", 3, 1.0),
        ("g2", 4, 7.0), ("g2", 5, None),          # one scored -> no pair
    ]
    df = spark.createDataFrame(
        rows, "user_id string, event_id long, value double"
    )
    got = preference_pairs(df).collect()
    assert len(got) == 1
    r = got[0]
    assert (r["user_id"], r["chosen_id"], r["rejected_id"]) == ("g1", 1, 3)
    assert r["n_candidates"] == 2  # the null candidate never counted


# ---- event_sequences ------------------------------------------------------


def test_event_sequences_order_and_truncation(spark):
    from datetime import datetime

    from adenhq_hive_spark.operators.curation import event_sequences

    rows = [
        # user 1: out-of-insertion-order timestamps; tie on ts broken by id
        (3, datetime(2026, 1, 1, 10, 0, 2), 1, "c"),
        (1, datetime(2026, 1, 1, 10, 0, 0), 1, "a"),
        (2, datetime(2026, 1, 1, 10, 0, 0), 1, "b"),
        # user 2: four events, cap at 3 below
        (4, datetime(2026, 1, 1, 9, 0, 0), 2, "w"),
        (5, datetime(2026, 1, 1, 9, 1, 0), 2, "x"),
        (6, datetime(2026, 1, 1, 9, 2, 0), 2, "y"),
        (7, datetime(2026, 1, 1, 9, 3, 0), 2, "z"),
    ]
    df = spark.createDataFrame(
        rows, "event_id long, ts timestamp, user_id long, event_type string"
    )
    out = {r.user_id: r for r in event_sequences(df, max_len=3).collect()}
    assert out[1].seq_text == "a b c"
    # truncated to first 3 events but n_events reports the full count
    assert out[2].seq_text == "w x y" and out[2].n_events == 4
    assert out[2].first_ts == datetime(2026, 1, 1, 9, 0, 0)
    assert out[2].last_ts == datetime(2026, 1, 1, 9, 3, 0)


def test_dataset_card_exact_small_corpus(spark):
    from adenhq_hive_spark.operators.curation import dataset_card

    same = "the quick brown fox jumps over the lazy dog again and again ok"
    df = spark.createDataFrame(
        [
            (1, same, "en", "web"),
            (2, same, "en", "web"),          # exact dup of 1
            (3, "short text here", "de", "books"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    r = dataset_card(df).collect()[0]
    assert r.n_docs == 3 and r.n_sources == 2 and r.n_langs == 2
    assert r.n_tokens == 13 + 13 + 3
    assert r.med_tokens == 13.0
    # exactly one of the three rows is a duplicate occurrence
    assert r.dup_rate == 0.3333
    assert 0.0 <= r.mean_quality <= 1.0
    assert 0.0 <= r.gopher_pass_rate <= 1.0


def test_drop_ledger_kept_set_matches_capstone(spark):
    from adenhq_hive_spark.queries import all_queries

    from .conftest import SF_SMOKE

    qs = all_queries()
    sf = SF_SMOKE
    ledger = qs["pl_drop_ledger"].run(spark, sf)
    kept = ledger.filter("drop_stage = 'kept'").count()
    capstone_docs = sum(
        r.n_docs for r in qs["pl_curation_pipeline"].run(spark, sf).collect()
    )
    assert kept == capstone_docs
    stages = {r.drop_stage for r in ledger.select("drop_stage").distinct().collect()}
    assert stages <= {"quality", "duplicate", "eval_holdout",
                      "contaminated", "kept"}


def test_pack_ffd_python_replay_and_invariants(spark):
    import hashlib

    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.curation import pack_ffd
    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    budget = 256
    rows = pack_ffd(docs, max_tokens=budget).collect()

    # python replay: identical shard routing + FFD placement
    src = docs.selectExpr(
        "doc_id", "size(filter(split(text, ' '), t -> t != '')) AS n"
    ).collect()
    by_shard = {}
    for r in src:
        sh = int(hashlib.md5(str(r.doc_id).encode()).hexdigest()[:8], 16) % 16
        by_shard.setdefault(sh, []).append((r.doc_id, r.n))
    expect = {}
    for sh, items in by_shard.items():
        items.sort(key=lambda x: (-x[1], x[0]))
        bins = []
        for did, n in items:
            if n > budget:
                bins.append(0)
                expect[did] = (sh, len(bins) - 1, True)
                continue
            for b, rem in enumerate(bins):
                if rem >= n:
                    bins[b] -= n
                    expect[did] = (sh, b, False)
                    break
            else:
                bins.append(budget - n)
                expect[did] = (sh, len(bins) - 1, False)
    got = {r.doc_id: (r.shard, r.bin_id, r.overflow) for r in rows}
    assert got == expect

    # invariants: every non-overflow bin within budget; overflow bins
    # hold exactly one over-budget doc
    fills = {}
    for r in rows:
        if not r.overflow:
            fills[(r.shard, r.bin_id)] = fills.get((r.shard, r.bin_id), 0) + r.n_tokens
    assert all(v <= budget for v in fills.values())
    over = [r for r in rows if r.overflow]
    assert all(r.n_tokens > budget for r in over)
    over_bins = [(r.shard, r.bin_id) for r in over]
    assert len(over_bins) == len(set(over_bins))
    assert not set(over_bins) & set(fills)


# ---- Bloom-filter decontamination scale path -------------------------------


def test_bloom_decontaminate_matches_exact_tier(spark, corpus):
    from adenhq_hive_spark.operators.curation import bloom_decontaminate

    ev = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high")],
        ["doc_id", "text"],
    )
    clean = bloom_decontaminate(corpus, ev, n=5)
    assert sorted(r.doc_id for r in clean.collect()) == [2, 4]


def test_bloom_decontaminate_exact_under_heavy_false_positives(spark, corpus):
    """A deliberately undersized filter (64 bits, ~every probe positive)
    must still produce the exact answer: false positives only add verify
    work, never rows — the no-false-negative + exact-verify contract."""
    from adenhq_hive_spark.operators.curation import (
        bloom_decontaminate,
        decontaminate,
    )

    ev = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high")],
        ["doc_id", "text"],
    )
    exact = sorted(
        r.doc_id for r in decontaminate(corpus, ev, n=5).collect()
    )
    tiny = sorted(
        r.doc_id
        for r in bloom_decontaminate(
            corpus, ev, n=5, n_bits=64, n_hashes=2
        ).collect()
    )
    assert tiny == exact


def test_bloom_probe_prunes_clean_grams(spark, corpus):
    """The Bloom probe must actually prune: grams of documents with no
    eval overlap should (at a properly sized filter) mostly fail the
    probe, so the verify join sees far fewer rows than the corpus."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.operators.curation import (
        _word_ngrams,
        bloom_contains,
        build_gram_bloom,
    )

    ev = spark.createDataFrame(
        [(100, "benchmark says the quick brown fox jumps high")],
        ["doc_id", "text"],
    )
    n_bits = 1 << 20
    bloom = build_gram_bloom(ev, "text", n=5, n_bits=n_bits)
    grams = corpus.select(
        F.explode(_word_ngrams(F.col("text"), 5)).alias("g")
    )
    total = grams.count()
    survivors = grams.filter(
        bloom_contains(F.col("g"), bloom, n_bits)
    ).count()
    # docs 1 and 3 each contribute exactly one contaminated gram
    assert survivors < total
    assert survivors >= 2


def test_bloom_positions_reject_bad_params(spark):
    import pytest as _pytest

    from adenhq_hive_spark.operators.curation import (
        _bloom_positions,
        build_gram_bloom,
    )
    from pyspark.sql import functions as F

    with _pytest.raises(ValueError):
        _bloom_positions(F.lit("x"), 1024, 5)
    with _pytest.raises(ValueError):
        build_gram_bloom(
            spark.createDataFrame([(1, "a b c")], ["doc_id", "text"]),
            n_bits=100,
        )


# ---- Efraimidis-Spirakis exact-k weighted sampling -------------------------


def test_es_sample_exact_k_and_deterministic(spark):
    from adenhq_hive_spark.operators.curation import es_weighted_sample_k

    rows = [(i, "g" + str(i % 2), (i % 5) + 1) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "w"])
    out = es_weighted_sample_k(df, k=10, weight_col="w",
                               group_col="source")
    got = out.groupBy("source").count().collect()
    assert {r["source"]: r["count"] for r in got} == {"g0": 10, "g1": 10}
    a = sorted((r.source, r.doc_id) for r in out.collect())
    b = sorted(
        (r.source, r.doc_id)
        for r in es_weighted_sample_k(
            df.repartition(7), k=10, weight_col="w", group_col="source"
        ).collect()
    )
    assert a == b


def test_es_sample_weight_bias(spark):
    """Heavily-weighted rows must be sampled far more often: with half
    the population at weight 100 and half at weight 1, the top-k should
    be dominated by heavy rows."""
    from adenhq_hive_spark.operators.curation import es_weighted_sample_k

    rows = [(i, 100 if i % 2 == 0 else 1) for i in range(400)]
    df = spark.createDataFrame(rows, ["doc_id", "w"]).withColumn(
        "g", __import__("pyspark.sql.functions", fromlist=["lit"]).lit("all")
    )
    out = es_weighted_sample_k(df, k=50, weight_col="w", group_col="g")
    heavy = sum(1 for r in out.collect() if r.doc_id % 2 == 0)
    assert heavy >= 40


def test_es_sample_rejects_bad_k(spark):
    import pytest as _pytest

    from adenhq_hive_spark.operators.curation import es_weighted_sample_k

    df = spark.createDataFrame([(1, 1.0)], ["doc_id", "w"])
    with _pytest.raises(ValueError):
        es_weighted_sample_k(df, k=0, weight_col="w")


def test_es_sample_ignores_nonpositive_weights(spark):
    """A-ES requires w > 0: a negative weight flips the key sign (would
    rank FIRST) and w = 0 divides by zero (r5 advice). Non-positive and
    NULL weights must be excluded from the sample entirely."""
    from adenhq_hive_spark.operators.curation import es_weighted_sample_k

    rows = [("good1", 10.0), ("good2", 5.0), ("neg", -100.0),
            ("zero", 0.0), ("null", None)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    out = es_weighted_sample_k(df, k=5, weight_col="w")
    ids = {r.doc_id for r in out.collect()}
    assert ids == {"good1", "good2"}


def test_budget_waterfill_skewed_exact_sum_and_cap(spark):
    from adenhq_hive_spark.operators.curation import budget_waterfill

    rows = []
    sizes = {"tiny": 10, "small": 50, "big": 1000, "huge": 5000}
    for src, n in sizes.items():
        rows.append((src, " ".join(["w"] * n)))
    df = spark.createDataFrame(rows, ["source", "text"])
    total = sum(sizes.values())  # 6060
    out = {r.source: r for r in
           budget_waterfill(df, budget_ppm=500_000).collect()}
    budget = total * 500_000 // 1_000_000  # 3030
    assert sum(r.alloc_tokens for r in out.values()) == budget
    # the water level lands at 1970: everyone below it keeps everything,
    # only the 5000-token giant is clipped to exactly the level
    assert out["tiny"].alloc_tokens == 10 and not out["tiny"].capped
    assert out["small"].alloc_tokens == 50 and not out["small"].capped
    assert out["big"].alloc_tokens == 1000 and not out["big"].capped
    assert out["huge"].capped
    assert out["huge"].alloc_tokens == budget - 10 - 50 - 1000  # 1970
    # capped allocations never exceed availability
    assert all(r.alloc_tokens <= r.n_tokens for r in out.values())


def test_budget_waterfill_budget_covers_total(spark):
    from adenhq_hive_spark.operators.curation import budget_waterfill

    df = spark.createDataFrame(
        [("a", "x y z"), ("b", "p q")], ["source", "text"])
    out = {r.source: r for r in
           budget_waterfill(df, budget_ppm=1_000_000).collect()}
    assert out["a"].alloc_tokens == 3 and not out["a"].capped
    assert out["b"].alloc_tokens == 2 and not out["b"].capped


def test_budget_waterfill_validates_ppm(spark):
    import pytest as _pytest

    from adenhq_hive_spark.operators.curation import budget_waterfill

    df = spark.createDataFrame([("a", "x")], ["source", "text"])
    with _pytest.raises(ValueError):
        budget_waterfill(df, budget_ppm=0)
    with _pytest.raises(ValueError):
        budget_waterfill(df, budget_ppm=2_000_000)


def test_quantile_normalize_maps_group_percentiles_to_global(spark):
    """Two sources with disjoint score scales: after normalization the
    same within-source percentile gets the same global value, and each
    source's min/max map to the global min/max."""
    from adenhq_hive_spark.operators.curation import quantile_normalize

    rows = [(f"a{i}", "A", i) for i in range(1, 6)]          # 1..5
    rows += [(f"b{i}", "B", 100 + i) for i in range(1, 6)]   # 101..105
    df = spark.createDataFrame(rows, ["doc_id", "source", "score"])
    out = {r.doc_id: r.norm_score
           for r in quantile_normalize(df, "score").collect()}
    all_scores = sorted([r[2] for r in rows])  # global sorted
    # min of each source -> global min; max -> global max
    assert out["a1"] == all_scores[0] and out["b1"] == all_scores[0]
    assert out["a5"] == all_scores[-1] and out["b5"] == all_scores[-1]
    # equal percentiles map to equal global values across sources
    assert out["a3"] == out["b3"]
    # monotone within source
    assert out["a1"] <= out["a2"] <= out["a3"] <= out["a4"] <= out["a5"]


def test_quantile_normalize_singleton_group_pins_median(spark):
    from adenhq_hive_spark.operators.curation import quantile_normalize

    rows = [("s", "solo", 9999)] + [
        (f"c{i}", "C", i) for i in range(1, 102)]  # global N=102
    df = spark.createDataFrame(rows, ["doc_id", "source", "score"])
    out = {r.doc_id: r.norm_score
           for r in quantile_normalize(df, "score").collect()}
    # singleton's ppm=500000 -> idx = 1 + (500000*101)//1e6 = 51 -> value 51
    assert out["s"] == 51


def test_interleave_order_spreads_sources_evenly(spark):
    """Proportional stride scheduling: in any prefix of the global
    order, each source's share tracks its corpus share (within one
    stride), and the order is deterministic under repartition."""
    from adenhq_hive_spark.operators.curation import interleave_order

    rows = [(f"a{i}", "A") for i in range(90)]
    rows += [(f"b{i}", "B") for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    out = interleave_order(df).collect()
    assert [r.global_pos for r in out] == list(range(1, 121))
    # prefix balance: after any 40 rows, A ~ 30, B ~ 10 (3:1 mixture)
    first40 = [r.source for r in out[:40]]
    assert 27 <= first40.count("A") <= 33
    assert 7 <= first40.count("B") <= 13
    # deterministic under repartition
    again = interleave_order(df.repartition(7)).collect()
    assert [(r.doc_id, r.global_pos) for r in again] == [
        (r.doc_id, r.global_pos) for r in out]


def test_mad_outliers_flags_only_the_planted_extremes(spark):
    from adenhq_hive_spark.operators.curation import mad_outliers

    # degenerate-tight cluster (MAD = 0) plus two planted extremes:
    # only rows strictly off the median can flag
    rows = [(f"d{i}", "S", 100) for i in range(20)]
    rows += [("big", "S", 1000), ("tiny", "S", 1)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    out = mad_outliers(df, "n_chars")
    ids = {r.doc_id for r in out.collect()}
    assert "big" in ids and "tiny" in ids
    assert not any(i.startswith("d") for i in ids)


def test_mad_outliers_integral_scaled_stats(spark):
    """med2/mad4 doubling keeps every statistic integral — dev_x4 and
    mad4 are exact BIGINTs, so |x-med| > k*MAD clears to integers."""
    from adenhq_hive_spark.operators.curation import mad_outliers

    rows = [("a", "S", 1), ("b", "S", 2), ("c", "S", 10), ("d", "S", 11)]
    df = spark.createDataFrame(rows, ["doc_id", "source", "n_chars"])
    # median = 6.0 (med2=12), deviations |x-6| = 5,4,4,5 (dev2=10,8,8,10)
    # MAD = 4.5 (mad4=18); 1.5*MAD = 6.75 > every dev -> no outliers
    assert mad_outliers(df, "n_chars").count() == 0
    # k=1.0: dev 5 > 4.5 -> the two extreme rows flag
    out = mad_outliers(df, "n_chars", k_ppm=1_000_000).collect()
    assert sorted(r.doc_id for r in out) == ["a", "d"]
    assert all(r.mad4 == 18 for r in out)
    assert sorted(r.dev_x4 for r in out) == [20, 20]


# ---- winsorize --------------------------------------------------------------


def test_winsorize_nearest_rank_bounds_and_clip(spark):
    from adenhq_hive_spark.operators.curation import winsorize

    # one group, values 1..20: p05 rank = ceil(1) = 1 -> lo=1,
    # p95 rank = ceil(19) = 19 -> hi=19; only value 20 clips
    df = spark.createDataFrame(
        [("a", i, i) for i in range(1, 21)],
        "source string, doc_id long, n_chars long",
    )
    out = winsorize(df, "n_chars").collect()
    assert [(r.source, r.doc_id, r.n_chars, r.lo, r.hi, r.clipped)
            for r in out] == [("a", 20, 20, 1, 19, 19)]


def test_winsorize_clips_both_tails_per_group(spark):
    from adenhq_hive_spark.operators.curation import winsorize

    rows = [("a", i, v) for i, v in enumerate([1000] + [10] * 48 + [0])]
    rows += [("b", 100 + i, 5) for i in range(10)]  # constant group
    df = spark.createDataFrame(
        rows, "source string, doc_id long, n_chars long"
    )
    out = winsorize(df, "n_chars", lo_pct=10, hi_pct=90).collect()
    got = {(r.source, r.doc_id): (r.clipped, r.lo, r.hi) for r in out}
    # group a: n=50, lo rank ceil(5)=5 -> 10, hi rank ceil(45)=45 -> 10
    assert got[("a", 0)] == (10, 10, 10)    # 1000 clips down to hi
    assert got[("a", 49)] == (10, 10, 10)   # 0 clips up to lo
    assert len(got) == 2                     # constant group never clips


def test_winsorize_p0_maps_to_observed_minimum(spark):
    from adenhq_hive_spark.operators.curation import winsorize

    # lo_pct=0: nearest-rank clamps to rank 1, so lo = group minimum and
    # nothing clips low; hi bound still flags the upper tail with lo set
    # (the pre-fix behavior emitted lo=NULL and unflagged the lower tail)
    df = spark.createDataFrame(
        [("a", i, i) for i in range(1, 21)],
        "source string, doc_id long, n_chars long",
    )
    out = winsorize(df, "n_chars", lo_pct=0, hi_pct=95).collect()
    assert [(r.source, r.doc_id, r.n_chars, r.lo, r.hi, r.clipped)
            for r in out] == [("a", 20, 20, 1, 19, 19)]


def test_winsorize_validates_percentiles(spark):
    import pytest as _pt

    from adenhq_hive_spark.operators.curation import winsorize

    df = spark.createDataFrame(
        [("a", 1, 1)], "source string, doc_id long, n_chars long"
    )
    with _pt.raises(ValueError):
        winsorize(df, "n_chars", lo_pct=60, hi_pct=40)
    with _pt.raises(ValueError):
        winsorize(df, "n_chars", lo_pct=-1)


# ---- cluster_split -----------------------------------------------------------


def test_cluster_split_no_content_crosses_splits(spark):
    """The leakage invariant: exact-duplicate texts always share a
    split, and the split label equals hash_split's label for the
    cluster representative."""
    from adenhq_hive_spark.operators.curation import cluster_split

    rows = [(i, f"text {i % 20}") for i in range(100)]  # 20 clusters of 5
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = cluster_split(df).collect()
    assert len(out) == 100
    by_text = {}
    for r in out:
        key = r.doc_id % 20
        by_text.setdefault(key, set()).add((r.split, r.rep_id))
    for key, combos in by_text.items():
        assert len(combos) == 1, f"cluster {key} split across {combos}"
        assert next(iter(combos))[1] == key  # rep = min id of the cluster


def test_cluster_split_pairs_mode_uses_components(spark):
    """Near-dup pairs chain transitively: a-b, b-c puts all three in one
    split even though a and c share no pair."""
    from adenhq_hive_spark.operators.curation import cluster_split

    df = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, "z"), (9, "w")], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3)], "id_a long, id_b long")
    out = {r.doc_id: (r.rep_id, r.split) for r in
           cluster_split(df, pairs=pairs).collect()}
    assert out[1] == out[2] == out[3]
    assert out[1][0] == 1
    assert out[9][0] == 9  # singleton keeps its own id


def test_cluster_split_fraction_sanity(spark):
    """With unique texts (all singleton clusters) the assignment equals
    hash_split's row-level routing."""
    from adenhq_hive_spark.operators.curation import cluster_split, hash_split

    df = spark.createDataFrame(
        [(i, f"unique {i}") for i in range(300)], "doc_id long, text string"
    )
    got = {r.doc_id: r.split for r in cluster_split(df).collect()}
    want = {r.doc_id: r.split for r in hash_split(df).collect()}
    assert got == want
