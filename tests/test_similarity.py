"""Similarity-search tests: exact brute-force sanity + LSH recall gate
(the ANN tier is recall-checked, not hash-checked — SURVEY §2.11
non-goals)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from adenhq_hive_spark.catalog import load_table
from adenhq_hive_spark.operators.similarity import cosine_topk, lsh_cosine_topk

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_cosine_identical_vector_is_top(spark, emb):
    # duplicate vec 0 under a new id → its cosine with vec 0 must be 1.0
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"),
        "embedding",
        F.lit(0).alias("label"),
    )
    res = cosine_topk(
        emb.unionByName(clone), emb.filter(F.col("vec_id") == 0), k=1
    ).collect()
    assert res[0].cand_id == 9999
    assert res[0].cosine == 1.0


def test_cosine_topk_shape(emb):
    out = cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=5)
    rows = out.collect()
    assert len(rows) == 15
    per_q = {}
    for r in rows:
        per_q.setdefault(r.query_id, []).append(r)
        assert r.cand_id != r.query_id
    for q, rs in per_q.items():
        ranks = sorted(x.rank for x in rs)
        assert ranks == [1, 2, 3, 4, 5]
        cosines = [x.cosine for x in sorted(rs, key=lambda x: x.rank)]
        assert cosines == sorted(cosines, reverse=True)


def test_lsh_recall_vs_exact(emb):
    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.cand_id) for r in lsh_cosine_topk(emb, q, k=5).collect()
    }
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.7, f"LSH recall {recall:.2f} (16 tables x 4 planes)"


def test_ivf_recall_vs_exact(emb):
    from adenhq_hive_spark.operators.similarity import ivf_cosine_topk
    from pyspark.sql import functions as F

    q = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(emb, q, k=5).collect()
    }
    approx = {
        (r.query_id, r.cand_id)
        for r in ivf_cosine_topk(emb, q, k=5, n_centroids=16, n_probe=4).collect()
    }
    recall = len(exact & approx) / len(exact)
    # random (worst-case) embeddings with a 4/16 scan fraction
    assert recall >= 0.5, f"IVF recall {recall:.2f}"


def test_cosine_dedup_lsh_vs_exact(emb):
    from adenhq_hive_spark.operators.similarity import cosine_dedup_pairs

    exact = {(r.id_a, r.id_b) for r in
             cosine_dedup_pairs(emb, threshold=0.4).collect()}
    lsh = {(r.id_a, r.id_b) for r in
           cosine_dedup_pairs(emb, threshold=0.4, method="lsh").collect()}
    assert lsh <= exact  # verification: no false positives
    assert exact, "threshold too high: no pairs to compare"
    recall = len(lsh & exact) / len(exact)
    assert recall >= 0.6, f"LSH dedup recall {recall:.2f}"


def test_cosine_topk_guards(spark, emb):
    from adenhq_hive_spark.operators.similarity import ivf_cosine_topk

    # over-cap query side raises instead of collecting unbounded
    with pytest.raises(ValueError, match="max_queries"):
        cosine_topk(emb, emb, k=1, max_queries=3)
    # non-integral id column raises with a clear contract message
    with pytest.raises(ValueError, match="integral"):
        cosine_topk(
            emb,
            emb.limit(1).withColumn("vec_id", F.col("vec_id").cast("string")),
            k=1,
        )
    # empty query side returns a typed empty frame, not a crash
    out = cosine_topk(emb, emb.filter(F.lit(False)), k=3)
    assert out.columns == ["query_id", "rank", "cand_id", "cosine"]
    assert out.count() == 0
    # empty vector side in IVF: typed empty frame, no kmeans crash
    empty_ivf = ivf_cosine_topk(emb.filter(F.lit(False)), emb.limit(2), k=3)
    assert empty_ivf.columns == ["query_id", "rank", "cand_id", "cosine"]
    assert empty_ivf.count() == 0


def test_label_centroids_golden(spark):
    from adenhq_hive_spark.operators.similarity import label_centroids

    rows = [
        (1, [1.0, 0.0], 0),
        (2, [0.0, 1.0], 0),
        (3, [2.0, 2.0], 1),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    got = {r.label: r for r in label_centroids(df).collect()}
    # label 0 centroid (0.5, 0.5): norm sqrt(0.5); each member cos =
    # 0.5 / (1 * sqrt(0.5)) = sqrt(0.5)
    assert got[0].n_vecs == 2
    assert got[0].centroid_norm == round(0.5**0.5, 4)
    assert got[0].avg_cos == round(0.5**0.5, 4)
    # singleton label: cos to own centroid is exactly 1
    assert got[1].n_vecs == 1 and got[1].avg_cos == 1.0


def test_semdedup_clustered_fixture(spark):
    """Two tight clusters with in-cluster duplicates: drops follow
    first-occurrence-wins, dup_of names the lowest near-dup id, and
    cross-cluster vectors never collide."""
    import numpy as np

    from adenhq_hive_spark.operators.similarity import semdedup

    rng = np.random.default_rng(7)
    a = rng.standard_normal(16)
    b = rng.standard_normal(16)
    rows = [
        (1, (a + 0.01 * rng.standard_normal(16)).tolist()),
        (2, (a + 0.01 * rng.standard_normal(16)).tolist()),  # dup of 1
        (3, (a + 0.01 * rng.standard_normal(16)).tolist()),  # dup of 1
        (10, (b + 0.01 * rng.standard_normal(16)).tolist()),
        (11, (b + 0.01 * rng.standard_normal(16)).tolist()),  # dup of 10
        (20, rng.standard_normal(16).tolist()),  # isolated
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {
        r.vec_id: r
        for r in semdedup(df, threshold=0.9, n_clusters=3).collect()
    }
    assert out[1].keep and out[1].dup_of is None
    assert not out[2].keep and out[2].dup_of == 1
    assert not out[3].keep and out[3].dup_of == 1
    assert out[10].keep
    assert not out[11].keep and out[11].dup_of == 10
    assert out[20].keep
    # near-dups must share a cluster for the drop to have happened
    assert out[2].cluster_id == out[1].cluster_id


def test_semdedup_cluster_cap_raises(spark):
    import numpy as np

    from adenhq_hive_spark.operators.similarity import semdedup

    rng = np.random.default_rng(0)
    rows = [(i, rng.standard_normal(8).tolist()) for i in range(40)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    import pytest as _pytest

    with _pytest.raises(Exception, match="max_cluster_rows"):
        semdedup(df, n_clusters=1, max_cluster_rows=10).collect()


def test_semdedup_drops_are_sound_vs_exact(spark):
    """Every dropped vector must have a genuine above-threshold
    lower-id neighbor under the exact global tier (soundness is
    structural; this pins it)."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.similarity import (
        cosine_dedup_pairs,
        semdedup,
    )

    from .conftest import SF_SMOKE

    vecs = load_table(spark, SF_SMOKE, "embeddings")
    drops = semdedup(vecs, n_clusters=8).filter("NOT keep")
    exact = (
        cosine_dedup_pairs(vecs, threshold=0.45)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
    )
    assert drops.join(exact, "vec_id", "left_anti").count() == 0
    # dup_of must itself be a kept-or-earlier id below the dropped id
    bad = drops.filter(F.col("dup_of") >= F.col("vec_id")).count()
    assert bad == 0


def test_hard_negatives_excludes_same_label(spark):
    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.similarity import hard_negatives

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    anchors = emb.filter("vec_id < 10")
    out = hard_negatives(emb, k=3, anchors=anchors).collect()
    labels = {r.vec_id: r.label for r in emb.select("vec_id", "label").collect()}
    assert len(out) == 10 * 3
    for r in out:
        assert labels[r.anchor_id] != labels[r.neg_id]
        assert r.neg_id != r.anchor_id


def test_hard_negatives_matches_bruteforce(spark):
    import numpy as np

    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.similarity import hard_negatives

    from .conftest import SF_SMOKE

    emb = load_table(spark, SF_SMOKE, "embeddings")
    rows = emb.collect()
    ids = np.array([r.vec_id for r in rows])
    labels = np.array([r.label for r in rows])
    mat = np.array([r.embedding for r in rows], dtype=np.float64)
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    sims = np.round(mat @ mat.T, 4)

    got = {}
    for r in hard_negatives(
        emb, k=4, anchors=emb.filter("vec_id < 6")
    ).collect():
        got.setdefault(r.anchor_id, []).append((r.neg_id, r.cosine))

    for ai in np.where(ids < 6)[0]:
        mask = labels != labels[ai]
        cand_ids, cand_sims = ids[mask], sims[ai][mask]
        order = np.lexsort((cand_ids, -cand_sims))[:4]
        want = [(int(cand_ids[o]), float(cand_sims[o])) for o in order]
        assert got[int(ids[ai])] == want


def test_hard_negatives_guards(spark):
    from adenhq_hive_spark.operators.similarity import hard_negatives

    emb = spark.createDataFrame(
        [(1, [1.0, 0.0], 0), (2, [0.0, 0.0], 1), (3, [0.9, 0.1], 1)],
        "vec_id long, embedding array<double>, label int",
    )
    # zero vector scores cosine 0.0, never NaN — real neighbors rank first
    flat = hard_negatives(emb, k=2).collect()
    assert all(r.cosine == r.cosine for r in flat)        # no NaN
    anchor1 = [(r.neg_id, r.cosine) for r in flat if r.anchor_id == 1]
    assert anchor1[0][0] == 3                              # real vec first
    assert anchor1[1] == (2, 0.0)                          # zero vec at 0.0

    # empty anchors -> empty typed result, no numpy crash
    assert hard_negatives(
        emb, anchors=emb.filter("vec_id > 99")).count() == 0

    # non-integral label fails fast with a clear error
    bad = spark.createDataFrame(
        [(1, [1.0], "x")], "vec_id long, embedding array<double>, label string"
    )
    try:
        hard_negatives(bad)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "label" in str(e)

    # non-integral CANDIDATE side also fails fast, even when the anchors
    # side is clean (was: opaque executor-side numpy cast error)
    bad_cand = spark.createDataFrame(
        [("d1", [1.0, 0.0], 0)],
        "vec_id string, embedding array<double>, label int",
    )
    try:
        hard_negatives(bad_cand, anchors=emb)
        raise AssertionError("expected ValueError")
    except ValueError as e:
        assert "vec_id" in str(e)


# ---- product quantization -------------------------------------------------


def test_pq_identical_vector_is_top_with_refine(spark, emb):
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"),
        "embedding",
        F.lit(0).alias("label"),
    )
    from adenhq_hive_spark.operators.similarity import pq_cosine_topk

    res = pq_cosine_topk(
        emb.unionByName(clone),
        emb.filter(F.col("vec_id") == 0),
        k=1,
        m=16,
        refine=8,
    ).collect()
    # an exact duplicate quantizes to the identical code -> max ADC score,
    # and the refine pass scores it exactly 1.0
    assert res[0].cand_id == 9999
    assert res[0].cosine == 1.0


def test_pq_refined_recall_beats_unrefined(spark, emb):
    from adenhq_hive_spark.operators.similarity import pq_cosine_topk

    qs = emb.limit(5)
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(emb, qs, k=5).collect()
    }

    def recall(**kw):
        got = {
            (r.query_id, r.cand_id)
            for r in pq_cosine_topk(emb, qs, k=5, **kw).collect()
        }
        return len(got & exact) / len(exact)

    refined = recall(m=16, refine=8)
    assert refined >= 0.6  # the pl_pq_recall gate bound
    assert refined >= recall(m=8)  # refine + finer codes never hurt here


def test_pq_codes_compress_and_stay_in_range(spark, emb):
    """Encode path: m codes per vector, every code < n_codes — the
    compression contract (64 floats -> 8 small ints)."""
    from adenhq_hive_spark.operators.similarity import (
        _train_pq_codebooks,
    )
    import numpy as np

    mat = np.array(
        [r.embedding for r in emb.limit(64).collect()], dtype=np.float64
    )
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    books = _train_pq_codebooks(mat, m=8, n_codes=16, seed=1)
    assert books.shape == (8, 16, 8)
    # deterministic: same seed + data -> identical codebooks
    books2 = _train_pq_codebooks(mat, m=8, n_codes=16, seed=1)
    assert np.array_equal(books, books2)


def test_pq_dim_not_divisible_raises(spark):
    from adenhq_hive_spark.operators.similarity import _train_pq_codebooks
    import numpy as np

    with pytest.raises(ValueError):
        _train_pq_codebooks(np.zeros((4, 10)), m=3, n_codes=4, seed=0)


def test_pq_query_cap_raises(spark, emb):
    from adenhq_hive_spark.operators.similarity import pq_cosine_topk

    with pytest.raises(ValueError, match="max_queries"):
        pq_cosine_topk(emb, emb, k=1, max_queries=3)


def test_pq_non_integral_id_raises(spark, emb):
    from adenhq_hive_spark.operators.similarity import pq_cosine_topk

    bad = emb.withColumn("vec_id", F.col("vec_id").cast("string"))
    with pytest.raises(ValueError, match="integral"):
        pq_cosine_topk(bad, bad.limit(1), k=1)


def test_pq_training_sample_is_order_deterministic(spark, emb):
    """The codebook sample is TakeOrdered by id, so repartitioning the
    corpus cannot change the trained codebooks (or the recall gate)."""
    from adenhq_hive_spark.operators.similarity import pq_cosine_topk

    qs = emb.filter(F.col("vec_id") < 3)
    a = pq_cosine_topk(emb, qs, k=3, m=16, refine=4, max_train_rows=64)
    b = pq_cosine_topk(
        emb.repartition(7), qs, k=3, m=16, refine=4, max_train_rows=64
    )
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_pq_persisted_index_probe_matches_direct(spark, emb, tmp_path):
    """Build-once probe-many: pq_query_index over the stored codes must
    return exactly what the direct operator computes with the same
    (deterministic) codebooks — with and without the refine pass."""
    from adenhq_hive_spark.operators.similarity import (
        pq_cosine_topk,
        pq_query_index,
        save_pq_index,
    )

    path = str(tmp_path / "pqidx")
    save_pq_index(emb, path, m=16)
    qs = emb.filter(F.col("vec_id") < 3)

    direct = sorted(map(tuple, pq_cosine_topk(emb, qs, k=5, m=16).collect()))
    probed = sorted(map(tuple, pq_query_index(spark, path, qs, k=5).collect()))
    assert probed == direct

    direct_r = sorted(
        map(tuple, pq_cosine_topk(emb, qs, k=5, m=16, refine=4).collect())
    )
    probed_r = sorted(
        map(
            tuple,
            pq_query_index(
                spark, path, qs, k=5, refine=4, vectors=emb
            ).collect(),
        )
    )
    assert probed_r == direct_r


def test_pq_index_refine_requires_vectors(spark, emb, tmp_path):
    from adenhq_hive_spark.operators.similarity import (
        pq_query_index,
        save_pq_index,
    )

    path = str(tmp_path / "pqidx2")
    save_pq_index(emb.limit(50), path, m=16)
    with pytest.raises(ValueError, match="original"):
        pq_query_index(spark, path, emb.limit(1), refine=2)


def test_pq_index_codes_are_compact(spark, emb, tmp_path):
    """The stored representation is id + m small ints per vector — the
    compression contract that makes PQ the 100 TB ANN memory story."""
    from adenhq_hive_spark.operators.similarity import save_pq_index

    path = str(tmp_path / "pqidx3")
    save_pq_index(emb, path, m=8, n_codes=16)
    codes = spark.read.parquet(f"{path}/codes")
    assert codes.columns == ["cand_id", "codes"]
    row = codes.first()
    assert len(row.codes) == 8 and all(0 <= c < 16 for c in row.codes)


def test_pq_index_incremental_update_matches_rebuild_probe(spark, emb, tmp_path):
    """Append-encoding a delta with the frozen codebooks must make the
    probe see the new vectors exactly as a full encode would (the
    codebooks are identical, so the codes are identical)."""
    from adenhq_hive_spark.operators.similarity import (
        pq_append_index,
        pq_query_index,
        save_pq_index,
    )

    base = emb.filter(F.col("vec_id") >= 100)
    delta = emb.filter(F.col("vec_id") < 100)
    path = str(tmp_path / "pq_incr")
    save_pq_index(base, path, m=16)
    assert pq_append_index(spark, path, delta) == delta.count()
    # a replayed batch appends nothing: its ids are already indexed
    assert pq_append_index(spark, path, delta) == 0
    assert spark.read.parquet(f"{path}/codes").count() == emb.count()

    # a full index whose codebooks were trained on the same sample: the
    # deterministic TakeOrdered sample of `base` (ids >= 100) differs
    # from full-corpus training, so compare against probe-over-union
    # codes instead: every delta id must be retrievable
    qs = emb.filter(F.col("vec_id") < 3)
    out = pq_query_index(spark, path, qs, k=2000)
    cands = {r.cand_id for r in out.collect()}
    assert {r.vec_id for r in delta.collect()} - {0, 1, 2} <= cands


_INDEX_READERS = {
    "pq_append_index": lambda S, spark, path, v: S.pq_append_index(
        spark, path, v
    ),
    "pq_query_index": lambda S, spark, path, v: S.pq_query_index(
        spark, path, v
    ),
    "pq_staleness": lambda S, spark, path, v: S.pq_staleness(spark, path, v),
}


@pytest.mark.parametrize("who", sorted(_INDEX_READERS))
def test_pq_index_never_built_raises_no_codebooks(spark, emb, tmp_path, who):
    """A path with no index yet raises the same ValueError as an empty
    codebook directory — the signal a caller catches to build the index
    first — not Spark's PATH_NOT_FOUND AnalysisException."""
    from adenhq_hive_spark.operators import similarity as S

    path = str(tmp_path / "never_built")
    with pytest.raises(ValueError, match="^no PQ codebooks at .*/books$"):
        _INDEX_READERS[who](S, spark, path, emb.limit(3))


# ---- IVFPQ composite ------------------------------------------------------


def test_ivfpq_identical_vector_is_top_with_refine(spark, emb):
    clone = emb.filter(F.col("vec_id") == 0).select(
        F.lit(9999).cast("long").alias("vec_id"),
        "embedding",
        F.lit(0).alias("label"),
    )
    from adenhq_hive_spark.operators.similarity import ivfpq_cosine_topk

    res = ivfpq_cosine_topk(
        emb.unionByName(clone),
        emb.filter(F.col("vec_id") == 0),
        k=1,
        n_probe=8,
        refine=4,
    ).collect()
    # the clone lands in the SAME cell (identical vector, same argmax)
    # and quantizes to identical residual codes -> top ADC score in a
    # probed cell; refine scores it exactly 1.0
    assert res[0].cand_id == 9999
    assert res[0].cosine == 1.0


def test_ivfpq_recall_meets_gate_and_beats_plain_ivf(spark, emb):
    from adenhq_hive_spark.operators.similarity import (
        ivf_cosine_topk,
        ivfpq_cosine_topk,
    )

    qs = emb.limit(5)
    exact = {
        (r.query_id, r.cand_id) for r in cosine_topk(emb, qs, k=5).collect()
    }
    got = {
        (r.query_id, r.cand_id)
        for r in ivfpq_cosine_topk(emb, qs, k=5, n_probe=8, refine=8).collect()
    }
    recall = len(got & exact) / len(exact)
    assert recall >= 0.5  # the pl_ivfpq_recall gate bound


def test_ivfpq_scores_only_probed_cells(spark, emb):
    """Scan-fraction contract: with n_probe=1 of 16 cells, the ADC pass
    must touch well under the full corpus per query."""
    from adenhq_hive_spark.operators.similarity import ivfpq_cosine_topk

    qs = emb.limit(2)
    n = emb.count()
    out = ivfpq_cosine_topk(emb, qs, k=10_000, n_probe=1, refine=0)
    per_q = out.groupBy("query_id").count().collect()
    for r in per_q:
        assert r["count"] < n  # strictly a subset — one cell only


def test_ivfpq_non_integral_id_raises(spark, emb):
    from adenhq_hive_spark.operators.similarity import ivfpq_cosine_topk

    bad = emb.withColumn("vec_id", F.col("vec_id").cast("double"))
    with pytest.raises(ValueError, match="integral"):
        ivfpq_cosine_topk(bad, bad.limit(1), k=1)


# ---- semantic_decontaminate ------------------------------------------------


def test_sem_decontaminate_flags_identical_and_skips_orthogonal(spark):
    from adenhq_hive_spark.operators.similarity import semantic_decontaminate

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0, 0.0]), (1, [0.0, 1.0, 0.0])],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [
            (100, [2.0, 0.0, 0.0]),   # parallel to eval 0 -> cosine 1.0
            (101, [0.0, 0.0, 5.0]),   # orthogonal to both -> 0.0
            (102, [1.0, 1.0, 0.0]),   # 0.7071 to both -> tie
        ],
        "vec_id long, embedding array<float>",
    )
    rows = {
        r.vec_id: r
        for r in semantic_decontaminate(corpus, ev, threshold=0.5).collect()
    }
    assert set(rows) == {100, 102}
    assert rows[100].eval_id == 0 and rows[100].cosine == 1.0
    # tie on cosine -> smallest eval_id wins
    assert rows[102].eval_id == 0 and rows[102].cosine == 0.7071


def test_sem_decontaminate_empty_eval_returns_empty(spark):
    from adenhq_hive_spark.operators.similarity import semantic_decontaminate

    ev = spark.createDataFrame([], "vec_id long, embedding array<float>")
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    out = semantic_decontaminate(corpus, ev, threshold=0.0)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["vec_id", "eval_id", "cosine"]


def test_sem_decontaminate_eval_cap_and_id_type_guards(spark):
    import pytest as _pytest

    from adenhq_hive_spark.operators.similarity import semantic_decontaminate

    ev = spark.createDataFrame(
        [(i, [1.0, 0.0]) for i in range(3)],
        "vec_id long, embedding array<float>",
    )
    corpus = spark.createDataFrame(
        [(1, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="max_eval"):
        semantic_decontaminate(corpus, ev, max_eval=2)
    ev_str = ev.withColumn("vec_id", ev.vec_id.cast("string"))
    with _pytest.raises(ValueError, match="integral"):
        semantic_decontaminate(corpus, ev_str)


def test_sem_decontaminate_corpus_id_guard(spark):
    import pytest as _pytest

    from adenhq_hive_spark.operators.similarity import semantic_decontaminate

    ev = spark.createDataFrame(
        [(0, [1.0, 0.0])], "vec_id long, embedding array<float>"
    )
    corpus = spark.createDataFrame(
        [(1.5, [1.0, 0.0])], "vec_id double, embedding array<float>"
    )
    with _pytest.raises(ValueError, match="corpus id"):
        semantic_decontaminate(corpus, ev)


def test_jl_project_preserves_pairwise_structure(spark, emb):
    import numpy as np

    from adenhq_hive_spark.operators.similarity import jl_project

    rows = jl_project(emb, out_dims=16).collect()
    vecs = {}
    for r in rows:
        vecs.setdefault(r.vec_id, [0.0] * 16)[r.dim] = r.value
    assert all(len(v) == 16 for v in vecs.values())
    # the actual JL promise is bounded DISTORTION, not order among
    # near-tied distances (iid test vectors concentrate, so ordering is
    # noise): projected/original distance ratio ~ sqrt(chi2_16/16),
    # which lies in [0.4, 1.8] w.p. ~0.9998 per pair
    orig = {
        r.vec_id: np.array(r.embedding, dtype=float)
        for r in emb.limit(20).collect()
    }
    ids = sorted(orig)[:10]
    in_band = total = 0
    for a in range(len(ids)):
        for b in range(a + 1, len(ids)):
            i, j = ids[a], ids[b]
            d0 = np.linalg.norm(orig[i] - orig[j])
            d1 = np.linalg.norm(np.array(vecs[i]) - np.array(vecs[j]))
            in_band += 0.4 <= d1 / d0 <= 1.8
            total += 1
    assert in_band / total >= 0.9


# ---- int8 scalar quantization ----------------------------------------------


def test_int8_quantize_golden_and_bounds(spark):
    from adenhq_hive_spark.operators.similarity import int8_quantize

    df = spark.createDataFrame(
        [(1, [1.0, -1.0, 0.5, 0.0]), (2, [0.0, 0.0, 0.0, 0.0])],
        ["vec_id", "embedding"],
    )
    rows = {(r.vec_id, r.dim): (r.q, r.scale)
            for r in int8_quantize(df).collect()}
    assert rows[(1, 0)] == (127, 1.0)
    assert rows[(1, 1)] == (-127, 1.0)
    assert rows[(1, 2)] == (63, 1.0)   # floor(63.5)
    assert rows[(1, 3)] == (0, 1.0)
    # all-zero vector: q=0, scale=0
    assert all(rows[(2, d)] == (0, 0.0) for d in range(4))
    assert all(-128 <= q <= 127 for q, _ in rows.values())


def test_int8_quantize_reconstruction_error_bounded(spark):
    """Dequantized q*scale/127 must sit within one quantization step of
    the original on real embeddings."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.operators.similarity import int8_quantize

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = int8_quantize(emb)
    orig = emb.select(
        "vec_id",
        F.posexplode(F.transform("embedding",
                                 lambda x: x.cast("double")))
        .alias("dim", "x"),
    )
    # dequantize with the EXACT per-vector max (the output's `scale` is
    # rounded to 4 decimals for the oracle row, which adds up to 5e-5
    # of its own error — not what this test measures)
    mx = orig.groupBy("vec_id").agg(F.max(F.abs("x")).alias("mx"))
    joined = q.join(orig, ["vec_id", "dim"]).join(mx, "vec_id")
    bad = joined.filter(
        (F.col("mx") > 0)
        & (F.abs(F.col("q") * F.col("mx") / 127.0 - F.col("x"))
           > F.col("mx") / 127.0 + 1e-9)
    ).count()
    assert bad == 0


# ---- kNN label purity -------------------------------------------------------


def _clustered(spark, per=8, dim=8):
    # two tight, well-separated clusters: label 0 near +e0, label 1 near +e1
    rows = []
    for i in range(per):
        v0 = [10.0] + [0.1 * ((i + j) % 3) for j in range(dim - 1)]
        v1 = [0.1 * ((i + j) % 3) for j in range(dim - 1)] + [10.0]
        rows.append((i, v0, 0))
        rows.append((per + i, v1, 1))
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )


def test_knn_purity_separated_clusters_are_pure(spark):
    from adenhq_hive_spark.operators.similarity import knn_label_purity

    out = knn_label_purity(_clustered(spark), k=3).collect()
    assert [(r.label, r.n, r.n_correct, r.purity_ppm) for r in out] == [
        (0, 8, 8, 1000000),
        (1, 8, 8, 1000000),
    ]


def test_knn_purity_partition_stable_and_self_excluded(spark):
    from adenhq_hive_spark.operators.similarity import knn_label_purity

    df = _clustered(spark)
    base = knn_label_purity(df, k=3).collect()
    assert base == knn_label_purity(df.repartition(7), k=3).collect()
    # k=1 with one lone mislabeled vector inside the other cluster:
    # its nearest neighbor is a cluster member, so it votes WRONG for
    # itself (self must be excluded) and pollutes nothing else
    lone = df.union(
        spark.createDataFrame(
            [(99, [10.0] + [0.0] * 7, 1)],
            "vec_id long, embedding array<float>, label int",
        )
    )
    rows = {r.label: r for r in knn_label_purity(lone, k=1).collect()}
    assert rows[1].n == 9 and rows[1].n_correct <= 8


def test_knn_purity_caps_and_validates(spark):
    import pytest as _pt

    from adenhq_hive_spark.operators.similarity import knn_label_purity

    df = _clustered(spark)
    with _pt.raises(ValueError):
        knn_label_purity(df, k=0)
    with _pt.raises(ValueError):
        knn_label_purity(df, k=3, max_vectors=4)


def test_knn_purity_matches_bruteforce_reference(spark):
    """Property pin vs a plain numpy reference (would catch e.g. the
    self-mask sentinel overflowing under key negation and ranking self
    FIRST, which silently shrank every neighbor list to k-1)."""
    import numpy as _np

    from adenhq_hive_spark.operators.similarity import knn_label_purity

    rng = _np.random.RandomState(7)
    n, dim, k = 40, 6, 3
    mat = rng.randn(n, dim).astype(_np.float32)
    labels = rng.randint(0, 3, n)
    df = spark.createDataFrame(
        [(i, mat[i].tolist(), int(labels[i])) for i in range(n)],
        "vec_id long, embedding array<float>, label int",
    )
    got = {(r.label): (r.n, r.n_correct)
           for r in knn_label_purity(df, k=k).collect()}

    m64 = mat.astype(_np.float64)
    mx = _np.abs(m64).max(axis=1, keepdims=True)
    codes = _np.floor(m64 * 127.0 / mx).astype(_np.int64)
    dots = codes @ codes.T
    want = {}
    for i in range(n):
        cand = [(int(-dots[i, j]), j) for j in range(n) if j != i]
        top = sorted(cand)[:k]
        votes = {}
        for _, j in top:
            votes[labels[j]] = votes.get(labels[j], 0) + 1
        pred = min(votes, key=lambda lab: (-votes[lab], lab))
        nn, nc = want.get(labels[i], (0, 0))
        want[labels[i]] = (nn + 1, nc + (1 if pred == labels[i] else 0))
    assert got == {int(k_): v for k_, v in want.items()}


def test_label_errors_flags_planted_mislabel(spark):
    from adenhq_hive_spark.operators.similarity import (
        label_error_candidates,
    )

    df = _clustered(spark).union(
        spark.createDataFrame(
            # sits inside cluster 0's geometry but carries label 1
            [(99, [10.0] + [0.05] * 7, 1)],
            "vec_id long, embedding array<float>, label int",
        )
    )
    out = label_error_candidates(df, k=3, min_votes=3).collect()
    assert [(r.vec_id, r.label, r.pred_label, r.votes) for r in out] == [
        (99, 1, 0, 3)
    ]
    # clean data: nothing to flag
    assert label_error_candidates(_clustered(spark), k=3,
                                  min_votes=3).count() == 0


def test_label_errors_validates_threshold(spark):
    import pytest as _pt

    from adenhq_hive_spark.operators.similarity import (
        label_error_candidates,
    )

    df = _clustered(spark)
    with _pt.raises(ValueError):
        label_error_candidates(df, k=3, min_votes=4)
    with _pt.raises(ValueError):
        label_error_candidates(df, k=3, min_votes=0)


def test_pq_append_index_matches_full_encode(spark, emb, tmp_path):
    """Appending a delta batch with the stored codebooks yields the
    same codes table as encoding the union against those books —
    incremental maintenance is lossless given frozen codebooks — and
    re-appending the same batch is a no-op (anti-join dedup)."""
    from adenhq_hive_spark.operators.similarity import (
        _pq_encode,
        _unit_vectors,
        pq_append_index,
        pq_query_index,
        save_pq_index,
    )

    path = str(tmp_path / "pq_incr")
    first = emb.filter(F.col("vec_id") % 2 == 0)
    rest = emb.filter(F.col("vec_id") % 2 == 1)
    save_pq_index(first, path, m=8, n_codes=8)

    n = pq_append_index(spark, path, rest)
    assert n == rest.count()

    # lossless vs a union encode against the SAME (first-half) books
    import numpy as np

    brows = spark.read.parquet(f"{path}/books").orderBy("j", "c").collect()
    mm = max(r["j"] for r in brows) + 1
    nc = max(r["c"] for r in brows) + 1
    books = np.empty((mm, nc, len(brows[0]["vals"])))
    for r in brows:
        books[r["j"], r["c"]] = r["vals"]
    want = {
        r["cand_id"]: list(r["codes"])
        for r in _pq_encode(
            _unit_vectors(emb, "vec_id", "embedding", "cand_id"), books
        ).collect()
    }
    got = {
        r["cand_id"]: list(r["codes"])
        for r in spark.read.parquet(f"{path}/codes").collect()
    }
    assert got == want

    # idempotent: the same delta appends nothing
    assert pq_append_index(spark, path, rest) == 0
    assert spark.read.parquet(f"{path}/codes").count() == emb.count()

    # the appended index answers queries over the WHOLE corpus: the
    # top-k candidate pool must reach the appended (odd-id) half
    # (self-matches are excluded by the ANN surface's contract, so the
    # check is reachability of appended rows, not self-retrieval)
    q = emb.filter(F.col("vec_id") < 5)
    top = pq_query_index(spark, path, q, k=10).collect()
    assert any(r.cand_id % 2 == 1 for r in top)
    assert any(r.cand_id % 2 == 0 for r in top)


def test_pq_staleness_in_distribution_vs_drifted(spark, emb, tmp_path):
    """The re-train gate (r10): an in-distribution delta quantizes
    about as well as the training corpus (ratio ~1, no retrain); a
    DRIFTED delta (vectors nothing like the trained subspaces) shows a
    ratio well past the threshold and trips the gate."""
    from pyspark.sql import functions as F_

    from adenhq_hive_spark.operators.similarity import (
        pq_staleness,
        save_pq_index,
    )

    path = str(tmp_path / "pq_stale")
    base = emb.filter(F_.col("vec_id") % 2 == 0)
    save_pq_index(base, path, m=8, n_codes=8)
    meta = spark.read.parquet(f"{path}/meta").collect()[0]
    assert meta.n == base.count() and meta.train_qerr > 0

    # in-distribution: the held-out odd half of the same table
    ok = pq_staleness(
        spark, path, emb.filter(F_.col("vec_id") % 2 == 1)
    ).collect()[0]
    assert ok.n_delta > 0
    assert 0.8 <= ok.ratio <= 1.2 and not ok.retrain
    assert ok.code_dup_rate < 0.25

    # resolution failure: an in-distribution delta that CROWDS (each
    # held-out vector repeated 10x — collapsed-encoder drift). Mean
    # qerr cannot see it (same vectors as the healthy delta); the
    # duplicate-code rate must trip the gate.
    held = emb.filter(F_.col("vec_id") % 2 == 1).limit(50)
    crowd = held.crossJoin(spark.range(10)).select(
        (F_.col("vec_id") * 100 + F_.col("id")).alias("vec_id"),
        "embedding",
    )
    cr = pq_staleness(spark, path, crowd).collect()[0]
    assert cr.n_delta == 500
    assert cr.code_dup_rate > 0.8 and cr.retrain
    # exact-repeat crowding concentrates FULL codes, not subspaces:
    # the share signal alone must not be what fired
    assert cr.code_top_share < 0.3

    # drifted: all mass on one coordinate — unit-norm (the shared
    # normalization cannot mask it) but unlike anything trained
    dim = len(emb.first()["embedding"])
    drift = spark.range(100).select(
        (F_.col("id") + 1_000_000).alias("vec_id"),
        F_.array(
            *[
                (F_.lit(1.0) if i == 0 else F_.lit(0.0)).cast("float")
                for i in range(dim)
            ]
        ).alias("embedding"),
    )
    bad = pq_staleness(spark, path, drift).collect()[0]
    assert bad.ratio > 1.25 and bad.retrain


def test_pq_staleness_requires_meta(spark, emb, tmp_path):
    import pytest as _pytest

    from adenhq_hive_spark.operators.similarity import pq_staleness

    with _pytest.raises(Exception):
        pq_staleness(spark, str(tmp_path / "nope"), emb)


def test_pq_staleness_empty_delta_raises(spark, emb, tmp_path):
    """An empty delta must raise loudly (r10 advisory): every signal is
    an average over zero rows and dup/share divide by n_delta=0, so the
    row would read NULL and a caller gating re-trains would silently
    read NULL as 'no retrain'."""
    import pytest as _pytest
    from pyspark.sql import functions as F_

    from adenhq_hive_spark.operators.similarity import (
        pq_staleness,
        save_pq_index,
    )

    path = str(tmp_path / "pq_empty")
    save_pq_index(emb, path, m=8, n_codes=8)
    with _pytest.raises(ValueError, match="empty"):
        pq_staleness(spark, path, emb.filter(F_.col("vec_id") < 0))


def test_np_unit_matches_sql_fold_bit_for_bit(spark):
    """r12 semdedup rewrite: numpy batch normalization (_np_unit) must
    reproduce the former SQL-side transform-lambda fold BIT-FOR-BIT on
    every nonzero row — or cluster assignments and gram cosines could
    drift at the threshold boundary. (Zero vectors: the SQL form under
    ANSI mode raised; _np_unit instead yields a NaN row that never
    drops or displaces — asserted separately.)"""
    import math

    import numpy as np

    from adenhq_hive_spark.operators.similarity import _norm, _np_unit

    rows = [
        (1, [3.0, 4.0, 0.5, -2.25]),
        (2, [1e-30, -1e30, 2.5, 7.0]),
        (4, [0.1, 0.2, 0.30000000000000004, -0.7]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "raw"])
    sql_side = (
        df.orderBy("vec_id")
        .select(
            F.transform(
                "raw", lambda x: x.cast("double") / _norm(F.col("raw"))
            ).alias("v")
        )
        .collect()
    )
    want = np.array([r.v for r in sql_side], dtype=np.float64)
    got = _np_unit(
        np.array([r[1] for r in rows], dtype=np.float64)
    )
    # exact comparison: same bits, element by element
    assert got.shape == want.shape
    for i in range(want.shape[0]):
        for j in range(want.shape[1]):
            a, b = float(got[i, j]), float(want[i, j])
            assert a == b, (i, j, a, b)
    # zero vector: NaN row (never drops or displaces downstream)
    z = _np_unit(np.zeros((1, 4), dtype=np.float64))
    assert all(math.isnan(float(x)) for x in z[0])


def test_semdedup_blocked_gram_block_size_invariant(spark, monkeypatch):
    """The blocked row-panel gram pass must produce the same drops and
    dup_of winners regardless of panel size (r12 rewrite): forcing
    one-row panels (block=1) must equal the default ~256MB panels."""
    import numpy as np

    from adenhq_hive_spark.operators import similarity as sim

    rng = np.random.default_rng(7)
    a = rng.standard_normal(16)
    b = rng.standard_normal(16)
    rows = [
        (1, (a + 0.01 * rng.standard_normal(16)).tolist()),
        (2, (a + 0.01 * rng.standard_normal(16)).tolist()),
        (3, (a + 0.01 * rng.standard_normal(16)).tolist()),
        (10, (b + 0.01 * rng.standard_normal(16)).tolist()),
        (11, (b + 0.01 * rng.standard_normal(16)).tolist()),
        (20, rng.standard_normal(16).tolist()),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    default = sorted(
        map(tuple, sim.semdedup(df, threshold=0.9, n_clusters=3).collect())
    )
    monkeypatch.setattr(sim, "_GRAM_BLOCK_ELEMS", 1)  # block = 1 row
    tiny = sorted(
        map(tuple, sim.semdedup(df, threshold=0.9, n_clusters=3).collect())
    )
    assert default == tiny
    # sanity: the fixture actually has drops, so the loop ran
    assert any(not r[2] for r in default)


# ---- guard contracts of the shared ANN helpers ----------------------------


def _double_ids(df):
    return df.withColumn("vec_id", F.col("vec_id").cast("double"))


_ID_GUARD_CALLERS = {
    "cosine_topk": lambda S, emb, q: S.cosine_topk(emb, q),
    "hard_negatives": lambda S, emb, q: S.hard_negatives(emb, anchors=q),
    "pq_cosine_topk": lambda S, emb, q: S.pq_cosine_topk(emb, q),
    "ivfpq_cosine_topk": lambda S, emb, q: S.ivfpq_cosine_topk(emb, q),
    "semantic_decontaminate":
        lambda S, emb, q: S.semantic_decontaminate(emb, q),
}


@pytest.mark.parametrize("who", sorted(_ID_GUARD_CALLERS))
def test_ann_id_guard_rejects_non_integral_ids(emb, who):
    """Every broadcast-side caller refuses a double id column, and the
    message names the caller, the column and its type."""
    from adenhq_hive_spark.operators import similarity as S

    q = _double_ids(emb.filter(F.col("vec_id") < 5))
    with pytest.raises(
        ValueError, match=rf"^{who} requires .*integral .*'vec_id'.*'double'"
    ):
        _ID_GUARD_CALLERS[who](S, emb, q)


@pytest.mark.parametrize("dtype", ["tinyint", "smallint", "int", "bigint"])
def test_ann_id_guard_accepts_every_integral_type(emb, dtype):
    from adenhq_hive_spark.operators.similarity import _require_integral

    ids = emb.withColumn("vec_id", F.col("vec_id").cast(dtype))
    _require_integral("{col!r} is {dtype!r}", (ids, "vec_id", "queries"))
    with pytest.raises(ValueError, match=r"^queries 'vec_id' is 'double'$"):
        _require_integral(
            "{side} {col!r} is {dtype!r}",
            (ids, "vec_id", "queries"),
            (_double_ids(emb), "vec_id", "queries"),
        )


# (caller, cap keyword, call with that cap, rows on the capped side)
_CAP_CALLERS = {
    "cosine_topk query side": (
        "max_queries",
        lambda S, emb, q, cap: S.cosine_topk(emb, q, max_queries=cap), 5),
    "hard_negatives anchor side": (
        "max_anchors",
        lambda S, emb, q, cap: S.hard_negatives(
            emb, anchors=q, max_anchors=cap), 5),
    "pq_cosine_topk query side": (
        "max_queries",
        lambda S, emb, q, cap: S.pq_cosine_topk(emb, q, max_queries=cap), 5),
    "semantic_decontaminate eval side": (
        "max_eval",
        lambda S, emb, q, cap: S.semantic_decontaminate(
            emb, q, max_eval=cap), 5),
    "knn_label_purity": (
        "max_vectors",
        lambda S, emb, q, cap: S.knn_label_purity(emb, max_vectors=cap),
        None),
}


@pytest.mark.parametrize("who", sorted(_CAP_CALLERS))
def test_ann_driver_cap_raises_one_row_past_the_cap(emb, who):
    """Each driver-capped collect accepts exactly ``cap`` rows and raises
    at ``cap + 1``, naming its caller and cap."""
    from adenhq_hive_spark.operators import similarity as S

    cap_name, call, n = _CAP_CALLERS[who]
    q = emb.filter(F.col("vec_id") < 5)
    n = n if n is not None else emb.count()
    call(S, emb, q, n)  # at the cap: no error
    with pytest.raises(
        ValueError, match=rf"^{who} exceeds {cap_name}={n - 1}; \S"
    ):
        call(S, emb, q, n - 1)
