"""Dedup-tier tests (SURVEY §5.3): golden behavior on constructed rows +
recall/precision gates for the approximate tiers vs the exact jaccard
tier on the real documents testdata.
"""

from __future__ import annotations

import pytest

from adenhq_hive_spark.catalog import load_table
from adenhq_hive_spark.operators.dedup import (
    dedup_exact,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
)

from .conftest import SF_SMOKE


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


@pytest.fixture(scope="module")
def truth_pairs(spark, docs):
    return {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, threshold=0.5).collect()
    }


def _mini_docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox jumps over the lazy cat"),  # near dup
        (4, "completely different words entirely here now"),
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_keeps_min_id(spark):
    kept = sorted(r.doc_id for r in dedup_exact(_mini_docs(spark)).collect())
    assert kept == [1, 3, 4]


def test_ngram_jaccard_mini(spark):
    pairs = {
        (r.id_a, r.id_b): r.jaccard
        for r in ngram_jaccard_pairs(_mini_docs(spark), threshold=0.3).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
    assert (1, 5) in pairs and (2, 5) in pairs
    assert (1, 3) in pairs and 0.3 <= pairs[(1, 3)] < 1.0
    assert all(a < b for (a, b) in pairs)


def test_ngram_jaccard_real_corpus_bimodal(truth_pairs):
    # testdata documents carry constructed near-dups: a clear >=0.9 cluster
    assert len(truth_pairs) >= 5


def test_minhash_lsh_recall_and_precision(docs, truth_pairs):
    got = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    # verification step makes false positives impossible
    assert got <= truth_pairs
    recall = len(got & truth_pairs) / len(truth_pairs)
    assert recall >= 0.9, f"minhash-LSH recall {recall:.2f}"


def test_simhash_precision(docs, truth_pairs):
    got = {(r.id_a, r.id_b) for r in simhash_pairs(docs).collect()}
    tp = len(got & truth_pairs)
    assert tp / max(len(got), 1) >= 0.9, "simhash precision"
    assert tp / len(truth_pairs) >= 0.5, "simhash recall"


def test_materialize_uses_reliable_checkpoint_when_configured(spark, tmp_path):
    """With sc.setCheckpointDir set (the cluster deployment posture),
    reused stages take a reliable checkpoint that survives executor
    loss; results are unchanged."""
    import os

    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.dedup import ngram_jaccard_pairs

    docs = load_table(spark, SF_SMOKE, "documents")
    jsc = spark.sparkContext._jsc.sc()
    prev = jsc.getCheckpointDir()  # Option[String] — restore on exit
    assert not prev.isDefined()
    # baseline: the same call with no checkpoint dir (persist mode)
    baseline = sorted(map(tuple, ngram_jaccard_pairs(docs).collect()))
    ck = str(tmp_path / "reliable_ck")
    spark.sparkContext.setCheckpointDir(ck)
    try:
        got = sorted(map(tuple, ngram_jaccard_pairs(docs).collect()))
    finally:
        # the spark fixture is session-scoped: leaving the checkpoint
        # dir set flips _materialize into checkpoint mode for EVERY
        # later test (caught by test_cosine_dedup_is_distributed once
        # pl_cosine_dedup started materializing before its sort)
        getattr(jsc, "checkpointDir_$eq")(prev)
    assert got == baseline
    assert any(os.scandir(ck)), "no checkpoint data written to reliable dir"


def test_connected_components_vs_union_find(spark):
    """Star-contraction CC must match a reference union-find on a random
    graph with chains, cliques, and singleton-adjacent shapes."""
    import random

    from adenhq_hive_spark.operators.dedup import connected_components

    rng = random.Random(7)
    edges = [(i, i + 1) for i in range(0, 40, 1)]           # long chain
    edges += [(100 + a, 100 + b) for a in range(8) for b in range(a)]
    edges += [(rng.randrange(200, 260), rng.randrange(200, 260))
              for _ in range(80)]
    parent: dict[int, int] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expected = {
        n: find(n) for n in {x for e in edges for x in e} if n != find(n)
        or any(find(m) == n for m in parent)
    }
    expected = {n: find(n) for n in {x for e in edges for x in e}}

    got = {
        r.node: r.cluster_id
        for r in connected_components(
            spark.createDataFrame(
                [(a, b) for a, b in edges], "id_a long, id_b long"
            )
        ).collect()
    }
    assert got == expected


def test_dup_clusters_transitive_and_singletons(spark):
    """A~B and B~C near-dups land in one cluster keyed by min id; unique
    docs keep their own id."""
    from adenhq_hive_spark.operators.dedup import dup_clusters

    base = "the quick brown fox jumps over the lazy dog again and again"
    rows = [
        (1, base + " one"),
        (2, base + " one two"),          # ~ 1
        (3, base + " one two three"),    # ~ 2 (and transitively 1)
        (50, "completely unrelated text about spark query engines")
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r.cluster_id for r in dup_clusters(docs).collect()}
    assert got[50] == 50
    assert got[1] == got[2] == got[3] == 1


def test_minhash_portable_subset_of_exact_with_recall(spark):
    """Portable-md5 minhash pairs must be a SUBSET of the exact jaccard
    tier (verification guarantees no false positives) with usable
    recall at the declared threshold."""
    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.dedup import (
        minhash_lsh_pairs_portable,
        ngram_jaccard_pairs,
    )

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    exact = {
        (r.id_a, r.id_b)
        for r in ngram_jaccard_pairs(docs, k=3, threshold=0.5).collect()
    }
    port = {
        (r.id_a, r.id_b)
        for r in minhash_lsh_pairs_portable(
            docs, k=3, threshold=0.5
        ).collect()
    }
    assert port <= exact
    if exact:
        assert len(port) / len(exact) >= 0.8, (len(port), len(exact))


def test_dedup_incremental_semantics(spark):
    from adenhq_hive_spark.operators.dedup import dedup_incremental

    corpus = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),
            (2, "totally different corpus content here now"),
        ],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta epsilon zeta"),   # exact dup
            (11, "alpha beta gamma delta epsilon other"),  # near dup corpus
            (12, "brand new unique document nothing shared"),
            (13, "brand new unique document nothing shared"),  # exact in-batch
            (14, "brand new unique document nothing related"),  # near in-batch
            (15, "completely standalone text with no overlap at all"),
        ],
        ["doc_id", "text"],
    )
    got = sorted(
        r.doc_id
        for r in dedup_incremental(new, corpus, k=3, threshold=0.5).collect()
    )
    # 10 exact-dropped, 11 near-dropped vs corpus, 13 exact in-batch,
    # 14 near in-batch vs 12 -> survivors 12, 15
    assert got == [12, 15]


def test_dedup_incremental_prebuilt_postings_path(spark):
    from pyspark.sql import functions as F

    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.dedup import (
        build_shingle_postings,
        dedup_incremental,
    )

    from .conftest import SF_SMOKE

    docs = load_table(spark, SF_SMOKE, "documents")
    corpus = docs.filter("doc_id % 3 != 0")
    new = docs.filter("doc_id % 3 = 0")
    want = sorted(r.doc_id for r in dedup_incremental(new, corpus).collect())
    postings = build_shingle_postings(corpus)
    hashes = corpus.select(F.md5("text").alias("_h")).distinct()
    got = sorted(
        r.doc_id
        for r in dedup_incremental(
            new, corpus, corpus_postings=postings, corpus_hashes=hashes
        ).collect()
    )
    assert got == want
    # the prebuilt relations are what's USED (not re-derived from
    # corpus_df): an EMPTY index drops nothing against the corpus
    empty_p = postings.filter(F.lit(False))
    empty_h = hashes.filter(F.lit(False))
    loose = dedup_incremental(
        new, corpus, corpus_postings=empty_p, corpus_hashes=empty_h
    ).count()
    strict = len(want)
    assert loose >= strict


def test_dedup_incremental_hot_shingle_cap(spark):
    from adenhq_hive_spark.operators.dedup import dedup_incremental

    # 10 corpus docs all sharing boilerplate shingles {a b c, b c d}
    corpus = spark.createDataFrame(
        [(i, f"a b c d f{i}") for i in range(10)], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [
            # shares hot {a b c, b c d} + rare {c d f1} with doc 1:
            # candidate survives via the rare shingle, exact verify
            # counts the hot ones too (3/4 >= 0.5) -> dropped
            (100, "z a b c d f1"),
            # overlaps ONLY via the two hot shingles (2/4 = 0.5):
            # dropped without a cap, KEPT with it (the documented miss)
            (101, "a b c d e"),
            (102, "entirely unrelated content with no shared words"),
        ],
        ["doc_id", "text"],
    )
    uncapped = sorted(
        r.doc_id for r in dedup_incremental(new, corpus).collect()
    )
    assert uncapped == [102]
    capped = sorted(
        r.doc_id
        for r in dedup_incremental(new, corpus, max_shingle_df=3).collect()
    )
    assert capped == [101, 102]


def test_cluster_capped_dedup_golden(spark):
    from adenhq_hive_spark.operators.dedup import cluster_capped_dedup

    # 5 exact copies -> one cluster of 5 -> keep ceil(sqrt(5)) = 3;
    # 2 singletons keep themselves.
    dup = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [(i, dup) for i in range(1, 6)] + [
        (10, "unrelated text about completely different things here"),
        (11, "another standalone document with its own unique words"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in cluster_capped_dedup(df).collect()}
    assert len(out) == 7  # every doc labeled
    big = [r for r in out.values() if r.cluster_size == 5]
    assert len(big) == 5 and all(r.cluster_id == 1 for r in big)
    kept = sorted(r.doc_id for r in big if r.kept)
    assert kept == [1, 2, 3]  # ceil(sqrt(5)) = 3 lowest ids
    assert out[10].kept and out[10].cluster_size == 1
    assert out[11].cluster_id == 11


def test_editdist_verify_golden_and_order_sensitivity(spark):
    from adenhq_hive_spark.operators.dedup import editdist_verify

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    near = "alpha beta gamma delta epsilon zeta eta theta iota kappZ"
    # same word multiset as base, shuffled — jaccard-candidate-passable
    # (shared shingles) but far in edit distance
    shuffled = "iota kappa alpha beta gamma delta epsilon zeta eta theta"
    rows = [(1, base), (2, base), (3, near), (4, shuffled),
            (5, "entirely different content with no shared trigrams at all")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    out = {(r.id_a, r.id_b): r for r in editdist_verify(
        df, candidate_threshold=0.2, sim_threshold=0.9).collect()}
    assert (1, 2) in out and out[(1, 2)].edit_sim == 1.0
    assert (1, 3) in out and out[(1, 3)].edit_sim >= 0.98
    # shuffled doc shares shingles with base (candidate) but edit_sim is
    # low -> verify tier must reject it at 0.9
    assert (1, 4) not in out
    assert not any(5 in p for p in out)

    # lowering the bar admits the shuffled pair: confirm it WAS a
    # candidate and the rejection came from the edit-sim filter
    loose = {(r.id_a, r.id_b) for r in editdist_verify(
        df, candidate_threshold=0.2, sim_threshold=0.1).collect()}
    assert (1, 4) in loose


def test_editdist_verify_empty_texts_identical(spark):
    from adenhq_hive_spark.operators.dedup import editdist_verify

    df = spark.createDataFrame(
        [(1, ""), (2, ""), (3, "some words here")], ["doc_id", "text"]
    )
    # empty-vs-empty: no shingles -> no candidate pair -> absent (the
    # mx=0 guard protects the division, not candidate generation)
    out = editdist_verify(df, candidate_threshold=0.0).collect()
    assert all(r.edit_sim is not None for r in out)


def test_cross_source_dup_matrix_golden(spark):
    from adenhq_hive_spark.operators.dedup import cross_source_dup_matrix

    dup1 = "alpha beta gamma delta epsilon zeta eta theta"
    dup2 = "one two three four five six seven eight nine"
    rows = [
        # cross-source near-dup cluster: 2 docs in srcA, 1 in srcB
        (1, dup1, "srcA"), (2, dup1, "srcA"), (3, dup1, "srcB"),
        # within-source pair in srcB
        (10, dup2, "srcB"), (11, dup2, "srcB"),
        # singleton
        (20, "totally unrelated words that match nothing else", "srcC"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r.src_lo, r.src_hi): r for r in cross_source_dup_matrix(df).collect()}
    # pairs: (1,2) AA, (1,3) AB, (2,3) AB, (10,11) BB
    assert out[("srcA", "srcA")].n_pairs == 1
    assert out[("srcA", "srcB")].n_pairs == 2
    assert out[("srcB", "srcB")].n_pairs == 1
    ab = out[("srcA", "srcB")]
    assert (ab.n_docs_lo, ab.n_docs_hi) == (2, 1)   # docs 1,2 vs doc 3
    assert ("srcC", "srcC") not in out and len(out) == 3


def test_cluster_best_rep_keeps_longest(spark):
    from adenhq_hive_spark.operators.dedup import cluster_best_rep

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    longer = base + " lambda mu"        # near-dup, more complete copy
    rows = [
        (1, base), (2, longer), (3, base),
        (10, "standalone document with completely different words here"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in cluster_best_rep(df).collect()}
    assert len(out) == 4
    cluster = [r for r in out.values() if r.cluster_size == 3]
    assert {r.doc_id for r in cluster} == {1, 2, 3}
    assert out[2].kept                      # longest wins, not min id
    assert not out[1].kept and not out[3].kept
    assert out[10].kept and out[10].cluster_size == 1


def test_cluster_best_rep_tie_breaks_to_min_id(spark):
    from adenhq_hive_spark.operators.dedup import cluster_best_rep

    dup = "one two three four five six seven eight nine ten"
    df = spark.createDataFrame(
        [(5, dup), (2, dup), (9, dup)], ["doc_id", "text"]
    )
    out = {r.doc_id: r.kept for r in cluster_best_rep(df).collect()}
    assert out == {2: True, 5: False, 9: False}


def test_hot_shingles_census(spark):
    from adenhq_hive_spark.operators.dedup import hot_shingles

    boiler = "subscribe to our newsletter today"
    rows = [(i, f"{boiler} plus unique tail {i} words") for i in range(8)]
    rows += [(100, "entirely different content with no shared trigram")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = hot_shingles(df, top=3).collect()
    assert out[0].df == 8                   # the boilerplate trigrams
    assert out[0].pct_docs == round(8 * 100 / 9, 4)
    assert out[0].shingle < out[1].shingle or out[0].df > out[1].df
    # per-doc distinct: a shingle repeated inside one doc counts once
    rep = spark.createDataFrame(
        [(1, "a b c a b c a b c"), (2, "a b c d e f")],
        ["doc_id", "text"],
    )
    got = {r.shingle: r.df for r in hot_shingles(rep, top=10).collect()}
    assert got["a b c"] == 2


# ---- containment_pairs ----------------------------------------------------


def test_containment_quoted_doc_found_where_jaccard_misses(spark):
    from adenhq_hive_spark.operators.dedup import (
        containment_pairs,
        ngram_jaccard_pairs,
    )

    short = "alpha beta gamma delta epsilon zeta eta"
    long = short + (
        " one two three four five six seven eight nine ten"
        " eleven twelve thirteen fourteen fifteen sixteen seventeen"
        " eighteen nineteen twenty twentyone twentytwo twentythree"
        " twentyfour twentyfive twentysix twentyseven twentyeight"
    )
    df = spark.createDataFrame(
        [(1, short), (2, long)], "doc_id long, text string"
    )
    cont = containment_pairs(df, threshold=0.9, min_shingles=3).collect()
    assert [(r.id_sub, r.id_sup, r.containment) for r in cont] == [(1, 2, 1.0)]
    # the symmetric tier at 0.5 cannot see this pair
    assert ngram_jaccard_pairs(df, threshold=0.5).count() == 0


def test_containment_is_directional(spark):
    from adenhq_hive_spark.operators.dedup import containment_pairs

    a = "one two three four five six seven"
    b = a + " eight nine ten eleven twelve thirteen fourteen fifteen"
    df = spark.createDataFrame([(1, a), (2, b)], "doc_id long, text string")
    rows = containment_pairs(df, threshold=0.3, min_shingles=3).collect()
    got = {(r.id_sub, r.id_sup): r.containment for r in rows}
    # A fully inside B; B only partially covered by A
    assert got[(1, 2)] == 1.0
    assert got[(2, 1)] < 1.0


def test_containment_min_shingles_drops_trivial_docs(spark):
    from adenhq_hive_spark.operators.dedup import containment_pairs

    df = spark.createDataFrame(
        [(1, "tiny doc here"), (2, "tiny doc here plus more words after")],
        "doc_id long, text string",
    )
    # doc 1 has 1 shingle -> excluded by the default floor
    assert containment_pairs(df, threshold=0.5).count() == 0


def test_containment_hot_shingle_cap_keeps_values_exact(spark):
    from adenhq_hive_spark.operators.dedup import containment_pairs

    base = "shared template words forming boilerplate shingles always present"
    df = spark.createDataFrame(
        [(i, base + f" unique{i} tail{i} words{i} here{i}") for i in range(6)],
        "doc_id long, text string",
    )
    uncapped = {
        (r.id_sub, r.id_sup): r.containment
        for r in containment_pairs(df, threshold=0.3).collect()
    }
    capped_rows = containment_pairs(df, threshold=0.3, max_shingle_df=3).collect()
    for r in capped_rows:
        # the cap may drop candidates but must never change a value
        assert uncapped[(r.id_sub, r.id_sup)] == r.containment


# Word sets (k=1 shingles). h1/h2 are the hot keys (df 9); every other
# word is in at most 3 docs. Jaccard 0.5 sits exactly on the threshold
# (3,4; 10,11; 12,13, the last a within-batch pair of dedup_incremental);
# 4/7 and 2/3 need the round; 10 and 11 overlap only in the hot keys,
# so a cap of 3 loses them.
_CAP_DOCS = {
    1: "h1 h2 a b", 2: "h1 h2 a c", 3: "h1 h2 p q", 4: "h1 h2 p r s",
    5: "a b c d", 6: "p q t", 7: "h1 h2 u v", 8: "h1 h2 u v w",
    9: "h1 h2 u v x y", 10: "h1 h2 m", 11: "h1 h2 n", 12: "e f g",
    13: "e f g k l o",
}
_CORPUS_IDS = (1, 3, 5, 7, 10)


def _cap_jaccard(df, cap):
    from adenhq_hive_spark.operators.dedup import ngram_jaccard_pairs

    return ngram_jaccard_pairs(df, k=1, threshold=0.5, max_shingle_df=cap)


def _cap_containment(df, cap):
    from adenhq_hive_spark.operators.dedup import containment_pairs

    return containment_pairs(
        df, k=1, threshold=0.5, min_shingles=2, max_shingle_df=cap
    )


def _cap_incremental(df, cap):
    from adenhq_hive_spark.operators.dedup import dedup_incremental

    corpus = df.filter(df.doc_id.isin(*_CORPUS_IDS))
    new = df.filter(~df.doc_id.isin(*_CORPUS_IDS))
    return dedup_incremental(
        new, corpus, k=1, threshold=0.5, max_shingle_df=cap
    )


@pytest.mark.parametrize(
    "run, key",
    [
        (_cap_jaccard, ("id_a", "id_b")),
        (_cap_containment, ("id_sub", "id_sup")),
        (_cap_incremental, ("doc_id",)),
    ],
    ids=["ngram_jaccard_pairs", "containment_pairs", "dedup_incremental"],
)
def test_capped_branch_matches_uncapped(spark, run, key):
    """The capped branch (count-first hot-key cap + full-set verify)
    against the uncapped one: a cap at or above the largest shingle df
    returns exactly the uncapped rows; a binding cap drops rows but
    never changes a reported value."""
    from adenhq_hive_spark.normalize import result_hash

    df = spark.createDataFrame(
        sorted(_CAP_DOCS.items()), "doc_id long, text string"
    )

    def rows(out):
        return out.columns, [tuple(r) for r in out.collect()]

    uncapped = rows(run(df, None))
    assert uncapped[1], "the fixture must yield rows"
    for cap in (9, 50):  # 9 = the df of h1/h2, the largest
        assert result_hash(*rows(run(df, cap)), strict=True) == result_hash(
            *uncapped, strict=True
        )

    def by_key(cols_rows):
        cols, rs = cols_rows
        at = [cols.index(c) for c in key]
        return {tuple(r[i] for i in at): r for r in rs}

    want, got = by_key(uncapped), by_key(rows(run(df, 3)))
    assert got.keys() != want.keys(), "a cap of 3 must bind"
    if len(key) == 2:  # pair tiers: the cap only drops candidates
        assert got.keys() < want.keys()
    for k in got.keys() & want.keys():
        assert got[k] == want[k]


# ---- shingle_novelty ------------------------------------------------------


def test_novelty_unique_and_duplicated_docs(spark):
    from adenhq_hive_spark.operators.dedup import shingle_novelty

    same = "one two three four five six"
    df = spark.createDataFrame(
        [(1, same), (2, same), (3, "entirely different words appear here now")],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in shingle_novelty(df).collect()}
    assert out[1].novelty == 0.0 and out[2].novelty == 0.0
    assert out[3].novelty == 1.0
    assert out[3].n_shared == 0 and out[3].n_sh == 4


def test_novelty_empty_doc_reports_one(spark):
    from adenhq_hive_spark.operators.dedup import shingle_novelty

    df = spark.createDataFrame(
        [(1, ""), (2, "a b c d")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in shingle_novelty(df).collect()}
    assert out[1].n_sh == 0 and out[1].novelty == 1.0


def test_novelty_partial_overlap_exact_fraction(spark):
    from adenhq_hive_spark.operators.dedup import shingle_novelty

    # doc 1: shingles {a b c, b c d}; doc 2 shares exactly 'a b c'
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c x y")], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in shingle_novelty(df).collect()}
    assert out[1].n_sh == 2 and out[1].n_shared == 1
    assert out[1].novelty == 0.5


# ---- duplicated_spans -----------------------------------------------------


def _words(prefix, n):
    return " ".join(f"{prefix}{i}" for i in range(n))


def test_dup_spans_exact_shared_run(spark):
    from adenhq_hive_spark.operators.dedup import duplicated_spans

    shared = _words("s", 10)  # 10-word run shared by docs 1 and 2
    df = spark.createDataFrame(
        [
            (1, _words("a", 5) + " " + shared + " " + _words("b", 5)),
            (2, _words("c", 3) + " " + shared + " " + _words("d", 7)),
            (3, _words("e", 20)),
        ],
        "doc_id long, text string",
    )
    rows = duplicated_spans(df, k=4, min_words=8).collect()
    got = {(r.doc_id, r.span_start, r.span_end) for r in rows}
    # doc 1: shared run covers word positions 6..15; doc 2: 4..13
    assert got == {(1, 6, 15), (2, 4, 13)}
    for r in rows:
        assert r.span_words == 10 and r.n_dup_grams == 7  # 10 - 4 + 1


def test_dup_spans_merges_overlapping_grams_and_filters_short(spark):
    from adenhq_hive_spark.operators.dedup import duplicated_spans

    # two shared runs separated by > k unique words must NOT merge;
    # a 5-word shared run (< min_words=8) must be dropped
    run1 = _words("x", 9)
    run2 = _words("y", 5)
    gap = _words("g", 8)
    df = spark.createDataFrame(
        [
            (1, run1 + " " + gap + " " + run2),
            (2, run1 + " " + _words("z", 8) + " " + run2),
        ],
        "doc_id long, text string",
    )
    rows = duplicated_spans(df, k=4, min_words=8).collect()
    got = {(r.doc_id, r.span_start, r.span_end, r.span_words) for r in rows}
    assert got == {(1, 1, 9, 9), (2, 1, 9, 9)}


def test_dup_spans_intra_doc_repeat_not_flagged(spark):
    from adenhq_hive_spark.operators.dedup import duplicated_spans

    # the same 8-word run twice INSIDE one doc, nowhere else: cross-doc
    # df of each gram is 1, so no span (intra-doc tier handles this)
    run = _words("r", 8)
    df = spark.createDataFrame(
        [(1, run + " " + _words("m", 6) + " " + run), (2, _words("q", 15))],
        "doc_id long, text string",
    )
    assert duplicated_spans(df, k=4, min_words=8).count() == 0


def test_dup_spans_adjacent_runs_merge_within_k(spark):
    from adenhq_hive_spark.operators.dedup import duplicated_spans

    # doc 1 shares run A with doc 2 and run B with doc 3; A and B are
    # adjacent in doc 1 (gap <= k) so they merge into ONE span there
    run_a = _words("a", 8)
    run_b = _words("b", 8)
    df = spark.createDataFrame(
        [
            (1, run_a + " " + run_b),
            (2, run_a + " " + _words("p", 10)),
            (3, _words("q", 10) + " " + run_b),
        ],
        "doc_id long, text string",
    )
    rows = duplicated_spans(df, k=4, min_words=8).collect()
    by_doc = {r.doc_id: (r.span_start, r.span_end) for r in rows}
    assert by_doc[1] == (1, 16)
    assert by_doc[2] == (1, 8)
    assert by_doc[3] == (11, 18)


def test_dup_spans_short_docs_yield_nothing(spark):
    from adenhq_hive_spark.operators.dedup import duplicated_spans

    df = spark.createDataFrame(
        [(1, "a b c"), (2, "a b c"), (3, "")], "doc_id long, text string"
    )
    assert duplicated_spans(df, k=4, min_words=8).count() == 0


def test_scrub_spans_cuts_only_flagged_ranges(spark):
    from adenhq_hive_spark.operators.dedup import duplicated_spans, scrub_spans

    shared = _words("s", 10)
    docs = spark.createDataFrame(
        [
            (1, _words("a", 5) + " " + shared + " " + _words("b", 5)),
            (2, _words("c", 3) + " " + shared + " " + _words("d", 7)),
            (3, _words("e", 20)),
        ],
        "doc_id long, text string",
    )
    spans = duplicated_spans(docs, k=4, min_words=8)
    out = {r.doc_id: r for r in scrub_spans(docs, spans).collect()}
    assert out[1].clean_text == _words("a", 5) + " " + _words("b", 5)
    assert out[1].n_removed == 10
    assert out[2].clean_text == _words("c", 3) + " " + _words("d", 7)
    # untouched doc passes through verbatim with n_removed 0
    assert out[3].clean_text == _words("e", 20) and out[3].n_removed == 0


def test_scrub_spans_exact_duplicate_scrubs_to_empty(spark):
    from adenhq_hive_spark.operators.dedup import duplicated_spans, scrub_spans

    t = _words("x", 12)
    docs = spark.createDataFrame(
        [(1, t), (2, t)], "doc_id long, text string"
    )
    spans = duplicated_spans(docs, k=4, min_words=8)
    out = {r.doc_id: r for r in scrub_spans(docs, spans).collect()}
    assert out[1].clean_text == "" and out[1].n_removed == 12
    assert out[2].clean_text == "" and out[2].n_removed == 12


def test_span_incremental_equals_full_restricted(spark):
    from adenhq_hive_spark.operators.dedup import (
        build_gram_postings,
        dedup_spans_incremental,
        duplicated_spans,
    )

    shared = _words("s", 10)
    rows = [
        (1, _words("a", 5) + " " + shared),            # corpus
        (2, _words("b", 20)),                          # corpus
        (10, shared + " " + _words("c", 5)),           # batch: dup vs corpus
        (11, _words("d", 3) + " " + _words("e", 9)),   # batch: unique
        (12, _words("e", 9) + " " + _words("f", 4)),   # batch: dup vs batch 11
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    corpus = df.filter("doc_id < 10")
    batch = df.filter("doc_id >= 10")
    incr = dedup_spans_incremental(
        batch, build_gram_postings(corpus), k=4, min_words=8
    )
    full = duplicated_spans(df, k=4, min_words=8).filter("doc_id >= 10")
    key = ["doc_id", "span_start", "span_end", "span_words", "n_dup_grams"]
    assert sorted(map(tuple, incr.select(key).collect())) == sorted(
        map(tuple, full.select(key).collect())
    )
    # and the batch-vs-batch duplicate was actually exercised
    assert incr.filter("doc_id = 12").count() >= 1


def test_span_witness_points_at_the_sharing_doc(spark):
    from adenhq_hive_spark.operators.dedup import span_witnesses

    shared = _words("s", 10)
    df = spark.createDataFrame(
        [
            (1, _words("a", 5) + " " + shared),
            (2, shared + " " + _words("b", 5)),
            (3, _words("c", 20)),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in span_witnesses(df, k=4, min_words=8).collect()}
    assert out[1].witness_doc == 2   # min gram-holder is 1 itself -> max
    assert out[2].witness_doc == 1   # min gram-holder 1 differs -> min
    assert 3 not in out


def test_release_persisted_frees_materialized_relations(spark):
    """r9 ADVICE closure: _materialize registers persist-mode
    relations; release_persisted() unpersists them all (the bench /
    sweep harnesses call it between queries so a long session does
    not accumulate corpus-sized MEMORY_AND_DISK caches)."""
    from pyspark import StorageLevel

    from adenhq_hive_spark.operators.dedup import (
        _PERSISTED,
        _materialize,
        release_persisted,
    )

    release_persisted()  # clean slate (other tests may have pinned)
    sc = spark.sparkContext
    ckpt_mode = sc._jsc.sc().getCheckpointDir().isDefined()
    df = _materialize(spark.range(1000).withColumnRenamed("id", "v"))
    df.count()
    if ckpt_mode:
        # another test configured a checkpoint dir on the shared
        # session: _materialize takes the reliable-checkpoint branch,
        # which registers NOTHING (checkpoint storage is cluster-
        # managed) — the registry must simply stay empty-consistent
        assert df not in _PERSISTED
        assert release_persisted() == 0
        return
    assert df in _PERSISTED
    assert df.storageLevel != StorageLevel.NONE
    n = release_persisted()
    assert n >= 1
    assert not _PERSISTED
    assert df.storageLevel == StorageLevel.NONE
    assert release_persisted() == 0  # idempotent


def test_editdist_length_prefilter_is_lossless(spark):
    """r12 length prefilter (lev >= |len_a - len_b|): on a fixture
    where the prefilter actually fires (a candidate pair with high
    shingle jaccard but >2x length difference at sim_threshold=0.5),
    the operator's output must equal a reference computed WITHOUT the
    prefilter — the bound prunes only provably-failing pairs."""
    from pyspark.sql import functions as F

    from adenhq_hive_spark.operators.dedup import (
        editdist_verify,
        ngram_jaccard_pairs,
    )
    from adenhq_hive_spark.operators.text import frac4

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    # triple repetition: shares all of base's shingles (high jaccard)
    # but is ~3x the length -> min_len*10000 < max_len*5000, so the
    # prefilter short-circuits the DP for this pair
    tripled = " ".join([base] * 3)
    near = base[:-1] + "Z"
    rows = [(1, base), (2, near), (3, tripled),
            (4, "unrelated words sharing no shingles with the others")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = sorted(
        map(tuple, editdist_verify(
            df, candidate_threshold=0.2, sim_threshold=0.5
        ).collect())
    )

    # reference: same candidate tier, verify WITHOUT the prefilter
    thr_num = 5000
    cand = ngram_jaccard_pairs(df, k=3, threshold=0.2)
    texts = df.select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
    joined = (
        cand.join(texts.withColumnsRenamed({"id": "id_a", "t": "t_a"}), "id_a")
        .join(texts.withColumnsRenamed({"id": "id_b", "t": "t_b"}), "id_b")
    )
    lev = F.levenshtein("t_a", "t_b")
    mx = F.greatest(F.length("t_a"), F.length("t_b"))
    want = sorted(
        map(tuple, joined.withColumn("lev", lev).withColumn("mx", mx)
            .filter(
                (F.col("mx") == 0)
                | ((F.col("mx") - F.col("lev")) * 10000
                   >= F.col("mx") * thr_num)
            )
            .select(
                "id_a", "id_b", "jaccard",
                F.when(F.col("mx") == 0, F.lit(1.0))
                .otherwise(frac4(F.col("mx") - F.col("lev"), F.col("mx")))
                .alias("edit_sim"),
            ).collect())
    )
    assert got == want
    # the prefilter must actually have fired: (1,3) was a candidate...
    cand_pairs = {(r.id_a, r.id_b) for r in cand.collect()}
    assert (1, 3) in cand_pairs
    # ...and is absent from the verified output (provably-failing pair)
    assert not any(p[:2] == (1, 3) for p in got)
    # while the genuine near-dup pair survives
    assert any(p[:2] == (1, 2) for p in got)
