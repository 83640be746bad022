"""Trigram-indexed literal search — the inverted-index alternative to a
full-scan LIKE, the standard technique for substring search over massive
corpora (public design: Google Code Search trigram index, R. Cox 2012,
"Regular Expression Matching with a Trigram Index").

A full-scan ``text LIKE '%needle%'`` reads every byte of a 100 TB corpus
per query. The trigram index inverts that: build once (char-3-gram →
posting list of doc ids), then a query touches ONLY the posting rows of
the needle's trigrams — candidates are docs containing EVERY needle
trigram, verified with an exact ``contains`` on just those docs. The
index build is one linear pass; at scale it would be written bucketed by
trigram so probes prune to matching buckets.

False positives (docs with all trigrams but not the contiguous needle)
are removed by the verify step; false negatives are impossible — a doc
containing the needle contains every one of its trigrams. Needles
shorter than 3 chars fall back to the scan (no trigram to probe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _drop_hot, _hot_keys
from .sketch import _hash32


def _trigrams_of(text: str) -> list[str]:
    return sorted({text[i : i + 3] for i in range(len(text) - 2)})


def build_trigram_postings(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_trigram_df: int | None = None,
) -> DataFrame:
    """(trigram, ids, hot) posting lists over the corpus — distinct char
    trigrams per doc, JVM-side sequence expression, one shuffle on the
    trigram key. Persist/bucket this by ``trigram`` for repeated probes.

    ``max_trigram_df`` is the hot-key cap (same contract as the dedup
    tier's ``max_shingle_df``, operators/dedup.py): a stop-trigram like
    ``"th "`` over a 100 TB corpus is otherwise ONE row holding billions
    of ids — unbounded row size, a guaranteed straggler. Trigrams whose
    document frequency exceeds the cap are kept as a tombstone row
    (``hot=true``, empty ids) so the probe can distinguish "capped"
    (don't prune on it) from "absent" (no doc contains it — empty
    result). The census that sizes the cap is pl_hot_shingles' shape.
    The cap never changes answers: probes ignore hot trigrams and fall
    back to the scan when every needle trigram is hot.
    """
    # char_ngrams builds the trigram array in one linear pass (two
    # zip_with concats over split(t, '')); the former per-position
    # substring transform paid O(position) per UTF8 substring — O(n^2)
    # interpreted byte-walking per doc (r11 interpreted-eval audit;
    # measured 2.3x on the sf1 index build). Sub-3-char and empty docs
    # yield an empty array inside the helper — no length gate needed.
    from .ngrams import char_ngrams

    tris = F.array_distinct(char_ngrams(F.col(text_col), 3))
    exploded = df.select(
        F.col(id_col).alias("id"), F.explode(tris).alias("trigram")
    )
    if max_trigram_df is None:
        return (
            exploded.groupBy("trigram")
            .agg(F.sort_array(F.collect_list("id")).alias("ids"))
            .withColumn("hot", F.lit(False))
        )
    # two-pass cap: a skinny map-side-partial count first, so the
    # unbounded collect_list never materializes for a hot key
    hot_keys = _hot_keys(exploded, "trigram", F.count("*") > max_trigram_df)
    live = (
        _drop_hot(exploded, "trigram", hot=hot_keys)
        .groupBy("trigram")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .withColumn("hot", F.lit(False))
    )
    id_type = dict(exploded.dtypes)["id"]
    tombstones = hot_keys.select(
        "trigram",
        F.array().cast(f"array<{id_type}>").alias("ids"),
        F.lit(True).alias("hot"),
    )
    return live.unionByName(tombstones)


def trigram_search(
    df: DataFrame,
    needle: str,
    text_col: str = "text",
    id_col: str = "doc_id",
    postings: DataFrame | None = None,
    max_trigram_df: int | None = None,
    tombstone_free: bool = False,
) -> DataFrame:
    """Exact literal-containment search via the trigram index.

    Probe: filter postings to the needle's trigrams (a tiny IN list —
    partition/bucket pruning at scale), explode, and keep docs holding
    ALL of them (count == n_live_trigrams); verify candidates with
    ``contains`` against the doc text. Result is EXACTLY the full-scan
    answer — the index only prunes, never decides.

    Cap semantics (``hot`` tombstones, :func:`build_trigram_postings`):
    the needle's trigram rows (≤ |needle| rows — a probe-sized driver
    read) split three ways. A trigram ABSENT from the index means no
    document contains it → empty result, no scan. A HOT trigram carries
    no postings → excluded from pruning. If every needle trigram is hot
    the probe degrades to the exact full scan; otherwise candidates must
    hold ALL live trigrams. Exactness is preserved in every branch.

    Output: (id_col) of matching docs, ordered.
    """
    if len(needle) < 3:
        return (
            df.filter(F.col(text_col).contains(F.lit(needle)))
            .select(id_col)
            .orderBy(id_col)
        )
    tris = _trigrams_of(needle)
    built_inline = postings is None
    if built_inline:
        postings = build_trigram_postings(
            df, text_col, id_col, max_trigram_df=max_trigram_df
        )
    if built_inline and max_trigram_df is None:
        # uncapped inline build: no tombstones can exist, so the probe
        # stays ONE declarative plan (the hot-aware path's probe-sized
        # driver read would re-execute the whole index build — measured
        # 2.2s -> 4.0s on the sf0.1 bench before this gate)
        cand = (
            postings.filter(F.col("trigram").isin(tris))
            .select(F.explode("ids").alias("id"))
            .groupBy("id")
            .agg(F.count("*").alias("n_hit"))
            .filter(F.col("n_hit") == len(tris))
            .select("id")
        )
        return (
            df.join(
                cand.withColumnRenamed("id", id_col), id_col, "left_semi"
            )
            .filter(F.col(text_col).contains(F.lit(needle)))
            .select(id_col)
            .orderBy(id_col)
        )
    if not built_inline and tombstone_free:
        # Persisted tombstone-free index (built with max_trigram_df=None
        # — the caller's assertion, e.g. ensure_trigram_index's default):
        # no hot rows can exist, so the probe needs NO driver round-trip
        # to learn hot/missing status. One declarative candidate plan
        # (a missing needle trigram simply yields n_hit < n_tris → empty
        # result, same answer as the explicit missing-branch) + the
        # bounded isin-pushdown verify. This takes the probe from 3
        # scheduled jobs (checkpoint the probe rows, collect hot info,
        # collect candidates) to 1 before the verify scan — the r11
        # probe floor was scheduling boundaries, not I/O (r12 item #6).
        # coalesce(1): the filtered input is ≤ |needle| posting ROWS
        # (one per trigram — bucket-pruned at the scan), so the
        # candidate count runs as ONE stage with no Exchange: coalesce
        # is a narrow dependency and SinglePartition satisfies the
        # final aggregate's distribution. Parallelism is not lost at
        # scale: a posting list is one row, so its explosion was
        # single-task under the exchange plan too; a corpus whose lists
        # outgrow one task needs the capped (hot-tombstone) index,
        # which takes the hot-aware path below instead.
        tris_set = F.col("trigram").isin(tris)
        cand = (
            postings.filter(tris_set)
            .coalesce(1)
            .select(F.explode("ids").alias("id"))
            .groupBy("id")
            .agg(F.count("*").alias("n_hit"))
            .filter(F.col("n_hit") == len(tris))
            .select("id")
        )
        cap = 1000
        cand_ids = [r["id"] for r in cand.limit(cap + 1).collect()]
        if len(cand_ids) <= cap:
            return (
                df.filter(F.col(id_col).isin(cand_ids))
                .filter(F.col(text_col).contains(F.lit(needle)))
                .select(id_col)
                .orderBy(id_col)
            )
        return (
            df.join(
                cand.withColumnRenamed("id", id_col), id_col, "left_semi"
            )
            .filter(F.col(text_col).contains(F.lit(needle)))
            .select(id_col)
            .orderBy(id_col)
        )
    if "hot" not in postings.columns:  # legacy/un-capped index
        postings = postings.withColumn("hot", F.lit(False))
    # The hot-aware probe reads the index twice (hot info + candidate
    # explode). Materialize ONLY the needle's trigram rows once
    # (≤ |needle| rows): the underlying index plan executes exactly
    # once — whether the caller persisted their postings or not — and
    # what's retained is probe-sized, not the whole index (the earlier
    # whole-index persist leaked MEMORY_AND_DISK blocks across calls;
    # localCheckpoint blocks are context-cleaned when the frame is
    # garbage-collected).
    probe = postings.filter(
        F.col("trigram").isin(tris)
    ).localCheckpoint()
    info = probe.select("trigram", "hot").collect()  # ≤ |needle| rows
    present = {r["trigram"] for r in info}
    hot = {r["trigram"] for r in info if r["hot"]}
    missing = [t for t in tris if t not in present]
    if missing:
        # some needle trigram appears in NO document — provably empty
        return (
            df.filter(F.lit(False)).select(id_col).orderBy(id_col)
        )
    live = [t for t in tris if t not in hot]
    if not live:
        # every needle trigram was df-capped: exact fallback scan
        return (
            df.filter(F.col(text_col).contains(F.lit(needle)))
            .select(id_col)
            .orderBy(id_col)
        )
    cand = (
        probe.filter(~F.col("hot") & F.col("trigram").isin(live))
        .select(F.explode("ids").alias("id"))
        .groupBy("id")
        .agg(F.count("*").alias("n_hit"))
        .filter(F.col("n_hit") == len(live))
        .select("id")
    )
    # Candidate sets are usually tiny (docs holding ALL needle
    # trigrams).  Collect them when small and verify through an
    # isin() filter that PUSHES into the parquet scan (PushedFilters:
    # In(doc_id, ...)) — row-group min/max pruning then skips most of
    # the corpus file, where a semi-join must scan every text row.
    # Measured at sf10 (2.8 GB documents): 1.8 s -> the pruned read.
    # The collect is bounded: limit(cap+1) decides which branch runs.
    cap = 1000
    cand_ids = [r["id"] for r in cand.limit(cap + 1).collect()]
    if len(cand_ids) <= cap:
        return (
            df.filter(F.col(id_col).isin(cand_ids))
            .filter(F.col(text_col).contains(F.lit(needle)))
            .select(id_col)
            .orderBy(id_col)
        )
    return (
        df.join(cand.withColumnRenamed("id", id_col), id_col, "left_semi")
        .filter(F.col(text_col).contains(F.lit(needle)))
        .select(id_col)
        .orderBy(id_col)
    )


def save_trigram_index(
    df: DataFrame,
    table_name: str = "trigram_index",
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_trigram_df: int | None = None,
    path: str | None = None,
) -> None:
    """Persist the posting lists as a BUCKETED table so probes prune to
    the needle's buckets instead of scanning the whole index.

    ``bucketBy(buckets, trigram)`` hashes each trigram to one of
    ``buckets`` files; an equality/IN probe on ``trigram`` then reads
    only the matching buckets (Spark bucket pruning — the executed plan
    shows ``SelectedBucketsCount: m out of n``). The build is the one
    linear corpus pass; re-run to refresh (posting lists are derived
    state, idempotent by construction).

    With ``path`` set, the index is written as an EXTERNAL table with a
    bucket-spec sidecar (operators/bucketing.py:save_bucketed_table) —
    the cross-session layout: a fresh session re-attaches it with
    :func:`ensure_trigram_index` instead of rebuilding."""
    postings = build_trigram_postings(
        df, text_col, id_col, max_trigram_df=max_trigram_df
    )
    if path is not None:
        from .bucketing import save_bucketed_table

        save_bucketed_table(
            df.sparkSession, postings, path, table_name,
            ["trigram"], buckets=buckets, sort=True,
        )
        return
    (
        postings
        .write.mode("overwrite")
        .bucketBy(buckets, "trigram")
        .sortBy("trigram")
        .saveAsTable(table_name)
    )


def ensure_trigram_index(
    df: DataFrame,
    path: str,
    table_name: str = "trigram_index",
    buckets: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_trigram_df: int | None = None,
) -> bool:
    """Attach the persisted trigram index at ``path`` into this
    session's catalog, building it first ONLY if no index exists there
    — the search-service amortization across SESSIONS, not just within
    one (r9 verdict #4).  Returns True when an existing index was
    attached without a rebuild."""
    from .bucketing import attach_bucketed_table

    spark = df.sparkSession
    if attach_bucketed_table(spark, path, table_name):
        return True
    save_trigram_index(
        df, table_name, buckets, text_col, id_col, max_trigram_df,
        path=path,
    )
    return False


def trigram_search_indexed(
    df: DataFrame,
    needle: str,
    table_name: str = "trigram_index",
    text_col: str = "text",
    id_col: str = "doc_id",
    tombstone_free: bool = False,
) -> DataFrame:
    """Probe a persisted bucketed index (:func:`save_trigram_index`) —
    same exact-answer contract as :func:`trigram_search`, but the probe
    reads only the needle's trigram buckets (bucket pruning) instead of
    rebuilding or rescanning posting lists: the amortized shape for a
    search service running many queries against one corpus snapshot.

    Operational note: set
    ``spark.sql.sources.bucketing.autoBucketedScan.enabled=false`` in
    the probe session — Spark's planner otherwise disables bucketed
    reading for filter-only scans (no join/agg on the bucket column),
    which forfeits the pruning this index exists for. Asserted in
    tests/test_search.py."""
    spark = df.sparkSession
    return trigram_search(
        df, needle, text_col, id_col,
        postings=spark.table(table_name),
        tombstone_free=tombstone_free,
    )


def update_trigram_postings(
    postings: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_trigram_df: int | None = None,
) -> DataFrame:
    """Incremental index maintenance: merge a new document batch into
    existing posting lists without re-reading the indexed corpus — the
    operation that keeps a 100 TB index current as data arrives (a full
    rebuild re-reads everything; the merge reads the delta plus the
    index, which is a small multiple of the vocabulary).

    Shape: invert the delta, union with the existing lists, one
    re-group per trigram concatenating sorted lists (ids are appended
    pre-sorted per side, then flatten+sort merges — list sizes are
    per-trigram document frequencies, bounded by corpus df, not corpus
    size). Idempotence is the caller's contract: re-merging the same
    batch duplicates ids, so feed each batch once (the foreachBatch
    epoch-id pattern) or dedup ids downstream.

    Hot tombstones are sticky and re-evaluated: a trigram hot on either
    side stays hot (its ids are already gone), and with
    ``max_trigram_df`` set a merged list that grows past the cap is
    demoted to a tombstone — so the index's bounded-row invariant
    survives incremental growth.

    Bounded-row discipline: hotness is decided FIRST, from map-side
    partial sums of list sizes (integers only — no id array ever rides
    through that aggregation), and the id-carrying merge then runs over
    the provably-cool keys alone. The delta build takes the same cap,
    so a stop-trigram arriving in a huge batch never materializes its
    full id list anywhere in the merge — the invariant the cap exists
    for holds transiently, not just in the output. (The union subtree
    is referenced by both aggregations; the delta is batch-sized, so
    the re-execution is the cheap side by construction.)
    """
    delta = build_trigram_postings(
        new_docs, text_col, id_col, max_trigram_df=max_trigram_df
    )
    if "hot" not in postings.columns:  # legacy index
        postings = postings.withColumn("hot", F.lit(False))
    if "hot" not in delta.columns:  # uncapped build has no hot column
        delta = delta.withColumn("hot", F.lit(False))
    both = postings.unionByName(delta)
    id_type = postings.schema["ids"].dataType.simpleString()
    # pass 1 — integers only: merged size + sticky hot flag per trigram
    is_hot = F.max("hot")
    if max_trigram_df is not None:
        is_hot = is_hot | (F.sum(F.size("ids")) > max_trigram_df)
    hot_keys = _hot_keys(both, "trigram", is_hot)
    tombstones = hot_keys.select(
        "trigram",
        F.array().cast(id_type).alias("ids"),
        F.lit(True).alias("hot"),
    )
    # pass 2 — id arrays, cool keys only (every merged list ≤ cap)
    cool = (
        _drop_hot(both, "trigram", hot=hot_keys)
        .groupBy("trigram")
        .agg(F.array_sort(F.flatten(F.collect_list("ids"))).alias("ids"))
        .withColumn("hot", F.lit(False))
    )
    return cool.unionByName(tombstones)


def bm25_search(
    df: DataFrame,
    query_terms: list[str],
    k: int = 10,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-``k`` documents by BM25 for a bag-of-terms query — the
    classic ranked-retrieval scorer (Robertson-Sparck Jones):

        score(D) = sum_t idf(t) * tf * (k1+1) / (tf + k1*(1-b+b*|D|/avgdl))
        idf(t)   = ln((N - df_t + 0.5) / (df_t + 0.5) + 1)   (+1-smoothed)

    Shape: tokenize once, keep ONLY query-term postings (the filter
    lands before the aggregation, so the shuffled relation is
    query-sized, not corpus-sized), per-(doc, term) tf with map-side
    partials, per-term df + corpus stats (N, avgdl) on tiny broadcast
    relations, one scoring projection, TakeOrderedAndProject top-k.
    Document length uses whitespace tokens (the corpus contract).

    Output: (id_col, rank, score) — rank by (score desc, id) on values
    rounded to 4 (the pl_tfidf-proven cross-engine double contract).
    """
    from pyspark.sql import Window

    from .text import ws_token_count

    terms = sorted({t.lower() for t in query_terms})
    toks = F.explode(
        F.filter(F.split(F.lower(F.col(text_col)), " "), lambda t: t != "")
    ).alias("term")
    lens = df.select(
        F.col(id_col).alias("id"), ws_token_count(text_col).alias("dl")
    )
    stats = lens.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    # dl rides the postings row (first() per group) — joining the
    # corpus-sized lens relation back on id would shuffle one row per
    # document, exactly the corpus-sized exchange this shape avoids
    hits = (
        df.select(
            F.col(id_col).alias("id"),
            ws_token_count(text_col).alias("dl"),
            toks,
        )
        .filter(F.col("term").isin(terms))
        .groupBy("id", "term")
        .agg(F.count("*").alias("tf"), F.first("dl").alias("dl"))
    )
    dfreq = hits.groupBy("term").agg(F.count("*").alias("df"))
    scored = (
        hits.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(stats))
        .withColumn(
            "idf",
            F.log(
                (F.col("n_docs") - F.col("df") + 0.5)
                / (F.col("df") + 0.5)
                + 1.0
            ),
        )
        .withColumn(
            "part",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    return (
        scored.groupBy("id")
        .agg(F.round(F.sum("part"), 4).alias("score"))
        .orderBy(F.col("score").desc(), "id")
        .limit(k)
        .select(
            F.col("id").alias(id_col),
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), "id"))
            .alias("rank"),
            "score",
        )
    )


def winnow_fingerprints(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Winnowing fingerprints per document (Schleimer, Wilkerson &
    Aiken 2003 — the MOSS local fingerprinting scheme): hash every
    lowercase char ``k``-gram, slide a window of ``w`` consecutive
    hashes, keep the MIN of each window, dedupe. Guarantees: any shared
    substring of length >= k + w - 1 yields at least one shared
    fingerprint (detection threshold t = k + w - 1), while only
    ~2/(w+1) of positions are kept — the sampled-but-guaranteed middle
    ground between full k-gram sets (huge) and one-hash-per-doc
    MinHash (whole-doc only).

    Hashes use the portable md5-prefix-int idiom (operators/
    dedup.py:306 — 8 hex chars here, fits 32 bits). Docs shorter than
    ``k`` chars emit nothing; docs with fewer than ``w`` k-grams emit
    the min of what exists (the every-doc-fingerprinted clamp both
    engines share).

    Shape — POSEXPLODE TO ROWS, not a higher-order transform: the
    original array formulation (transform over sequence with
    per-position substring+md5, array_min over slices) ran every gram
    through INTERPRETED expression eval (HigherOrderFunction has no
    codegen) and paid O(position) per UTF8 substring — O(n^2)
    byte-walking per doc; jstack showed every hot task inside
    Substring/Lower nullSafeEval, and hoisting lower() out of the
    lambda cannot fix it (Catalyst re-inlines single-use aliases). One
    position-exploded row per gram keeps substring+md5 inside
    WholeStageCodegen and the window-of-w min becomes a real window
    function (per-doc partitions sort locally); measured 61.6s -> 23.6s
    at sf1 on a 6-way scan with EXACT fingerprint-set parity. The
    explode costs a doc_id shuffle for the window, but that shuffle is
    300x-smaller hashes, not text.

    Output: (id_col, fp) — one row per DISTINCT fingerprint per doc.
    """
    from pyspark.sql import Window

    from ..catalog import spread_small_scan

    # the per-position md5 battery runs in the scan stage
    df = spread_small_scan(df)
    low = df.select(
        F.col(id_col), F.lower(F.col(text_col)).alias("_lt")
    ).filter(F.length("_lt") >= k)
    pos = low.select(
        id_col, "_lt",
        F.explode(F.sequence(F.lit(1), F.length("_lt") - k + 1)).alias("i"),
    )
    hashed = pos.select(
        id_col, "i",
        _hash32(
            F.substring(F.col("_lt"), F.col("i").cast("int"), k)
        ).alias("_hh"),
        (F.length("_lt") - k + 1).alias("_n"),
    )
    wspec = Window.partitionBy(id_col).orderBy("i").rowsBetween(0, w - 1)
    return (
        hashed.withColumn("fp", F.min("_hh").over(wspec))
        .filter(F.col("i") <= F.greatest(F.col("_n") - w + 1, F.lit(1)))
        .select(id_col, "fp")
        .distinct()
    )


def winnow_overlap_pairs(
    df: DataFrame,
    k: int = 5,
    w: int = 4,
    min_shared: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_fp_df: int | None = None,
) -> DataFrame:
    """Partial-copy candidate pairs by shared winnowing fingerprints —
    the PLAGIARISM-shaped dedup tier: a paragraph lifted between two
    otherwise-different documents shares fingerprints even though
    whole-doc jaccard is tiny (ngram_jaccard_pairs would never flag
    it; that tier answers "mostly the same document?", this one
    answers "contains a copied passage?").

    Shape: fingerprint (map-only), self-join on the fingerprint KEY,
    count per pair — the inverted-index pattern every dedup tier here
    uses; cost is driven by fingerprint document-frequency, so
    ``max_fp_df`` caps boilerplate fingerprints exactly like
    ngram_jaccard_pairs' max_shingle_df (a header shared by a million
    docs is evidence of boilerplate, not copying — drop the key, keep
    the decision exact for surviving pairs by construction: n_shared
    only ever undercounts on capped keys, symmetrically for every
    pair).

    Output: (id_a, id_b, n_shared), n_shared >= min_shared, ordered.
    """
    fps = winnow_fingerprints(df, k=k, w=w, text_col=text_col,
                              id_col=id_col)
    fps = _drop_hot(fps, "fp", max_fp_df)
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
        .orderBy("id_a", "id_b")
    )


def hybrid_search(
    docs: DataFrame,
    vectors: DataFrame,
    query_terms: list[str],
    query_vec_id: int,
    k: int = 10,
    pool: int = 20,
    k_rrf: int = 60,
    id_col: str = "doc_id",
    vec_id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hybrid lexical+semantic retrieval with reciprocal-rank fusion
    (Cormack, Clarke, Büttcher 2009): fuse the BM25 top-``pool`` and
    the exact-cosine top-``pool`` lists by

        rrf(d) = Σ_lists 1 / (k_rrf + rank_list(d))

    — the standard production pattern (Elasticsearch/Vespa hybrid
    mode): rank positions, not incomparable scores, are what fuse.

    Scale shape: each leg keeps its own optimal plan (BM25's
    query-sized shuffle; cosine's broadcast-query BLAS) and the fusion
    joins two <= pool-row relations — driver-negligible at any corpus
    size.  A doc appearing in only one list contributes only that
    list's term (full outer join, missing rank -> no contribution).
    Output: (id_col, rank, rrf, bm25_rank, cos_rank).
    """
    from pyspark.sql import Window

    from .similarity import cosine_topk

    lex = bm25_search(docs, query_terms, k=pool, id_col=id_col).select(
        F.col(id_col).alias("id"), F.col("rank").alias("bm25_rank")
    )
    sem = (
        cosine_topk(
            vectors,
            vectors.filter(F.col(vec_id_col) == query_vec_id),
            k=pool,
            id_col=vec_id_col,
            vec_col=vec_col,
        )
        .select(F.col("cand_id").alias("id"), F.col("rank").alias("cos_rank"))
    )
    fused = lex.join(sem, "id", "full_outer").withColumn(
        "rrf",
        F.round(
            F.when(
                F.col("bm25_rank").isNotNull(),
                F.lit(1.0) / (F.lit(k_rrf) + F.col("bm25_rank")),
            ).otherwise(F.lit(0.0))
            + F.when(
                F.col("cos_rank").isNotNull(),
                F.lit(1.0) / (F.lit(k_rrf) + F.col("cos_rank")),
            ).otherwise(F.lit(0.0)),
            6,
        ),
    )
    w = Window.orderBy(F.col("rrf").desc(), "id")
    # post-join window over <= 2*pool rows (the bm25 post-limit pattern)
    return (
        fused.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("id").alias(id_col), "rank", "rrf", "bm25_rank", "cos_rank"
        )
    )
