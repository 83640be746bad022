"""Training-data curation operators: decontamination, PII redaction,
deterministic splits, sequence packing, mixture sampling.

These are the corpus-hygiene steps a large-scale LLM training pipeline
runs between raw ingestion and tokenization (the reference delegates all
relational work to embedded engines — csv_tool.py:358, bigquery_tool.py:149
— and has no curation tier; this module is the Spark-native extension the
driver brief asks for beyond reference parity).

Scale posture (100 TB):

- Every operator is pure built-in-function DataFrame code — no Python in
  the hot path, whole-stage-codegen eligible end to end.
- ``decontaminate`` is the only shuffle-heavy op: one explode per side,
  a distinct on the (much smaller) eval n-gram set, and a semi-join keyed
  on the n-gram — the same inverted-index shape as the n-gram dedup tier
  (dedup.py:ngram_jaccard_pairs). The eval side is the small side by
  construction (benchmarks are ~1e3-1e6 docs vs 1e9+ train docs); Spark's
  AQE will broadcast it when it fits.
- ``hash_split`` / ``mixture_sample`` are stateless per-row filters on an
  md5 prefix — embarrassingly parallel, no shuffle at all, and stable
  under re-runs / re-partitioning (the split follows the ROW, not the
  partition layout, unlike ``df.sample`` / ``randomSplit``).
- ``pack_sequences`` windows WITHIN a partition key (default: source) so
  the running token sum never forms a single global ordering — each
  domain packs independently, which is also what you want semantically
  (no cross-domain documents inside one context window).
"""

from __future__ import annotations

import hashlib

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sketch import _hash32

# Redaction patterns: RE2-compatible (no lookaround/backrefs) so the exact
# same pattern string runs on Spark (java.util.regex) and DuckDB (RE2) —
# the oracle contract depends on this.
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}",
    "phone": r"\b\d{3}[-.]\d{3}[-.]\d{4}\b",
    "ipv4": r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b",
}


def _word_ngrams(text_col: Column, n: int) -> Column:
    """Array of word n-grams (space-joined) of ``text_col``, lowercased
    (zip_with construction, operators/ngrams.py; short docs yield [])."""
    from .ngrams import word_ngrams

    return word_ngrams(text_col, n, lowercase=True)


def contaminated_ids(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Train-doc ids sharing at least one word ``n``-gram with the eval set.

    The benchmark-decontamination primitive (detect eval-set leakage in a
    pretraining corpus). Inverted-index shape: explode both sides to
    n-grams, distinct the eval side (small by construction), semi-join
    train grams against it, distinct the surviving ids. No pairwise doc
    comparison ever materializes.
    """
    from ..catalog import spread_small_scan

    eval_grams = (
        eval_df.select(F.explode(_word_ngrams(F.col(text_col), n)).alias("g"))
        .distinct()
    )
    # n-gram explosion runs in the train scan stage (spread: 2.6x at sf0.1)
    train_grams = spread_small_scan(train).select(
        F.col(id_col), F.explode(_word_ngrams(F.col(text_col), n)).alias("g")
    )
    return (
        train_grams.join(eval_grams, "g", "left_semi")
        .select(id_col)
        .distinct()
    )


def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
) -> DataFrame:
    """Train rows with eval-overlapping documents removed (anti-join of
    :func:`contaminated_ids`)."""
    bad = contaminated_ids(train, eval_df, id_col, text_col, n)
    return train.join(bad, id_col, "left_anti")


def pii_redact(
    df: DataFrame, text_col: str = "text", out_col: str = "redacted"
) -> DataFrame:
    """Append match counts per PII class and a redacted text column.

    Counts are taken BEFORE redaction (regexp_count on the original);
    redaction applies the patterns in PII_PATTERNS order, each class
    replaced by its ``<CLASS>`` tag. Pure JVM expressions — at corpus
    scale this is a map-only stage with zero shuffle.
    """
    out = df
    red = F.col(text_col)
    for name, pat in PII_PATTERNS.items():
        out = out.withColumn(
            f"n_{name}", F.regexp_count(F.col(text_col), F.lit(pat))
        )
        red = F.regexp_replace(red, pat, f"<{name.upper()}>")
    return out.withColumn(out_col, red)


def _md5_prefix(id_col: Column, width: int) -> Column:
    return F.substring(F.md5(id_col.cast("string")), 1, width)


def hash_split(
    df: DataFrame,
    id_col: str = "doc_id",
    boundaries: dict[str, str] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Deterministic, engine-portable train/val/test assignment.

    Each row's split follows ``md5(cast(id))`` — stable across runs,
    engines, partitionings and cluster sizes (unlike ``randomSplit``,
    which depends on partition layout). ``boundaries`` maps split name →
    EXCLUSIVE upper bound on the first-4-hex-chars prefix, checked in
    ascending order; the last bucket catches the rest. Default:
    train < 'cccd' (~80%), val < 'e666' (~10%), test = rest (~10%).

    Comparison happens in hex-string space so the oracle (DuckDB md5 +
    the same substring compare) is bit-identical — no integer parsing of
    hex needed on either engine.
    """
    if boundaries is None:
        boundaries = {"train": "cccd", "val": "e666"}
    prefix = _md5_prefix(F.col(id_col), 4)
    expr: Column | None = None
    items = list(boundaries.items())
    # Build nested when() in declaration order.
    for name, bound in items:
        cond = prefix < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    assert expr is not None
    return df.withColumn(split_col, expr.otherwise(F.lit("test")))


def cluster_split(
    df: DataFrame,
    pairs: DataFrame | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    boundaries: dict[str, str] | None = None,
    split_col: str = "split",
) -> DataFrame:
    """Leakage-safe train/val/test assignment: whole duplicate clusters
    route to ONE split.

    :func:`hash_split` routes each ROW independently, so a document and
    its (near-)duplicate can land in train and test — the eval set then
    scores memorization, the classic contamination failure.  Here the
    routing key is the cluster REPRESENTATIVE id (minimum id over the
    duplicate cluster; unclustered docs are their own cluster), md5-hex
    routed with exactly :func:`hash_split`'s boundary contract, so
    every member of a cluster shares a split and the split fractions
    still hold at the cluster level.

    ``pairs`` (optional): an (id_a, id_b) near-duplicate pair relation
    (ngram_jaccard_pairs / minhash_lsh_pairs output) — resolved to
    clusters with the Large-Star/Small-Star connected-components plan.
    Default (None): exact content clusters (md5(text) equality), one
    groupBy + one hash-key join, no pair expansion — the oracle-checked
    mode.

    Emits (id, rep_id, split) ordered by id.  Scale: the exact mode
    shuffles on the 32-hex content key (partial-agg'd); the pairs mode
    inherits connected_components' O(log n)-round bound.
    """
    if pairs is not None:
        from .dedup import connected_components

        comp = connected_components(
            pairs.select(
                F.col("id_a").alias("src"), F.col("id_b").alias("dst")
            )
        ).select(F.col("node").alias(id_col), F.col("cluster_id").alias("_rep"))
        rep = df.select(id_col).join(comp, id_col, "left").select(
            F.col(id_col),
            F.coalesce("_rep", F.col(id_col)).alias("rep_id"),
        )
    else:
        reps = (
            df.groupBy(F.md5(F.col(text_col)).alias("_h"))
            .agg(F.min(id_col).alias("rep_id"))
        )
        rep = (
            df.select(F.col(id_col), F.md5(F.col(text_col)).alias("_h"))
            .join(reps, "_h")
            .select(id_col, "rep_id")
        )
    if boundaries is None:
        boundaries = {"train": "cccd", "val": "e666"}
    prefix = _md5_prefix(F.col("rep_id"), 4)
    expr: Column | None = None
    for name, bound in boundaries.items():
        cond = prefix < F.lit(bound)
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(
            cond, F.lit(name)
        )
    assert expr is not None
    return rep.select(
        id_col, "rep_id", expr.otherwise(F.lit("test")).alias(split_col)
    ).orderBy(id_col)


def pack_sequences(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_col: str = "source",
) -> DataFrame:
    """Concat-and-chunk packing manifest: assign each document to a
    fixed-token-budget chunk within its ``partition_col`` group.

    The streaming packing used for LLM pretraining (documents are
    concatenated in a deterministic order and the token stream is cut
    every ``max_tokens``): a document lands in the chunk where its FIRST
    token falls, i.e. ``floor(exclusive_running_sum / max_tokens)``.
    Windowing is partitioned by ``partition_col`` — no global sort, each
    domain packs independently and in parallel.

    Output: (partition_col, id_col, n_tokens, chunk_id).
    """
    toks = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    ).alias("n_tokens")
    w = (
        Window.partitionBy(partition_col)
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    base = df.select(partition_col, id_col, toks)
    return base.withColumn(
        "chunk_id",
        F.floor(
            F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
            / F.lit(max_tokens)
        ),
    )


def mixture_sample(
    df: DataFrame,
    rates_hex: dict[str, str],
    default_hex: str = "ffff",
    id_col: str = "doc_id",
    domain_col: str = "source",
) -> DataFrame:
    """Deterministic domain re-weighting: keep a row iff its md5 prefix
    falls under its domain's threshold.

    ``rates_hex`` maps domain → exclusive 4-hex-char upper bound (e.g.
    '8000' ≈ 50 % keep, '4000' ≈ 25 %); unlisted domains use
    ``default_hex`` ('ffff' ≈ keep ~all). This is how mixture weights
    (e.g. up-sample wiki, down-sample common-crawl) are applied
    reproducibly: the decision is a pure function of the row, so adding
    executors or re-running yields the same corpus.
    """
    prefix = _md5_prefix(F.col(id_col), 4)
    thr: Column = F.lit(default_hex)
    for dom, bound in rates_hex.items():
        thr = F.when(F.col(domain_col) == dom, F.lit(bound)).otherwise(thr)
    return df.filter(prefix < thr)


def stratified_sample_k(
    df: DataFrame,
    k: int,
    id_col: str = "doc_id",
    stratum_col: str = "source",
) -> DataFrame:
    """Exactly min(k, |stratum|) rows per stratum, deterministically.

    Rows are ranked inside each stratum by md5 of their id (a stable
    pseudo-random order — the same "follow the row" trick as hash_split)
    and the first ``k`` kept. Unlike ``sampleBy`` this yields EXACT
    per-stratum counts and is reproducible across runs/engines; the
    window partitions by stratum, so parallelism = number of strata and
    no global sort exists. Used for eval-set carving and per-domain
    inspection samples.
    """
    w = Window.partitionBy(stratum_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        df.withColumn("_rk", F.row_number().over(w))
        .filter(F.col("_rk") <= k)
        .drop("_rk")
    )


def chunk_text(
    df: DataFrame,
    window: int = 64,
    stride: int = 48,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Overlapping token-window chunks per document (RAG / long-context
    preprocessing: window tokens per chunk, advancing by stride, so
    consecutive chunks overlap by window - stride).

    All within-row: the token array is built once, chunk start offsets
    come from an ascending ``sequence``, and each chunk re-joins a
    ``slice`` of the tokens. Cost is O(n_chunks · window) per document
    with no shuffle at all — chunking is a map-only stage at any corpus
    size. Documents shorter than ``window`` yield exactly one chunk.

    Output: (id_col, chunk_idx, chunk_text, n_tokens).
    """
    if stride <= 0 or window <= 0:
        raise ValueError("window and stride must be positive")
    if stride > window:
        # starts would advance past the window end, silently skipping
        # tokens — violating the every-token-covered contract above
        raise ValueError(
            f"stride ({stride}) must not exceed window ({window}): "
            "chunks would leave uncovered gaps"
        )
    toks = F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    n = F.size(toks)
    # Last full-window start, rounded UP to the next stride multiple so a
    # tail shorter than stride still gets its (short) final chunk — every
    # token is covered (caught by the coverage property test).
    stop = F.greatest(n - window + 1, F.lit(1))
    stop_padded = F.ceil((stop - 1) / F.lit(stride)).cast("int") * stride + 1
    starts = F.sequence(F.lit(1), stop_padded, F.lit(stride))
    chunks = F.transform(starts, lambda s: F.slice(toks, s, window))
    return (
        df.select(
            F.col(id_col),
            F.posexplode(chunks).alias("chunk_idx", "chunk_toks"),
        )
        .select(
            id_col,
            "chunk_idx",
            F.array_join("chunk_toks", " ").alias("chunk_text"),
            F.size("chunk_toks").alias("n_tokens"),
        )
    )


def token_budget_sample(
    df: DataFrame,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    domain_col: str = "source",
) -> DataFrame:
    """Deterministic per-domain token-budget subsample: keep whole
    documents, in md5(id) order, while the domain's running token total
    stays under its budget — "give me ~N tokens of domain X", the step
    that turns mixture WEIGHTS into an actual sized training set.

    The md5 order makes the selection a reproducible uniform sample
    (same property as hash_split) rather than favoring low ids; a doc
    is kept iff its EXCLUSIVE running sum is under budget, so the
    budget is overshot by at most one document — exact-k semantics on
    token granularity. Domains absent from ``budgets`` are dropped.
    One window per domain partition (no global sort); at 100 TB each
    domain ranks independently and in parallel.

    Output: df's columns + n_tokens, for the kept rows.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    toks = F.size(
        F.filter(F.split(F.col(text_col), " "), lambda t: t != "")
    )
    w = (
        Window.partitionBy(domain_col)
        .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    budget = F.coalesce(
        *[
            F.when(F.col(domain_col) == d, F.lit(int(b)))
            for d, b in budgets.items()
        ],
        F.lit(-1),
    )
    return (
        df.withColumn("n_tokens", toks)
        .withColumn("_cum", F.coalesce(F.sum("n_tokens").over(w), F.lit(0)))
        .filter((budget >= 0) & (F.col("_cum") < budget))
        .drop("_cum")
    )


def passage_dedup(
    df: DataFrame,
    block: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    scope: str = "corpus",
) -> DataFrame:
    """Passage-level dedup: remove repeated ``block``-token passages,
    keeping each passage's FIRST occurrence in (doc, position) order —
    the tractable distributed variant of exact-substring dedup (suffix
    arrays don't shard; fixed-width block hashing does).

    ``scope='corpus'`` dedups across the whole corpus (the standard
    intra-corpus repeated-passage cleanup between document-level dedup
    and n-gram decontamination). ``scope='doc'`` dedups only WITHIN
    each document (boilerplate/repeated-line trimming a la RefinedWeb
    line dedup) — the window key gains the doc id, so the shuffle is
    per-document and no cross-document state exists at all.

    Shape: blocks from :func:`chunk_text` (window == stride: disjoint,
    every token covered), one window shuffle keyed on md5(block) —
    a hash key, so globally-common passages spread evenly and there is
    no hot reducer — then one groupBy(doc) to reassemble survivors in
    position order. Documents whose every passage was seen earlier
    survive with n_kept = 0 and the md5 of the empty string, so the
    output stays one row per non-empty input document.

    Output: (id_col, n_blocks, n_kept, clean_md5).
    """
    if scope not in ("corpus", "doc"):
        raise ValueError(f"scope must be 'corpus' or 'doc', got {scope!r}")
    blocks = chunk_text(
        df, window=block, stride=block, id_col=id_col, text_col=text_col
    ).filter(F.col("n_tokens") > 0)
    part = (
        [F.md5("chunk_text")]
        if scope == "corpus"
        else [F.col(id_col), F.md5("chunk_text")]
    )
    w = Window.partitionBy(*part).orderBy(id_col, "chunk_idx")
    kept = (
        blocks.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )
    n_blocks = blocks.groupBy(id_col).agg(F.count("*").alias("n_blocks"))
    reassembled = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("chunk_idx", "chunk_text"))
                    ),
                    lambda s: s["chunk_text"],
                ),
                " ",
            )
        ).alias("clean_md5"),
    )
    empty_md5 = hashlib.md5(b"").hexdigest()
    return (
        n_blocks.join(reassembled, id_col, "left")
        .select(
            id_col,
            "n_blocks",
            F.coalesce(F.col("n_kept"), F.lit(0)).alias("n_kept"),
            F.coalesce(F.col("clean_md5"), F.lit(empty_md5)).alias(
                "clean_md5"
            ),
        )
    )


def write_corpus_snapshot(
    df: DataFrame,
    path: str,
    partition_cols: tuple[str, ...] = ("split", "source"),
    mode: str = "overwrite",
) -> None:
    """Write a curated corpus snapshot partitioned by (split, source).

    The layout downstream training jobs want: reading one split (or one
    split × domain slice) partition-prunes instead of scanning the whole
    snapshot — `spark.read.parquet(path).filter("split = 'train'")`
    shows PartitionFilters in the scan, not a post-filter. Combine with
    ``hash_split`` / ``mixture_sample`` upstream; deterministic row
    routing means re-running the pipeline rewrites identical partitions.
    """
    df.write.mode(mode).partitionBy(*partition_cols).parquet(path)


def mixture_rates_for_targets(
    counts: dict[str, int], targets: dict[str, float]
) -> dict[str, str]:
    """Solve the md5-prefix thresholds that turn observed domain counts
    into a target output mixture.

    Keep-rate per domain is proportional to ``target_share / count``,
    scaled so the binding domain (the one that would need up-sampling)
    is kept in full — the standard down-sample-to-mixture solution (you
    cannot up-sample with a filter; the binding domain caps the total).
    Returns 4-hex-char EXCLUSIVE upper bounds for
    :func:`mixture_sample`. Driver-side arithmetic over one row per
    domain — never data.
    """
    if not counts or not targets:
        raise ValueError("counts and targets must be non-empty")
    missing = set(targets) - set(counts)
    if missing:
        raise ValueError(f"targets for unknown domains: {sorted(missing)}")
    total_w = sum(targets.values())
    raw = {
        d: (targets[d] / total_w) / counts[d]
        for d in targets
        if counts[d] > 0
    }
    if not raw:
        raise ValueError("all target domains have zero counts")
    scale = 1.0 / max(raw.values())
    out = {}
    for d, r in raw.items():
        frac = min(r * scale, 1.0)
        if frac >= 1.0:
            # full keep: an exclusive bound above every real hex prefix
            # ('g' sorts after '9' and 'a'-'f')
            out[d] = "g"
        else:
            out[d] = format(max(int(frac * 0x10000), 1), "04x")
    return out


def temperature_weights(
    counts: dict[str, int], alpha: float = 0.7
) -> dict[str, float]:
    """Temperature-scaled mixture targets: w_d ∝ n_d^alpha (multilingual
    / multi-domain re-balancing — alpha 1.0 keeps natural proportions,
    0.0 is uniform; 0.3-0.7 is the common pretraining range). Feed the
    result to :func:`mixture_rates_for_targets`."""
    if not counts:
        raise ValueError("counts must be non-empty")
    if alpha < 0:
        raise ValueError("alpha must be >= 0")
    powered = {d: float(n) ** alpha for d, n in counts.items() if n > 0}
    total = sum(powered.values())
    return {d: v / total for d, v in powered.items()}


def pack_chunks(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    partition_col: str = "source",
) -> DataFrame:
    """Materialized packed training rows: the documents of each
    :func:`pack_sequences` chunk concatenated (doc-id order) into one
    text per (partition, chunk) with its doc and token counts — the
    actual rows a pretraining data loader reads.

    One extra aggregation over the manifest join; the concatenation is
    per-chunk (bounded by max_tokens plus one straddling document), so
    no row grows beyond ~2x the token budget.
    """
    manifest = pack_sequences(
        df, max_tokens, id_col=id_col, text_col=text_col,
        partition_col=partition_col,
    )
    joined = manifest.join(
        df.select(F.col(id_col), F.col(text_col)), id_col
    )
    return (
        joined.groupBy(partition_col, "chunk_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("n_tokens"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct(F.col(id_col), F.col(text_col))
                        )
                    ),
                    lambda s: s[text_col],
                ),
                " ",
            ).alias("packed_text"),
        )
    )


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Row-level diff between two corpus snapshots: which documents were
    added, removed, changed, or left unchanged between an old and a new
    snapshot — the bookkeeping step of an incremental ingestion pipeline
    (pairs with ``dedup_incremental``, which answers the *near-dup*
    question for the same batch-vs-corpus shape).

    Content identity is ``md5(text)`` — engine-portable (the oracle runs
    the same function) and computed MAP-SIDE before the join, so only
    (id, 32-hex) pairs shuffle, never the document bodies. The diff
    itself is one full outer join hash-partitioned on ``id_col``; at
    100 TB both snapshots co-partition on the same key and AQE handles
    residual skew. Output: (id, status, old_md5, new_md5) with nulls on
    the missing side.
    """
    oldh = old.select(
        F.col(id_col).alias(id_col), F.md5(F.col(text_col)).alias("old_md5")
    )
    newh = new.select(
        F.col(id_col).alias(id_col), F.md5(F.col(text_col)).alias("new_md5")
    )
    j = oldh.join(newh, id_col, "full_outer")
    status = (
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") != F.col("new_md5"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    return j.select(F.col(id_col), status.alias("status"), "old_md5", "new_md5")


HEX_ALPHABET = "0123456789abcdef"


def shuffle_shard(
    df: DataFrame,
    shard_hex_chars: int = 1,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic global shuffle + sharding for training-data export.

    Training runs want the corpus in a random-but-reproducible order,
    split into a fixed number of shards. ``ORDER BY rand()`` is neither
    reproducible nor scalable (one global sort); this operator routes
    each row to shard ``int(md5(id)[:k], 16)`` (16**k shards) and orders
    it WITHIN the shard by the full md5 — so the expensive step is
    16**k independent shard-local sorts (one hash shuffle partitioned
    by shard, then sort within partition: exactly what the row_number
    window compiles to), never a total order over the corpus.

    The hex→int conversion is per-character ``instr`` arithmetic over
    '0123456789abcdef' so the identical expression runs on DuckDB
    (strpos) — no engine-specific hex parsing (ROADMAP invariant: hash
    routing must stay engine-portable).

    Output: (shard_id, pos, id) — pos is 1-based and contiguous within
    each shard; the (shard_id, pos) pair is a stable global address for
    every document, unchanged by re-runs or repartitioning.
    """
    if not 1 <= shard_hex_chars <= 4:
        raise ValueError("shard_hex_chars must be in 1..4")
    h = F.md5(F.col(id_col).cast("string"))
    shard: Column = F.lit(0)
    for i in range(1, shard_hex_chars + 1):
        digit = F.instr(F.lit(HEX_ALPHABET), F.substring(h, i, 1)) - 1
        shard = shard * 16 + digit
    w = Window.partitionBy("shard_id").orderBy("h", id_col)
    return (
        df.select(F.col(id_col), h.alias("h"), shard.alias("shard_id"))
        .withColumn("pos", F.row_number().over(w))
        .select("shard_id", "pos", id_col)
    )


def dsir_score(
    raw: DataFrame,
    target: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """DSIR-style importance scores for data selection (Xie et al. 2023,
    public): score each raw document by how target-like its token
    distribution is — the mean per-token log-likelihood ratio between a
    unigram LM of the (small) target corpus and one of the raw corpus,
    both Laplace-smoothed over the shared vocabulary. Positive score =
    more target-like than raw-like; ``kept`` selects those docs (the
    hard-threshold variant of DSIR's importance resampling).

    Determinism contract: the per-WORD log ratio is rounded once to a
    scaled BIGINT (1e-6 resolution) and every per-document aggregate is
    an exact integer sum — order-independent, so Spark's parallel
    aggregation and the oracle's sequential one agree bit-for-bit (a
    per-doc double sum would be ulp-sensitive to partition order). The
    emitted double score divides the same two integers on both engines
    (IEEE division is correctly rounded — identical results).

    Shape: two vocab-sized frequency aggregations, the weight table
    broadcast back onto the raw token stream, one per-doc aggregation.
    The only wide state is the vocabulary — the same scaling story as
    unigram_logprob/tfidf.
    """
    def toks_of(df: DataFrame) -> DataFrame:
        return df.select(
            F.col(id_col),
            F.explode(
                F.filter(
                    F.split(F.lower(F.col(text_col)), " "),
                    lambda t: t != "",
                )
            ).alias("tok"),
        )

    raw_toks = toks_of(raw)
    t_freq = toks_of(target).groupBy("tok").agg(F.count("*").alias("c_t"))
    r_freq = raw_toks.groupBy("tok").agg(F.count("*").alias("c_r"))
    vocab = t_freq.join(r_freq, "tok", "full_outer").select(
        "tok",
        F.coalesce("c_t", F.lit(0)).alias("c_t"),
        F.coalesce("c_r", F.lit(0)).alias("c_r"),
    )
    totals = vocab.agg(
        F.sum("c_t").alias("n_t"),
        F.sum("c_r").alias("n_r"),
        F.count("*").alias("v"),
    )
    weights = vocab.join(F.broadcast(totals)).select(
        "tok",
        F.round(
            (
                F.log((F.col("c_t") + 1) / (F.col("n_t") + F.col("v")))
                - F.log((F.col("c_r") + 1) / (F.col("n_r") + F.col("v")))
            )
            * 1_000_000,
            0,
        )
        .cast("long")
        .alias("w"),
    )
    per_doc = (
        raw_toks.join(F.broadcast(weights), "tok")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_toks"),
            F.sum("w").alias("sum_w"),
        )
    )
    return per_doc.select(
        F.col(id_col),
        "n_toks",
        "sum_w",
        (
            F.col("sum_w").cast("double") / F.col("n_toks") / 1_000_000
        ).alias("dsir_score"),
        (F.col("sum_w") > 0).alias("kept"),
    )


def pack_efficiency(
    df: DataFrame,
    context_lengths: list[int] | None = None,
    text_col: str = "text",
) -> DataFrame:
    """Packing-efficiency planner: for each candidate context length,
    the integer-exact stats that size a pretraining run BEFORE packing
    (the what-if companion to :func:`pack_sequences` / :func:`chunk_text`).

    Per context length L, over whitespace token counts n:
    - ``n_docs`` / ``total_tokens`` — corpus size;
    - ``n_over`` — docs longer than L (must be chunked or truncated);
    - ``tokens_over`` — tokens past the first L of each long doc (what
      truncation at L would discard);
    - ``n_seqs_concat`` = ceil(total/L) — sequences under boundary-free
      concat packing (the GPT-style token stream), its waste is the
      final partial sequence only;
    - ``n_seqs_split`` = sum(ceil(n/L)) — sequences when documents never
      cross boundaries and long docs are chunked (the doc-isolated
      policy), with ``waste_frac_split`` = 1 - total/(n_seqs_split*L),
      the padding share that policy pays at L.

    One map + one grouped aggregation per L over a broadcast-exploded
    lengths column — a single shuffle of |L| * n_partitions tiny partial
    rows, no data duplication (the token count, not the text, is
    exploded). All emitted fractions use exact integer arithmetic
    (``text.frac4``).

    Output: one row per L, ordered:
    (ctx_len, n_docs, total_tokens, n_over, tokens_over,
     n_seqs_concat, n_seqs_split, waste_frac_split).
    """
    from .text import frac4, ws_token_count

    if context_lengths is None:
        context_lengths = [256, 512, 1024, 2048]
    toks = df.select(ws_token_count(text_col).alias("n"))
    ex = toks.select(
        "n",
        F.explode(
            F.array(*[F.lit(int(v)) for v in context_lengths])
        ).alias("ctx_len"),
    )
    n, L = F.col("n"), F.col("ctx_len")
    agg = ex.groupBy("ctx_len").agg(
        F.count("*").alias("n_docs"),
        F.sum("n").alias("total_tokens"),
        F.sum((n > L).cast("long")).alias("n_over"),
        F.sum(F.greatest(n - L, F.lit(0))).alias("tokens_over"),
        # ceil(a/b) = (a + b - 1) div b, exact in BIGINT
        F.sum(F.floor((n + L - 1) / L)).alias("n_seqs_split"),
    )
    total, nss = F.col("total_tokens"), F.col("n_seqs_split")
    return agg.select(
        "ctx_len",
        "n_docs",
        "total_tokens",
        "n_over",
        "tokens_over",
        F.floor((total + L - 1) / L).alias("n_seqs_concat"),
        "n_seqs_split",
        frac4(nss * L - total, nss * L).alias("waste_frac_split"),
    ).orderBy("ctx_len")


def quality_weighted_sample(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic quality-weighted subsampling: each document's keep
    probability IS its quality score — high-quality docs survive, junk
    is thinned proportionally instead of hard-cut (the soft alternative
    to a threshold filter; the shape of FineWeb-style quality-weighted
    corpus construction, Penedo et al. 2024).

    Determinism and portability: the "coin flip" is the first 32 bits
    of ``md5(id)`` compared against the score in EXACT integer
    arithmetic — keep iff ``hash32 * 10 < round(score*10) * 2^32``
    (quality_score is a rule-sum in exact 0.1 steps, so
    ``round(score*10)`` is an integer both engines agree on). Same row
    set on every run, engine, partitioning, and cluster size;
    re-running the pipeline reproduces the corpus bit-for-bit.

    Map-only: the quality features and the hash are per-row column
    expressions — no shuffle, no state. Output: every doc labeled
    (id_col, quality_score, kept), ordered.
    """
    from .text import quality_score as _quality

    scored = _quality(df, text_col=text_col)
    h32 = _hash32(F.col(id_col).cast("string"))
    qs10 = F.round(F.col("quality_score") * 10).cast("bigint")
    return (
        scored.select(
            id_col,
            "quality_score",
            (h32 * 10 < qs10 * F.lit(4294967296)).alias("kept"),
        )
        .orderBy(id_col)
    )


def curriculum_order(
    df: DataFrame,
    n_stages: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Length-curriculum addressing: documents bucketed into ``n_stages``
    quantile stages by token count (short → long) and given a
    deterministic position within each stage — the sampler order for
    curriculum schedules that feed short sequences first (shortest-first
    warmup, the common length-curriculum shape).

    Stage assignment is NTILE over (n_tokens, id) — an equi-depth
    quantile bucketing both engines define identically given the total
    tiebreak. Within-stage order is md5(id) (reproducible shuffle, no
    length bias inside a stage — the same coin as shuffle_shard). The
    (stage, pos) pair is a stable address exactly like shuffle_shard's
    (shard_id, pos), so the same loader contract applies.

    Execution is the SCALE path, bit-identical to the window form:
    neither ordering runs as a single-partition global window. The
    global NTILE rank and the per-stage position both go through
    :func:`~adenhq_hive_spark.operators.ranking.exact_rank`
    (range-partition → local rank → broadcast prefix-sum offsets) and
    the stage number is a map-only exact-integer expression over the
    global rank (:func:`~adenhq_hive_spark.operators.ranking.ntile_expr`)
    — so a 100 TB corpus never serializes through one task, and the
    output still hash-matches the ANSI window oracle
    (:func:`curriculum_order_ntile` pins the parity in tests).
    Output: (id, n_tokens, stage, pos), ordered.
    """
    from .ranking import exact_rank, ntile_expr
    from .text import ws_token_count

    base = df.select(
        F.col(id_col), ws_token_count(text_col).alias("n_tokens")
    )
    ranked = exact_rank(base, order_cols=("n_tokens", id_col), rank_col="_r")
    # total row count rides in as a broadcast single-row COLUMN so the
    # stage assignment stays inside one lazy plan (no driver action)
    total = base.agg(F.count("*").cast("long").alias("_n"))
    staged = (
        ranked.join(F.broadcast(total))
        .withColumn("stage", F.expr(ntile_expr("_r", "_n", n_stages)))
        .drop("_r", "_n")
        .withColumn("_m", F.md5(F.col(id_col).cast("string")))
    )
    out = exact_rank(
        staged, order_cols=("_m", id_col), part_cols=("stage",),
        rank_col="pos",
    )
    return (
        out.select(
            id_col, "n_tokens", "stage", F.col("pos").cast("int").alias("pos")
        ).orderBy("stage", "pos")
    )


def curriculum_order_ntile(
    df: DataFrame,
    n_stages: int = 4,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ANSI-window dual form of :func:`curriculum_order` — NTILE +
    per-stage ROW_NUMBER as single declarative windows. This is the
    oracle/specification form (and what the DuckDB oracle SQL runs); the
    default operator computes the identical result via the distributed
    exact-rank path. Kept for the parity pin, not for 100 TB use: the
    NTILE window here is a single global ordering (one task)."""
    from .text import ws_token_count

    base = df.select(
        F.col(id_col), ws_token_count(text_col).alias("n_tokens")
    )
    stage_w = Window.orderBy("n_tokens", id_col)
    staged = base.withColumn("stage", F.ntile(n_stages).over(stage_w))
    pos_w = Window.partitionBy("stage").orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    return (
        staged.withColumn("pos", F.row_number().over(pos_w))
        .orderBy("stage", "pos")
    )


def source_scorecard(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_stop_hits: int = 1,
) -> DataFrame:
    """Per-source quality scorecard: the one-table summary mixture
    weights are set from — doc and token counts, mean quality score,
    Gopher-rule pass rate, and exact-duplicate rate, per source.

    Composes the per-doc tiers (quality_score, gopher_rules, md5 exact
    dup) and aggregates once on the source key: the per-doc features are
    map-only, the dup flag is one content-hash window, and the final agg
    is |sources|-small. All emitted fractions in exact integer
    arithmetic (quality is a 0.1-step rule-sum, so its mean over n docs
    is the exact rational sum(qs10) / (10 n)).

    Output: (source, n_docs, n_tokens, mean_quality, gopher_pass_rate,
    dup_rate), ordered by source.
    """
    from .text import frac4, gopher_rules, quality_score

    q = quality_score(df, text_col=text_col).select(
        id_col, source_col, text_col, "quality_score"
    )
    g = gopher_rules(
        df, text_col=text_col, id_col=id_col, min_stop_hits=min_stop_hits
    ).select(id_col, "gopher_ok")
    from .text import ws_token_count

    dup = df.select(
        F.col(id_col),
        (
            F.row_number().over(
                Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
            )
            > 1
        ).alias("is_dup"),
    )
    joined = (
        q.withColumn("n_toks", ws_token_count(text_col))
        .join(g, id_col)
        .join(dup, id_col)
    )
    qs10 = F.round(F.col("quality_score") * 10).cast("long")
    agg = joined.groupBy(source_col).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("n_tokens"),
        F.sum(qs10).alias("_qs10"),
        F.sum(F.col("gopher_ok").cast("long")).alias("_g"),
        F.sum(F.col("is_dup").cast("long")).alias("_d"),
    )
    n = F.col("n_docs")
    return agg.select(
        source_col,
        "n_docs",
        "n_tokens",
        frac4(F.col("_qs10"), n * 10).alias("mean_quality"),
        frac4(F.col("_g"), n).alias("gopher_pass_rate"),
        frac4(F.col("_d"), n).alias("dup_rate"),
    ).orderBy(source_col)


def temperature_mixture(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Temperature-scaled mixture weights (T=2, i.e. sampling
    probability ∝ share^(1/2)) — the standard low-resource up-weighting
    used for multilingual / multi-source pretraining mixes (the
    exponent-smoothed sampling of mBERT/XLM-style recipes): raw token
    shares are flattened so small sources are seen more than their raw
    share and dominant sources less.

    Engine-portable by construction: the smoothing uses
    ``FLOOR(SQRT(n_tokens))`` — IEEE-754 requires sqrt to be correctly
    rounded, so both engines compute the SAME double and the SAME floor
    (the ceil(sqrt) portability argument of cluster_capped_dedup) — and
    every emitted fraction is exact integer arithmetic over the bigint
    (sqrt_tokens, total) pair via frac4; no float accumulates anywhere.

    Shape: one map-side token count + one |sources|-row aggregate + a
    window over that tiny relation (constant-partitioned: it holds one
    row per source, never data). Output: (source, n_tokens, raw_share,
    weight) ordered by source — ``weight`` is the T=2 mixture column to
    feed mixture_sample's rate table or a loader's sampler.
    """
    from .text import frac4, ws_token_count

    per_source = (
        df.select(F.col(source_col), ws_token_count(text_col).alias("_t"))
        .groupBy(source_col)
        .agg(F.sum("_t").alias("n_tokens"))
    )
    sq = F.floor(F.sqrt(F.col("n_tokens").cast("double"))).cast("long")
    with_sq = per_source.withColumn("_sq", sq)
    # totals ride in as a broadcast single-row cross join (a global
    # window over the |sources|-row relation would be unpartitioned)
    totals = with_sq.agg(
        F.sum("n_tokens").alias("_tot"), F.sum("_sq").alias("_sqtot")
    )
    return (
        with_sq.join(F.broadcast(totals))
        .select(
            source_col,
            "n_tokens",
            frac4(F.col("n_tokens"), F.col("_tot")).alias("raw_share"),
            frac4(F.col("_sq"), F.col("_sqtot")).alias("weight"),
        )
        .orderBy(source_col)
    )


def preference_pairs(
    df: DataFrame,
    group_col: str = "user_id",
    id_col: str = "event_id",
    score_col: str = "value",
) -> DataFrame:
    """Preference-pair construction (RLHF/DPO data prep): within each
    candidate group, pair the highest-scored response (*chosen*) with
    the lowest-scored (*rejected*) — the standard best-vs-worst pairing
    for reward-model / DPO training sets built from scored candidate
    pools.

    One aggregation, no window: chosen = MAX(struct(score, id)),
    rejected = MIN(struct(score, id)) — lexicographic struct ordering
    gives a deterministic tiebreak on equal scores (engine-portable:
    the oracle ranks by (score DESC, id DESC) / (score ASC, id ASC)).
    Groups with fewer than two candidates are dropped (no pair exists);
    ``margin`` is the raw score difference of the SAME two doubles on
    both engines, so it hashes identically without rounding.

    NULL-scored candidates are excluded up front: an unscored response
    is not comparable, and leaving it in would diverge from any SQL
    twin (Spark's min(struct) sorts a NULL field smallest; SQL window
    ranks default NULLS LAST — opposite picks for *rejected*).

    Output: (group_col, n_candidates, chosen_id, chosen_score,
    rejected_id, rejected_score, margin), ordered by group.
    """
    agg = (
        df.filter(F.col(score_col).isNotNull())
        .groupBy(group_col)
        .agg(
            F.count("*").alias("n_candidates"),
            F.max(F.struct(F.col(score_col), F.col(id_col))).alias("_c"),
            F.min(F.struct(F.col(score_col), F.col(id_col))).alias("_r"),
        )
        .filter(F.col("n_candidates") >= 2)
    )
    return agg.select(
        group_col,
        "n_candidates",
        F.col(f"_c.{id_col}").alias("chosen_id"),
        F.col(f"_c.{score_col}").alias("chosen_score"),
        F.col(f"_r.{id_col}").alias("rejected_id"),
        F.col(f"_r.{score_col}").alias("rejected_score"),
        (F.col(f"_c.{score_col}") - F.col(f"_r.{score_col}")).alias(
            "margin"
        ),
    ).orderBy(group_col)


def length_buckets(
    df: DataFrame,
    source_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Power-of-two sequence-length histogram per source — the batch-
    shape planning table for length-bucketed training loaders (docs in
    the same bucket pad to the same 2^k context, so the histogram IS
    the padding-waste / batch-mix forecast; the planning companion to
    pack_sequences and pl_pack_efficiency).

    Bucket k holds docs with token count in [2^(k-1), 2^k); bucket 0 is
    empty docs. Engine-portable without log(): k = len(binary(n)) — an
    exact integer string length on both engines (Spark ``bin``, DuckDB
    ``format('{:b}', …)``) — so no correctly-rounded-log2 concern
    exists. Map-only per-doc bucketing + one small aggregation.

    Output: (source, bucket, lo_tokens, hi_tokens, n_docs, n_tokens),
    ordered.
    """
    from .text import ws_token_count

    n = ws_token_count(text_col)
    bucket = (
        F.when(n == 0, F.lit(0))
        .otherwise(F.length(F.bin(n.cast("bigint"))))
        .cast("int")
    )
    per_doc = df.select(
        F.col(source_col), n.alias("_t"), bucket.alias("bucket")
    )
    lo = F.expr(
        "CAST(CASE WHEN bucket = 0 THEN 0 "
        "ELSE shiftleft(1L, bucket - 1) END AS BIGINT)"
    )
    hi = F.expr("CAST(shiftleft(1L, bucket) - 1 AS BIGINT)")
    return (
        per_doc.groupBy(source_col, "bucket")
        .agg(F.count("*").alias("n_docs"), F.sum("_t").alias("n_tokens"))
        .select(
            source_col,
            "bucket",
            lo.alias("lo_tokens"),
            hi.alias("hi_tokens"),
            "n_docs",
            "n_tokens",
        )
        .orderBy(source_col, "bucket")
    )


def event_sequences(
    df: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    id_col: str = "event_id",
    type_col: str = "event_type",
    max_len: int = 256,
) -> DataFrame:
    """Per-user ordered event-type sequences — the sequence-modeling
    dataset builder (next-event-prediction / session-LM training): all
    of a user's events sorted by (ts, id), types space-joined into one
    training string, truncated to the first ``max_len`` events.

    ``max_len`` is the scale knob: a bot user with 10^8 events would
    otherwise build one unbounded in-memory array row (the same
    hot-key contract as max_shingle_df); ``n_events`` still reports
    the FULL count so truncation is visible downstream.  One shuffle
    on the user key; the sort is array_sort inside the aggregate
    (JVM-side, no window).  Emits (user_col, n_events, first_ts,
    last_ts, seq_text).
    """
    ev = F.array_sort(
        F.collect_list(F.struct(F.col(ts_col), F.col(id_col), F.col(type_col)))
    )
    seq = F.transform(F.slice(ev, 1, max_len), lambda s: s[type_col])
    return (
        df.groupBy(user_col)
        .agg(
            F.count("*").alias("n_events"),
            F.min(ts_col).alias("first_ts"),
            F.max(ts_col).alias("last_ts"),
            F.array_join(seq, " ").alias("seq_text"),
        )
        .orderBy(user_col)
    )


def dataset_card(
    df: DataFrame,
    source_col: str = "source",
    lang_col: str = "lang",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_stop_hits: int = 1,
) -> DataFrame:
    """Corpus-level datasheet: ONE row summarizing the whole corpus —
    the dataset-card numbers (Gebru et al. 2021 "Datasheets for
    Datasets") a release ships with: volume (docs/tokens/sources/
    langs), central length, mean quality, Gopher pass rate, exact-dup
    rate. The corpus-level twin of :func:`source_scorecard` (which is
    the per-source mixture-weight input).

    Same scale shape as the scorecard: map-only per-doc features, one
    content-hash window for the dup flag, then a single global
    aggregate (multi-DISTINCT handled by Spark's expand — three
    shuffled partial aggs, output is one row). All fractions exact
    integer arithmetic; the median uses the q17-proven
    PERCENTILE/MEDIAN dual form.
    """
    from .text import frac4, gopher_rules, quality_score, ws_token_count

    q = quality_score(df, text_col=text_col).select(
        id_col, source_col, lang_col, text_col, "quality_score"
    )
    g = gopher_rules(
        df, text_col=text_col, id_col=id_col, min_stop_hits=min_stop_hits
    ).select(id_col, "gopher_ok")
    dup = df.select(
        F.col(id_col),
        (
            F.row_number().over(
                Window.partitionBy(F.md5(F.col(text_col))).orderBy(id_col)
            )
            > 1
        ).alias("is_dup"),
    )
    joined = (
        q.withColumn("n_toks", ws_token_count(text_col))
        .join(g, id_col)
        .join(dup, id_col)
    )
    qs10 = F.round(F.col("quality_score") * 10).cast("long")
    agg = joined.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(source_col).alias("n_sources"),
        F.countDistinct(lang_col).alias("n_langs"),
        F.sum("n_toks").alias("n_tokens"),
        F.round(F.expr("percentile(n_toks, 0.5)"), 4).alias("med_tokens"),
        F.sum(qs10).alias("_qs10"),
        F.sum(F.col("gopher_ok").cast("long")).alias("_g"),
        F.sum(F.col("is_dup").cast("long")).alias("_d"),
    )
    n = F.col("n_docs")
    return agg.select(
        "n_docs",
        "n_sources",
        "n_langs",
        "n_tokens",
        "med_tokens",
        frac4(F.col("_qs10"), n * 10).alias("mean_quality"),
        frac4(F.col("_g"), n).alias("gopher_pass_rate"),
        frac4(F.col("_d"), n).alias("dup_rate"),
    )


def pack_ffd(
    df: DataFrame,
    max_tokens: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_shards: int = 16,
) -> DataFrame:
    """Document-LEVEL packing by first-fit-decreasing: assign whole
    documents to fixed-budget bins without ever splitting one — the
    packing policy SFT/preference training uses (an example must stay
    intact), complementing :func:`pack_sequences`' pretraining-style
    concat-and-chunk (which splits at the budget boundary).

    FFD is inherently sequential, so the parallel unit is the SHARD:
    docs route to ``n_shards`` md5 buckets (deterministic, follows the
    row), each shard runs classic FFD (sort by token count descending,
    doc id ascending; place each doc in the first bin with room) inside
    one applyInPandas group.  Shard count is the scale knob — the same
    contract as shuffle_shard.  Deterministic: same corpus => same
    bins, bit for bit.

    Docs longer than the budget get a single-doc overflow bin (flagged
    ``overflow``); everything else is guaranteed to fit.  Output
    (shard, bin_id, id_col, n_tokens, overflow); python-replay parity
    and budget invariants pinned in tests (the BPE rows-only pattern —
    a sequential algorithm has no SQL oracle).
    """
    import pandas as pd

    from .text import ws_token_count

    routed = df.select(
        F.col(id_col).alias("id"),
        ws_token_count(F.col(text_col)).cast("long").alias("n_tokens"),
        F.pmod(
            _hash32(F.col(id_col).cast("string")), F.lit(n_shards)
        ).cast("int").alias("shard"),
    )

    def ffd(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(
            ["n_tokens", "id"], ascending=[False, True]
        ).reset_index(drop=True)
        bins: list[int] = []          # remaining capacity per bin
        out_bin, out_over = [], []
        for n in pdf["n_tokens"].to_numpy():
            n = int(n)
            if n > max_tokens:
                bins.append(0)        # dedicated overflow bin, full
                out_bin.append(len(bins) - 1)
                out_over.append(True)
                continue
            for b in range(len(bins)):
                if bins[b] >= n:
                    bins[b] -= n
                    out_bin.append(b)
                    out_over.append(False)
                    break
            else:
                bins.append(max_tokens - n)
                out_bin.append(len(bins) - 1)
                out_over.append(False)
        pdf["bin_id"] = pd.Series(out_bin, dtype="int64")
        pdf["overflow"] = pd.Series(out_over, dtype="bool")
        return pdf[["shard", "bin_id", "id", "n_tokens", "overflow"]]

    return (
        routed.groupBy("shard")
        .applyInPandas(
            ffd,
            "shard int, bin_id long, id long, n_tokens long, overflow boolean",
        )
        .withColumnRenamed("id", id_col)
    )


# ---- Bloom-filter decontamination (broadcast-probe scale path) -------------

_BLOOM_POW2 = [1 << i for i in range(32)]


def _bloom_positions(gram: Column, n_bits: int, n_hashes: int) -> Column:
    """``n_hashes`` bit positions for ``gram``: fixed 8-hex-char slices of
    md5 reduced mod ``n_bits`` (same md5-slice idiom as the MinHash tier,
    dedup.py). All JVM expressions; md5 has 32 hex chars so n_hashes <= 4."""
    if not 1 <= n_hashes <= 4:
        raise ValueError("n_hashes must be in 1..4 (md5 supplies 4 slices)")
    h = F.md5(gram)
    return F.array(*[
        F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
        % F.lit(n_bits)
        for i in range(n_hashes)
    ])


def build_gram_bloom(
    eval_df: DataFrame,
    text_col: str = "text",
    n: int = 8,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> list[int]:
    """Dense Bloom filter over the eval split's word ``n``-grams, as a list
    of ``n_bits // 32`` 32-bit words (BIGINT-safe on every engine — no
    sign-bit shifts). The collect is bounded by construction: the filter is
    sized by ``n_bits``, never by the data (2^20 bits = 32768 words ≈ 256 KB
    on the driver; eval sets are benchmarks — thousands to millions of
    grams — so even 2^26 bits = 8 MB stays a driver-scale object while the
    TRAIN side, the 100 TB one, is never collected)."""
    if n_bits % 32 != 0:
        raise ValueError("n_bits must be a multiple of 32")
    n_words = n_bits // 32
    pos = (
        eval_df.select(
            F.explode(_word_ngrams(F.col(text_col), n)).alias("g")
        )
        .select(
            F.explode(_bloom_positions(F.col("g"), n_bits, n_hashes))
            .alias("pos")
        )
    )
    pow2 = F.lit(_BLOOM_POW2)
    rows = (
        pos.select(
            F.shiftright("pos", 5).cast("int").alias("word_idx"),
            # shiftleft only takes literal shift amounts → per-bit mask via
            # a 32-entry power-of-two lookup (same trick as the probe).
            F.element_at(pow2, F.col("pos").cast("int") % 32 + F.lit(1))
            .alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("word"))
        .collect()
    )
    words = [0] * n_words
    for r in rows:
        words[r["word_idx"]] = r["word"]
    return words


def bloom_contains(
    gram: Column, bloom_words: list[int], n_bits: int, n_hashes: int = 3
) -> Column:
    """Map-only membership probe: true iff every hash position's bit is set.

    The filter ships as ONE array literal (pyspark folds a python list into
    a single Literal, not a 32k-child CreateArray), so the probe is a pure
    projection — zero shuffle. The k bit tests are UNROLLED scalar
    expressions ANDed together, not an ``F.aggregate`` fold: higher-order
    functions are interpreted (never whole-stage-codegen'd, no common-
    subexpression elimination), which benched 30x slower than this
    codegen-eligible form at sf0.1. Bit test uses an element_at into a
    32-entry power-of-two literal array because ``shiftleft`` takes only
    literal shift amounts."""
    if not 1 <= n_hashes <= 4:
        raise ValueError("n_hashes must be in 1..4 (md5 supplies 4 slices)")
    arr = F.lit(bloom_words)
    pow2 = F.lit(_BLOOM_POW2)
    h = F.md5(gram)
    out: Column | None = None
    for i in range(n_hashes):
        p = (
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
            % F.lit(n_bits)
        )
        word = F.element_at(arr, F.shiftright(p, 5).cast("int") + F.lit(1))
        mask = F.element_at(pow2, p.cast("int") % 32 + F.lit(1))
        test = word.bitwiseAND(mask) != 0
        out = test if out is None else out & test
    assert out is not None
    return out


def bloom_probe_grams(
    grams: DataFrame,
    words_df: DataFrame,
    n_bits: int,
    n_hashes: int = 3,
    gram_col: str = "g",
) -> DataFrame:
    """Keep only rows whose ``gram_col`` tests positive in the Bloom
    filter given as a (word_idx, bloom_word) relation of NON-ZERO words.

    One inner BroadcastHashJoin per hash function: all k probes fuse into
    a single map-side codegen stage with zero shuffle (plan-gated in
    tests/test_plan_shapes.py). A join miss = all-zero word = unset bit,
    so inner-join semantics implement the Bloom negative for free."""
    cand = grams
    h = F.md5(F.col(gram_col))
    for i in range(n_hashes):
        p = (
            F.conv(F.substring(h, 1 + 8 * i, 8), 16, 10).cast("long")
            % F.lit(n_bits)
        )
        # mask = 2^(p % 32): double pow is exact below 2^52, stays codegen
        mask = F.pow(F.lit(2.0), (p % 32).cast("double")).cast("long")
        cand = (
            cand.withColumn("_w", F.shiftright(p, 5).cast("int"))
            .join(
                F.broadcast(words_df.withColumnRenamed("word_idx", "_w")),
                "_w",
            )
            .filter(F.col("bloom_word").bitwiseAND(mask) != 0)
            .drop("_w", "bloom_word")
        )
    return cand


def bloom_decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    n_bits: int = 1 << 20,
    n_hashes: int = 3,
) -> DataFrame:
    """Scale-path decontamination: Bloom-probe train grams, exact-verify the
    survivors. Output is IDENTICAL to :func:`decontaminate` (Bloom filters
    have no false negatives, and every candidate is re-checked with a real
    semi-join), so the two tiers share one oracle — the prune-never-loses
    pattern (trigram index, operators/search.py).

    Why it scales where the exact tier's shuffle grows with the corpus: the
    exact tier semi-joins ALL train grams (~100 TB exploded) against the
    eval gram set; here the first pass probes a BROADCAST relation of the
    filter's non-zero words (bounded by n_bits/32 rows ≈ 256 KB), so only
    grams that pass the Bloom test — true contaminations plus the fp-rate
    sliver — enter the verify shuffle. With m/n ≈ 10 bits per eval gram
    the fp rate is < 2%, so the verify join is ~contamination-sized, not
    corpus-sized.

    Probe form: one inner BroadcastHashJoin on word index per hash
    function (k map-side joins, zero shuffle, one codegen stage). NOT a
    giant array literal — Spark plans ``lit(list)`` as a per-row
    CreateArray (constant folding does not fold a 32k-child array), which
    measured 77 µs/gram; the BHJ form probes the same bits at hash-lookup
    cost. A join MISS means the word is all-zero, i.e. the bit is unset —
    inner-join semantics drop the gram, which is exactly the Bloom
    negative."""
    from ..catalog import spread_small_scan

    spark = train.sparkSession
    eval_grams = (
        eval_df.select(F.explode(_word_ngrams(F.col(text_col), n)).alias("g"))
        .distinct()
    )
    bloom = build_gram_bloom(eval_df, text_col, n, n_bits, n_hashes)
    words_df = spark.createDataFrame(
        [(i, w) for i, w in enumerate(bloom) if w],
        "word_idx int, bloom_word long",
    )
    grams = spread_small_scan(train).select(
        F.col(id_col), F.explode(_word_ngrams(F.col(text_col), n)).alias("g")
    )
    cand = bloom_probe_grams(grams, words_df, n_bits, n_hashes)
    bad = (
        cand.join(eval_grams, "g", "left_semi")
        .select(id_col)
        .distinct()
    )
    return train.join(bad, id_col, "left_anti")


def es_weighted_sample_k(
    df: DataFrame,
    k: int,
    weight_col: str,
    id_col: str = "doc_id",
    group_col: str | None = None,
) -> DataFrame:
    """Exact-k weighted sampling WITHOUT replacement, deterministic —
    Efraimidis & Spirakis 2006 (A-ES): each row draws key = ln(u)/w with
    u ~ U(0,1]; the k LARGEST keys are a weighted sample without
    replacement. Complements :func:`quality_weighted_sample` (Bernoulli,
    no size guarantee) and ``stratified_sample_k`` (exact-k, unweighted).

    u comes from md5 of the id (first 12 hex chars over 2^48, +1 so
    u > 0), so the "random" draw is reproducible across runs, engines,
    partitionings and cluster sizes — which also makes the whole sample
    oracle-hashable. ln and the division are single IEEE ops; ties are
    md5-collision improbable and broken by id anyway.

    Scale: one partitioned window (per ``group_col``; pass a constant
    column for a global sample of modest k — a global top-k by key via
    TakeOrderedAndProject would be the big-k path). Emits the sampled
    rows with their ``es_key`` and in-group ``rank``.

    A-ES requires strictly positive weights: a negative w flips the key
    sign (those rows would rank FIRST) and w = 0 divides ln(u) by zero.
    Rows with NULL or non-positive weight are filtered out up front —
    the continuous extension of "zero mass, zero inclusion probability".
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    df = df.filter(F.col(weight_col).cast("double") > 0)
    u = (
        (
            F.conv(
                F.substring(F.md5(F.col(id_col).cast("string")), 1, 12),
                16, 10,
            ).cast("double")
            + F.lit(1.0)
        )
        / F.lit(float(1 << 48))
    )
    key = F.log(u) / F.col(weight_col).cast("double")
    parts = [group_col] if group_col else []
    w = Window.partitionBy(*parts).orderBy(
        F.col("es_key").desc(), F.col(id_col)
    )
    return (
        df.withColumn("es_key", key)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def budget_waterfill(
    df: DataFrame,
    budget_ppm: int = 400_000,
    group_col: str = "source",
    text_col: str = "text",
) -> DataFrame:
    """Fair token-budget allocation across sources by WATER-FILLING:
    given per-source available token counts and a global budget B
    (``budget_ppm`` of the corpus total), find the unique level ``cap``
    with sum(min(tokens_s, cap)) = B — small sources keep everything,
    large sources are clipped at the shared level. This is the standard
    mixture-planning primitive for "don't let one crawl dominate the
    mix" (the allocation side of temperature sampling; complements
    mixture_rates_for_targets' proportional targets).

    Exact integer closed form, no iteration: order sources by
    (tokens, name); the boundary k is the first rank where filling all
    remaining sources at their own size would exceed B
    (prefix_{k-1} + (n-k+1)*tokens_k > B); then
    cap = (B - prefix_{k-1}) DIV (n-k+1) with the remainder handed out
    as +1 to the smallest-ranked capped sources — so the allocations
    sum to EXACTLY B (or to the corpus total when B exceeds it), and
    the whole result is deterministic and engine-portable (full oracle
    hash; every step is integer arithmetic over a per-source rollup).

    Scale: one groupBy over the corpus, then all logic on the
    |sources|-row rollup (a single-partition window over a metadata-
    sized relation — the documented bm25/top-k smallness pattern).
    Emits (group, n_tokens, alloc_tokens, capped) sorted by group.
    """
    if not 0 < budget_ppm <= 1_000_000:
        raise ValueError("budget_ppm must be in 1..1_000_000")
    from .text import ws_token_count

    per = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.sum(ws_token_count(F.col(text_col)).cast("long"))
        .alias("n_tokens")
    )
    w = Window.orderBy("n_tokens", "grp")
    ordered = (
        per.withColumn("rn", F.row_number().over(w))
        .withColumn("prefix", F.sum("n_tokens").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ))
    )
    tot = per.agg(
        F.sum("n_tokens").alias("total"),
        F.count("*").alias("n_src"),
    ).select(
        "total", "n_src",
        # b = total * ppm DIV 1e6, computed in split form so the
        # intermediate never exceeds total + 1e12: at 100 TB the corpus
        # total can pass 9.2e12 whitespace tokens and the naive product
        # total*ppm would wrap BIGINT (ANSI off) while DuckDB promotes
        # to HUGEINT — exactly the portability drift this module bans.
        F.expr(
            f"total DIV 1000000 * {budget_ppm}"
            f" + (total % 1000000) * {budget_ppm} DIV 1000000"
        ).alias("b"),
    )
    # over_k ⟺ prefix_{k-1} + (n-k+1)*tokens_k > B, tested WITHOUT the
    # product (m*tokens can also wrap at scale): for m ≥ 1, C ≥ 0,
    # m*t > C ⟺ t > C DIV m (integer t); C < 0 falls to the prefix test.
    flagged = ordered.crossJoin(F.broadcast(tot)).withColumn(
        "over",
        F.when(
            F.col("prefix") - F.col("n_tokens") > F.col("b"), F.lit(True)
        ).otherwise(
            F.col("n_tokens")
            > F.expr(
                "(b - (prefix - n_tokens)) DIV (n_src - rn + 1)"
            )
        ),
    )
    boundary = flagged.filter("over").agg(
        F.min("rn").alias("k"),
        # prefix_{k-1} = prefix - n_tokens at the boundary row
        F.min_by(F.col("prefix") - F.col("n_tokens"), "rn")
        .alias("prefix_k1"),
    )
    out = flagged.crossJoin(F.broadcast(boundary)).select(
        F.col("grp").alias(group_col),
        "n_tokens",
        F.when(
            F.col("k").isNull() | (F.col("rn") < F.col("k")),
            F.col("n_tokens"),
        ).otherwise(
            F.expr("(b - prefix_k1) DIV (n_src - k + 1)")
            + F.when(
                F.col("rn") - F.col("k")
                < F.expr("(b - prefix_k1) % (n_src - k + 1)"),
                F.lit(1),
            ).otherwise(F.lit(0)).cast("long")
        ).alias("alloc_tokens"),
        (F.col("k").isNotNull() & (F.col("rn") >= F.col("k")))
        .alias("capped"),
    )
    return out.orderBy(group_col)


def quantile_normalize(
    df: DataFrame,
    score_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-source score harmonization by quantile mapping: replace each
    row's score with the GLOBAL score at the row's within-source
    percentile (nearest-rank). Heterogeneous per-source quality
    classifiers become comparable before a single corpus-wide threshold
    or curriculum is applied — the score-side complement of
    mixture/temperature sampling (cf. CCNet's per-language perplexity
    buckets, which this generalizes to any score).

    Exact and engine-portable: within-source percentile as integer ppm
    ((rn-1)*1e6 DIV (cnt-1); singletons pin to the median 500000), then
    a nearest-rank lookup into the globally sorted scores at
    1 + (ppm*(N-1)) DIV 1e6. Ties are totalized by the id column, so
    both ranks are deterministic.

    Scale: the within-source side is a partitioned window; the GLOBAL
    rank uses the distributed exact_rank plan (range-partition + local
    rank + broadcast prefix offsets — operators/ranking.py), never a
    single-partition window; the final lookup is a keyed equi-join on
    the rank index. Emits (id, group, score, norm_score) ordered by id.
    """
    from .ranking import exact_rank

    s = df.select(
        F.col(id_col), F.col(group_col),
        F.col(score_col).cast("long").alias("score"),
    )
    gw = Window.partitionBy(group_col).orderBy("score", id_col)
    ranked = (
        s.withColumn("rn_g", F.row_number().over(gw))
        .withColumn("cnt_g", F.count("*").over(
            Window.partitionBy(group_col)))
        .withColumn(
            "r_ppm",
            F.when(
                F.col("cnt_g") > 1,
                F.expr("(rn_g - 1) * CAST(1000000 AS BIGINT)"
                       " DIV (cnt_g - 1)"),
            ).otherwise(F.lit(500_000).cast("long")),
        )
    )
    glob = exact_rank(
        s.select(F.col("score").alias("norm_score"), F.col(id_col)),
        ["norm_score", id_col],
        rank_col="rn_glob",
    ).select("rn_glob", "norm_score")
    n_tot = s.agg(F.count("*").alias("n_tot"))
    return (
        ranked.crossJoin(F.broadcast(n_tot))
        .withColumn(
            "idx",
            F.expr("1 + (r_ppm * (n_tot - 1)) DIV 1000000"),
        )
        .join(glob, F.col("idx") == F.col("rn_glob"))
        .select(id_col, group_col, "score", "norm_score")
        .orderBy(id_col)
    )


def interleave_order(
    df: DataFrame,
    group_col: str = "source",
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic proportional interleaving — the TRAINING ORDER a
    data loader should consume a multi-source mixture in, so no stretch
    of the stream is dominated by one source (stride scheduling: each
    source advances at pace rank/size, and the global order merges by
    that pace). Within-source order is an md5 shuffle (reproducible
    across engines/partitionings, same coin as hash_split); the pace key
    is exact-integer ppm (rank*1e6 DIV count), ties broken by
    (group, id) so the whole order is a pure function of the corpus.

    Scale: one partitioned window for within-source ranks; the GLOBAL
    position uses the distributed exact_rank plan (range partition +
    local rank + broadcast offsets — operators/ranking.py), never a
    single-partition window. Emits (id, group, src_rank, global_pos)
    ordered by global_pos — write it with repartitionByRange on
    global_pos to get sequentially readable training shards.
    """
    from .ranking import exact_rank

    w = Window.partitionBy(group_col).orderBy(
        F.md5(F.col(id_col).cast("string")), id_col
    )
    ranked = (
        df.select(F.col(id_col), F.col(group_col))
        .withColumn("src_rank", F.row_number().over(w).cast("long"))
        .withColumn("cnt_s", F.count("*").over(
            Window.partitionBy(group_col)))
        .withColumn(
            "pace",
            F.expr("src_rank * CAST(1000000 AS BIGINT) DIV cnt_s"),
        )
    )
    return (
        exact_rank(
            ranked.select(id_col, group_col, "src_rank", "pace"),
            ["pace", group_col, id_col],
            rank_col="global_pos",
        )
        .select(id_col, group_col, "src_rank", "global_pos")
        .orderBy("global_pos")
    )


def mad_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    k_ppm: int = 1_500_000,
) -> DataFrame:
    """Robust per-source outlier detection by median absolute deviation:
    flag rows with |x - median_s| > k * MAD_s (k = ``k_ppm``/1e6,
    default 1.5). Median/MAD resist the very outliers a mean/stddev
    filter would absorb — the robust complement to the z-test sentinel
    (event_anomaly) for length/score screening before training.

    Exactness trick: the interpolated median of INTEGERS is always a
    multiple of 0.5, so ``percentile(2x, 0.5)`` and the MAD's
    ``percentile(2*dev, 0.5)`` are integral-valued doubles — cast back
    to BIGINT and the whole pipeline (deviations at 4x scale, the
    k-comparison cleared to ppm) stays in exact integer arithmetic:
    bit-identical across engines, full oracle hash.

    Scale: two grouped aggregations over the corpus; the |sources|-row
    median/MAD relations broadcast back. Emits flagged rows
    (group, id, value, dev_x4, mad_x4) ordered by (group, id).
    """
    if k_ppm < 0:
        raise ValueError("k_ppm must be >= 0")
    v = F.col(value_col).cast("long")
    med = df.groupBy(F.col(group_col).alias("grp")).agg(
        F.expr(f"CAST(percentile({value_col} * 2, 0.5) AS BIGINT)")
        .alias("med2")
    )
    dev = (
        df.select(F.col(id_col), F.col(group_col), v.alias("v"))
        .join(
            F.broadcast(med),
            F.col(group_col) == F.col("grp"),
        )
        .withColumn("dev2", F.abs(F.lit(2) * F.col("v") - F.col("med2")))
    )
    mad = dev.groupBy("grp").agg(
        F.expr("CAST(percentile(dev2 * 2, 0.5) AS BIGINT)").alias("mad4")
    )
    return (
        dev.join(F.broadcast(mad), "grp")
        .filter(
            F.lit(2) * F.col("dev2") * F.lit(1_000_000)
            > F.lit(k_ppm) * F.col("mad4")
        )
        .select(
            F.col(group_col),
            F.col(id_col),
            F.col("v").alias(value_col),
            (F.lit(2) * F.col("dev2")).alias("dev_x4"),
            "mad4",
        )
        .orderBy(group_col, id_col)
    )


def winsorize(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    lo_pct: int = 5,
    hi_pct: int = 95,
) -> DataFrame:
    """Per-group winsorization report: rows whose ``value_col`` falls
    outside the group's exact nearest-rank [lo_pct, hi_pct] percentile
    band, with the clip target — the heavy-tail taming step that runs
    before length/score-weighted sampling (clip, don't drop: MAD
    filtering REMOVES outliers, winsorizing retains the row at the
    boundary value, preserving the sample count mixture planning relies
    on).

    Nearest-rank percentile (value at row ceil(p*n/100) of the
    (value, id)-sorted group) rather than interpolation: the bound is
    always an OBSERVED integer value, so the whole contract stays in
    exact integer arithmetic — full oracle hash, no doubles anywhere.

    Scale: ranks via the distributed exact_rank plan (range-partition +
    local rank + broadcast prefix offsets — never a data-sized
    single-partition window); the |groups|-row bound relation
    broadcasts back. Emits (group, id, value, lo, hi, clipped) for
    clipped rows only, ordered by (group, id).
    """
    if not (0 <= lo_pct <= hi_pct <= 100):
        raise ValueError("need 0 <= lo_pct <= hi_pct <= 100")
    from .ranking import exact_rank

    v = F.col(value_col).cast("long")
    base = df.select(
        F.col(group_col).alias("grp"), F.col(id_col), v.alias("v")
    )
    ranked = exact_rank(
        base, order_cols=("v", id_col), part_cols=("grp",), rank_col="rn"
    )
    n = base.groupBy("grp").agg(F.count("*").alias("n"))
    bounds = (
        ranked.join(F.broadcast(n), "grp")
        .groupBy("grp")
        .agg(
            # nearest-rank clamped to >= 1: p0 maps to the observed
            # minimum instead of rank 0 (which matches no row and made
            # lo NULL, silently unflagging the lower tail)
            F.max(
                F.when(
                    F.col("rn")
                    == F.expr(f"greatest(({lo_pct} * n + 99) div 100, 1)"),
                    F.col("v"),
                )
            ).alias("lo"),
            F.max(
                F.when(
                    F.col("rn")
                    == F.expr(f"greatest(({hi_pct} * n + 99) div 100, 1)"),
                    F.col("v"),
                )
            ).alias("hi"),
        )
    )
    return (
        base.join(F.broadcast(bounds), "grp")
        .filter((F.col("v") < F.col("lo")) | (F.col("v") > F.col("hi")))
        .select(
            F.col("grp").alias(group_col),
            F.col(id_col),
            F.col("v").alias(value_col),
            F.col("lo").cast("long").alias("lo"),
            F.col("hi").cast("long").alias("hi"),
            F.when(F.col("v") < F.col("lo"), F.col("lo"))
            .otherwise(F.col("hi"))
            .cast("long")
            .alias("clipped"),
        )
        .orderBy(group_col, id_col)
    )


def seq_motif(
    df: DataFrame,
    motif: str,
    key_col: str = "user_id",
    symbol_col: str = "event_type",
    ts_col: str = "ts",
    tiebreak_col: str = "event_id",
) -> DataFrame:
    """Count strict (consecutive) occurrences of a symbol motif in each
    key's ordered event sequence — MATCH_RECOGNIZE-lite for behavioral
    training data (the funnel q79 answers "did the user EVER convert";
    this answers "how many times did the exact view->click->purchase
    run occur, and where did it start").

    Each event contributes one symbol (the first character of
    ``symbol_col``); the per-key sequence is built in (ts, tiebreak)
    order with the same sort-inside-the-aggregate shape as
    event_sequences (one key shuffle, no window).  Matching is
    LITERAL, counted non-overlapping via length arithmetic
    ((len(s) - len(replace(s, motif))) / len(motif)) and positioned
    with instr — no regex anywhere, so Java-regex (leftmost-first)
    vs RE2 (leftmost-longest) semantic drift cannot reach the
    contract.  Emits (key, n_events, motif_n, first_pos) for keys with
    at least one match, ordered by key.
    """
    if not motif:
        raise ValueError("motif must be non-empty")
    sym = F.substring(F.col(symbol_col), 1, 1)
    seq = (
        df.select(
            F.col(key_col),
            F.struct(
                F.col(ts_col), F.col(tiebreak_col), sym.alias("sym")
            ).alias("ev"),
        )
        .groupBy(key_col)
        .agg(
            F.count("*").alias("n_events"),
            F.concat_ws(
                "",
                F.transform(
                    F.array_sort(F.collect_list("ev")), lambda e: e.sym
                ),
            ).alias("seq"),
        )
    )
    m = len(motif)
    return (
        seq.withColumn(
            "motif_n",
            (
                (F.length("seq") - F.length(F.replace(F.col("seq"), F.lit(motif))))
                / m
            ).cast("long"),
        )
        .withColumn("first_pos", F.instr(F.col("seq"), motif).cast("long"))
        .filter(F.col("motif_n") > 0)
        .select(key_col, "n_events", "motif_n", "first_pos")
        .orderBy(key_col)
    )
