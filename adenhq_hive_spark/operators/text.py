"""Text-analysis operators for LLM training-data pipelines: language ID,
quality scoring, token counting, fingerprinting (driver north star; the
reference's text surface is its tool layer — e.g. excel_search matching,
excel_tool.py:748-756 — plus LLM prompts, which we replace with
deterministic heuristics).

All column expressions are built-in pyspark.sql.functions — JVM-side,
whole-stage-codegen friendly; no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .sketch import _hash32

# Tiny per-language marker lexicons (order matters: first max wins ties via
# the greatest() + CASE cascade below, so keep a fixed order).
LANG_MARKERS: dict[str, list[str]] = {
    "en": ["the", "and", "of", "to", "is"],
    "de": ["der", "die", "und", "ist", "nicht"],
    "es": ["el", "la", "que", "de", "es"],
    "fr": ["le", "la", "et", "est", "les"],
    "zh": ["的", "是", "了", "在", "不"],
}


def _marker_hits(text_col: str, markers: list[str]) -> Column:
    """Number of marker words present in the whitespace token set."""
    toks = F.split(F.col(text_col), r"\s+")
    return F.size(
        F.array_intersect(toks, F.array(*[F.lit(m) for m in markers]))
    )


def ws_tokens(text_col: str | Column) -> Column:
    """Whitespace tokens — THE corpus-contract tokenization
    (single-space split, empty tokens dropped), shared so every
    operator and its DuckDB oracle (list_filter(string_split(...)))
    tokenize identically; a drifted copy would break result hashes
    silently."""
    col = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.filter(F.split(col, " "), lambda t: t != "")


def ws_token_count(text_col: str | Column) -> Column:
    """Whitespace token count: the size of :func:`ws_tokens`."""
    return F.size(ws_tokens(text_col))


def frac4(p: Column, q: Column) -> Column:
    """round(p/q, 4) half-up via exact bigint arithmetic — the portable
    emitted-fraction form (driver/oracle contract): (p*20000 + q) DIV
    (2q), divided by 10000 only at emission. x - x%y is exactly divisible
    by y, so the double division is an exact integer (values << 2^53);
    no floating-point representation ties exist for either engine to
    round differently."""
    x = p * 20000 + q
    y = 2 * q
    return (((x - x % y) / y) / 10000).cast("double")


def lang_id(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic language ID: argmax of marker-lexicon hits.

    Adds ``lang_pred`` (language code or 'und' when nothing matches).
    Deterministic tie-break: first language in LANG_MARKERS order wins.
    """
    hits = {lang: _marker_hits(text_col, m) for lang, m in LANG_MARKERS.items()}
    best = F.greatest(*hits.values())
    pred = F.lit("und")
    # reversed: earlier langs applied later → they win equal-score ties
    for lang in reversed(list(hits)):
        pred = F.when((hits[lang] > 0) & (hits[lang] == best), F.lit(lang)).otherwise(pred)
    return df.withColumn("lang_pred", pred)


def quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Heuristic quality features + composite score in [0, 1].

    Features: length, word count, mean word length, punctuation ratio,
    uppercase ratio, digit ratio, stopword ratio (en markers). The
    composite mirrors common pretrain-filter recipes (Gopher-style rules):
    penalize too-short/too-long, high symbol ratios, no stopwords.
    """
    t = F.col(text_col)
    n_chars = F.length(t)
    n_words = F.size(F.split(t, r"\s+"))
    mean_wlen = (F.length(F.regexp_replace(t, r"\s+", "")) / n_words).cast("double")
    punct_ratio = (
        (n_chars - F.length(F.regexp_replace(t, r"[!-/:-@\[-`{-~]", ""))) / n_chars
    ).cast("double")
    upper_ratio = (
        (n_chars - F.length(F.regexp_replace(t, r"[A-Z]", ""))) / n_chars
    ).cast("double")
    digit_ratio = (
        (n_chars - F.length(F.regexp_replace(t, r"[0-9]", ""))) / n_chars
    ).cast("double")
    stop_ratio = (
        F.size(
            F.array_intersect(
                F.split(t, r"\s+"),
                F.array(*[F.lit(m) for m in LANG_MARKERS["en"]]),
            )
        )
        / F.greatest(n_words, F.lit(1))
    ).cast("double")

    score = (
        F.when((n_words >= 5) & (n_words <= 10_000), F.lit(0.4)).otherwise(F.lit(0.0))
        + F.when((mean_wlen >= 2.0) & (mean_wlen <= 12.0), F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(punct_ratio <= 0.2, F.lit(0.2)).otherwise(F.lit(0.0))
        + F.when(digit_ratio <= 0.3, F.lit(0.1)).otherwise(F.lit(0.0))
        + F.when(stop_ratio > 0.0, F.lit(0.1)).otherwise(F.lit(0.0))
    )
    from ..catalog import spread_small_scan

    # regex battery runs in the scan stage (spread: 2.3x at sf0.1)
    df = spread_small_scan(df)
    return df.select(
        "*",
        n_chars.alias("q_chars"),
        n_words.alias("q_words"),
        F.round(mean_wlen, 4).alias("q_mean_word_len"),
        F.round(punct_ratio, 4).alias("q_punct_ratio"),
        F.round(upper_ratio, 4).alias("q_upper_ratio"),
        F.round(digit_ratio, 4).alias("q_digit_ratio"),
        F.round(stop_ratio, 4).alias("q_stop_ratio"),
        F.round(score, 4).alias("quality_score"),
    )


# A BPE-ish token pattern: word pieces, numbers, or single non-space symbols.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^\sA-Za-z0-9]"


def token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Whitespace token count + BPE-ish regex token count + chars/token."""
    t = F.col(text_col)
    ws = F.size(F.split(F.trim(t), r"\s+"))
    bpe = F.size(F.regexp_extract_all(t, F.lit(TOKEN_PATTERN), 0))
    return df.select(
        "*",
        ws.alias("tok_ws"),
        bpe.alias("tok_bpe"),
        F.round(F.length(t) / F.greatest(bpe, F.lit(1)), 4).alias("chars_per_tok"),
    )


def fingerprint(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Document fingerprints: exact md5, normalized md5 (casefold +
    whitespace collapse), and a content-sampled rolling fingerprint (min
    xxhash64 over word 3-gram shingles — a 1-hash MinHash, stable under
    reordering-free edits)."""
    from .ngrams import word_ngrams

    t = F.col(text_col)
    norm = F.regexp_replace(F.lower(F.trim(t)), r"\s+", " ")
    # zip_with construction (operators/ngrams.py): faster than
    # transform+slice AND safe for sub-3-word docs (the sequence(1, 0)
    # form DESCENDS and crashed in slice()).
    shingles = word_ngrams(norm, 3)
    rolling = F.when(
        F.size(shingles) > 0,
        F.array_min(F.transform(shingles, lambda s: F.xxhash64(s))),
    ).otherwise(F.xxhash64(norm))
    return df.select(
        "*",
        F.md5(t).alias("fp_exact"),
        F.md5(norm).alias("fp_norm"),
        rolling.alias("fp_rolling"),
    )


# pandas imported at module level so the pandas_udf type hints (stringified
# by `from __future__ import annotations`) resolve in module globals
import pandas as _pd  # noqa: E402

pd = _pd


def nfc_normalize_udf():
    """Unicode NFC normalization as an Arrow-batched pandas UDF — Spark
    has no NFC builtin, so this is the documented slow-path escape hatch
    (pair with lower/trim/regexp_replace builtins for the cheap parts)."""
    import unicodedata

    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def nfc(col: pd.Series) -> pd.Series:
        return col.map(
            lambda x: None if x is None else unicodedata.normalize("NFC", x)
        )

    return nfc


def tfidf_top_terms(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
) -> DataFrame:
    """Top-k TF-IDF terms per document, entirely JVM-side.

    tf = in-doc term count (lowercased whitespace tokens); idf =
    ln((N + 1) / (df + 1)) + 1 (smoothed, sklearn-style); ties broken by
    term.

    One explode + two hash aggregations, all whole-stage codegen: the
    (doc, term) tf aggregation rides map-side partial agg (each doc's
    tokens collapse to counts before the shuffle); the (term, df) side
    is broadcast back onto tf (vocabularies are tiny next to corpora)
    and the scalar N rides a 1-row broadcast cross join. An in-row tf
    formulation (sorted-array run lengths, zero token shuffle) was
    built and measured SLOWER (1.7 s vs 1.2 s at sf0.1) — interpreted
    higher-order lambdas lose to codegen'd hash aggregation; see
    repetition_stats. Per-doc top-k via collect_list + within-row
    array_sort + slice instead of a row_number window: same single
    shuffle on doc, but the sort is O(d log d) per document
    (d = distinct terms) rather than a full sort of every shuffle
    partition — measured 1.7× faster at the sf1-equivalent scale
    (2.7 s vs 4.6 s, 50k docs). Tie order (tfidf desc, term asc)
    matches the window formulation exactly via the (-tfidf, term)
    struct sort key.
    """
    ex = df.select(
        F.col(id_col).alias("doc"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = ex.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "tfidf",
            F.round(
                F.col("tf")
                * (
                    F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                    + F.lit(1.0)
                ),
                4,
            ),
        )
    )
    packed = scored.groupBy("doc").agg(
        F.slice(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        (-F.col("tfidf")).alias("neg"),
                        F.col("term").alias("term"),
                        F.col("tfidf").alias("tfidf"),
                    )
                )
            ),
            1,
            k,
        ).alias("top")
    )
    return packed.select(
        "doc", F.posexplode("top").alias("pos", "s")
    ).select(
        F.col("doc").alias(id_col),
        (F.col("pos") + 1).alias("rnk"),
        F.col("s.term").alias("term"),
        F.col("s.tfidf").alias("tfidf"),
    )


def repetition_stats(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 2,
    max_top_frac: float = 0.20,
    max_dup_frac: float = 0.60,
) -> DataFrame:
    """Gopher-style word-level repetition metrics + keep flag per doc.

    For each document's word ``n``-grams: ``top_frac`` = share of the
    single most frequent n-gram, ``dup_frac`` = share of n-gram slots
    occupied by repeated n-grams (1 - distinct/total). Docs above either
    threshold are repetition spam (``rep_ok = false``) — the filter class
    Gopher applies before training (Rae et al. 2021, table A1; word-level
    because the corpus is a word stream).

    Shape: one explode + a two-level aggregation keyed on (doc, gram)
    then doc — map-side partial aggregation collapses each document's
    gram stream to (doc, gram, count) before anything crosses the wire,
    and the composite (doc, gram) key spreads globally-common n-grams
    across documents, so no single reducer hot-spots. A zero-shuffle
    in-row formulation (array_sort + run-length fold over the sorted
    grams) was BUILT AND MEASURED SLOWER (1.6 s vs 0.8 s at sf0.1):
    Spark evaluates higher-order-function lambdas interpreted,
    per-element, outside whole-stage codegen, and that constant beats
    the partial-agg shuffle even at cluster-unfriendly local scale — so
    the codegen'd explode + hash-agg stays. Output: (id_col, n_grams,
    n_distinct, top_frac, dup_frac, rep_ok).

    Determinism: the fractions and the keep flag are computed in scaled
    INTEGER arithmetic, never floating division. round(p/q, 4) half-up ==
    (p*20000 + q) DIV (2*q) for positive p,q — a bigint both engines agree
    on bit-for-bit — divided by 10000 only at emission (<= 4 decimal
    digits, exactly representable). The thresholds compare p*10000 <=
    q*round(thresh*10000) — an exact rational test with no representation
    ties (a .xxxx5 double ratio rounds differently per engine/build;
    integers don't).
    """
    from .ngrams import word_ngrams

    # threshold as an exact rational over denominator 10000
    tf_num = int(round(max_top_frac * 10000))
    df_num = int(round(max_dup_frac * 10000))

    from ..catalog import spread_small_scan

    _frac4 = frac4  # module-level portable-rounding helper

    grams = word_ngrams(F.col(text_col), n, lowercase=True)
    # gram explosion + map-side partial agg run in the scan stage
    # (spread: 1.6x at sf0.1)
    per_gram = (
        spread_small_scan(df).select(F.col(id_col), F.explode(grams).alias("g"))
        .groupBy(id_col, "g")
        .agg(F.count("*").alias("c"))
    )
    per_doc = per_gram.groupBy(id_col).agg(
        F.sum("c").alias("n_grams"),
        F.count("*").alias("n_distinct"),
        F.max("c").alias("top_c"),
    )
    ng, nd, top = F.col("n_grams"), F.col("n_distinct"), F.col("top_c")
    return per_doc.select(
        id_col,
        "n_grams",
        "n_distinct",
        _frac4(top, ng).alias("top_frac"),
        _frac4(ng - nd, ng).alias("dup_frac"),
        (
            (top * 10000 <= ng * tf_num)
            & ((ng - nd) * 10000 <= ng * df_num)
        ).alias("rep_ok"),
    )


def unigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean unigram negative log-probability — the cheap
    stand-in for LM-perplexity quality filtering (docs of improbable
    tokens score high = likely noise; boilerplate scores low).

    The unigram model is the corpus itself: p(tok) = count(tok) / total
    (Laplace add-one over the observed vocabulary). Shape: one explode,
    a corpus-frequency aggregation (vocab-sized — broadcast back), a
    scalar total on a 1-row cross join, then a per-doc mean. All
    built-in expressions; the only wide thing is the vocabulary.

    Output: (id_col, n_toks, avg_neg_logp).
    """
    toks = F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok")
    ex = df.select(F.col(id_col), toks)
    freq = ex.groupBy("tok").agg(F.count("*").alias("c"))
    totals = freq.agg(
        F.sum("c").alias("total"), F.count("*").alias("vocab")
    )
    scored = (
        ex.join(F.broadcast(freq), "tok")
        .join(F.broadcast(totals))
        .withColumn(
            "neg_logp",
            -F.log((F.col("c") + 1) / (F.col("total") + F.col("vocab"))),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_toks"),
        F.round(F.avg("neg_logp"), 4).alias("avg_neg_logp"),
    )


# Gopher quality-rule constants (Rae et al. 2021, table A1 — public).
GOPHER_STOPWORDS = ["the", "be", "to", "of", "and", "that", "have", "with"]


def gopher_rules(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_words: int = 50,
    max_words: int = 100_000,
    min_stop_hits: int = 2,
) -> DataFrame:
    """Per-document Gopher quality-rule booleans (Rae et al. 2021,
    table A1): word-count bounds, mean word length in [3, 10], symbol-
    to-word ratio (# / '...') < 0.1, < 90% bullet-started lines, < 30%
    ellipsis-ended lines, >= 80% of words containing an alphabetic
    character, and >= ``min_stop_hits`` distinct stopwords present.

    ``quality_score`` is the soft composite feature vector; this is the
    published hard-rule battery — a doc survives iff every rule passes
    (``gopher_ok``).

    Map-only column expressions end to end, no shuffle. The per-line /
    per-word counts are single multiline-regex passes (``(?m)`` +
    ``regexp_count``), not split-array higher-order filters: HOF lambdas
    evaluate interpreted outside whole-stage codegen, and the regex form
    measured 1.4× faster at sf0.1 on identical outputs (the oracle
    re-proves equality at every SF — its DuckDB formulation stays
    list_filter-based, so the two shapes check each other). Every
    emitted fraction and every threshold compare is exact integer
    arithmetic (see ``frac4``) so the oracle hash-matches bit-for-bit.
    """
    t = F.col(text_col)
    words = F.filter(F.split(t, r"\s+"), lambda w: w != "")
    n_words = F.regexp_count(t, F.lit(r"\S+"))
    # non-empty lines, same semantics as split('\n') + l != ''
    n_lines = F.greatest(
        F.regexp_count(t, F.lit(r"(?m)^.+$")), F.lit(1)
    )
    # total characters across words (whitespace removed)
    word_chars = F.length(F.regexp_replace(t, r"\s+", ""))
    symbol_hits = F.regexp_count(t, F.lit("#")) + F.regexp_count(
        t, F.lit(r"\.\.\.")
    )
    bullet_lines = F.regexp_count(t, F.lit(r"(?m)^\s*[-*•]"))
    ellipsis_lines = F.regexp_count(t, F.lit(r"(?m)(\.\.\.|…)\s*$"))
    alpha_words = F.regexp_count(t, F.lit(r"(?<=^|\s)\S*[A-Za-z]"))
    stop_hits = F.size(
        F.array_intersect(
            F.transform(words, F.lower),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    q = F.greatest(n_words, F.lit(1))
    from ..catalog import spread_small_scan

    # the whole battery runs in the scan stage (spread: 2.6x at sf0.1)
    df = spread_small_scan(df)
    return df.select(
        F.col(id_col),
        n_words.alias("n_words"),
        n_lines.alias("n_lines"),
        frac4(word_chars, q).alias("mean_word_len"),
        frac4(symbol_hits, q).alias("symbol_frac"),
        frac4(bullet_lines, n_lines).alias("bullet_frac"),
        frac4(ellipsis_lines, n_lines).alias("ellipsis_frac"),
        frac4(alpha_words, q).alias("alpha_word_frac"),
        stop_hits.alias("stop_hits"),
        ((n_words >= min_words) & (n_words <= max_words)).alias("ok_words"),
        # 3 <= word_chars/n_words <= 10, exact rational compare
        ((word_chars >= 3 * q) & (word_chars <= 10 * q)).alias(
            "ok_mean_word_len"
        ),
        (symbol_hits * 10 < q).alias("ok_symbol"),
        (bullet_lines * 10 < 9 * n_lines).alias("ok_bullet"),
        (ellipsis_lines * 10 < 3 * n_lines).alias("ok_ellipsis"),
        (alpha_words * 10 >= 8 * q).alias("ok_alpha"),
        (stop_hits >= min_stop_hits).alias("ok_stop"),
        (
            (n_words >= min_words) & (n_words <= max_words)
            & (word_chars >= 3 * q) & (word_chars <= 10 * q)
            & (symbol_hits * 10 < q)
            & (bullet_lines * 10 < 9 * n_lines)
            & (ellipsis_lines * 10 < 3 * n_lines)
            & (alpha_words * 10 >= 8 * q)
            & (stop_hits >= min_stop_hits)
        ).alias("gopher_ok"),
    )


def c4_line_filter(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    min_line_words: int = 5,
    min_kept_lines: int = 3,
) -> DataFrame:
    """C4-style line-level page cleaning (Raffel et al. 2020 §2.2):
    keep only lines that end in a terminal punctuation mark, have at
    least ``min_line_words`` words and don't mention javascript; drop
    the whole page when fewer than ``min_kept_lines`` lines survive, or
    when the page contains 'lorem ipsum' or a '{'.

    Everything is per-row array algebra over split lines (filter /
    aggregate higher-order functions) — map-only, no explode, no
    shuffle: the line filter never changes row count, so at 100 TB this
    is a pure scan→project stage. Output per page: line counts, the
    drop-reason booleans, the keep verdict, and md5 of the cleaned
    (kept-lines-rejoined) text for downstream exact dedup.
    """
    t = F.col(text_col)
    lines = F.filter(F.split(t, r"\n"), lambda l: F.trim(l) != "")
    kept = F.filter(
        lines,
        lambda l: l.rlike(r'[.!?"]\s*$')
        & (
            F.size(F.filter(F.split(l, r"\s+"), lambda w: w != ""))
            >= min_line_words
        )
        & ~F.lower(l).contains("javascript"),
    )
    clean = F.array_join(kept, "\n")
    low = F.lower(t)
    has_lorem = low.contains("lorem ipsum")
    has_brace = low.contains("{")
    n_kept = F.size(kept)
    return df.select(
        F.col(id_col),
        F.size(lines).alias("n_lines"),
        n_kept.alias("n_kept"),
        has_lorem.alias("has_lorem"),
        has_brace.alias("has_brace"),
        (
            (n_kept >= min_kept_lines) & ~has_lorem & ~has_brace
        ).alias("c4_kept"),
        F.md5(clean).alias("clean_md5"),
    )


# Unicode script ranges in \x{...} syntax — the ONE regex class syntax
# both engines' regex libraries accept verbatim (java.util.regex and RE2),
# so the identical pattern strings run on Spark and the DuckDB oracle.
SCRIPT_RANGES: dict[str, str] = {
    "latin": r"[A-Za-z\x{00C0}-\x{024F}]",
    "cjk": r"[\x{4E00}-\x{9FFF}\x{3040}-\x{30FF}]",
    "cyrillic": r"[\x{0400}-\x{04FF}]",
    "arabic": r"[\x{0600}-\x{06FF}]",
    "digit": r"[0-9]",
}


def script_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document Unicode script composition — the multilingual-corpus
    triage step before language-ID (lang_id assumes you already know the
    doc is in its marker languages; script ratios catch mixed-script
    spam, mojibake, and wrong-script routing first).

    One regexp_count pass per script class over non-space characters,
    ratios in exact integer arithmetic (``frac4``), dominant script by
    greatest-count with a fixed tie order. Map-only, no shuffle.
    """
    t = F.col(text_col)
    total = F.greatest(
        F.length(t) - F.regexp_count(t, F.lit(r"\s")), F.lit(1)
    )
    counts = {
        name: F.regexp_count(t, F.lit(pat))
        for name, pat in SCRIPT_RANGES.items()
    }
    best = F.greatest(*counts.values())
    dominant = F.lit("other")
    for name in reversed(list(counts)):
        dominant = F.when(
            (counts[name] > 0) & (counts[name] == best), F.lit(name)
        ).otherwise(dominant)
    return df.select(
        "*",
        *[
            frac4(counts[name], total).alias(f"frac_{name}")
            for name in SCRIPT_RANGES
        ],
        dominant.alias("dominant_script"),
    )


def ccnet_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    lang_col: str = "lang",
    lm_predicate: Column | None = None,
    lam: float = 0.7,
    lam_uni: float = 0.3,
) -> DataFrame:
    """CCNet-style perplexity bucketing (Wenzek et al., LREC 2020,
    public): score every document with a per-language interpolated
    bigram LM trained on a designated reference slice, then split each
    language into head / middle / tail perplexity terciles — the
    published recipe for routing web text by LM quality (reference
    parallel: the quality-triage role of its LLM scoring tools, e.g.
    core/framework/llm prompts; re-expressed as a deterministic LM).

    Model: p(w|v) = lam * (c_bi(v,w)+1)/(c_left(v)+V+1)
                  + lam_uni * (c_uni(w)+1)/(N+V+1)
    (lam_uni is an explicit parameter, not 1.0-lam: the Python float
    1.0-0.7 is 0.30000000000000004, which would not match the SQL
    literal 0.3 the oracle uses — both engines must see the same
    constant bit pattern.)
    per language, Laplace-smoothed over the LM slice's vocabulary (the
    +1 on the denominator reserves one OOV type, so an empty LM slice
    still yields a valid p=1 rather than a division by zero). Docs with
    fewer than two tokens have no bigram positions and drop out (same
    on both engines).

    Determinism contract (same as dsir_score): the per-BIGRAM negative
    log-prob is rounded once to a scaled BIGINT (1e-6), so per-doc
    aggregates are exact order-independent integer sums; the emitted
    ``nll`` divides the same two integers on both engines (IEEE
    division is correctly rounded). Terciles order by (nll, doc_id) —
    a total order, so NTILE(3) agrees bit-for-bit.

    Scale shape: the LM slice is bounded (CCNet trains on Wikipedia),
    so all four count tables are LM-vocab-sized and BROADCAST; scoring
    is one explode + broadcast left joins + a per-doc aggregation. The
    tercile window partitions by language — keyed, not global; for a
    single dominant language at 100 TB the production path replaces
    NTILE with sampled cutoff thresholds broadcast back (the md5
    hash-sample pattern of curation.hash_split); NTILE is the
    oracle-exact correctness tier.
    """
    if lm_predicate is None:
        lm_predicate = F.col("source").isin(
            "src0", "src1", "src2", "src3", "src4"
        )
    ts = ws_tokens(F.lower(F.col(text_col)))
    base = df.withColumn("__ts", ts).filter(F.size("__ts") >= 2)
    bi = base.select(
        F.col(id_col),
        F.col(lang_col).alias("lang"),
        lm_predicate.alias("__lm"),
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.size("__ts") - 1),
                lambda i: F.struct(
                    F.element_at(F.col("__ts"), i).alias("prev"),
                    F.element_at(F.col("__ts"), i + 1).alias("cur"),
                ),
            )
        ).alias("bg"),
    ).select(id_col, "lang", "__lm", "bg.prev", "bg.cur")
    uni = base.select(
        F.col(lang_col).alias("lang"),
        lm_predicate.alias("__lm"),
        F.explode("__ts").alias("tok"),
    )

    lm_uni = uni.filter("__lm").groupBy("lang", "tok").agg(
        F.count("*").alias("c_u")
    )
    lm_tot = lm_uni.groupBy("lang").agg(
        F.sum("c_u").alias("n_l"), F.count("*").alias("v_l")
    )
    lm_bi = bi.filter("__lm").groupBy("lang", "prev", "cur").agg(
        F.count("*").alias("c_b")
    )
    lm_left = lm_bi.groupBy("lang", "prev").agg(
        F.sum("c_b").alias("c_left")
    )

    scored = (
        bi.join(F.broadcast(lm_bi), ["lang", "prev", "cur"], "left")
        .join(F.broadcast(lm_left), ["lang", "prev"], "left")
        .join(
            F.broadcast(lm_uni.withColumnRenamed("tok", "cur")),
            ["lang", "cur"],
            "left",
        )
        .join(F.broadcast(lm_tot), ["lang"], "left")
        .select(
            F.col(id_col),
            "lang",
            F.round(
                -F.log(
                    F.lit(lam)
                    * (F.coalesce("c_b", F.lit(0)) + 1)
                    / (
                        F.coalesce("c_left", F.lit(0))
                        + F.coalesce("v_l", F.lit(0))
                        + 1
                    )
                    + F.lit(lam_uni)
                    * (F.coalesce("c_u", F.lit(0)) + 1)
                    / (
                        F.coalesce("n_l", F.lit(0))
                        + F.coalesce("v_l", F.lit(0))
                        + 1
                    )
                )
                * 1_000_000,
                0,
            )
            .cast("long")
            .alias("w"),
        )
    )
    per_doc = scored.groupBy(id_col, "lang").agg(
        F.count("*").alias("n_bi"), F.sum("w").alias("sum_w")
    )
    nll = (F.col("sum_w").cast("double") / F.col("n_bi") / 1_000_000).alias(
        "nll"
    )
    win = Window.partitionBy("lang").orderBy("nll", id_col)
    tile = F.ntile(3).over(win)
    return (
        per_doc.select(id_col, "lang", "n_bi", "sum_w", nll)
        .withColumn(
            "bucket",
            F.when(tile == 1, F.lit("head"))
            .when(tile == 2, F.lit("middle"))
            .otherwise(F.lit("tail")),
        )
    )


def bigram_logprob(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document mean bigram negative log-probability — one step up
    the LM-perplexity ladder from :func:`unigram_logprob` (the CCNet
    recipe scores pages with a corpus-trained LM and keeps the
    low-perplexity head; a bigram model is the cheapest version that
    sees word ORDER, so shuffled-word spam that fools unigram scoring
    stands out).

    Model trained on the corpus itself: p(b | a) = (c(a,b) + 1) /
    (c(a) + V) — add-one smoothing, V = observed unigram vocabulary.
    Per doc: mean of -ln p over its n-1 adjacent pairs; single-token
    and empty docs emit no row (no bigram exists, the mean is
    undefined — the caller's length filters own those).

    Shape and scale: tokens arrays are built once per side; bigram
    pairs come from ``zip_with`` over the array and its tail (in-row,
    no shuffle); corpus bigram counts join back on the bigram KEY — a
    SHUFFLE join by design (the bigram vocabulary grows with the
    corpus and is NOT broadcastable at 100 TB, unlike the unigram
    table, which is and stays broadcast). ln via libm on both engines
    + ROUND(4) — the pl_unigram_logprob portability device.

    Output: (id_col, n_bigrams, avg_neg_logp), rounded half-even at 4.
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    with_toks = df.select(F.col(id_col), toks.alias("_t")).filter(
        F.size("_t") >= 2
    )
    pairs = with_toks.select(
        id_col,
        F.explode(
            F.zip_with(
                F.slice(F.col("_t"), 1, F.size("_t") - 1),
                F.slice(F.col("_t"), 2, F.size("_t") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("bg"),
    ).select(id_col, F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    uni = (
        df.select(F.explode(toks).alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
    )
    vocab = uni.agg(F.count("*").alias("vocab"))
    big = pairs.groupBy("a", "b").agg(F.count("*").alias("c_big"))
    scored = (
        pairs.join(big, ["a", "b"])  # shuffle join: bigram-vocab sized
        .join(F.broadcast(uni.withColumnRenamed("tok", "a")), "a")
        .join(F.broadcast(vocab))
        .withColumn(
            "neg_logp",
            -F.log(
                (F.col("c_big") + 1)
                / (F.col("c_uni") + F.col("vocab"))
            ),
        )
    )
    return scored.groupBy(id_col).agg(
        F.count("*").alias("n_bigrams"),
        F.round(F.avg("neg_logp"), 4).alias("avg_neg_logp"),
    )


def char_entropy(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Per-document Shannon character entropy (nats) — the gibberish
    detector of the quality battery: base64/hex blobs and packed or
    encrypted payloads score HIGH (near ln of the alphabet size),
    repeated-character spam scores LOW; natural language sits in a
    stable mid band. The standard cheap filter for binary-ish rows that
    slip into a text corpus.

    Computed in-row from exact integer run lengths (map-only, no
    shuffle): H = ln N − (Σ n_c·ln n_c)/N with the n_c taken as run
    lengths of the SORTED per-character array — one O(n log n) sort +
    one O(n) fold per row, replacing the r8-r10 O(distinct·len)
    distinct-tally (every distinct char re-scanned the whole array;
    r11 interpreted-eval audit measured the fold 2.6-2.9x faster at
    sf0.1/sf1 with exceptAll-exact parity). The explode+groupBy
    formulation measured faster still (6.1x at sf1) but shuffles one
    row per distinct (doc, char) pair and would serialize this battery
    out of the shared scan stage — rejected to keep the map-only
    contract (this filter composes with gopher/quality/c4 in ONE scan
    at 100 TB). ln + ROUND(4) is the established cross-engine device.
    Empty docs are excluded (entropy of nothing is undefined; length
    filters own those rows).

    Output: (id_col, n_chars, entropy), rounded at 4.
    """
    from ..catalog import spread_small_scan

    # O(distinct·len) per-row battery runs in the scan stage
    df = spread_small_scan(df)
    # split(t, '') yields the per-character array in ONE linear pass;
    # the former transform(sequence(1, length(t)), i -> substring(t,
    # i, 1)) paid O(position) per UTF8 substring — O(n^2) byte-walking
    # per doc inside INTERPRETED HigherOrderFunction eval (the winnow
    # lesson, search.py:489; r11 interpreted-eval audit). Verified
    # identical element-wise for every non-empty string incl.
    # multi-byte code points; empty docs are filtered out both before
    # and after the change.
    with_cs = df.filter(F.length(text_col) > 0).select(
        F.col(id_col),
        F.length(text_col).alias("n_chars"),
        F.split(F.col(text_col), "").alias("_cs"),
    )
    # run-length fold over the sorted char array: state carries
    # (prev char, current run, acc = Σ run·ln(run) of closed runs);
    # the finish lambda flushes the last run. run == 1 contributes
    # ln(1) == 0, so the guard only skips dead work.
    entropy = F.expr(
        "ROUND(LN(n_chars) - aggregate("
        " array_sort(_cs),"
        " struct(CAST('' AS STRING) AS prev, CAST(0 AS BIGINT) AS run,"
        "        CAST(0.0 AS DOUBLE) AS acc),"
        " (s, c) -> IF(c = s.prev,"
        "   struct(s.prev AS prev, s.run + CAST(1 AS BIGINT) AS run,"
        "          s.acc AS acc),"
        "   struct(c AS prev, CAST(1 AS BIGINT) AS run,"
        "          s.acc + IF(s.run > 1, s.run * LN(s.run),"
        "                     CAST(0.0 AS DOUBLE)) AS acc)),"
        " s -> s.acc + IF(s.run > 1, s.run * LN(s.run),"
        "                 CAST(0.0 AS DOUBLE))"
        ") / n_chars, 4)"
    )
    return with_cs.select(id_col, "n_chars", entropy.alias("entropy"))


def blocklist_filter(
    df: DataFrame,
    blocklist: list[str],
    text_col: str = "text",
    max_hits: int = 0,
) -> DataFrame:
    """C4-style blocklist page filter (Raffel et al. 2020 drop pages
    containing any "bad word"; the reference's content-guard analog is
    its LLM-judged hallucination gate, operators/guard.py — this is the
    deterministic lexical tier that runs BEFORE any model).

    One compiled alternation regex with word boundaries, evaluated
    JVM-side (``regexp_count`` — map-only, whole-stage codegen, zero
    shuffle), so at 100 TB this is a pure scan-stage filter with full
    predicate pushdown of any upstream column pruning.  Adds
    ``bl_hits`` (total blocklisted-term occurrences, case-insensitive)
    and ``bl_pass`` (hits <= max_hits).  Terms are regex-escaped and
    sorted so the pattern is deterministic for a given set.
    """
    import re

    if not blocklist:
        raise ValueError("blocklist must be non-empty")
    for w in blocklist:
        # \b anchors only delimit word-character edges, and the oracle
        # engine (RE2) has no lookarounds to offer instead — so the
        # operator's contract is word-edged terms (C4's list is).
        # ASCII-only: Java regex \b is Unicode-aware but RE2's is not,
        # so a term like 'über' would count differently per engine.
        if not w or not (
            re.match(r"\w", w[0], re.ASCII) and re.match(r"\w", w[-1], re.ASCII)
        ):
            raise ValueError(
                f"blocklist term {w!r} must start and end with an ASCII "
                "word character (cross-engine \\b boundary semantics)"
            )
    pattern = (
        r"\b(?:" + "|".join(re.escape(w.lower()) for w in sorted(set(blocklist)))
        + r")\b"
    )
    hits = F.regexp_count(F.lower(F.col(text_col)), F.lit(pattern))
    return df.withColumn("bl_hits", hits).withColumn(
        "bl_pass", hits <= F.lit(max_hits)
    )


def zipf_coverage(
    df: DataFrame,
    text_col: str = "text",
    ks: tuple[int, ...] = (10, 100, 1000),
) -> DataFrame:
    """Vocabulary head-coverage: for each K in ``ks``, how many corpus
    token occurrences are covered by the K most frequent types — the
    Zipf curve summary that sizes tokenizer vocabularies and detects
    boilerplate-dominated corpora (a healthy natural corpus covers
    ~45%% at K=100; near-100%% means template spam).

    Scale shape: token-count aggregation (one shuffle, map-side
    partial), then the top-``max(ks)`` types via orderBy+limit
    (TakeOrderedAndProject — NO global window over the full vocabulary,
    which at 100 TB holds billions of noise types), a row_number over
    the <= max(ks) surviving rows, and a broadcast join against the
    threshold list.  Emits one row per K: (k, n_types_used,
    covered_tokens, share) with ``share`` as the exact half-up
    integer-arithmetic fraction (frac4 contract).
    """
    spark = df.sparkSession
    if not ks:
        raise ValueError("ks must be a non-empty sequence of thresholds")
    ks = tuple(sorted(set(int(k) for k in ks)))
    kmax = max(ks)
    toks = df.select(
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok")
    )
    freq = toks.groupBy("tok").agg(F.count("*").alias("c"))
    total = freq.agg(F.sum("c").alias("total_tokens"))
    top = freq.orderBy(F.desc("c"), "tok").limit(kmax)
    # post-limit window over <= kmax rows — the established bm25
    # pattern (operators/search.py): single-partition is fine at k rows
    ranked = top.withColumn(
        "rank", F.row_number().over(Window.orderBy(F.desc("c"), "tok"))
    )
    ks_df = spark.createDataFrame([(int(k),) for k in sorted(ks)], "k int")
    cov = (
        ranked.join(F.broadcast(ks_df), F.col("rank") <= F.col("k"))
        .groupBy("k")
        .agg(F.count("*").alias("n_types_used"), F.sum("c").alias("covered_tokens"))
    )
    return (
        cov.join(F.broadcast(total))
        .select(
            "k",
            "n_types_used",
            "covered_tokens",
            frac4(F.col("covered_tokens"), F.col("total_tokens")).alias("share"),
        )
        .orderBy("k")
    )


def source_keywords(
    df: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
    top_k: int = 5,
    min_count: int = 5,
) -> DataFrame:
    """Per-source distinctive vocabulary: for every (source, token),
    the log-lift of the token's in-source rate over its corpus rate
    (ln((c_s/n_s)/(c/n)), add-nothing — min_count filters the noise
    floor instead), top-``top_k`` per source by (lift desc, tok asc).
    The corpus-governance staple: "what is domain X actually about",
    the input to mixture-weight and decontamination decisions.

    Scale shape: one token explode feeding BOTH aggregations
    (per-source counts, then corpus counts derived from them — the
    corpus table is never re-scanned), corpus totals broadcast, corpus
    per-token counts joined on the token KEY (shuffle by design: the
    token vocabulary is not broadcastable at 100 TB), final top-k via a
    window partitioned BY SOURCE (bounded per-partition work; no
    global ordering).
    """
    ex = df.select(
        F.col(group_col).alias("grp"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("tok"),
    )
    tf_s = ex.groupBy("grp", "tok").agg(F.count("*").alias("c_s"))
    tf = tf_s.groupBy("tok").agg(F.sum("c_s").alias("c"))
    n_s = tf_s.groupBy("grp").agg(F.sum("c_s").alias("n_s"))
    tot = tf.agg(F.sum("c").alias("n"))
    lift = F.round(
        F.log(
            (F.col("c_s").cast("double") * F.col("n"))
            / (F.col("n_s").cast("double") * F.col("c"))
        ),
        4,
    )
    scored = (
        tf_s.filter(F.col("c_s") >= min_count)
        .join(tf, "tok")
        .join(F.broadcast(n_s), "grp")
        .join(F.broadcast(tot))
        .withColumn("lift", lift)
    )
    w = Window.partitionBy("grp").orderBy(F.col("lift").desc(), "tok")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= top_k)
        .select(
            F.col("grp").alias(group_col), "rank", "tok", "c_s", "lift"
        )
    )


def feature_hash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    dims: int = 32,
) -> DataFrame:
    """Hashing-trick sparse TF-IDF vectors (Weinberger et al. 2009):
    each term routes to ``md5(term) mod dims`` and its rounded tf·idf
    weight accumulates per (doc, dimension) — fixed-width features with
    NO vocabulary table to build, broadcast, or keep consistent across
    training runs; the bridge from the text tier to the vector tier
    (the output feeds cosine/ANN exactly like a learned embedding).

    Exactness discipline: per-term weights are ROUND(tf·idf, 4) (the
    proven pl_tfidf formulation), then summed per dimension as
    scaled-BIGINT ( ×10000 ) so the accumulation is integer-exact and
    order-independent — a plain double sum would make the result hash
    depend on Spark's partial-agg order.  The md5-hex route follows the
    row (portable across engines/runs, the hash_split contract).

    Scale: one explode, (doc, term) tf with map-side combine, broadcast
    df + scalar N, then one (doc, dim) aggregation — dim cardinality is
    ``dims``, so the final shuffle is tiny.  Emits sparse rows
    (id_col, dim, weight), only non-zero dims.
    """
    ex = df.select(
        F.col(id_col).alias("doc"),
        F.explode(ws_tokens(F.lower(F.col(text_col)))).alias("term"),
    )
    tf = ex.groupBy("doc", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    n_docs = df.agg(F.count("*").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(dfreq), "term")
        .join(F.broadcast(n_docs))
        .withColumn(
            "w4",
            F.round(
                F.round(
                    F.col("tf")
                    * (
                        F.log((F.col("n_docs") + 1) / (F.col("df") + 1))
                        + F.lit(1.0)
                    ),
                    4,
                )
                * 10000
            ).cast("long"),
        )
        .withColumn(
            "dim",
            F.pmod(_hash32(F.col("term")), F.lit(dims)).cast("int"),
        )
    )
    return (
        scored.groupBy("doc", "dim")
        .agg((F.sum("w4") / 10000.0).alias("weight"))
        .select(F.col("doc").alias(id_col), "dim", "weight")
    )


def pmi_collocations(
    df: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 50,
) -> DataFrame:
    """Top-``top_n`` adjacent-bigram collocations by pointwise mutual
    information — the corpus-analysis primitive behind phrase mining,
    boilerplate discovery, and tokenizer-merge candidates (Church &
    Hanks 1990; the word2vec phrase pass uses the same score).

    pmi  = ln( (c12/B) / ((c1/N)(c2/N)) ) over exact BIGINT counts
    npmi = pmi / -ln(c12/B)   (normalized to [-1, 1]; 1 = always
    together), both formed as ONE double expression of fixed shape over
    exact integers + ROUND(4) — the ln portability device of
    bigram_logprob.  ``min_count`` floors c12 first, which both kills
    the hapax-pair PMI explosion (a pair seen once scores ~ln N) and
    shrinks the scored relation to the heavy tail.

    Scale: two vocabulary-keyed shuffles (unigram + bigram counts with
    partial agg), then the min_count-filtered bigram table joins the
    unigram counts — candidate-sized, not corpus-sized — and a
    TakeOrderedAndProject keeps the total-ordered top_n
    (pmi desc, a, b).
    """
    toks = ws_tokens(F.lower(F.col(text_col)))
    with_toks = df.select(toks.alias("_t"))
    uni = (
        with_toks.select(F.explode("_t").alias("tok"))
        .groupBy("tok")
        .agg(F.count("*").alias("c_uni"))
    )
    n_tot = uni.agg(F.sum("c_uni").alias("n"))
    pairs = with_toks.filter(F.size("_t") >= 2).select(
        F.explode(
            F.zip_with(
                F.slice(F.col("_t"), 1, F.size("_t") - 1),
                F.slice(F.col("_t"), 2, F.size("_t") - 1),
                lambda a, b: F.struct(a.alias("a"), b.alias("b")),
            )
        ).alias("bg")
    ).select(F.col("bg.a").alias("a"), F.col("bg.b").alias("b"))
    big = (
        pairs.groupBy("a", "b")
        .agg(F.count("*").alias("c12"))
        .filter(F.col("c12") >= min_count)
    )
    b_tot = pairs.agg(F.count("*").alias("b_all"))
    scored = (
        big.join(
            uni.select(F.col("tok").alias("a"), F.col("c_uni").alias("c1")),
            "a",
        )
        .join(
            uni.select(F.col("tok").alias("b"), F.col("c_uni").alias("c2")),
            "b",
        )
        .crossJoin(F.broadcast(n_tot))
        .crossJoin(F.broadcast(b_tot))
    )
    p12 = F.col("c12").cast("double") / F.col("b_all")
    pmi = F.log(
        p12
        / (
            (F.col("c1").cast("double") / F.col("n"))
            * (F.col("c2").cast("double") / F.col("n"))
        )
    )
    return (
        scored.select(
            "a",
            "b",
            F.col("c12").cast("long").alias("c12"),
            F.round(pmi, 4).alias("pmi_r4"),
            F.round(pmi / -F.log(p12), 4).alias("npmi_r4"),
        )
        .orderBy(F.desc("pmi_r4"), "a", "b")
        .limit(top_n)
    )


def readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease + Flesch-Kincaid grade level per document —
    the classic readability pair (Flesch 1948; Kincaid et al. 1975),
    the standard complexity feature next to the quality/gopher tiers
    when curating by audience level.

    Counts are engine-portable regex aggregates (Spark
    regexp_extract_all / DuckDB regexp_extract_all, identical patterns):
    words = runs of [A-Za-z]+, sentences = runs of [.!?]+ (floored at
    1), syllables ~= vowel-group runs [aeiouyAEIOUY]+ — the published
    vowel-cluster approximation; a dictionary syllabifier is a model
    artifact, not an operator.  The two scores are fixed-shape per-row
    double expressions over those exact INTs, ROUND 4 with the
    signed-zero guard (reading-ease is a difference of terms and CAN
    round to -0.0).  Empty/wordless docs emit NULL scores, never a
    division by zero.

      ease  = 206.835 - 1.015*(W/S) - 84.6*(Y/W)
      grade = 0.39*(W/S) + 11.8*(Y/W) - 15.59

    Emits (doc_id, words, sentences, syllables, ease_r4, grade_r4),
    ordered by doc_id.  Scale: embarrassingly parallel map over the
    corpus — no shuffle at all before the output sort.
    """
    from ..catalog import spread_small_scan

    t = F.col(text_col)
    words = F.size(F.regexp_extract_all(t, F.lit("[A-Za-z]+"), 0))
    sents = F.greatest(
        F.lit(1), F.size(F.regexp_extract_all(t, F.lit("[.!?]+"), 0))
    )
    sylls = F.size(F.regexp_extract_all(t, F.lit("[aeiouyAEIOUY]+"), 0))
    # three regex passes per doc are CPU-bound
    base = spread_small_scan(df.select("doc_id", text_col)).select(
        "doc_id",
        words.cast("long").alias("words"),
        sents.cast("long").alias("sentences"),
        sylls.cast("long").alias("syllables"),
    )
    wps = F.col("words").cast("double") / F.col("sentences").cast("double")
    spw = (
        F.col("syllables").cast("double") / F.col("words").cast("double")
    )
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    nz = F.col("words") > 0
    return base.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        (F.when(nz, F.round(ease, 4)) + F.lit(0.0)).alias("ease_r4"),
        (F.when(nz, F.round(grade, 4)) + F.lit(0.0)).alias("grade_r4"),
    ).orderBy("doc_id")
