"""Mergeable frequency sketches: Misra-Gries heavy hitters with exact
verification.

The scale problem: "which tokens exceed x basis points of a 100 TB
corpus" cannot be answered by `GROUP BY token` alone without shuffling
the full (token, 1) stream — billions of distinct keys, one shuffle row
per token occurrence.  The sketch route bounds the shuffle to a constant
per partition:

1.  Each input partition summarizes its token stream with a Misra-Gries
    sketch of capacity ``m`` (Misra & Gries 1982).  MG guarantees: any
    item with partition count > N_p/m survives that partition's sketch.
    By pigeonhole, an item with GLOBAL count > N/m exceeds N_p/m in at
    least one partition, so the union of per-partition survivors is a
    superset of every global heavy hitter.  The per-batch work is a
    vectorized pandas ``value_counts`` (an exact, error-0 summary)
    merged into the running sketch with the mergeable-summaries rule
    (Agarwal et al. 2012): add counters; if more than ``m`` remain,
    subtract the (m+1)-th largest counter value from all and drop the
    non-positives — never a per-token Python loop.
2.  Per-partition sketches are merged DISTRIBUTED, never on the driver:
    each partition emits its (h, counter) rows (at most m per
    partition), a groupBy(h).sum combines them — the "add counters"
    half of the mergeable rule — and the summed counter satisfies
    C_hat(x) >= C(x) - N/m (each partition undercounts by at most
    N_p/m).  Filtering to C_hat >= theta*N - N/m therefore keeps every
    global heavy hitter while bounding the candidate set by
    N / (theta*N - N/m) = m*10^4/(bp*m - 10^4) items — a CONSTANT
    (about 1.3k at the defaults), independent of both data size and
    partition count.  Only that constant-size candidate list reaches
    the driver (for the broadcast), so driver traffic is O(capacity),
    not O(capacity x n_partitions).
3.  Candidates are exactly re-counted in one more pass: tokens are
    broadcast-joined against the candidate set BEFORE the shuffle, so
    the exact GROUP BY touches candidate tokens only.

Because step 1 can only over-generate and step 2 is exact, the final
output is IDENTICAL to the exact heavy-hitter answer — which is why
pl_heavy_hitters carries a plain SQL oracle (GROUP BY + HAVING) and a
hash row, unlike typical sketch queries that settle for accuracy gates.
The sketch is the candidate generator, not the answer.

Two full scans total (sketch+total, then verify); the corpus total
rides the sketch pass as one extra row per partition.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def misra_gries_reference(values, capacity: int) -> dict:
    """Textbook one-at-a-time MG, used by tests as the ground truth for
    the vectorized merge's guarantee (counter error <= N/capacity and
    the survivor superset property)."""
    counters: dict = {}
    for v in values:
        if v in counters:
            counters[v] += 1
        elif len(counters) < capacity:
            counters[v] = 1
        else:
            dead = []
            for k in counters:
                counters[k] -= 1
                if counters[k] == 0:
                    dead.append(k)
            for k in dead:
                del counters[k]
    return counters


def mg_merge(counters: pd.Series, batch: pd.Series, capacity: int) -> pd.Series:
    """Merge an exact batch summary into an MG sketch (Agarwal et al.
    2012): add, then if over capacity subtract the (capacity+1)-th
    largest value and drop non-positive counters.  Error grows by at
    most N_batch/capacity per merge, preserving the global N/capacity
    bound."""
    merged = counters.add(batch, fill_value=0)
    if len(merged) > capacity:
        cut = merged.nlargest(capacity + 1).iloc[-1]
        merged = merged - cut
        merged = merged[merged > 0]
    return merged


def mg_merge_np(
    sk_v: np.ndarray,
    sk_c: np.ndarray,
    b_v: np.ndarray,
    b_c: np.ndarray,
    capacity: int,
) -> tuple[np.ndarray, np.ndarray]:
    """int64 fast path of :func:`mg_merge` — the identical
    mergeable-summaries rule over sorted (keys, counts) numpy arrays.
    The pandas Series path spends its time in value_counts' result sort
    and Series.add's index-union machinery, not the algorithm: on
    4M-entry near-unique batches this path measures ~20x faster
    (0.4s -> 0.02s/M).  Parity with mg_merge is pinned by
    tests/test_sketch.py::test_mg_merge_np_matches_pandas.

    Inputs: sketch keys sorted ascending with their counters, batch
    keys/counts from ``np.unique(..., return_counts=True)`` (sorted by
    construction).  Returns the merged sketch, keys sorted, at most
    ``capacity`` entries.
    """
    all_v = np.concatenate([sk_v, b_v])
    all_c = np.concatenate([sk_c, b_c]).astype(np.int64, copy=False)
    if len(all_v) == 0:
        return all_v, all_c
    order = np.argsort(all_v, kind="stable")
    all_v, all_c = all_v[order], all_c[order]
    starts = np.empty(len(all_v), dtype=bool)
    starts[0] = True
    starts[1:] = all_v[1:] != all_v[:-1]
    uv = all_v[starts]
    uc = np.add.reduceat(all_c, np.flatnonzero(starts))
    if len(uv) > capacity:
        cut = np.partition(uc, len(uc) - capacity - 1)[
            len(uc) - capacity - 1
        ]
        keep = uc > cut
        uv, uc = uv[keep], uc[keep] - cut
    return uv, uc


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    min_share_bp: int = 10,
    capacity: int = 4096,
) -> DataFrame:
    """Exact corpus-level heavy-hitter tokens via sketch-then-verify.

    Emits every ``text.ws_tokens`` token whose occurrence count is at least
    ``min_share_bp`` basis points (1 bp = 1/10000) of all token
    occurrences, with its exact count and integer-floor bp share —
    sorted by (count desc, token).  ``capacity`` must satisfy
    capacity >= 10000 / min_share_bp for the MG superset guarantee
    (checked; the default 4096 covers thresholds down to 3 bp).

    Regime (MEASURED, scripts/bench_heavy_hitters.py on local[32]):
    exact ``GROUP BY token`` shuffles ~one record per distinct token and
    wins while the vocabulary fits the shuffle comfortably; the sketch's
    shuffle is O(capacity x n_partitions) regardless of vocabulary, so
    it crosses over as vocabulary explodes — sketch/exact speedup 0.27x
    at 7.5M distinct tokens, 0.84x at 30M, 1.83x at 75M, and on a real
    cluster the exact path's shuffle also pays network + spill. Use
    exact GROUP BY for bounded vocabularies; this operator for
    unbounded ones (URLs, ids, typo-heavy web text).
    """
    if capacity * min_share_bp < 10_000:
        raise ValueError(
            f"capacity={capacity} cannot guarantee the {min_share_bp}bp "
            f"threshold: need capacity >= {10_000 // min_share_bp + 1}"
        )
    from .text import ws_tokens

    spark = df.sparkSession
    toks = df.select(F.explode(ws_tokens(text_col)).alias("token"))
    # The sketch pass runs over xxhash64(token), not the token string:
    # Arrow then ships fixed 8-byte ints (vs variable-length UTF-8 +
    # offsets) and pandas value_counts on int64 avoids per-row string
    # hashing — measured 4-5x on the sketch pass. Correctness is
    # unaffected: a hash collision only MERGES two tokens' counts, which
    # can overcount but never undercount a counter, so the MG superset
    # guarantee (every >= bp token survives) still holds; collisions add
    # at most false CANDIDATES, and every candidate is exact-verified by
    # the JVM count below before it can reach the output.
    toks_h = toks.select(F.xxhash64("token").alias("h"))

    def partial_sketch(it):
        sk_v = np.empty(0, dtype=np.int64)
        sk_c = np.empty(0, dtype=np.int64)
        n_part = 0
        # accumulate Arrow batches into ~4M-value chunks so the numpy
        # work is a few big np.unique calls instead of one per ~10k
        # batch; np.unique + mg_merge_np is the measured-fast kernel
        # (value_counts + Series.add was ~20x slower on near-unique
        # batches and dominated the whole sketch pass)
        chunk: list[np.ndarray] = []
        chunk_n = 0

        def flush():
            nonlocal sk_v, sk_c, chunk, chunk_n
            if chunk:
                b_v, b_c = np.unique(
                    np.concatenate(chunk), return_counts=True
                )
                sk_v, sk_c = mg_merge_np(sk_v, sk_c, b_v, b_c, capacity)
                chunk, chunk_n = [], 0

        for pdf in it:
            if len(pdf) == 0:
                continue
            n_part += len(pdf)
            chunk.append(pdf["h"].to_numpy(dtype=np.int64))
            chunk_n += len(pdf)
            if chunk_n >= 4_000_000:
                flush()
        flush()
        # sketch rows carry (h, cnt); ONE sentinel row (h = null) carries
        # the partition's token total — at most capacity + 1 tiny rows
        yield pd.DataFrame(
            {
                "h": pd.array(sk_v.tolist() + [None], dtype="Int64"),
                "cnt": pd.array(sk_c.tolist() + [None], dtype="Int64"),
                "part_total": pd.array(
                    [None] * len(sk_v) + [n_part], dtype="Int64"
                ),
            }
        )

    # The sketch pass (the expensive scan) is persisted so the total agg
    # and the candidate merge read it once; it is at most
    # capacity x n_partitions TINY rows, spread across the cluster.
    sketch = toks_h.mapInPandas(
        partial_sketch, "h long, cnt long, part_total long"
    ).persist()
    try:
        total = sketch.agg(F.sum("part_total").alias("t")).collect()[0].t or 0
        if total == 0:
            return spark.createDataFrame(
                [], "token string, n bigint, share_bp bigint"
            )
        # Distributed merge (mergeable-summaries add) + the survivor
        # filter: summed counter >= theta*N - N/m keeps every true heavy
        # hitter (see module docstring) and bounds the survivors by
        # m*10^4/(bp*m - 10^4).  The threshold is floored in exact Python
        # bigints (floor only ADMITS extra candidates — safe direction).
        thr = max(
            0,
            (total * (capacity * min_share_bp - 10_000))
            // (10_000 * capacity),
        )
        cand = [
            r.h
            for r in sketch.filter(F.col("h").isNotNull())
            .groupBy("h")
            .agg(F.sum("cnt").alias("c"))
            .filter(F.col("c") >= thr)
            .select("h")
            .collect()
        ]
    finally:
        sketch.unpersist()
    if not cand:
        return spark.createDataFrame(
            [], "token string, n bigint, share_bp bigint"
        )
    cand_df = F.broadcast(
        spark.createDataFrame([(h,) for h in sorted(cand)], "h long")
    )
    counted = (
        toks.withColumn("h", F.xxhash64("token"))
        .join(cand_df, "h")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    # threshold on the cleared integer inequality n >= ceil(bp*total/1e4)
    # (equivalent to n*1e4 >= bp*total for integer n), with the constant
    # computed in Python bigints — two int literals multiplied as Columns
    # constant-fold in INT32 and overflow under ANSI once bp*total
    # passes 2^31 (hit at ~250M token occurrences).  Share as integer
    # floor bp — no doubles anywhere in the contract.
    n_min = -(-min_share_bp * total // 10_000)  # ceil division, exact
    return (
        counted.filter(F.col("n") >= F.lit(n_min))
        .withColumn(
            "share_bp",
            F.expr(f"(n * 10000) div {int(total)}").cast("bigint"),
        )
        .select("token", F.col("n").cast("bigint").alias("n"), "share_bp")
        .orderBy(F.desc("n"), "token")
    )


# ---- HyperLogLog, engine-portable ------------------------------------------
#
# Flajolet et al. 2007. The production path for approximate distinct counts
# is Spark's built-in approx_count_distinct (HLL++, pl_approx_distinct,
# accuracy-gated); THIS variant exists so the sketch algebra itself carries
# a full DuckDB oracle hash, the same pattern as the md5-portable MinHash /
# SimHash twins (dedup.py): md5 is the hash on both engines, the register
# table is a plain GROUP BY/MAX, and the estimate is computed in scaled
# integer arithmetic (sum of 2^(33-rho) is exact, division truncates), so
# a probabilistic sketch becomes bit-reproducible across engines.


def hll_registers(
    df: DataFrame, value_col: str, n_registers: int = 64
) -> DataFrame:
    """Dense (register, rho_max) HLL state over ``value_col``.

    register = first-8-hex md5 slice mod m; rho = 1 + leading zeros of the
    next 32-bit slice (via ``bin()`` string length — identical on DuckDB);
    empty registers surface with rho_max = 0. One shuffle (the GROUP BY),
    mergeable by construction (MAX is the merge), m rows out.
    """
    if n_registers < 1:
        raise ValueError("n_registers must be >= 1")
    h = F.md5(F.col(value_col).cast("string"))
    reg = F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % n_registers
    w = F.conv(F.substring(h, 9, 8), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(w))
    )
    spark = df.sparkSession
    all_regs = spark.range(n_registers).select(
        F.col("id").alias("register")
    )
    got = (
        df.select(reg.alias("register"), rho.alias("rho"))
        .groupBy("register")
        .agg(F.max("rho").alias("rho_max"))
    )
    return (
        all_regs.join(got, "register", "left")
        .select(
            "register",
            F.coalesce("rho_max", F.lit(0)).cast("long").alias("rho_max"),
        )
    )

# Flajolet et al. 2007 bias-correction constants as exact integer ratios
# (alpha_m = estimate multiplier).  Only the published small-m constants
# are admitted: a free-form m would need alpha = 0.7213/(1+1.079/m),
# whose reduced integer ratio (7213m / (10000m+10790)) overflows the
# BIGINT numerator headroom (alpha_num * m^2 * 2^33 must stay < 2^63)
# for large m — reject rather than silently emit a biased estimate.
_HLL_ALPHA = {16: (673, 1000), 32: (697, 1000), 64: (709, 1000)}


def _hll_alpha(m: int) -> tuple[int, int]:
    try:
        return _HLL_ALPHA[m]
    except KeyError:
        raise ValueError(
            f"n_registers must be one of {sorted(_HLL_ALPHA)} "
            "(published alpha constants; see _HLL_ALPHA)"
        ) from None


def hll_estimate(
    df: DataFrame, value_col: str, n_registers: int = 64
) -> DataFrame:
    """One-row raw-HLL distinct estimate in exact integer arithmetic.

    ``est = (alpha_num * m^2 * 2^33) // (alpha_den * S)`` where
    ``S = Σ_j 2^(33 - rho_j)`` (exact BIGINT — max 64 * 2^33 < 2^40).
    alpha is the published Flajolet constant for m as an exact integer
    ratio (``_HLL_ALPHA``; 709/1000 at the default m=64) so both engines
    divide identically; unsupported m raises rather than silently using
    a biased constant. No small/large-range correction — raw estimator,
    documented; accuracy is asserted against the exact count in-row.
    """
    a_num, a_den = _hll_alpha(n_registers)
    regs = hll_registers(df, value_col, n_registers)
    pow2 = F.lit([1 << i for i in range(34)])
    s = regs.agg(
        F.sum(
            F.element_at(pow2, (F.lit(33) - F.col("rho_max")).cast("int")
                         + F.lit(1))
        ).alias("s")
    )
    exact = df.select(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    m = n_registers
    return (
        s.crossJoin(exact)
        .select(
            F.lit(m).alias("n_registers"),
            F.expr(f"{a_num * m * m} * CAST({1 << 33} AS BIGINT)"
                   f" DIV ({a_den} * s)").alias("estimate"),
            F.col("n_exact"),
        )
    )


def hll_estimate_grouped(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_registers: int = 64,
) -> DataFrame:
    """Per-group raw-HLL distinct estimate (same md5/bin register algebra
    and integer estimator as :func:`hll_estimate`, keyed by ``group_col``
    — the per-source vocabulary-size governance rollup). One (group,
    register) aggregation + a dense grid join; n_exact rides along for
    the accuracy column. Emits (group, estimate, n_exact) sorted."""
    a_num, a_den = _hll_alpha(n_registers)
    # materialize the hash ONCE per row — deriving register and rho from
    # a shared h column instead of two inline F.md5 copies halves the
    # md5 work (projection-level CSE does not always merge them)
    hashed = df.select(
        F.col(group_col),
        F.md5(F.col(value_col).cast("string")).alias("h"),
    )
    reg = (
        F.conv(F.substring("h", 1, 8), 16, 10).cast("long") % n_registers
    )
    w = F.conv(F.substring("h", 9, 8), 16, 10).cast("long")
    rho = F.when(w == 0, F.lit(33)).otherwise(
        F.lit(33) - F.length(F.bin(w))
    )
    got = (
        hashed.select(F.col(group_col), reg.alias("register"),
                      rho.alias("rho"))
        .groupBy(group_col, "register")
        .agg(F.max("rho").alias("rho_max"))
    )
    spark = df.sparkSession
    groups = df.select(group_col).distinct()
    all_regs = spark.range(n_registers).select(
        F.col("id").alias("register")
    )
    dense = (
        groups.crossJoin(F.broadcast(all_regs))
        .join(got, [group_col, "register"], "left")
        .select(
            group_col, "register",
            F.coalesce("rho_max", F.lit(0)).cast("int").alias("rho_max"),
        )
    )
    pow2 = F.lit([1 << i for i in range(34)])
    s = dense.groupBy(group_col).agg(
        F.sum(
            F.element_at(pow2, (F.lit(33) - F.col("rho_max")) + F.lit(1))
        ).alias("s")
    )
    exact = df.groupBy(group_col).agg(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    m = n_registers
    return (
        s.join(exact, group_col)
        .select(
            group_col,
            F.expr(f"{a_num * m * m} * CAST({1 << 33} AS BIGINT)"
                   f" DIV ({a_den} * s)").alias("estimate"),
            "n_exact",
        )
        .orderBy(group_col)
    )


# ---- Count-Min Sketch, engine-portable --------------------------------------
#
# Cormode & Muthukrishnan 2005. The fixed-size mergeable frequency summary:
# d hash rows x w buckets of counters; point estimate = min over rows of the
# token's bucket counter, with one-sided error (never an undercount,
# overcount <= N/w per row with probability 1 - 1/2^d when d rows are
# independent).  Same portability discipline as hll_registers: md5 is the
# hash on both engines (row j salts the input with '#j'), counters are a
# plain GROUP BY COUNT, so the sketch STATE carries a full DuckDB oracle
# hash.  The 100 TB story: GROUP BY (row, bucket) shuffles at most d*w keys
# with map-side partial aggregation regardless of token cardinality —
# constant state where GROUP BY token shuffles one record per distinct key.


def _hash32(col: F.Column, hash_mode: str = "md5") -> F.Column:
    """32-bit-space hash of a STRING column under the dual-mode
    portability contract:

    - ``'md5'`` — first-8-hex md5 slice as a BIGINT, replayable
      arithmetic-for-arithmetic in DuckDB (``('0x' || substr(md5(..),
      1, 8))::BIGINT``).  The ORACLE hash: every value-exact sketch
      query uses it, and it is what the driver's hash gate checks.
    - ``'xxh'`` — low 32 bits of Spark's whole-stage-codegen xxhash64.
      The DEPLOYMENT hash: one JVM intrinsic per value (measured ~3-6x
      cheaper per call than md5+conv), no Python, no digest string.
      DuckDB has no xxhash64, so xxh-mode queries register rows-only
      and are gated by the estimator-accuracy invariants (CMS
      overcount-only, KMV error envelope, SRM arm balance) plus their
      md5 twins, which carry the hash rows — the pl_minhash_portable
      pattern.

    The md5 portability tax is linear in volume (VERDICT r8: the only
    floor class that WIDENS with scale), which is exactly why the
    deployment path must not pay it.
    """
    if hash_mode == "md5":
        return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")
    if hash_mode == "xxh":
        return F.xxhash64(col).bitwiseAND(F.lit((1 << 32) - 1))
    raise ValueError(f"hash_mode must be 'md5' or 'xxh', got {hash_mode!r}")


def _cms_bucket(width: int, hash_mode: str = "md5") -> F.Column:
    """hash_j(v) over the columns ``v`` (string value) and ``row``
    (hash-row index) — THE one definition of the CMS bucket contract.
    cms_counters, the map side of cms_point_estimates, and its
    candidate probe all call this, so the hash can never silently
    diverge between the sketch builder and the prober.

    md5 mode: int(md5(v || '#' || j)[0:8], 16) mod width (the matching
    DuckDB arithmetic lives in the pl_cms_* oracles: ``('0x' ||
    substr(md5(..), 1, 8))::BIGINT % width``).  xxh mode: pmod of the
    MULTI-ARGUMENT xxhash64(v, row) — no concat, no digest string, one
    codegen intrinsic per (value, row) pair (see :func:`_hash32`).
    """
    if hash_mode == "xxh":
        return F.pmod(
            F.xxhash64(F.col("v"), F.col("row")), F.lit(width)
        ).alias("bucket")
    return (
        _hash32(
            F.concat(F.col("v"), F.lit("#"), F.col("row").cast("string")),
            hash_mode,
        )
        % width
    ).alias("bucket")


def _cms_sparse_counters(
    df: DataFrame,
    value_col: str,
    depth: int,
    width: int,
    hash_mode: str = "md5",
) -> DataFrame:
    """Sparse (row, bucket, cnt) CMS counters — the shared map side of
    cms_counters (which densifies over the grid) and
    cms_point_estimates (which probes it directly)."""
    from ..catalog import spread_small_scan

    seeds = F.array(*[F.lit(j) for j in range(depth)])
    # depth x N md5+conv evaluations are CPU-bound: one task over a
    # single-split sf0.1 scan made the sketch 2x SLOWER than sf1
    return (
        spread_small_scan(df.select(F.col(value_col).cast("string").alias("v")))
        .select(F.explode(seeds).alias("row"), "v")
        .select("row", _cms_bucket(width, hash_mode))
        .groupBy("row", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


def cms_counters(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
    hash_mode: str = "md5",
) -> DataFrame:
    """Dense Count-Min counter table (row, bucket, cnt) over ``value_col``.

    hash_j(v) per :func:`_cms_bucket` — md5 mode is the salted-md5
    slice replayable in DuckDB; xxh mode is the codegen xxhash64
    deployment hash (rows-only, accuracy-gated).  One scan: the row
    index is exploded from a d-element literal array (d*N intermediate
    rows, collapsed map-side by partial aggregation to at most d*w rows
    per task before the shuffle).  Empty buckets surface with cnt = 0 via
    the dense range grid, so the output is always exactly d*w rows —
    elementwise-addable (the CMS merge) by construction.
    """
    if depth < 1 or width < 1:
        raise ValueError("depth and width must be >= 1")
    spark = df.sparkSession
    got = _cms_sparse_counters(df, value_col, depth, width, hash_mode)
    grid = (
        spark.range(depth)
        .select(F.col("id").cast("int").alias("row"))
        .crossJoin(
            spark.range(width).select(F.col("id").alias("bucket"))
        )
    )
    return (
        grid.join(got, ["row", "bucket"], "left")
        .select(
            "row",
            "bucket",
            F.coalesce("cnt", F.lit(0)).cast("long").alias("cnt"),
        )
    )


def cms_point_estimates(
    df: DataFrame,
    value_col: str,
    depth: int = 4,
    width: int = 256,
    top_n: int = 20,
    hash_mode: str = "md5",
) -> DataFrame:
    """CMS point-query estimates for the ``top_n`` most frequent values,
    next to their exact counts — the accuracy ledger for the sketch.

    Candidates are the exact top-n (count desc, value asc — deterministic
    tie-break); estimate = MIN over the d rows of the candidate's bucket
    counter.  The CMS guarantee est >= exact is pinned in
    tests/test_sketch.py.  Candidate buckets always exist in the sparse
    counter table (the candidate itself contributed), so the inner join
    is total; the candidate side is top_n*d rows and broadcast.
    """
    counters = _cms_sparse_counters(df, value_col, depth, width, hash_mode)
    cand = (
        df.select(F.col(value_col).cast("string").alias("v"))
        .groupBy("v")
        .agg(F.count("*").alias("n_exact"))
        .orderBy(F.desc("n_exact"), "v")
        .limit(top_n)
    )
    cand_h = cand.select(
        "v",
        "n_exact",
        F.explode(
            F.array(*[F.lit(j) for j in range(depth)])
        ).alias("row"),
    ).select("v", "n_exact", "row", _cms_bucket(width, hash_mode))
    return (
        F.broadcast(cand_h)
        .join(counters, ["row", "bucket"])
        .groupBy("v", "n_exact")
        .agg(F.min("cnt").cast("long").alias("est_cms"))
        .select(
            F.col("v").alias("value"),
            F.col("n_exact").cast("long").alias("n_exact"),
            "est_cms",
        )
        .orderBy(F.desc("n_exact"), "value")
    )


# ---- KMV (K minimum values) distinct sketch ---------------------------------
#
# Bar-Yossef et al. 2002 / Beyer et al. 2007.  Keep the k smallest DISTINCT
# hash values; if fewer than k distinct values exist the sketch IS the
# exact answer, otherwise estimate = (k-1) * 2^32 // h_(k) — the unbiased
# KMV estimator in exact integer arithmetic over the 32-bit md5-slice hash
# space (truncating division on both engines).  Mergeable: union the
# sketches, re-take the k smallest.


def kmv_distinct(
    df: DataFrame,
    value_col: str,
    k: int = 256,
    hash_mode: str = "md5",
    prefilter: str = "jvm",
    include_exact: bool = True,
) -> DataFrame:
    """One-row KMV distinct-count estimate with the exact count alongside.

    Two LOSSLESS k-min plans (identical results, pinned by the parity
    test in tests/test_sketch.py), chosen by ``prefilter``:

    - ``'jvm'`` (default): plain distinct -> TakeOrderedAndProject.
      Spark's partial HashAggregate dedups map-side, so the shuffle is
      per-partition-DISTINCT-sized — tiny whenever distinct << rows
      (the r9 sf10 measurement: 0.8-1.3 s vs 3.4-4.0 s for the numpy
      path on 15M rows / 1.5M distinct; the Arrow transfer of every
      row was the numpy path's wall, not the hash).
    - ``'numpy'``: the partition-local numpy prefilter (np.unique -> k
      smallest) bounds the shuffle to at most k rows per partition
      REGARDLESS of cardinality — the scale mode for value sets where
      distinct ~ rows (continuous metrics), where the jvm plan's
      map-side dedup collapses nothing and the shuffle is corpus-sized.

    Both are exact: the global k smallest distinct hashes are inside
    every partition's k smallest distinct.  Driver traffic is O(k).
    Output: (k, n_kept, kth_hash, estimate[, n_exact]).

    ``include_exact=False`` drops the n_exact audit column — the
    DEPLOYMENT shape: the exact COUNT(DISTINCT) is the one stage whose
    cost scales with cardinality (a full two-exchange distinct), and a
    sketch whose ledger column costs more than the sketch defeats the
    point at 100 TB.  The md5 accuracy-ledger form keeps it.
    """
    if prefilter not in ("jvm", "numpy"):
        raise ValueError(f"prefilter must be 'jvm' or 'numpy', got {prefilter!r}")
    if k < 2:
        raise ValueError("k must be >= 2")
    spark = df.sparkSession
    hashed = df.select(
        _hash32(F.col(value_col).cast("string"), hash_mode).alias("hv")
    )

    def local_kmin(it):
        best = np.empty(0, dtype=np.int64)
        for pdf in it:
            if len(pdf) == 0:
                continue
            vals = np.unique(
                np.concatenate(
                    [best, pdf["hv"].to_numpy(dtype=np.int64)]
                )
            )
            best = vals[:k]
        yield pd.DataFrame({"hv": best})

    pre = (
        hashed.mapInPandas(local_kmin, "hv long")
        if prefilter == "numpy"
        else hashed
    )
    topk = pre.distinct().orderBy("hv").limit(k)
    agg = topk.agg(
        F.count("*").alias("n_kept"), F.max("hv").alias("kth_hash")
    )
    est = F.when(
        F.col("n_kept") < k, F.col("n_kept").cast("long")
    ).otherwise(
        F.expr(f"{(k - 1) * (1 << 32)} DIV kth_hash").cast("long")
    )
    cols = [
        F.lit(k).cast("long").alias("k"),
        F.col("n_kept").cast("long").alias("n_kept"),
        F.col("kth_hash").cast("long").alias("kth_hash"),
        est.alias("estimate"),
    ]
    if not include_exact:
        return agg.select(*cols)
    exact = df.select(
        F.count_distinct(F.col(value_col)).alias("n_exact")
    )
    return agg.crossJoin(exact).select(
        *cols, F.col("n_exact").cast("long").alias("n_exact")
    )


# ---- HDR log-histogram quantile sketch --------------------------------------
#
# The quantile member of the mergeable-summary tier (HLL = distinct, CMS =
# frequency, KMV = distinct-alt, Misra-Gries = heavy hitters, THIS =
# percentiles).  HdrHistogram-style integer bucketing (Tene; also the
# DDSketch idea with a power-of-two gamma): non-negative longs map to
# bucket v itself below 16, else (bitlen(v)-4)*8 + (v >> (bitlen(v)-4)) —
# 8 sub-buckets per octave, so every bucket spans <= 12.5% of its lower
# bound and a quantile read off the histogram has <= 12.5% relative error
# by construction.  EVERYTHING is integer arithmetic on both engines
# (bitlen = length(bin(v)) — bit-identical in Spark and DuckDB, probed),
# so the sketch state AND the estimates carry a full oracle hash.
#
# 100 TB story: the sketch is ONE groupBy on (group, bucket) with map-side
# partial aggregation — at most ~500 buckets per group regardless of row
# count, so the shuffle is constant-size where an exact percentile
# range-partitions the data.  Merging shards = summing bucket counts
# (elementwise-addable, same contract as cms_counters).


def hist_bucket_sql(v: str = "v") -> str:
    """HDR bucket index of a non-negative long column, as a SQL fragment
    valid on BOTH engines (bin() and the >> operator probed
    bit-identical on Spark 4 and DuckDB) — the one definition the
    operator and the DuckDB oracles share, same discipline as
    _cms_bucket."""
    return (
        f"CASE WHEN {v} <= 15 THEN {v} "
        f"ELSE (length(bin({v})) - 4) * 8 "
        f"+ ({v} >> (length(bin({v})) - 4)) END"
    )


def hist_bucket_lb_sql(b: str = "bucket") -> str:
    """Lower bound of an HDR bucket (inverse of hist_bucket_sql), as an
    engine-shared SQL fragment."""
    return (
        f"CASE WHEN {b} <= 15 THEN {b} "
        f"ELSE (8 + ({b} % 8)) << (CAST(({b} >> 3) AS INT) - 1) END"
    )


def hist_quantiles(
    df: DataFrame,
    value_col: str,
    group_col: str = "source",
    id_col: str = "doc_id",
    percentiles: tuple[int, ...] = (50, 90, 99),
) -> DataFrame:
    """Per-group nearest-rank percentile estimates from the HDR
    log-histogram sketch, next to the exact nearest-rank values — the
    accuracy ledger for the quantile sketch (the cms_point_estimates
    pattern).

    estimate(p) = lower bound of the first bucket whose cumulative
    count reaches rank ceil(p*n/100) (clamped >= 1) — always <= the
    exact value and within 12.5% of it by the bucket-width bound
    (pinned in tests).  ``value_col`` must be non-negative (negatives
    raise at plan build).

    Emits (group, pct, n, est, exact) ordered by (group, pct).

    Plan: histogram = one (group, bucket) shuffle with partial agg and
    <= ~500 buckets/group; the cumulative window runs over that
    metadata-sized relation.  The exact column reuses the distributed
    exact_rank plan; drop it (and its rank pass) at true scale — the
    sketch alone is the constant-state path.
    """
    from .ranking import exact_rank

    v = F.col(value_col).cast("long")
    base = df.select(
        F.col(group_col).alias("grp"), F.col(id_col).alias("_id"),
        v.alias("v"),
    ).filter(F.col("v").isNotNull())
    hist = (
        base.select(
            "grp",
            F.expr(
                "CASE WHEN v < 0 THEN raise_error('hist_quantiles: "
                "negative value') ELSE " + hist_bucket_sql("v") + " END"
            ).alias("bucket"),
        )
        .groupBy("grp", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    from pyspark.sql import Window

    w = (
        Window.partitionBy("grp")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("cnt").over(w))
    n = base.groupBy("grp").agg(F.count("*").alias("n"))
    pcts = F.explode(
        F.array(*[F.lit(int(p)) for p in percentiles])
    ).alias("pct")
    targets = n.select("grp", "n", pcts).withColumn(
        "target", F.expr("greatest((pct * n + 99) div 100, 1)")
    )
    est = (
        targets.join(cum, "grp")
        .filter(F.col("cum") >= F.col("target"))
        .groupBy("grp", "pct", "n", "target")
        .agg(F.min(F.expr(hist_bucket_lb_sql("bucket"))).alias("est"))
    )
    ranked = exact_rank(
        base, order_cols=("v", "_id"), part_cols=("grp",), rank_col="rn"
    )
    exact = (
        targets.join(ranked, ["grp"])
        .filter(F.col("rn") == F.col("target"))
        .groupBy("grp", "pct")
        .agg(F.max("v").alias("exact"))
    )
    return (
        est.join(exact, ["grp", "pct"])
        .select(
            F.col("grp").alias(group_col),
            F.col("pct").cast("int").alias("pct"),
            F.col("n").cast("long").alias("n"),
            F.col("est").cast("long").alias("est"),
            F.col("exact").cast("long").alias("exact"),
        )
        .orderBy(group_col, "pct")
    )


# ---- KMV set operations ------------------------------------------------------
#
# kmv_distinct answers "how many distinct?"; the same k-minimum-values
# signatures support SET operations between groups (Beyer et al. 2007,
# "On synopses for distinct-value estimation under multiset operations"):
# the k smallest hashes of the UNION of two sets are computable from the
# two signatures alone, and the fraction of that union-signature present
# in both sets is an unbiased Jaccard estimator.  This is what makes the
# sketch tier compositional — per-shard signatures merge into any
# group-pair overlap without rescanning data.


def kmv_jaccard(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: int = 256,
    hash_mode: str = "md5",
) -> DataFrame:
    """Pairwise Jaccard similarity estimates between groups' distinct
    value sets from per-group KMV signatures.

    Build: per-group k smallest distinct 32-bit md5-slice hashes, with
    the same partition-local numpy prefilter as kmv_distinct (<= k rows
    per (partition, group) enter the shuffle — lossless, since the
    global k smallest per group are inside every partition's k
    smallest).  Estimate per pair (a, b):

      K = k smallest of (sig_a UNION sig_b)  (the union signature)
      jaccard ~= |{h in K : h in sig_a AND h in sig_b}| / |K|

    Exact integer arithmetic end-to-end except the final division
    (single double op, ROUND 6 + signed-zero guard) — full oracle hash.

    Emits (src_a, src_b, k_used, n_both, jaccard_r6) for every unordered
    group pair, ordered.  Scale: signatures are O(groups x k) rows
    regardless of corpus size; the pair stage is algebra over
    signatures — at 1000 executors the corpus is touched once.  The
    hash pass runs in the input's stage, so a caller with a narrow
    source spreads it before exploding tokens (pipeline
    ``_kmv_jaccard_q``: the compact docs relation, not the tokens).
    """
    if k < 2:
        raise ValueError("k must be >= 2")
    from pyspark.sql import Window

    hashed = df.select(
        F.col(group_col).cast("string").alias("grp"),
        _hash32(F.col(value_col).cast("string"), hash_mode).alias("hv"),
    )

    def local_kmin_grouped(it):
        best: dict[str, np.ndarray] = {}
        for pdf in it:
            if len(pdf) == 0:
                continue
            for grp, sub in pdf.groupby("grp", sort=False):
                prev = best.get(grp, np.empty(0, dtype=np.int64))
                vals = np.unique(
                    np.concatenate(
                        [prev, sub["hv"].to_numpy(dtype=np.int64)]
                    )
                )
                best[grp] = vals[:k]
        if best:
            yield pd.DataFrame(
                {
                    "grp": np.repeat(
                        list(best.keys()),
                        [len(v) for v in best.values()],
                    ),
                    "hv": np.concatenate(list(best.values())),
                }
            )

    from .dedup import _materialize

    # the signature is referenced three times below (group census + both
    # sides of the pair expansion); persist the O(groups x k) relation so
    # the corpus is scanned exactly ONCE (plan-gated in
    # tests/test_plan_shapes.py)
    sig = _materialize(
        hashed.mapInPandas(local_kmin_grouped, "grp string, hv long")
        .distinct()
        .withColumn(
            "rn",
            F.row_number().over(Window.partitionBy("grp").orderBy("hv")),
        )
        .filter(F.col("rn") <= k)
        .select("grp", "hv")
    )
    groups = sig.select("grp").distinct()
    pairs = (
        groups.alias("a")
        .join(groups.alias("b"), F.col("a.grp") < F.col("b.grp"))
        .select(
            F.col("a.grp").alias("ga"), F.col("b.grp").alias("gb")
        )
    )
    e = (
        F.broadcast(pairs)
        .join(
            sig,
            (sig["grp"] == F.col("ga")) | (sig["grp"] == F.col("gb")),
        )
        .groupBy("ga", "gb", "hv")
        .agg(
            F.max((F.col("grp") == F.col("ga")).cast("int")).alias("in_a"),
            F.max((F.col("grp") == F.col("gb")).cast("int")).alias("in_b"),
        )
    )
    kept = e.withColumn(
        "rn",
        F.row_number().over(Window.partitionBy("ga", "gb").orderBy("hv")),
    ).filter(F.col("rn") <= k)
    return (
        kept.groupBy("ga", "gb")
        .agg(
            F.count("*").alias("k_used"),
            F.sum(F.col("in_a") * F.col("in_b")).alias("n_both"),
        )
        .select(
            F.col("ga").alias("src_a"),
            F.col("gb").alias("src_b"),
            F.col("k_used").cast("long").alias("k_used"),
            F.col("n_both").cast("long").alias("n_both"),
            (
                F.round(
                    F.col("n_both").cast("double")
                    / F.col("k_used").cast("double"),
                    6,
                )
                + F.lit(0.0)
            ).alias("jaccard_r6"),
        )
        .orderBy("src_a", "src_b")
    )


def approx_quantile_witness(
    df: DataFrame,
    value_col: str,
    group_col: str,
    pcts: tuple[int, ...] = (50, 90, 99),
    accuracy: int = 10_000,
) -> DataFrame:
    """Driver-visible correctness witness for Spark's built-in
    Greenwald-Khanna quantile sketch (``percentile_approx``): the GK
    guarantee is that the returned value's RANK is within ±n/accuracy
    of the target rank.  This operator recounts ranks of the returned
    values against the raw data in the same plan — n_lt (values
    strictly below) must not exceed target + εn and n_le (values at or
    below) must reach target - εn — and emits one boolean per (group,
    pct).  Engine sketch internals can never hash-match another
    engine; the GUARANTEE can (constant-TRUE oracle), which is the
    same pattern as pl_approx_distinct's error witness.

    ε is doubled over the nominal 1/accuracy to keep the witness from
    flapping on boundary arithmetic; the observed error on the
    testdata is far inside even the nominal bound.

    Scale: one grouped sketch pass + one broadcast of the O(groups x
    pcts) quantile relation + one recount pass — two scans total, and
    the witness is only for audits; production reads the sketch alone.
    """
    if accuracy < 100:
        raise ValueError("accuracy must be >= 100")
    qs = [p / 100.0 for p in pcts]
    if any(q <= 0 or q >= 1 for q in qs):
        raise ValueError("pcts must be in 1..99")
    base = df.select(
        F.col(group_col).alias("grp"),
        F.col(value_col).cast("double").alias("v"),
    ).filter(F.col("v").isNotNull())
    approx = base.groupBy("grp").agg(
        F.percentile_approx(
            "v", F.array(*[F.lit(q) for q in qs]), F.lit(accuracy)
        ).alias("qv"),
        F.count("*").alias("n"),
    )
    probes = approx.select(
        "grp",
        "n",
        F.explode(
            F.arrays_zip(
                F.array(*[F.lit(int(p)) for p in pcts]).alias("pct"),
                F.col("qv").alias("val"),
            )
        ).alias("z"),
    ).select(
        "grp", "n", F.col("z.pct").alias("pct"), F.col("z.val").alias("val")
    )
    counted = (
        base.join(F.broadcast(probes), "grp")
        .groupBy("grp", "pct", "n", "val")
        .agg(
            F.sum((F.col("v") < F.col("val")).cast("long")).alias("n_lt"),
            F.sum((F.col("v") <= F.col("val")).cast("long")).alias("n_le"),
        )
    )
    target = F.ceil(F.col("pct") * F.col("n") / 100.0)
    eps = 2.0 * F.col("n").cast("double") / accuracy
    return counted.select(
        F.col("grp").alias(group_col),
        F.col("pct").cast("int").alias("pct"),
        F.col("n").cast("long").alias("n"),
        (
            (F.col("n_lt").cast("double") <= target + eps)
            & (F.col("n_le").cast("double") >= target - eps)
        ).alias("rank_ok"),
    ).orderBy(group_col, "pct")
