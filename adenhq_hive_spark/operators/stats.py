"""Experiment-analysis statistics: Welch's t-test, Mann-Whitney U,
Poisson-bootstrap confidence intervals, CUSUM changepoint detection,
daily-volume autocorrelation, the SRM assignment guardrail, and CUPED
variance reduction.

The reference exposes generic "run an analysis over a metric column"
surfaces (analytics tool suite; SURVEY.md §2.4/§2.8 map them to
aggregation + scalar-function tiers); these operators give that tier the
three inference primitives every experimentation / data-quality pipeline
ends up needing: compare two cohorts (t-test parametrically,
Mann-Whitney by rank), bound an estimate (bootstrap CI), detect when a
monitored series shifted (CUSUM), characterize its memory (ACF), check
the assignment itself (SRM), and shrink the sample size a test needs
(CUPED).

Determinism contract (shared with the rest of the repo):

- Cross-row sums of doubles NEVER use a raw double accumulator — a
  distributed double sum is partial-aggregation-order dependent, which
  breaks the oracle hash.  Value sums go through DECIMAL (exact,
  order-independent; the relational money-sum discipline) and CUSUM's
  running sums go through ROUND(z*1e6) BIGINTs (exact prefix sums — a
  DuckDB windowed double sum runs on a segment tree whose association
  order differs from a sequential fold).
- Final statistics are fixed-shape scalar double expressions over those
  exact aggregates (single divisions / sqrt), then ROUND(.., 6) with the
  `+ 0.0` signed-zero guard (the r8 pl_jl_project repair — applied on
  BOTH engine and oracle sides wherever a rounded double can be zero).

Scale shape: each operator is one corpus scan with map-side partial
aggregation; shuffles carry O(groups) (t-test), O(groups x B replicate)
(bootstrap), or O(groups x days) (CUSUM) rows — all metadata-sized at
any corpus size.  The Poisson bootstrap is the at-scale bootstrap (each
row enters replicate r with an independent Poisson(1) weight, so no
global resample pass exists; Kleiner et al.'s BLB and Chamandy et al.,
"Estimating uncertainty for massive data streams" are the public
groundings) — the resample randomness is a deterministic md5 inverse-CDF
so the oracle can replay it bit-for-bit.
"""

from __future__ import annotations

import math
from fractions import Fraction

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from .sketch import _hash32

# Inverse-CDF thresholds for Poisson(1) on a uniform integer in
# [0, 1e6): weight w is the first index whose cumulative floor exceeds
# the draw.  floor(1e6 * cum_pmf) — keep in sync with the oracle CASE
# ladder in queries/pipeline.py.
POISSON1_THRESHOLDS = (
    367879, 735758, 919698, 981011, 996340, 999405, 999916, 999989, 999998,
)

_DEC = "decimal(38,6)"


def _zero_guard(col):
    """Collapse -0.0 to +0.0 (IEEE: -0.0 + 0.0 = +0.0) after rounding —
    the r8 signed-zero discipline for every rounded double the hash
    sees."""
    return col + F.lit(0.0)


def _q6(col):
    """THE 1e-6 quantization contract: q = floor(x * 1e6 + 0.5) as a
    BIGINT — one definition shared by the bootstrap replicate sums,
    CUPED unit means, and Gini totals so the engine can never silently
    diverge from the matching floor(...) in the oracle SQL (the CMS
    shared-bucket-expression discipline).  floor(+0.5) rounds half
    toward +inf — consistent on both engines by construction."""
    return F.floor(col * 1000000.0 + F.lit(0.5)).cast("long")


def welch_ttest(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Welch's unequal-variance t-test between two cohorts of a metric
    column (Welch 1947; the default two-sample test precisely because it
    does not assume equal variances).

    One corpus scan, conditional aggregation — no join between the two
    cohorts' rollups.  Per-cohort n / sum / sum-of-squares accumulate as
    exact DECIMAL(38,6) (per-row double->decimal casts are the same
    HALF_UP rule on both engines — the relational money-sum precedent),
    then mean, sample variance, t, and the Welch–Satterthwaite degrees
    of freedom are fixed-shape double expressions over the exact sums:

      t  = (m_a - m_b) / sqrt(v_a/n_a + v_b/n_b)
      df = (v_a/n_a + v_b/n_b)^2 /
           ((v_a/n_a)^2/(n_a-1) + (v_b/n_b)^2/(n_b-1))

    Emits ONE row: (group_a, group_b, n_a, n_b, mean_a_r6, mean_b_r6,
    var_a_r6, var_b_r6, t_r6, df_r4).  Cohorts with n < 2 yield NULL
    t/df (never divide by zero).

    Scale: the shuffle after map-side combine is one row per partition;
    at 100 TB this is a scan-bound single-pass aggregate.
    """
    v = F.col(value_col).cast("double")
    is_a = F.col(group_col) == group_a
    is_b = F.col(group_col) == group_b
    agg = (
        df.filter(is_a | is_b)
        .select(
            is_a.cast("long").alias("w_a"),
            is_b.cast("long").alias("w_b"),
            v.cast(_DEC).alias("vd"),
            (v * v).cast(_DEC).alias("v2d"),
        )
        .agg(
            F.sum("w_a").alias("n_a"),
            F.sum("w_b").alias("n_b"),
            F.sum(F.when(F.col("w_a") == 1, F.col("vd"))).alias("s_a"),
            F.sum(F.when(F.col("w_b") == 1, F.col("vd"))).alias("s_b"),
            F.sum(F.when(F.col("w_a") == 1, F.col("v2d"))).alias("ss_a"),
            F.sum(F.when(F.col("w_b") == 1, F.col("v2d"))).alias("ss_b"),
        )
    )

    def _stats(n, s, ss):
        nd = F.col(n).cast("double")
        sd = F.col(s).cast("double")
        ssd = F.col(ss).cast("double")
        mean = sd / nd
        var = F.when(
            F.col(n) > 1, (ssd - sd * sd / nd) / (nd - 1.0)
        )
        return mean, var

    mean_a, var_a = _stats("n_a", "s_a", "ss_a")
    mean_b, var_b = _stats("n_b", "s_b", "ss_b")
    se2_a = var_a / F.col("n_a").cast("double")
    se2_b = var_b / F.col("n_b").cast("double")
    se2 = se2_a + se2_b
    t = F.when(se2 > 0, (mean_a - mean_b) / F.sqrt(se2))
    dof = F.when(
        se2 > 0,
        (se2 * se2)
        / (
            se2_a * se2_a / (F.col("n_a").cast("double") - 1.0)
            + se2_b * se2_b / (F.col("n_b").cast("double") - 1.0)
        ),
    )
    return agg.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        _zero_guard(F.round(mean_a, 6)).alias("mean_a_r6"),
        _zero_guard(F.round(mean_b, 6)).alias("mean_b_r6"),
        _zero_guard(F.round(var_a, 6)).alias("var_a_r6"),
        _zero_guard(F.round(var_b, 6)).alias("var_b_r6"),
        _zero_guard(F.round(t, 6)).alias("t_r6"),
        _zero_guard(F.round(dof, 4)).alias("df_r4"),
    )


def _bootstrap_partials_arrow(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_col: str,
    b: int,
    n_salts: int,
) -> DataFrame:
    """Arrow-kernel replicate partials for :func:`poisson_bootstrap_ci`
    — (grp, r, n_r, s_hi, s_lo) per input partition, BIT-EXACT to the
    JVM path (same md5 digests via hashlib, same word slices, same
    threshold ladder, same q = floor((w*v)*1e6 + 0.5) in IEEE doubles,
    same trunc-division hi/lo split so partial sums reconstruct the
    identical total).

    Why a Python stage can win here: the JVM path evaluates
    md5+hex+conv+an 9-arm CASE ladder per (row, replicate) through
    codegen — measured 160M digests in ~30 s at sf10.  The kernel does
    one hashlib.md5 per (row, salt) into a contiguous buffer, then
    np.frombuffer + vectorized %1e6 + searchsorted for the whole batch,
    and — crucially — aggregates to O(groups x b) partials INSIDE the
    worker, so Arrow never ships the exploded B x N rows anywhere.
    """
    import struct  # noqa: F401 — documents the word layout dependency

    thresholds = np.array(POISSON1_THRESHOLDS, dtype=np.int64)

    def partials(it):
        acc: dict[str, list[np.ndarray]] = {}
        salts = [b"#" + str(g).encode() for g in range(n_salts)]
        from hashlib import md5 as _md5

        for pdf in it:
            n = len(pdf)
            if n == 0:
                continue
            ids = pdf["_id"].to_numpy()
            vs = pdf["v"].to_numpy(dtype=np.float64)
            grps = pdf["grp"].to_numpy()
            buf = bytearray(n * n_salts * 16)
            mv = memoryview(buf)
            pos = 0
            null_rows = []
            for i in range(n):
                sid = ids[i]
                if sid is None:
                    null_rows.append(i)
                    pos += n_salts * 16
                    continue
                kb = sid.encode()
                for sb in salts:
                    mv[pos : pos + 16] = _md5(kb + sb).digest()
                    pos += 16
            # the JVM slices the HEX digest 8 chars at a time =
            # 4-byte big-endian words of the raw digest
            words = (
                np.frombuffer(buf, dtype=">u4")
                .reshape(n, n_salts * 4)
                .astype(np.int64)
            )
            u = (words % 1000000)[:, :b]
            # first i with u < T[i], else len(T) — the CASE ladder
            w = np.searchsorted(thresholds, u, side="right")
            if null_rows:
                # JVM: NULL id -> NULL digest -> every WHEN condition
                # NULL -> the final OTHERWISE arm, w = len(thresholds)
                w[null_rows, :] = len(thresholds)
            prod = (w * vs[:, None]) * 1e6 + 0.5
            valid = ~np.isnan(prod)
            q = np.where(valid, np.floor(prod), 0.0).astype(np.int64)
            # Spark DIV truncates toward zero; % keeps dividend sign
            sign = np.sign(q)
            aq = np.abs(q)
            q_hi = sign * (aq // 1000000)
            q_lo = q - q_hi * 1000000
            q_hi[~valid] = 0
            q_lo[~valid] = 0
            for grp in pd.unique(grps):
                m = grps == grp
                part = acc.setdefault(
                    grp,
                    [
                        np.zeros(b, dtype=np.int64),
                        np.zeros(b, dtype=np.int64),
                        np.zeros(b, dtype=np.int64),
                    ],
                )
                part[0] += w[m].sum(axis=0)
                part[1] += q_hi[m].sum(axis=0)
                part[2] += q_lo[m].sum(axis=0)
        if not acc:
            return
        out_g, out_r, out_n, out_hi, out_lo = [], [], [], [], []
        for grp, (n_r, s_hi, s_lo) in acc.items():
            out_g.extend([grp] * b)
            out_r.extend(range(b))
            out_n.extend(n_r.tolist())
            out_hi.extend(s_hi.tolist())
            out_lo.extend(s_lo.tolist())
        yield pd.DataFrame(
            {
                "grp": out_g,
                "r": np.array(out_r, dtype=np.int32),
                "n_r": np.array(out_n, dtype=np.int64),
                "s_hi": np.array(out_hi, dtype=np.int64),
                "s_lo": np.array(out_lo, dtype=np.int64),
            }
        )

    from ..catalog import spread_small_scan

    return (
        spread_small_scan(
            df.select(
                F.col(group_col).cast("string").alias("grp"),
                F.col(id_col).cast("string").alias("_id"),
                F.col(value_col).cast("double").alias("v"),
            )
        )
        .mapInPandas(
            partials,
            "grp string, r int, n_r long, s_hi long, s_lo long",
        )
        .groupBy("grp", "r")
        .agg(
            F.sum("n_r").alias("n_r"),
            F.sum("s_hi").alias("s_hi"),
            F.sum("s_lo").alias("s_lo"),
        )
    )


def poisson_bootstrap_ci(
    df: DataFrame,
    id_col: str,
    value_col: str,
    group_col: str,
    b: int = 64,
    lo_pct: float = 2.5,
    hi_pct: float = 97.5,
    kernel: str = "jvm",
) -> DataFrame:
    """Per-group bootstrap confidence interval for the mean via the
    POISSON bootstrap — the resampling scheme that works on unbounded /
    sharded data because each row independently enters replicate r with
    weight ~ Poisson(1) (E[total weight] = n), so no replicate ever
    needs a global sample pass.

    Determinism: the Poisson draw is the inverse CDF applied to
    u = int(slice_{r mod 4}(md5(id || '#' || r div 4)), 16) mod 1e6 — a
    fixed integer threshold ladder (POISSON1_THRESHOLDS), replayable
    bit-for-bit by the DuckDB oracle.  One md5 digest is 32 hex chars =
    FOUR independent 8-hex uniforms, so B replicates cost B/4 digests
    per row (measured 4x on the md5-bound wall clock, both engines).
    Replicate means quantize w*v to 1e-6 (q = floor(w*v*1e6 + 0.5),
    the same definition on both engines) and sum q in a scaled-BIGINT
    hi/lo split — exact, order-independent, and on Spark's codegen fast
    path where a DECIMAL aggregation buffer cost +4 s at sf1; the CI
    bounds are nearest-rank
    order statistics (rank ceil(pct/100 * B)) over the B replicate
    means, tie-broken by replicate index — no interpolation, no float
    accumulation anywhere.

    Emits one row per group: (group_col, n, b, mean_r6, lo_r6, hi_r6),
    ordered by group.  The group column is emitted as its STRING form
    in both kernels (the arrow kernel's mapInPandas schema fixes it to
    string; the jvm path casts to match) — kernel choice never changes
    the output schema or values.

    Scale: ONE scan; the explode(sequence(0, B-1)) runs inside the scan
    stage and map-side combine reduces it to O(groups x B) shuffle rows.
    Per-row CPU is B md5 evaluations — the portability tax (a production
    build would swap xxhash64 in; md5 is what both engines share).
    """
    if b < 4:
        raise ValueError("b must be >= 4")
    # ceil(pct/100 * b) computed exactly (Fraction of the decimal
    # literal) — an int() before the ceiling truncates pct*b and picks
    # rank-1 for e.g. lo_pct=12.505, b=8 (pct*b=100.04 -> ceil 2), and
    # plain float ceil can bump an exact-integer case on a 1-ulp error
    lo_rank = max(1, math.ceil(Fraction(str(lo_pct)) * b / 100))
    hi_rank = max(1, math.ceil(Fraction(str(hi_pct)) * b / 100))
    v = F.col(value_col).cast("double")

    # double explode: the digest column is bound to the OUTER (salt
    # group) generator, so the JVM computes B/4 md5+concat per row —
    # a single explode over r with md5(id # r div 4) re-evaluates the
    # digest for all four r sharing a salt (measured 86 s -> engine
    # md5 work /4 at sf10)
    u6 = (
        F.conv(
            F.col("digest").substr(
                (F.lit(1) + F.col("s") * 8).cast("int"), F.lit(8)
            ),
            16,
            10,
        ).cast("long")
        % 1000000
    )
    w = F.lit(len(POISSON1_THRESHOLDS))
    for i in range(len(POISSON1_THRESHOLDS) - 1, -1, -1):
        w = F.when(u6 < POISSON1_THRESHOLDS[i], i).otherwise(w)

    from ..catalog import spread_small_scan

    # the B-way explode + md5 ladder is CPU-bound and embarrassingly
    # parallel: spread the narrow projection across cores first
    n_salts = (b + 3) // 4
    if kernel == "arrow":
        agg_rep = _bootstrap_partials_arrow(
            df, id_col, value_col, group_col, b, n_salts
        )
    elif kernel != "jvm":
        raise ValueError(f"kernel must be 'jvm' or 'arrow', got {kernel!r}")
    else:
        agg_rep = (
        spread_small_scan(
            df.select(
                # string-cast to match the arrow kernel's mapInPandas
                # output schema ('grp string') — both kernels emit the
                # group key as its string form, so kernel choice never
                # changes the result schema (the bit-exact contract)
                F.col(group_col).cast("string").alias("grp"),
                F.col(id_col).alias("_id"),
                v.alias("v"),
            )
        )
        .withColumn(
            "g", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1)))
        )
        .withColumn(
            "digest",
            F.md5(
                F.concat(
                    F.col("_id").cast("string"),
                    F.lit("#"),
                    F.col("g").cast("string"),
                )
            ),
        )
        .withColumn("s", F.explode(F.sequence(F.lit(0), F.lit(3))))
        .withColumn("r", F.col("g") * 4 + F.col("s"))
        .filter(F.col("r") < b)
        .select(
            "grp",
            "r",
            w.cast("long").alias("w"),
            "v",
        )
        .withColumn(
            "q", _q6(F.col("w").cast("double") * F.col("v"))
        )
        .groupBy("grp", "r")
        .agg(
            F.sum("w").alias("n_r"),
            # scaled-BIGINT hi/lo split (the relational _fast_money
            # shape): Spark's DECIMAL aggregation buffer runs off the
            # codegen fast path and cost +4 s at sf1 here; the split
            # stays in longs and is overflow-proof past 1e13 rows.
            # BOTH engines define the sum over q = floor(w*v*1e6 + .5)
            # so parity is by construction, not by cast-rule luck.
            F.sum(F.expr("q DIV 1000000")).alias("s_hi"),
            F.sum(F.expr("q % 1000000")).alias("s_lo"),
        )
        )
    rep = agg_rep.select(
        "grp",
        "r",
        F.when(
            F.col("n_r") > 0,
            F.expr(
                "CAST(CAST(s_hi AS DECIMAL(38,0)) * 1000000 + s_lo"
                " AS DOUBLE)"
            )
            / 1000000.0
            / F.col("n_r").cast("double"),
        ).alias("mean_r"),
    )
    wnd = Window.partitionBy("grp").orderBy("mean_r", "r")
    ranked = rep.withColumn("rn", F.row_number().over(wnd))
    ci = ranked.groupBy("grp").agg(
        F.max(F.when(F.col("rn") == lo_rank, F.col("mean_r"))).alias("lo"),
        F.max(F.when(F.col("rn") == hi_rank, F.col("mean_r"))).alias("hi"),
    )
    q0 = _q6(v)
    base = (
        df.select(
            F.col(group_col).cast("string").alias("grp"), q0.alias("q0")
        )
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.expr("q0 DIV 1000000")).alias("s_hi"),
            F.sum(F.expr("q0 % 1000000")).alias("s_lo"),
        )
        .select(
            "grp",
            "n",
            (
                F.expr(
                    "CAST(CAST(s_hi AS DECIMAL(38,0)) * 1000000 + s_lo"
                    " AS DOUBLE)"
                )
                / 1000000.0
                / F.col("n").cast("double")
            ).alias("mean"),
        )
    )
    return (
        base.join(ci, "grp")
        .select(
            F.col("grp").alias(group_col),
            F.col("n").cast("long").alias("n"),
            F.lit(b).cast("long").alias("b"),
            _zero_guard(F.round(F.col("mean"), 6)).alias("mean_r6"),
            _zero_guard(F.round(F.col("lo"), 6)).alias("lo_r6"),
            _zero_guard(F.round(F.col("hi"), 6)).alias("hi_r6"),
        )
        .orderBy(group_col)
    )


def cusum_changepoints(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    slack: float = 0.5,
    threshold: float = 4.0,
) -> DataFrame:
    """Two-sided CUSUM changepoint detection on each group's daily event
    counts (Page 1954) — the monitoring primitive for "did this source's
    volume shift?".

    S+_t = max(0, S+_{t-1} + z_t - k) accumulates evidence of an upward
    shift (S- symmetrically downward), alarm when S exceeds h.  The
    recursion is rewritten to pure window algebra via the prefix-sum
    identity  S+_t = P_t - min(0, min_{j<=t} P_j)  with
    P_t = sum_{i<=t} (z_i - k) — a running sum and a running min, both
    expressible on any engine.

    Determinism: z_t = (x_t - mean)/sd is a fixed-shape per-row double
    expression over exact BIGINT daily counts, immediately quantized to
    a BIGINT via ROUND(z*1e6) — ALL window accumulation then runs in
    exact integers (a windowed double sum differs between a sequential
    fold and DuckDB's segment tree), and S is divided back to a r6
    double at the end.

    Emits one row per (group, day): (group_col, day, x, s_pos_r6,
    s_neg_r6, alarm_pos, alarm_neg), ordered.

    Scale: the daily rollup is the only data-sized shuffle; windows then
    run over O(groups x days) rows.  A group's full history must sort
    within one task — bounded by days-per-group, not corpus rows.
    """
    daily = (
        df.groupBy(
            F.col(group_col).alias("grp"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(F.count("*").alias("x"))
    )
    stats = daily.groupBy("grp").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("s"),
        F.sum(F.col("x") * F.col("x")).alias("ss"),
    )
    nd = F.col("n_days").cast("double")
    mean = F.col("s").cast("double") / nd
    var = F.col("ss").cast("double") / nd - mean * mean
    j = daily.join(F.broadcast(stats), "grp").withColumn(
        "z6",
        # gate on var > 0 (not sqrt(var) > 0) so neither engine ever
        # evaluates sqrt of a float-noise-negative variance
        F.when(
            var > 0,
            F.round(
                (F.col("x").cast("double") - mean) / F.sqrt(var), 6
            ),
        )
        .otherwise(F.lit(0.0))
        .cast("double"),
    )
    k6 = int(round(slack * 1_000_000))
    h6 = int(round(threshold * 1_000_000))
    zi = F.round(F.col("z6") * 1e6).cast("long")
    stepped = j.select(
        "grp",
        "day",
        "x",
        (zi - F.lit(k6)).alias("d_pos"),
        (-zi - F.lit(k6)).alias("d_neg"),
    )
    wrun = (
        Window.partitionBy("grp")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = stepped.withColumn("p_pos", F.sum("d_pos").over(wrun)).withColumn(
        "p_neg", F.sum("d_neg").over(wrun)
    )
    s_pos = F.col("p_pos") - F.least(F.lit(0), F.min("p_pos").over(wrun))
    s_neg = F.col("p_neg") - F.least(F.lit(0), F.min("p_neg").over(wrun))
    return (
        p.withColumn("sp", s_pos)
        .withColumn("sn", s_neg)
        .select(
            F.col("grp").alias(group_col),
            "day",
            F.col("x").cast("long").alias("x"),
            (F.col("sp").cast("double") / 1e6).alias("s_pos_r6"),
            (F.col("sn").cast("double") / 1e6).alias("s_neg_r6"),
            (F.col("sp") > h6).alias("alarm_pos"),
            (F.col("sn") > h6).alias("alarm_neg"),
        )
        .orderBy(group_col, "day")
    )


def mann_whitney_u(
    df: DataFrame,
    value_col: str,
    group_col: str,
    group_a: str,
    group_b: str,
) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) test between two cohorts —
    the nonparametric partner to :func:`welch_ttest` (Mann & Whitney
    1947): compares distributions by rank, robust to outliers and
    non-normality.

    EXACT INTEGER rank algebra: grouping by distinct value, the
    doubled midrank of a tie class equals 2*(count below) + (count in
    class) + 1 — an integer — so the doubled rank sum 2R_a =
    sum_v c_a(v) * (2*below(v) + c(v) + 1) accumulates exactly with
    no floating ranks anywhere.  U_a = R_a - n_a(n_a+1)/2; the normal
    approximation uses the tie-corrected variance

      var = (n_a*n_b/12) * ((n+1) - sum_v(c^3 - c) / (n*(n-1)))

    Every integer product that is quadratic-or-worse in n — the
    per-class r2_a term (~2n^2), n_a*(n_a+1), and the c^3 tie sum —
    is carried in DECIMAL(38,0): at multi-billion-row cohorts a BIGINT
    product would wrap silently on Spark (non-ANSI) while the oracle
    raises, emitting a wrong u2_a/z instead of failing.  The variance
    is assembled by interleaved double divisions so no exact product
    exceeds DECIMAL(38,0) at any corpus size (the kappa discipline).
    z applies the 0.5 continuity correction toward the null.

    Emits ONE row: (group_a, group_b, n_a, n_b, u2_a (=2*U_a, exact
    BIGINT), u_a_r1, z_r6).  Degenerate cases (a cohort empty, or all
    values tied so var = 0) yield NULL z.

    Scale: one scan -> one (value)-keyed count aggregation (shuffle =
    distinct-value cardinality; for continuous metrics that is ~n, so
    the prefix sum below NEVER uses a global-ordered window — it
    buckets on value with a DETERMINISTIC equal-width grid and adds
    per-bucket prefix offsets: no stage holds more than one bucket's
    rows in a task, and every branch sees identical bucket boundaries,
    which sampled repartitionByRange does not guarantee) -> a one-row
    fold.
    """
    is_a = F.col(group_col) == group_a
    is_b = F.col(group_col) == group_b
    per_v = (
        df.filter(is_a | is_b)
        .groupBy(F.col(value_col).alias("v"))
        .agg(
            F.sum(is_a.cast("long")).alias("c_a"),
            F.sum(is_b.cast("long")).alias("c_b"),
        )
        .withColumn("c", F.col("c_a") + F.col("c_b"))
    )
    # distributed exclusive prefix sum of c in value order.  NOT
    # repartitionByRange: its sampled boundaries are nondeterministic
    # per subtree, so the offsets branch and the window branch can
    # disagree (observed as a wrong rank sum at sf0.1).  Instead an
    # EXPLICIT equal-width value bucketing — deterministic, order-
    # preserving, identical in every branch; per-bucket totals fold to
    # a broadcast exclusive prefix, the local cumsum windows per
    # bucket.  (Equal-width can skew on pathological value
    # distributions — correctness is unaffected; swap in sketch-based
    # quantile boundaries if a deployment hits it.)
    P = max(df.sparkSession.sparkContext.defaultParallelism, 1)
    mm = per_v.agg(F.min("v").alias("vmin"), F.max("v").alias("vmax"))
    bucketed = per_v.crossJoin(F.broadcast(mm)).withColumn(
        "_bkt",
        F.when(
            F.col("vmax") > F.col("vmin"),
            F.least(
                F.lit(P - 1),
                F.floor(
                    (F.col("v") - F.col("vmin"))
                    / (F.col("vmax") - F.col("vmin"))
                    * P
                ).cast("int"),
            ),
        ).otherwise(F.lit(0)),
    )
    bcounts = bucketed.groupBy("_bkt").agg(F.sum("c").alias("_cnt"))
    lo = bcounts.select(
        F.col("_bkt").alias("_lo_bkt"), F.col("_cnt").alias("_lo_cnt")
    )
    offsets = (
        bcounts.join(
            F.broadcast(lo), F.col("_lo_bkt") < F.col("_bkt"), "left"
        )
        .groupBy("_bkt")
        .agg(F.coalesce(F.sum("_lo_cnt"), F.lit(0)).alias("_off"))
    )
    local_w = (
        Window.partitionBy("_bkt")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ranked = (
        bucketed.withColumn("_lcum", F.sum("c").over(local_w))
        .join(F.broadcast(offsets), "_bkt")
        .withColumn(
            "below", F.col("_off") + F.col("_lcum") - F.col("c")
        )
    )
    agg = ranked.agg(
        F.sum("c_a").alias("n_a"),
        F.sum("c_b").alias("n_b"),
        F.sum(
            F.col("c_a").cast("decimal(38,0)")
            * (F.lit(2) * F.col("below") + F.col("c") + F.lit(1))
            .cast("decimal(38,0)")
        ).alias("r2_a"),
        F.sum(
            (
                F.col("c").cast("decimal(38,0)")
                * F.col("c").cast("decimal(38,0)")
                * F.col("c").cast("decimal(38,0)")
                - F.col("c").cast("decimal(38,0)")
            )
        ).alias("tie3"),
    )
    n_a = F.col("n_a").cast("double")
    n_b = F.col("n_b").cast("double")
    n = F.col("n_a") + F.col("n_b")
    nd = n.cast("double")
    # 2*U_a = 2R_a - n_a(n_a+1): keep exact in DECIMAL(38,0) (the
    # n_a*(n_a+1) product wraps BIGINT around n_a ~ 3e9); halve only
    # in the double
    u2 = F.col("r2_a") - F.col("n_a").cast("decimal(38,0)") * (
        F.col("n_a") + 1
    ).cast("decimal(38,0)")
    u = u2.cast("double") / 2.0
    mu = n_a * n_b / 2.0
    var = (
        (n_a * n_b / 12.0)
        * (
            (nd + 1.0)
            - F.col("tie3").cast("double") / (nd * (nd - 1.0))
        )
    )
    # continuity correction toward the null, sign-aware
    cc = F.when(u > mu, u - 0.5).when(u < mu, u + 0.5).otherwise(u)
    z = F.when(
        (F.col("n_a") > 0) & (F.col("n_b") > 0) & (var > 0),
        (cc - mu) / F.sqrt(var),
    )
    return agg.select(
        F.lit(group_a).alias("group_a"),
        F.lit(group_b).alias("group_b"),
        F.col("n_a").cast("long").alias("n_a"),
        F.col("n_b").cast("long").alias("n_b"),
        u2.cast("long").alias("u2_a"),
        _zero_guard(F.round(u, 1)).alias("u_a_r1"),
        _zero_guard(F.round(z, 6)).alias("z_r6"),
    )


def autocorr_daily(
    df: DataFrame,
    ts_col: str,
    group_col: str,
    max_lag: int = 7,
) -> DataFrame:
    """Lag-1..K autocorrelation of each group's daily event counts —
    the seasonality/persistence diagnostic next to :func:`
    cusum_changepoints` (a strong weekly cycle shows as an acf_7
    spike; near-zero everywhere means volume is memoryless).

    The standard ACF estimator r_k = sum_t (x_t - m)(x_{t+k} - m) /
    sum_t (x_t - m)^2 is assembled from EXACT integer aggregates by
    clearing denominators with n^2:

      n^2 * num_k = n^2*S_xy(k) - n*s*S_pair(k) + (n-k)*s^2
      n^2 * den   = n^2*S_xx    - n*s^2

    (s = sum x, S_xx = sum x^2 over all days, S_xy(k)/S_pair(k) over
    the (n-k) lag pairs) — every term a DECIMAL(38,0) product of
    BIGINT day-counts, so both engines agree bit-for-bit before ONE
    double division, ROUND 6.  The lag pairing is lead(x, k) over the
    day order.

    Emits (group_col, lag, n_days, n_pairs, acf_r6), ordered; lags
    with fewer than 2 pairs or a constant series yield NULL acf.

    Scale: the daily rollup is the only data-sized shuffle; the K
    lead-windows and folds run over O(groups x days) rows.
    """
    if max_lag < 1:
        raise ValueError("max_lag must be >= 1")
    daily = (
        df.groupBy(
            F.col(group_col).alias("grp"),
            F.date_trunc("day", F.col(ts_col)).alias("day"),
        )
        .agg(F.count("*").alias("x"))
    )
    wd = Window.partitionBy("grp").orderBy("day")
    lagged = daily.select(
        "grp",
        "x",
        *[
            F.lead("x", k).over(wd).alias(f"x_{k}")
            for k in range(1, max_lag + 1)
        ],
    )
    dec = "decimal(38,0)"
    per_lag = []
    for k in range(1, max_lag + 1):
        xk = F.col(f"x_{k}")
        per_lag.append(
            F.struct(
                F.lit(k).alias("lag"),
                F.sum(
                    F.when(
                        xk.isNotNull(),
                        F.col("x").cast(dec) * xk.cast(dec),
                    )
                ).alias("s_xy"),
                F.sum(
                    F.when(xk.isNotNull(), (F.col("x") + xk).cast(dec))
                ).alias("s_pair"),
                F.sum(xk.isNotNull().cast("long")).alias("n_pairs"),
            )
        )
    folded = lagged.groupBy("grp").agg(
        F.count("*").alias("n_days"),
        F.sum("x").alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x").cast(dec)).alias("s_xx"),
        F.array(*per_lag).alias("lags"),
    )
    e = folded.select(
        "grp", "n_days", "s", "s_xx", F.explode("lags").alias("L")
    ).select(
        "grp",
        "n_days",
        F.col("L.lag").alias("lag"),
        F.col("L.n_pairs").alias("n_pairs"),
        (
            F.col("n_days").cast(dec) * F.col("n_days").cast(dec)
            * F.col("L.s_xy")
            - F.col("n_days").cast(dec) * F.col("s").cast(dec)
            * F.col("L.s_pair")
            + (F.col("n_days") - F.col("L.lag")).cast(dec)
            * F.col("s").cast(dec) * F.col("s").cast(dec)
        ).alias("num"),
        (
            F.col("n_days").cast(dec) * F.col("n_days").cast(dec)
            * F.col("s_xx")
            - F.col("n_days").cast(dec) * F.col("s").cast(dec)
            * F.col("s").cast(dec)
        ).alias("den"),
    )
    return e.select(
        F.col("grp").alias(group_col),
        F.col("lag").cast("int").alias("lag"),
        F.col("n_days").cast("long").alias("n_days"),
        F.col("n_pairs").cast("long").alias("n_pairs"),
        F.when(
            (F.col("n_pairs") > 1) & (F.col("den") > 0),
            _zero_guard(
                F.round(
                    F.col("num").cast("double")
                    / F.col("den").cast("double"),
                    6,
                )
            ),
        ).alias("acf_r6"),
    ).orderBy(group_col, "lag")


def srm_check(
    df: DataFrame,
    unit_col: str,
    group_col: str | None = None,
    salt: str = "srm",
    hash_mode: str = "md5",
) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/50 split (the first
    check every experimentation platform runs — Fabijan et al. 2019:
    a skewed assignment ratio invalidates the experiment before any
    metric is read).

    Units are assigned to arms by the deterministic md5 parity of
    unit_col (the engine's hash_split contract), so the oracle replays
    the assignment.  For two arms at expected 50/50 the chi-square
    statistic collapses to exact integer algebra:

      chi2 = (n_0 - n_1)^2 / n

    — ONE double division over BIGINTs, ROUND 6.  `mismatch` flags
    chi2 > 3.841 (df=1 critical value at p = 0.05).

    Emits one row per group (or a single '_all' row): (group?, n,
    n_arm0, n_arm1, chi2_r6, mismatch), ordered.  Scale: one count
    rollup, O(groups) shuffle.
    """
    if hash_mode == "xxh":
        # deployment hash: one multi-argument codegen intrinsic per
        # unit, no concat/digest (see sketch._hash32's contract note);
        # rows-only — the md5 form carries the oracle hash row
        arm = F.pmod(
            F.xxhash64(F.col(unit_col).cast("string"), F.lit(salt)),
            F.lit(2),
        )
    else:
        arm = (
            _hash32(
                F.concat(F.col(unit_col).cast("string"), F.lit("#" + salt))
            )
            % 2
        )
    from ..catalog import spread_small_scan

    grp = (
        F.col(group_col) if group_col is not None else F.lit("_all")
    ).alias("grp")
    cols = [unit_col] + ([group_col] if group_col is not None else [])
    agg = (
        # per-row md5 is CPU-bound — spread an under-split scan first
        spread_small_scan(df.select(*cols))
        .select(grp, arm.alias("arm"))
        .groupBy("grp")
        .agg(
            F.count("*").alias("n"),
            F.sum((F.col("arm") == 0).cast("long")).alias("n_arm0"),
            F.sum((F.col("arm") == 1).cast("long")).alias("n_arm1"),
        )
    )
    d = F.col("n_arm0") - F.col("n_arm1")
    chi2 = (d * d).cast("double") / F.col("n").cast("double")
    out_group = "grp" if group_col is None else group_col
    return agg.select(
        F.col("grp").alias(out_group),
        F.col("n").cast("long").alias("n"),
        F.col("n_arm0").cast("long").alias("n_arm0"),
        F.col("n_arm1").cast("long").alias("n_arm1"),
        _zero_guard(F.round(chi2, 6)).alias("chi2_r6"),
        (chi2 > 3.841).alias("mismatch"),
    ).orderBy(out_group)


def cuped_adjust(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    ts_col: str,
    split_ts: str,
) -> DataFrame:
    """CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM 2013):
    use each unit's PRE-period metric as a control covariate so the
    experiment needs  var(post - theta*pre) / var(post)  of the sample
    size, with  theta = cov(pre, post) / var(pre).

    Per-unit pre/post means are exact scaled-BIGINT averages quantized
    to 1e-6 (q = floor(mean*1e6 + 0.5) over hi/lo-split sums — the
    bootstrap discipline); theta and the variances then come from
    n-cleared DECIMAL(38,0) products of those BIGINTs (the autocorr
    discipline), so both engines agree bit-for-bit before three double
    divisions.

    Emits ONE row: (n_units, theta_r6, var_post_r6, var_adj_r6,
    reduction_pct_r4 = 100*(1 - var_adj/var_post)).  Units need >= 1
    event in EACH period to enter (the standard CUPED cohort); a
    degenerate pre-period (var_pre = 0) yields NULL theta and zero
    reduction.

    Scale: one (unit, period) rollup, one unit-level fold — shuffles
    keyed by unit then constant.  var_adj = var_post - cov^2/var_pre
    algebraically, so no second pass over adjusted values is needed.
    """
    period = F.col(ts_col) >= F.lit(split_ts).cast("timestamp")
    v = F.col(value_col).cast("double")
    q = _q6(v)
    per_unit = (
        df.select(
            F.col(unit_col).alias("u"),
            period.cast("int").alias("post"),
            q.alias("q"),
        )
        .groupBy("u", "post")
        .agg(
            F.count("*").alias("c"),
            F.sum(F.expr("q DIV 1000000")).alias("hi"),
            F.sum(F.expr("q % 1000000")).alias("lo"),
        )
        .withColumn(
            "mean6",
            # per-unit mean, re-quantized to 1e-6 as a BIGINT: all
            # cross-unit moments below stay in exact integer algebra
            F.floor(
                F.expr(
                    "CAST(CAST(hi AS DECIMAL(38,0)) * 1000000 + lo"
                    " AS DOUBLE)"
                )
                / F.col("c").cast("double")
                + F.lit(0.5)
            ).cast("long"),
        )
    )
    wide = (
        per_unit.groupBy("u")
        .agg(
            F.max(F.when(F.col("post") == 0, F.col("mean6"))).alias("pre6"),
            F.max(F.when(F.col("post") == 1, F.col("mean6"))).alias(
                "post6"
            ),
        )
        .filter(F.col("pre6").isNotNull() & F.col("post6").isNotNull())
    )
    dec = "decimal(38,0)"
    m = wide.agg(
        F.count("*").alias("n"),
        F.sum(F.col("pre6")).alias("s_x"),
        F.sum(F.col("post6")).alias("s_y"),
        F.sum(F.col("pre6").cast(dec) * F.col("pre6").cast(dec)).alias(
            "s_xx"
        ),
        F.sum(F.col("post6").cast(dec) * F.col("post6").cast(dec)).alias(
            "s_yy"
        ),
        F.sum(F.col("pre6").cast(dec) * F.col("post6").cast(dec)).alias(
            "s_xy"
        ),
    )
    nd = F.col("n").cast("double")
    # n-cleared moments: n*sum - sum*sum, each a DECIMAL(38,0) value
    def _ncl(spp, sa, sb):
        return (
            F.col("n").cast(dec) * F.col(spp)
            - F.col(sa).cast(dec) * F.col(sb).cast(dec)
        ).cast("double")

    var_x = _ncl("s_xx", "s_x", "s_x")  # n^2 * var * 1e12, unscaled
    var_y = _ncl("s_yy", "s_y", "s_y")
    cov = _ncl("s_xy", "s_x", "s_y")
    theta = F.when(var_x > 0, cov / var_x)
    # population variances in metric units: divide by n^2 * 1e12
    scale = nd * nd * 1e12
    var_post = var_y / scale
    var_adj = F.when(var_x > 0, (var_y - cov * cov / var_x) / scale).otherwise(
        var_y / scale
    )
    reduction = F.when(
        var_y > 0, 100.0 * (F.lit(1.0) - var_adj / var_post)
    ).otherwise(F.lit(0.0))
    return m.select(
        F.col("n").cast("long").alias("n_units"),
        _zero_guard(F.round(theta, 6)).alias("theta_r6"),
        _zero_guard(F.round(var_post, 6)).alias("var_post_r6"),
        _zero_guard(F.round(var_adj, 6)).alias("var_adj_r6"),
        _zero_guard(F.round(reduction, 4)).alias("reduction_pct_r4"),
    )


def gini_concentration(
    df: DataFrame,
    unit_col: str,
    value_col: str,
    group_col: str,
) -> DataFrame:
    """Per-group Gini coefficient of value concentration across units
    (Gini 1912; the inequality lens on activity/spend/volume: 0 = all
    units equal, -> 1 = one unit holds everything).

    Per-unit totals quantize to 1e-6 scaled BIGINTs (hi/lo split);
    units rank within their group by (total, unit) through the
    hardened :func:`~adenhq_hive_spark.operators.ranking.exact_rank`
    (range-partition + offsets — no group ever sorts in one task), and
    the sorted-rank identity

      G = (2 * sum_i i * x_i) / (n * sum_i x_i) - (n + 1) / n

    is assembled from exact DECIMAL(38,0) rank-weighted sums — one
    fixed-shape double expression per group, ROUND 6, signed-zero
    guard.  Groups with a zero value sum or a single unit emit NULL.

    Emits (group_col, n_units, gini_r6), ordered.  Scale: the
    (group, unit) rollup is data-sized; ranking is the exact_rank
    shape; everything after is O(groups).
    """
    from .ranking import exact_rank

    q = _q6(F.col(value_col).cast("double"))
    per_unit = (
        df.select(
            F.col(group_col).alias("grp"),
            F.col(unit_col).alias("u"),
            q.alias("q"),
        )
        .groupBy("grp", "u")
        .agg(
            F.sum(F.expr("q DIV 1000000")).alias("hi"),
            F.sum(F.expr("q % 1000000")).alias("lo"),
        )
        .select(
            "grp",
            "u",
            F.expr(
                "CAST(CAST(hi AS DECIMAL(38,0)) * 1000000 + lo"
                " AS DECIMAL(38,0))"
            ).alias("x"),
        )
    )
    ranked = exact_rank(
        per_unit, order_cols=("x", "u"), part_cols=("grp",),
        rank_col="rk",
    )
    dec = "decimal(38,0)"
    agg = ranked.groupBy("grp").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum(F.col("rk").cast(dec) * F.col("x")).alias("srx"),
    )
    nd = F.col("n").cast("double")
    g = F.when(
        (F.col("n") > 1) & (F.col("sx") > 0),
        (2.0 * F.col("srx").cast("double"))
        / (nd * F.col("sx").cast("double"))
        - (nd + 1.0) / nd,
    )
    return agg.select(
        F.col("grp").alias(group_col),
        F.col("n").cast("long").alias("n_units"),
        _zero_guard(F.round(g, 6)).alias("gini_r6"),
    ).orderBy(group_col)
