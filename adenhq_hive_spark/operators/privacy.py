"""Privacy / compliance audits: k-anonymity + l-diversity equivalence
classes and differentially-private noisy counts.

The reference ships PII-bearing connectors and a redaction surface
(SURVEY.md §2.1/§2.8 map them to the scrub tier — pl_pii_redact,
pl_span_scrub); these operators add the two audits a release pipeline
runs BEFORE data leaves the boundary: "which quasi-identifier
combinations re-identify people?" (Sweeney's k-anonymity, Machanavajjhala
et al.'s l-diversity) and "publish counts without leaking membership"
(Dwork's Laplace mechanism).

Determinism contract: k/l are exact BIGINT aggregates.  The DP noise is
the Laplace inverse CDF applied to a uniform derived from md5 of the
group key — deterministic and oracle-replayable (a REAL release would
use a sealed random seed; the mechanism, sensitivity and scale are the
production shape, the draw is pinned so correctness is testable —
documented here and in the query doc).  Noisy counts round to r4 with
the signed-zero guard (+ 0.0) on both engines.

Scale: both operators are single groupBy rollups with map-side combine —
shuffle rows = |equivalence classes| / |groups|, independent of corpus
row count.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .sketch import _hash32


def k_anonymity(
    df: DataFrame,
    quasi_cols: Sequence[str],
    sensitive_col: str,
    k: int = 5,
    l_div: int = 2,
) -> DataFrame:
    """Per-equivalence-class k-anonymity + l-diversity audit.

    Rows sharing the quasi-identifier tuple form an equivalence class;
    a class re-identifies when its size n < k, and leaks its sensitive
    attribute when the class carries fewer than l distinct sensitive
    values (every member then shares the secret even if n >= k).

    Emits one row per class: (quasi cols..., n, l_distinct, at_risk_k,
    at_risk_l), ordered by the quasi columns — exact BIGINTs and
    booleans only, full oracle hash.

    Scale: one (quasi-tuple) aggregation; COUNT(DISTINCT sensitive)
    triggers Spark's two-phase distinct expand, still keyed by the
    class tuple — no row explosion beyond x2, no joins.
    """
    if k < 1 or l_div < 1:
        raise ValueError("k and l_div must be >= 1")
    qcols = [F.col(c) for c in quasi_cols]
    return (
        df.groupBy(*qcols)
        .agg(
            F.count("*").alias("n"),
            F.count_distinct(F.col(sensitive_col)).alias("l_distinct"),
        )
        .select(
            *quasi_cols,
            F.col("n").cast("long").alias("n"),
            F.col("l_distinct").cast("long").alias("l_distinct"),
            (F.col("n") < k).alias("at_risk_k"),
            (F.col("l_distinct") < l_div).alias("at_risk_l"),
        )
        .orderBy(*quasi_cols)
    )


def dp_counts(
    df: DataFrame,
    group_cols: Sequence[str],
    epsilon: float = 1.0,
) -> DataFrame:
    """Per-group counts released through the Laplace mechanism:
    noisy = n + Laplace(1/epsilon) (sensitivity of a count query is 1,
    so scale b = 1/epsilon gives epsilon-DP; Dwork et al. 2006).

    The Laplace draw is the inverse CDF  -b * sign(u) * ln(1 - |u|)
    on u uniform in (-1, 1), where u = ((int(md5(key)[0:8], 16) mod
    1999999) - 999999) / 1e6 — deterministic per group key so the
    DuckDB oracle replays it exactly (|u| <= 0.999999 keeps ln finite).
    The key is injective over arbitrary group tuples: each part is
    md5('v' || value) — or md5('n') for NULL — a fixed-width 32-hex
    token, so NULL vs empty-string and separator-bearing values can
    never collide onto one draw (a concat_ws key would skip NULLs and
    merge values containing the separator).
    A sealed-seed deployment would salt the md5 with the release nonce;
    the mechanism is unchanged.  ln is the bit-portable libm call the
    unigram_logprob/psi tiers already rely on; the rounded noisy count
    carries the + 0.0 signed-zero guard.

    Emits (group cols..., n, noisy_r4, epsilon), ordered.  n is kept
    alongside for the audit use-case (utility-loss review BEFORE
    release); drop it at publish time.

    Scale: one count rollup, O(groups) everything.
    """
    if epsilon <= 0:
        raise ValueError("epsilon must be > 0")
    key = F.concat(
        *[
            F.md5(
                F.coalesce(
                    F.concat(F.lit("v"), F.col(c).cast("string")),
                    F.lit("n"),
                )
            )
            for c in group_cols
        ]
    )
    u6 = _hash32(key) % 1999999 - 999999
    u = u6.cast("double") / 1e6
    b = 1.0 / epsilon
    noise = -F.lit(b) * F.signum(u) * F.log(F.lit(1.0) - F.abs(u))
    return (
        df.groupBy(*[F.col(c) for c in group_cols])
        .agg(F.count("*").alias("n"))
        .select(
            *group_cols,
            F.col("n").cast("long").alias("n"),
            (F.round(F.col("n").cast("double") + noise, 4) + F.lit(0.0))
            .alias("noisy_r4"),
            F.lit(float(epsilon)).alias("epsilon"),
        )
        .orderBy(*group_cols)
    )
