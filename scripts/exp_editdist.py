"""pl_editdist cost decomposition + max_shingle_df sensitivity
(r11 verdict #4, guide §2/§3).

The declared query is exhaustive-exact (cap None, matching the DuckDB
oracle CTE literally). r11 measured 790 s cold at sf10 and named the
candidate-verify pair space as the cost. This script separates the
two possible walls and measures the control knobs:

  arm "cand"    — ngram_jaccard_pairs alone (candidate tier: shingle
                  postings + ordered-pair expansion + jaccard)
  arm "full"    — editdist_verify as declared (WITH the r12 length
                  prefilter)
  arm "nopre"   — same minus the length prefilter (attribution A/B
                  for the r12 change; output identical by the
                  triangle-inequality bound)
  arm "cap=N"   — editdist_verify body over capped candidates
                  (max_shingle_df=N). Reported jaccards stay exact
                  under the cap (full-set verification); only pairs
                  whose overlap is EXCLUSIVELY ultra-common shingles
                  can be missed — so each cap arm also runs an
                  exceptAll parity check against the uncapped output
                  (both directions) and reports row deltas.

Timing: min-of-N warm (noop sink), per-run /proc/stat steal recorded,
through bench.py's measurement core. Needs an idle host.

Usage: PYTHONPATH=/root/repo python scripts/exp_editdist.py <sf_dir>
           [runs] [--caps 256,64,16] [--no-parity] [--arms a,b,...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from bench import measure, min_runs, run_noop  # noqa: E402


def time_arm(label, df_fn, runs):
    s = measure(lambda: run_noop(df_fn()), min_runs(runs))
    for t, steal in zip(s.times, s.steals):
        print(f"  {label}: {t:.3f}s (steal {steal:.1f}%)", flush=True)
    print(f"{label}: min {s.best:.3f}s over {runs} "
          f"(steal-of-min {s.steal_of_best:.1f}%)", flush=True)
    return s.best


def verify_body(joined, thr_num, prefilter=True):
    """editdist_verify's verification tier over a (id_a,id_b,jaccard,
    t_a,t_b) frame — kept in lockstep with operators/dedup.py."""
    from adenhq_hive_spark.operators.text import frac4

    lev = F.levenshtein("t_a", "t_b")
    mx = F.greatest(F.length("t_a"), F.length("t_b"))
    mn = F.least(F.length("t_a"), F.length("t_b"))
    out = joined
    if prefilter:
        out = out.filter(mn * 10000 >= mx * thr_num)
    return (
        out.withColumn("lev", lev)
        .withColumn("mx", mx)
        .filter(
            (F.col("mx") == 0)
            | ((F.col("mx") - F.col("lev")) * 10000 >= F.col("mx") * thr_num)
        )
        .select(
            "id_a", "id_b", "jaccard",
            F.when(F.col("mx") == 0, F.lit(1.0))
            .otherwise(frac4(F.col("mx") - F.col("lev"), F.col("mx")))
            .alias("edit_sim"),
        )
    )


def main() -> None:
    sf_dir = sys.argv[1]
    runs = int(sys.argv[2]) if len(sys.argv) > 2 and not sys.argv[2].startswith("--") else 2
    caps = [256, 64, 16]
    arms = None
    parity = "--no-parity" not in sys.argv
    for i, a in enumerate(sys.argv):
        if a == "--caps":
            caps = [int(x) for x in sys.argv[i + 1].split(",")]
        if a == "--arms":
            arms = set(sys.argv[i + 1].split(","))

    from adenhq_hive_spark.catalog import load_table
    from adenhq_hive_spark.operators.dedup import (
        editdist_verify, ngram_jaccard_pairs,
    )
    from adenhq_hive_spark.session import get_spark

    spark = get_spark("exp-editdist")
    spark.sparkContext.setJobDescription("exp_editdist")
    docs = load_table(spark, sf_dir, "documents")
    K, CAND_THR, SIM_THR = 3, 0.3, 0.5  # pl_editdist's declared params
    thr_num = int(round(SIM_THR * 10000))

    def cand_uncapped():
        return ngram_jaccard_pairs(docs, k=K, threshold=CAND_THR)

    def texts_joined(cand):
        texts = docs.select(F.col("doc_id").alias("id"), F.col("text").alias("t"))
        return (
            cand.join(texts.withColumnsRenamed({"id": "id_a", "t": "t_a"}), "id_a")
            .join(texts.withColumnsRenamed({"id": "id_b", "t": "t_b"}), "id_b")
        )

    def want(a):
        return arms is None or a in arms

    results = {}
    if want("cand"):
        results["cand"] = time_arm("cand", cand_uncapped, runs)
    if want("full"):
        results["full"] = time_arm(
            "full",
            lambda: editdist_verify(
                docs, k=K, candidate_threshold=CAND_THR, sim_threshold=SIM_THR
            ),
            runs,
        )
    if want("nopre"):
        results["nopre"] = time_arm(
            "nopre",
            lambda: verify_body(texts_joined(cand_uncapped()), thr_num,
                                prefilter=False),
            runs,
        )
    base = None
    if parity and any(want(f"cap={c}") for c in caps):
        base = editdist_verify(
            docs, k=K, candidate_threshold=CAND_THR, sim_threshold=SIM_THR
        ).cache()
        n_base = base.count()
        print(f"uncapped output rows: {n_base}", flush=True)
    for c in caps:
        a = f"cap={c}"
        if not want(a):
            continue
        def capped(c=c):
            return verify_body(
                texts_joined(
                    ngram_jaccard_pairs(
                        docs, k=K, threshold=CAND_THR, max_shingle_df=c
                    )
                ),
                thr_num,
            )
        results[a] = time_arm(a, capped, runs)
        if parity:
            out = capped().cache()
            missing = base.exceptAll(out).count()
            extra = out.exceptAll(base).count()
            print(f"{a} parity: missing={missing} extra={extra}", flush=True)
            out.unpersist()
    if base is not None:
        base.unpersist()
    print("RESULTS", results, flush=True)


if __name__ == "__main__":
    main()
