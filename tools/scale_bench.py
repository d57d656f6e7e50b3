#!/usr/bin/env python3
"""Measured sf0.1 -> sf1 scaling for the wall-clock elephants.

The elephants carry design claims (triangle census O(E^1.5) via
degree-ordered orientation, semdedup O(n*k*nb) blocked GEMM, pagerank
one E-shuffle/iteration, LSH pipeline O(docs*bands) candidates); this
tool converts the claims into measured evidence: each key runs at sf0.1
(/root/testdata) and at the 10x replica set (.localdata/sf1, from
tools/gen_scale_data.py), best-of-``reps`` runs in one warmed session,
and the artifact records the 10x wall ratio and the implied scaling
exponent (ratio 10 == exponent 1.0 == linear in data).

Writes SCALING_r{N}.json.  Run AFTER gen_scale_data.py, on a quiet host
(the documented +-50% wall variance applies; best-of-N in one session
damps it).

Run from the repo root:  python tools/scale_bench.py [reps]
"""

from __future__ import annotations

import math
import os
import sys

from keyrun import ROOT, timed, warm, write_round

KEYS = [
    # r07 panel (r06 verdict asks #1/#5/#7).  The graph/dedup/stats
    # elephants keep their r06 two-decade rows (SCALING_r06 — code
    # untouched this round); r07 measures what was missing:
    # the LLM-pipeline headliners — the operators a 100 TB
    # training-data run actually spends its time in (ask #5)
    "curate_corpus",
    "corpus_pipeline",
    "chunk_documents",
    "pack_sequences",
    "mixture_sample",
    # ask #1: the candidates-bounded exact-Jaccard arm (full-corpus tier
    # measured 1.49 second-decade exponent in r06; bound: <= ~1.1)
    "dedup_ngram_jaccard_bounded",
    # ask #7 continuity: semdedup under its new auto cutoff — exact arm
    # at sf0.1/sf1 (5k/50k vectors <= 100k), ANN arm at sf10 (500k); the
    # clean per-arm exponent comes from the SPECIAL row below
    "semdedup",
]

# Pseudo-keys outside the QUERIES contract: (label, table, builder).
# semdedup_ann_arm forces the IVF-semantic-block tier at every sf
# (exact_max_rows=1) so the second-decade exponent measures the ANN arm
# alone, never a tier crossing.
def _semdedup_ann_arm(spark, sf_dir):
    from pyspark.sql import functions as F  # noqa: F401

    from parquet_merger_spark.operators.dedup import semdedup

    e = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    return semdedup(e, threshold=0.4, k=5, exact_max_rows=1)


SPECIAL = {"semdedup_ann_arm": _semdedup_ann_arm}
SF_SMALL = "/root/testdata/sf0.1"
SF_BIG = os.path.join(ROOT, ".localdata", "sf1")
FACTOR = 10.0  # data ratio between the two dirs

# Second-decade check (r05 verdict ask #8): the two flattest measured
# exponents (pagerank 0.05, ngram-jaccard 0.09 at 10x) could be real or
# could be fixed-cost domination at sf1 — a 100x datapoint
# (.localdata/sf10, from gen_scale_data.py chained off sf1) separates
# the two.  Only the tables these keys read exist at sf10.
SF_100X = os.path.join(ROOT, ".localdata", "sf10")
# r07: the whole panel gets the second decade — all keys read only the
# documents/embeddings replicas that exist at sf10.
KEYS_100X = [
    "curate_corpus",
    "corpus_pipeline",
    "chunk_documents",
    "pack_sequences",
    "mixture_sample",
    "dedup_ngram_jaccard_bounded",
    "semdedup",  # auto tier: ANN arm at 500k vectors
]

# Verification-tier elephants: measured for SCALING_r07 in a dedicated
# warmed session (near_dup_threshold_curve 652.9s at sf10 exp 1.01;
# neighbor_jaccard 252.5s exp 1.05 after the wedge-shuffle re-partition
# fix — pre-fix the sf10 run died on GCLocker allocation failures).
# ~15 min/run at sf10, so they are opt-in:
#   python tools/scale_bench.py 1 --verification
# appends them to the panel instead of re-paying the cost every round.
VERIFICATION_KEYS = ["near_dup_threshold_curve", "neighbor_jaccard"]


def main() -> None:
    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import get_spark

    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    if "--verification" in sys.argv[1:]:
        KEYS.extend(VERIFICATION_KEYS)
        KEYS_100X.extend(VERIFICATION_KEYS)
    only = next(
        (a.split("=", 1)[1] for a in sys.argv[1:] if a.startswith("--keys=")),
        None,
    )
    if only:
        # measure an ad-hoc key list instead of the standing panel (the
        # r07 warehouse/events family ran this way; merge the output into
        # the committed artifact by hand — this tool OVERWRITES)
        KEYS[:] = only.split(",")
        KEYS_100X[:] = list(KEYS)
        SPECIAL.clear()
    reps = int(args[0]) if args else 2
    spark = get_spark("pm-scale-bench", cpus=32)
    spark.sparkContext.setLogLevel("ERROR")
    warm(spark, SF_SMALL)

    def best(name: str, sf_dir: str) -> float:
        fn = SPECIAL.get(name) or QUERIES[name]
        return min(timed(spark, fn, sf_dir)[0] for _ in range(reps))

    from parquet_merger_spark.session import first_touch_canary_s

    out: dict[str, dict] = {"_host_canary_s": {"before": first_touch_canary_s()}}
    for name in KEYS + sorted(SPECIAL):
        t_small = best(name, SF_SMALL)
        t_big = best(name, SF_BIG)
        ratio = round(t_big / t_small, 2)
        # exponent e such that wall ~ data^e: ratio = FACTOR^e
        exponent = round(math.log(max(ratio, 1e-9)) / math.log(FACTOR), 2)
        out[name] = {
            "sf0.1_s": t_small,
            "sf1_s": t_big,
            "wall_ratio_10x_data": ratio,
            "scaling_exponent": exponent,
        }
        print(f"{name}: {t_small}s -> {t_big}s  ratio {ratio} exp {exponent}", flush=True)

    if os.path.isdir(SF_100X):
        for name in KEYS_100X + sorted(SPECIAL):
            t100 = best(name, SF_100X)
            t_small = out[name]["sf0.1_s"]
            ratio = round(t100 / t_small, 2)
            exponent = round(math.log(max(ratio, 1e-9)) / math.log(100.0), 2)
            # second-decade exponent alone (sf1 -> sf10): fixed costs
            # amortized away by the first decade no longer flatter it
            r2 = round(t100 / out[name]["sf1_s"], 2)
            e2 = round(math.log(max(r2, 1e-9)) / math.log(FACTOR), 2)
            out[name].update(
                {
                    "sf10_s": t100,
                    "wall_ratio_100x_data": ratio,
                    "scaling_exponent_100x": exponent,
                    "scaling_exponent_2nd_decade": e2,
                }
            )
            print(
                f"{name} @100x: {t100}s  ratio {ratio} exp {exponent} "
                f"(2nd decade exp {e2})",
                flush=True,
            )

    out["_host_canary_s"]["after"] = first_touch_canary_s()

    print(f"\nwrote {write_round('SCALING', out)}")


if __name__ == "__main__":
    main()
