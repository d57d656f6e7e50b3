#!/usr/bin/env python3
"""Dump scale-relevant plan digests for every headline key to a
committed, round-over-round-diffable artifact (PLANS_r{N}.json).

For each key in ``bench.HEADLINE`` records BOTH digests from
``plans.audit``: the INITIAL adaptive plan (what the optimizer
proposes) and the RUNTIME-FINAL plan (what actually ran — AQE
coalescing/demotions applied, runtime codegen spans).  A plan-shape
regression (new cartesian, lost broadcast, extra exchange) shows up as
a one-line JSON diff against the previous round's artifact.

Run from the repo root:  python tools/plan_survey.py   (sf0.01)
"""

from __future__ import annotations

import os
import sys

from keyrun import write_round

SF_DIR = os.environ.get("SPARK_GRAFT_ORACLE_SF", "/root/testdata/sf0.01")


def main() -> None:
    import bench
    from parquet_merger_spark.plans.audit import final_plan_digest, plan_digest
    from parquet_merger_spark.queries import QUERIES
    from parquet_merger_spark.session import get_spark

    spark = get_spark("pm-plan-survey", cpus=16)
    spark.sparkContext.setLogLevel("ERROR")

    # headline keys first (keeps r-over-r diffs aligned), then every
    # remaining contract key — verification tier, stream twins, portable
    # oracles — so "zero cartesians" is a statement about the WHOLE
    # contract, not just the benched subset
    names = list(bench.HEADLINE) + [
        k for k in sorted(QUERIES) if k not in set(bench.HEADLINE)
    ]
    out: dict[str, dict] = {}
    for name in names:
        spark.catalog.clearCache()
        try:
            df = QUERIES[name](spark, SF_DIR)
            initial = plan_digest(df)
            final = final_plan_digest(df)
            out[name] = {"initial": initial, "final": final}
        except Exception as ex:  # noqa: BLE001 — record, keep sweeping
            out[name] = {"err": f"{type(ex).__name__}: {ex}"[:200]}
        print(name, "ok" if "err" not in out[name] else out[name]["err"], flush=True)

    path = write_round("PLANS", out, sort_keys=True)
    bad = [k for k, v in out.items() if "err" in v]
    cart = [
        k for k, v in out.items()
        if "final" in v and v["final"]["cartesian_products"]
    ]
    print(f"\n{path}: {len(out)} keys, errors={bad}, final-plan cartesians={cart}")
    if bad or cart:
        sys.exit(1)


if __name__ == "__main__":
    main()
