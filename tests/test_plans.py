"""Physical-plan regression tests: the scale properties the engine claims
(pushdown, pruning, broadcast, shuffle-freedom) asserted on the actual
Catalyst output, so a refactor that silently loses them fails CI.
"""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_merger_spark.operators.dedup import simhash_signatures  # noqa: E402
from parquet_merger_spark.queries import QUERIES  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
SF_SMOKE = os.path.join(os.path.dirname(SF_DIR), "sf0.001")


def _explain(df, mode: str = "formatted") -> str:
    jmode = df.sparkSession._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        mode
    )
    return df._jdf.queryExecution().explainString(jmode)


def test_filter_and_projection_reach_the_parquet_scan(spark):
    plan = _explain(QUERIES["filter_pushdown"](spark, SF_DIR))
    assert "GreaterThan(l_quantity,45.0)" in plan, "predicate not pushed to scan"
    assert "EqualTo(l_returnflag,R)" in plan
    # column pruning: the scan schema is exactly the referenced columns
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    for col in ("l_orderkey", "l_linenumber", "l_quantity", "l_discount", "l_returnflag"):
        assert col in read
    assert "l_extendedprice" not in read, "scan reads unreferenced columns"


def test_projection_prunes_scan_schema(spark):
    plan = _explain(QUERIES["projection"](spark, SF_DIR))
    read = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "l_quantity" in read and "l_returnflag" in read
    assert "l_shipdate" not in read and "l_discount" not in read


def test_star_join_broadcasts_dimensions(spark):
    plan = _explain(QUERIES["nation_revenue"](spark, SF_DIR), "simple")
    # nation and region carry explicit broadcast hints; at least those two
    # joins must be BroadcastHashJoin (AQE may broadcast more)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "CartesianProduct" not in plan


def test_simhash_signatures_are_shuffle_free(spark):
    d = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    plan = _explain(simhash_signatures(d, "doc_id", "text"), "simple")
    assert "Exchange" not in plan, (
        "SimHash signature build must be row-local (transform+aggregate), "
        "not an explode+groupBy shuffle"
    )


def test_brute_force_topk_broadcasts_query_side(spark):
    plan = _explain(QUERIES["simsearch_topk"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_bucketed_join_elides_shuffle(spark, tmp_path_factory):
    """Two tables bucketed on the join key join with NO Exchange on either
    side (the write-time shuffle replaces every query-time shuffle)."""
    from pyspark.sql import functions as F

    from parquet_merger_spark.operators.bucketing import bucketed_join, write_bucketed

    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
    write_bucketed(
        o.select("o_orderkey", "o_totalprice"), "b_orders", ["o_orderkey"], 8,
        sort_cols=["o_orderkey"],
    )
    write_bucketed(
        li.select(F.col("l_orderkey").alias("o_orderkey"), "l_quantity"),
        "b_lineitem", ["o_orderkey"], 8, sort_cols=["o_orderkey"],
    )
    try:
        # disable broadcast so the planner must pick sort-merge — the
        # bucketed layout should then satisfy both sides' distribution
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "b_orders", "b_lineitem", ["o_orderkey"])
        plan = _explain(joined, "simple")
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join must not re-shuffle"
        assert joined.count() > 0
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        spark.sql("DROP TABLE IF EXISTS b_orders")
        spark.sql("DROP TABLE IF EXISTS b_lineitem")


def test_merge_scan_nodes_scale_with_schemas_not_files(spark, tmp_path):
    """merged_df groups files by schema signature: 20 input files with 2
    distinct schemas plan exactly 2 parquet scans (the reference reads
    file-by-file; a per-file plan would die at 100k files)."""
    import pandas as pd

    from parquet_merger_spark.operators.merge import merged_df

    paths = []
    for i in range(20):
        p = str(tmp_path / f"f{i}.parquet")
        if i % 2:
            pdf = pd.DataFrame({"k": pd.Series([i], dtype="int64"),
                                "v": pd.Series([1.0], dtype="float64")})
        else:  # same columns, extra one -> different schema signature
            pdf = pd.DataFrame({"k": pd.Series([i], dtype="int64"),
                                "v": pd.Series([2.0], dtype="float64"),
                                "extra": ["x"]})
        pdf.to_parquet(p, index=False)
        paths.append(p)

    df = merged_df(spark, paths)
    plan = _explain(df, "simple")
    assert plan.count("Scan parquet") == 2
    assert df.count() == 20
    assert df.columns == ["k", "v"]


def test_partitioned_sink_enables_partition_pruning(spark, tmp_path):
    """write_parquet(partition_by=...) -> a filtered read scans only the
    matching partition directories (PartitionFilters in the scan node,
    and the pruned column is absent from PushedFilters/data scan)."""
    from parquet_merger_spark.operators.merge import write_parquet

    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    out = str(tmp_path / "orders_by_priority")
    rows = write_parquet(o, out, partition_by=["o_orderpriority"])
    assert rows == o.count()

    back = spark.read.parquet(out).filter("o_orderpriority = '1-URGENT'")
    plan = _explain(back)
    pf_line = next(l for l in plan.splitlines() if "PartitionFilters" in l)
    assert "o_orderpriority" in pf_line, "filter did not become a partition filter"
    assert back.count() == o.filter("o_orderpriority = '1-URGENT'").count()


def test_value_band_stats_broadcasts_tiny_dim(spark):
    """The range join must broadcast the 4-row band table (nested-loop
    over a local array), never shuffle the probe side for the join."""
    plan = _explain(QUERIES["value_band_stats"](spark, SF_DIR), "simple")
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan


def test_value_outliers_broadcasts_stats(spark):
    """The 5-row per-type stats table joins back via broadcast — the
    event scan itself must not shuffle for the join."""
    plan = _explain(QUERIES["value_outliers"](spark, SF_DIR), "simple")
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan
    assert "SortMergeJoin" not in plan


def test_fuzzy_match_is_equi_join_not_all_pairs(spark):
    """Blocking must compile to a hash equi-join on the block key; an
    all-pairs plan (cartesian / nested-loop) means blocking broke."""
    plan = _explain(QUERIES["fuzzy_match"](spark, SF_DIR), "simple")
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_scd2_shares_one_key_exchange(spark):
    """Both SCD2 windows (lag change-detect, lead interval-close) hash-
    partition on the key; Catalyst must plan ONE exchange on c_custkey,
    reused by both sorts."""
    plan = _explain(QUERIES["scd2_customers"](spark, SF_DIR), "simple")
    assert plan.count("Exchange hashpartitioning(c_custkey") == 1


def test_corr_matrix_single_aggregate_no_data_shuffle(spark):
    """The correlation matrix reduces to ONE row via partial aggregation;
    the only exchange is the single-row final-agg gather."""
    plan = _explain(QUERIES["corr_matrix"](spark, SF_DIR), "simple")
    assert plan.count("Exchange") == 1
    assert "SinglePartition" in plan


def test_pq_encode_is_shuffle_free(spark):
    """PQ encoding must stay a narrow map stage: the codebook model rides
    a broadcast one-row cross join, so the plan may contain broadcast
    exchanges but NO hash-partitioning Exchange (a 100 TB encode never
    shuffles the corpus)."""
    from parquet_merger_spark.operators.simsearch import (
        pq_encode,
        train_pq_codebooks,
    )

    e = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))
    books = train_pq_codebooks(e, m=8, n_codes=4, iters=0)
    plan = _explain(pq_encode(e, books), "simple")
    assert "Exchange hashpartitioning" not in plan, plan


def test_range_lookup_bucketed_query_plan(spark):
    """The driver-contract range_lookup query: equi-join (hash or sort-
    merge or broadcast-hash), never a nested-loop over the band dim."""
    from parquet_merger_spark.queries import QUERIES

    plan = _explain(QUERIES["range_lookup_bucketed"](spark, SF_DIR), "simple")
    assert "NestedLoop" not in plan, plan


def test_runtime_bloom_filter_prunes_probe_side(spark):
    """Runtime row-level pruning: with a selective filter on the build
    side of a shuffle join, Catalyst injects a bloom-filter subquery
    (bloom_filter_agg on the filtered side, might_contain on the probe
    scan) so most probe rows die at the scan instead of crossing the
    shuffle — the 100 TB complement to static partition pruning.
    Thresholds are runtime confs; restored after the assert."""
    saved = {
        k: spark.conf.get(k, None)
        for k in (
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "spark.sql.autoBroadcastJoinThreshold",
        )
    }
    try:
        spark.conf.set(
            "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
            "0",
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        from pyspark.sql import functions as F

        li = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet")).filter(
            F.col("o_totalprice") > 400000
        )
        j = (
            li.join(o, li.l_orderkey == o.o_orderkey)
            .groupBy("o_orderstatus")
            .count()
        )
        plan = _explain(j, "formatted")
        assert "might_contain" in plan and "bloom_filter_agg" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_plan_digest_and_assert_scalable(spark):
    """The audit API: digests count what the explain shows; the red-line
    assert passes healthy plans, fails cartesian/global-funnel ones with
    the counts in the message."""
    import pytest
    from pyspark.sql import functions as F

    from parquet_merger_spark.plans.audit import assert_scalable, plan_digest
    from parquet_merger_spark.queries import QUERIES

    healthy = QUERIES["pricing_summary"](spark, SF_DIR)
    d = assert_scalable(healthy, max_hash_exchanges=2)
    assert d["cartesian_products"] == 0 and d["hash_exchanges"] >= 1
    # under AQE the initial plan carries no codegen spans (assigned per
    # stage at runtime) — the field must read 0 there, and the true span
    # count once adaptive planning is off (spans come from *(n) prefixes;
    # the old literal 'WholeStageCodegen' match read 0 forever)
    assert d["whole_stage_codegen"] == 0, d
    saved = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        d2 = plan_digest(QUERIES["pricing_summary"](spark, SF_DIR))
        assert d2["whole_stage_codegen"] >= 1, d2
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", saved)

    a = spark.range(100)
    b = spark.range(100).withColumnRenamed("id", "id2")
    cart = a.join(b, F.col("id") < F.col("id2"))  # non-equi -> nested loop
    with pytest.raises(AssertionError, match="NestedLoop|Cartesian"):
        assert_scalable(cart)

    # the global-funnel red line must actually FIRE (the old body only
    # digested the funnel — a tautology that could not catch deleting
    # the SinglePartition branch from assert_scalable)
    funnel = (
        spark.range(1000)
        .repartition(1)
        .withColumn("x", F.col("id") + 1)
    )
    dd = plan_digest(funnel)
    assert dd["single_partition_exchanges"] >= 1, dd
    with pytest.raises(AssertionError, match="SinglePartition"):
        assert_scalable(funnel)

    # a row-at-a-time F.udf (BatchEvalPython node) is red-lined
    # UNCONDITIONALLY — no allow_* flag may admit it (r08 verdict: the
    # audit was blind to the one anti-pattern it exists to catch)
    from pyspark.sql.types import LongType

    row_udf = F.udf(lambda x: x + 1, LongType())
    slow = spark.range(100).withColumn("y", row_udf(F.col("id")))
    ds = plan_digest(slow)
    assert ds["batch_python_evals"] >= 1, ds
    with pytest.raises(AssertionError, match="BatchEvalPython"):
        assert_scalable(slow, allow_python=True, allow_nested_loop=True,
                        allow_single_partition=True)


# Queries whose plans legitimately contain a BroadcastNestedLoopJoin:
# the broadcast side is model-tiny BY CONSTRUCTION (GEMM block-pair
# tables, a 1-row tf-idf doc count, the 4-row band dim, the 1-row PQ
# codebook, the broadcast query side of an exact top-k).
_BNLJ_VOUCHED = {
    "dedup_embedding_cosine",
    "simsearch_topk",
    "knn_graph",
    "text_tfidf",
    "value_band_stats",
    "simsearch_pq",
    # same 1-row-codebook broadcast shape as simsearch_pq, probed from
    # the persisted index
    "simsearch_pq_indexed",
    # 1-row corpus-total broadcast (see the round-3 operator review test)
    "keyness_terms",
    # 1-row global aggregates on a broadcast: avg-balance gate, corpus
    # (n_docs, avgdl) stats, the 4-counter triangle census, and the
    # Q15 revenue-maximum scalar
    "idle_customers",
    "bm25_rank",
    "graph_triangles",
    "top_supplier",
    # 1-row max-day clip broadcast in the rolling-WAU fan-out
    "rolling_wau",
    # 1-row basket-total broadcast (lazy tfidf-pattern scalar)
    "basket_lift",
    # 1-row |sources| broadcast (the eager src.count() went lazy in the
    # r07 review — |sources| is a model-sized dim)
    "curriculum_interleave",
    # 1-row token-total broadcast gating the support threshold
    "heavy_hitters",
    # broadcast query side of the exact different-label top-k (same
    # shape as simsearch_topk)
    "hard_negatives",
    # 1-row quantile-boundary broadcast (assign_row_ids went fully lazy)
    "global_row_ids",
    "decile_binning",
    "vocab_encode",
    # 1-row weight-sum broadcast in the temperature mixture gate
    "temperature_mixture",
    # 1-row total-token broadcast crossJoined to the 3-row coverage
    # output (shows as BNLJ in the runtime-final plan)
    "token_coverage_curve",
    # 1-row corpus-total + 1-row dof broadcasts in the chi-square fold
    "chi_square_independence",
    # round-6 waves: every nested loop below is a 1-row scalar broadcast
    # (corpus/total/threshold/moment crossJoins) or a <= 10-row model
    # spine (Benford digits, Heaps decile boundaries, k-core census
    # rows) — each docstring owns the model-sized claim
    "source_divergence_tv",
    "benford_digit_audit",
    "seasonality_dow",
    "graph_kcore_portable",
    "embedding_norm_audit",
    "segment_priority_association",
    "join_skew_diagnosis",
    "heaps_vocab_growth",
    "class_balance_weights",
    "time_to_first_purchase",
    # wave 14: 1-row scalar broadcasts (corpus max date, tercile
    # boundaries, vector count)
    "rfm_segments",
    "label_cosine_contrast",
    # 1-row trace/count broadcast in the energy fold
    "pca_energy_explained",
    # wave 17: 1-row scalar broadcasts (max year, path total)
    "nation_rank_delta",
    "top_event_paths",
    # wave 18: 1-row census total broadcast
    "filter_funnel_census",
    # wave 20: 1-row corpus-total broadcast
    "revenue_share_hierarchy",
    # ---- r07: non-headline keys (the r06 verdict's 19 unvouched BNLJ
    # escapes — the audit now iterates ALL contract keys) ----
    # portable ANN twins: every nested loop is crossJoin(broadcast(model))
    # where model = 8-row coarse centroids, 32-row (m_subs*k_codes) PQ
    # codebooks, or the <=5-row query set — one BNLJ per Lloyd/encode step
    "ivf_topk_portable",
    "pq_topk_portable",
    "ivfpq_topk_portable",
    "kmeans_portable_assign",
    # recall/separation reports: k-row centroid + <=5-row query broadcasts
    "ann_recall_report",
    "cluster_separation_report",
    # 1-row query-vector broadcast feeding the greedy MMR loop
    "mmr_diverse_topk",
    # portable dedup twins: 1-row permutation/hyperplane parameter rows
    # and 1-row corpus scalars broadcast into the signature fold
    "dedup_minhash_lsh_portable",
    "dedup_simhash_portable",
    "minhash_jaccard_estimate",
    # winnowing: 1-row window/gram parameter scalars into the dictionary
    "winnowing_fingerprints",
    "dedup_winnowing_pairs",
    # in-plan Bloom prefilters: the 8 KB bit-array aggregate is a 1-row
    # broadcast crossJoined to the probe side
    "bloom_prefilter_join",
    "decontaminate_bloom_probe",
    "upsert_orders_bloom",
    # KMV sketches: the k-minimum-value register set (<=256 rows) is the
    # whole broadcast side
    "kmv_distinct_rollup",
    "kmv_set_ops",
    # four 1-row scalar-subquery counts (the audit summary row)
    "fk_orphan_audit",
    # 1-row total broadcast over the 9-row digit table
    "stream_benford_audit",
    # r07: portable-LSH candidate generation (1-row vsz scalars + 64-row
    # vocab bucket tables, lineage-replicated by the band self-join) —
    # same shapes as minhash_jaccard_estimate
    "dedup_ngram_jaccard_bounded",
}
# Single-partition exchanges that are the FINAL step of a global scalar
# aggregate (a handful of partial rows, not data): corpus-wide counts
# and sufficient-statistics reductions.
_SINGLE_VOUCHED = {
    "text_tfidf",
    "profile_table",
    "data_quality_report",
    "corr_matrix",
    # global corpus-token total: map-side partials -> one 1-row task
    "keyness_terms",
    # same global-scalar-reduction family as above
    "idle_customers",
    "bm25_rank",
    "graph_triangles",
    "top_supplier",
    "rolling_wau",
    "basket_lift",
    # global scalar reductions (1-row aggregates)
    "forecast_revenue",
    "small_qty_revenue",
    "heavy_hitters",
    # model-sized single-partition frames in the lazy ranking: the 1-row
    # boundary aggregate and the ≤ n_buckets count-table prefix sum
    "global_row_ids",
    "decile_binning",
    "vocab_encode",
    # 1-row weight-sum reduction
    "temperature_mixture",
    # model-sized margins + the |cells| fixed-order fold
    "chi_square_independence",
    # O(distinct ids / 4096) bucket-edge stitch window (ceiling note in
    # the docstring: holds to ~10^12 ids)
    "id_gap_detection",
    # O(days) day-table prefix sum
    "running_distinct_users",
    # 1-row total + rank/cum-sum windows over the 1000-row TakeOrdered
    # survivor table
    "token_coverage_curve",
    # round-6 waves: global scalar reductions (1-row folds) and
    # model-sized tables — month table (monthly_revenue_mom), 32-bucket
    # census (partition_balance_report), per-round k-core census rows,
    # count-table rank selections reduced to 1-row aggregates
    "source_divergence_tv",
    "benford_digit_audit",
    "ols_multivariate",
    "rater_agreement_kappa",
    "seasonality_dow",
    "graph_kcore_portable",
    "revenue_pareto_share",
    "embedding_norm_audit",
    "segment_priority_association",
    "monthly_revenue_mom",
    "join_skew_diagnosis",
    "partition_balance_report",
    "heaps_vocab_growth",
    "class_balance_weights",
    "time_to_first_purchase",
    # wave 14: O(days) axis window; six 1-row boundary folds; 1-row
    # scalar reductions
    "open_order_backlog",
    "rfm_segments",
    "label_cosine_contrast",
    "pca_energy_explained",
    # wave 17: one-pass rule fold (1-row), max-year scalar, TakeOrdered
    "constraint_violations_audit",
    "nation_rank_delta",
    "top_event_paths",
    "filter_funnel_census",
    "revenue_share_hierarchy",
    # ---- r07: non-headline keys (all-contract audit) ----
    # global scalar reductions -> one 1-row task: corpus count, AUC
    # sufficient statistics, assortativity moment fold
    "row_count",
    "quality_score_auc",
    "graph_assortativity",
    # model-sized final frames: 8 KB Bloom bit-array aggregate (1 row),
    # KMV register sets (<=256 rows), per-source count table (O(sources)),
    # 9-row digit table, 4-count audit row, z-order boundary scalar
    "bloom_prefilter_join",
    "decontaminate_bloom_probe",
    "upsert_orders_bloom",
    "kmv_distinct_rollup",
    "kmv_set_ops",
    "curriculum_interleave",
    "stream_benford_audit",
    "fk_orphan_audit",
    "zorder_pruned_scan",
    # portable twins: model-sized training folds (centroid/codebook/
    # parameter tables reduce to <=32-row frames between Lloyd steps)
    "dedup_minhash_lsh_portable",
    "dedup_simhash_portable",
    "dedup_winnowing_pairs",
    "minhash_jaccard_estimate",
    "winnowing_fingerprints",
    # r07: same portable-vocab bucket-table shapes as the line above
    "dedup_ngram_jaccard_bounded",
}


def test_headline_plans_pass_scale_review(spark):
    """SURVEY §10 pinned, widened r07 to the WHOLE contract (the r06
    verdict found 19 non-headline keys carrying unvouched
    BroadcastNestedLoopJoins — an audit escape hatch): every contract
    plan is free of cartesian products, and nested-loop joins /
    single-partition exchanges appear only where a tiny model side or a
    global-scalar reduction vouches for them, with a one-line rationale
    per key above.  A new query that regresses plan shape fails here
    with its digest.  Stream keys are audited on their post-drain batch
    frame (the streaming plan itself is pinned in test_streaming.py);
    to keep the battery affordable they drain once here, same as the
    oracle differential."""
    from parquet_merger_spark.plans.audit import assert_scalable
    from parquet_merger_spark.queries import QUERIES

    # the one vouched row-at-a-time UDTF: q_udtf_tokens is the UDTF API
    # surface itself, input bounded to a 100-doc slice by construction
    udtf_vouched = {"udtf_tokens"}
    for name in sorted(QUERIES):
        df = QUERIES[name](spark, SF_DIR)
        assert_scalable(
            df,
            allow_nested_loop=name in _BNLJ_VOUCHED,
            allow_single_partition=name in _SINGLE_VOUCHED,
            allow_python_udtf=name in udtf_vouched,
        )


def test_round3_new_operator_plans_pass_scale_review(spark):
    """Plan pins for the round-3 additions that are not headline keys.

    - dedup_containment: candidates come from an equi-join on the gram
      hash (asymmetric prefix filter) — no cartesian, no nested loop.
    - keyness_terms: the only nested-loop is the 1-row corpus-total
      broadcast (model-tiny, vouched); per-source totals broadcast-join.
    - url_functions: a pure scalar family — the plan must be entirely
      shuffle-free (zero hash exchanges).
    - skew_salted_join: salting must stay an equi-join (salt is part of
      the join key, the right side replicates via explode, never a
      nested-loop replicate).
    - sql_group_by_all / dup_passages / embed_kmeans: standard review.
    """
    from parquet_merger_spark.plans.audit import assert_scalable
    from parquet_merger_spark.queries import QUERIES

    assert_scalable(QUERIES["dedup_containment"](spark, SF_DIR))
    # nested-loop: the 1-row corpus-total broadcast; single-partition: the
    # same global scalar aggregate (map-side partials -> one 1-row task,
    # the vouched global-scalar-reduction family)
    assert_scalable(
        QUERIES["keyness_terms"](spark, SF_DIR),
        allow_nested_loop=True,
        allow_single_partition=True,
    )
    dig = assert_scalable(
        QUERIES["url_functions"](spark, SF_DIR), max_hash_exchanges=0
    )
    assert dig["hash_exchanges"] == 0
    assert_scalable(QUERIES["skew_salted_join"](spark, SF_DIR))
    assert_scalable(QUERIES["sql_group_by_all"](spark, SF_DIR))
    assert_scalable(QUERIES["dup_passages"](spark, SF_DIR))
    assert_scalable(QUERIES["embed_kmeans"](spark, SF_DIR))


def test_disjunctive_predicates_reach_scans(spark):
    """Q19 shape: each disjunct's single-table predicates must be pushed
    to the scans — the part scan carries the pushed OR tree over
    (p_brand, p_size), the lineitem scan the extracted OR of l_quantity
    ranges (Catalyst's cross-table OR factoring).  The six widening
    keys' cartesian/nested-loop review runs in the headline battery
    above (they are all bench.HEADLINE members); this test pins the ONE
    property the generic digest cannot see: WHICH scan each disjunct
    landed on."""
    from parquet_merger_spark.queries import QUERIES

    df = QUERIES["disjunctive_pushdown"](spark, SF_DIR)
    plan = df._jdf.queryExecution().executedPlan().toString()
    scans = [
        ln for ln in plan.splitlines() if "FileScan" in ln and "PushedFilters" in ln
    ]
    part_scan = next(ln for ln in scans if "part.parquet" in ln)
    li_scan = next(ln for ln in scans if "lineitem.parquet" in ln)
    part_pushed = part_scan.split("PushedFilters")[1]
    li_pushed = li_scan.split("PushedFilters")[1]
    assert "Or(" in part_pushed and "p_brand" in part_pushed
    assert "Or(" in li_pushed and "l_quantity" in li_pushed
    assert "CartesianProduct" not in plan


def test_final_plan_digest_sees_runtime_adaptive_plan(spark):
    """final_plan_digest audits what actually RAN: under AQE the
    executed tree carries runtime codegen spans (invisible on the
    initial plan, where plan_digest reads 0), and the scale red lines
    hold on the final tree too — pinned on a broadcast star join and on
    the pagerank loop output."""
    from parquet_merger_spark.plans.audit import final_plan_digest, plan_digest
    from parquet_merger_spark.queries import QUERIES

    df = QUERIES["nation_revenue"](spark, SF_DIR)
    initial = plan_digest(df)
    final = final_plan_digest(df)
    # AQE assigns codegen ids at runtime: initial reads 0, final must not
    assert initial["whole_stage_codegen"] == 0
    assert final["whole_stage_codegen"] >= 1
    # red lines hold on the plan that actually ran
    assert final["cartesian_products"] == 0
    assert final["broadcast_hash_joins"] >= 2  # the broadcast dims
    # AQE only ever REMOVES exchanges relative to the initial plan
    assert final["hash_exchanges"] <= initial["hash_exchanges"]

    pr = QUERIES["pagerank"](spark, SF_DIR)
    fpr = final_plan_digest(pr)
    assert fpr["cartesian_products"] == 0


_JOB_PINS = [
    ("revenue_pareto_share", 4),
    ("pagerank", 9),
    ("dedup_minhash_lsh", 5),
    ("dedup_ngram_jaccard", 8),
    ("dedup_simhash", 4),
    ("dedup_containment", 9),
    ("boxplot_by_segment", 15),
    ("time_to_first_purchase", 9),
    ("dedup_clusters", 31),
    ("semdedup", 35),
    ("graph_triangles", 24),
]


@pytest.mark.parametrize(
    "name,max_jobs", _JOB_PINS, ids=[name for name, _ in _JOB_PINS]
)
def test_query_job_pins(spark, jobs_started, name, max_jobs):
    """Job census pins: revenue_pareto_share runs its count table through
    one window pass (no broadcast cross-joins re-running its shuffle),
    and symmetric PageRank makes one aggregate per pass over the edges
    joined with an O(V) message table, whose next table is a projection
    of that aggregate (no degree join, no vertex set, no persist).  The
    dedup keys share their signature/shingle tables through one lazy
    checkpoint, so each scan of them is a plain RDD scan, not a cached
    relation that AQE turns into a job of its own per consumer.
    boxplot_by_segment and time_to_first_purchase pick all their
    quantiles in one ``vq_quantiles`` aggregate, not one filtered
    count-table pass and one join per quantile.  dedup_clusters and
    semdedup share the connected-components loop's edge and adjacency
    tables through checkpoints, so no propagation step scans a cached
    relation.  graph_triangles' ceiling is its count with four eager
    persists (a barrier port ran 16-17 but was slower at sf1).  The ids
    name the key only, so lowering a pin keeps the test's name."""
    assert jobs_started(lambda: QUERIES[name](spark, SF_DIR).collect()) <= max_jobs


@pytest.mark.parametrize(
    "name",
    [
        "dedup_minhash_lsh",
        "dedup_ngram_jaccard",
        "dedup_simhash",
        "dedup_containment",
        "near_dup_threshold_curve",
        "weighted_median_price",
        "ingest_quarantine",
        "dedup_clusters",
    ],
)
def test_shared_intermediates_leave_no_cache_entry(spark, name):
    """Caller hygiene: a key that reuses an intermediate shares it through
    a checkpoint barrier, so the call leaves the CacheManager as it found
    it (a lazy persist stays cached until the session ends).  Covers the
    robust-ingest split and the connected-components loop's edge and
    adjacency tables too."""
    spark.catalog.clearCache()  # earlier tests' entries are not this call's
    QUERIES[name](spark, SF_SMOKE).collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


@pytest.mark.parametrize(
    "name",
    [
        "graph_triangles",
        "dedup_clusters",
        "dedup_survivors",
        "dedup_survivors_longest",
        "dedup_pipeline_lsh",
        "split_leakage_guard",
    ],
)
def test_call_leaves_only_its_result_blocks(spark, name):
    """Caller hygiene for block storage: the checkpoint barriers a key
    shares its tables through are released once nothing it returns reads
    them, so the call adds at most the returned frame's own barrier to
    the RDD storage.  A wrong release makes the second read, after
    ``gc.collect()``, fail."""
    import gc

    from parquet_merger_spark.barrier import barriers_of

    sc = spark.sparkContext._jsc.sc()

    def stored() -> set[int]:
        return {info.id() for info in sc.getRDDStorageInfo()}

    before = stored()
    df = QUERIES[name](spark, SF_SMOKE)
    rows = sorted(df.collect())
    added = stored() - before
    own = {b._jdf.queryExecution().analyzed().rdd().id() for b in barriers_of(df)}
    assert len(added) <= 1 and added <= own, (added, own)
    gc.collect()
    assert sorted(df.collect()) == rows


def test_release_takes_only_barriers(spark):
    """``release`` decides from the plan: a frame derived from a barrier
    is not one, so the call raises before it frees anything.  A released
    barrier then fails loudly when read."""
    from parquet_merger_spark.barrier import materialize_lazy, release

    b = spark.range(0, 10, 1, 2).transform(materialize_lazy)
    assert b.count() == 10
    with pytest.raises(ValueError):
        release(b, b.select("id"))
    assert b.count() == 10
    release(b)
    with pytest.raises(Exception, match="CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND"):
        b.count()
