"""KMV (bottom-k) portable distinct sketch: lossless merge, accuracy
bound, exact-below-k behavior, determinism.  Oracle equality for the
``kmv_distinct_rollup`` key is covered by test_oracle.py."""

from __future__ import annotations

import os
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_merger_spark.operators.sketches import (  # noqa: E402
    kmv_estimate,
    kmv_merge,
    kmv_sketch,
)

SF_DIR = "/root/testdata/sf0.01"
K = 64


@pytest.fixture(scope="module")
def events_days(spark):
    e = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    ts = (
        F.expr("timestamp_micros(ts div 1000)")
        if dict(e.dtypes)["ts"] == "bigint"
        else F.col("ts").cast("timestamp")
    )
    return e.select(
        F.date_trunc("day", ts).cast("long").alias("day_epoch"), "user_id"
    )


def test_kmv_merge_is_lossless(events_days):
    """k smallest of the union of per-day bottom-k sets == bottom-k of
    the whole period computed directly — the property that makes
    per-partition sketches answer any coarser rollup exactly."""
    day_sk = kmv_sketch(events_days, ["day_epoch"], "user_id", k=K)
    merged = kmv_merge(
        day_sk.select(F.lit(0).alias("g"), "rank", "h"), ["g"], k=K
    )
    direct = kmv_sketch(
        events_days.select(F.lit(0).alias("g"), "user_id"), ["g"], "user_id", k=K
    )
    assert {(r.rank, r.h) for r in merged.collect()} == {
        (r.rank, r.h) for r in direct.collect()
    }


def test_kmv_estimate_within_error_bound(events_days):
    """Bottom-k std error ~ 1/sqrt(k) = 12.5% at k=64; assert a generous
    3-sigma-ish 35% band per day against the exact distinct counts."""
    sk = kmv_sketch(events_days, ["day_epoch"], "user_id", k=K)
    est = {r.day_epoch: r.n_est for r in kmv_estimate(sk, ["day_epoch"], k=K).collect()}
    exact = {
        r.day_epoch: r.n
        for r in events_days.distinct()
        .groupBy("day_epoch")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    assert est.keys() == exact.keys()
    for day, n in exact.items():
        assert abs(est[day] - n) / n <= 0.35, (day, est[day], n)


def test_kmv_exact_below_k(spark):
    """A group with fewer than k distinct ids reports the EXACT count
    (its sketch holds every hash)."""
    small = spark.range(0, 10).select(
        F.lit(1).alias("g"), (F.col("id") % 7).alias("uid")
    )
    sk = kmv_sketch(small, ["g"], "uid", k=K)
    [row] = kmv_estimate(sk, ["g"], k=K).collect()
    assert row.n_est == 7


def test_kmv_deterministic_under_repartition(events_days):
    a = kmv_sketch(events_days, ["day_epoch"], "user_id", k=K)
    b = kmv_sketch(events_days.repartition(17), ["day_epoch"], "user_id", k=K)
    assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}


@pytest.fixture(scope="module")
def events_typed(spark):
    e = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    return e.select(
        F.col("event_type").alias("scope"), "event_id", "value"
    )


def test_vq_merge_is_lossless(events_typed):
    """Summed per-type value-count sketches == the sketch built directly
    at the corpus grain — the hash gate is row-local and
    group-independent, so sample-of-union == union-of-samples exactly."""
    from parquet_merger_spark.operators.sketches import vq_merge, vq_sketch

    fine = vq_sketch(events_typed, ["scope"], "value", "event_id")
    merged = {
        (r.v, r.cnt)
        for r in vq_merge(
            fine.withColumn("scope", F.lit("all")), ["scope"]
        ).collect()
    }
    direct = {
        (r.v, r.cnt)
        for r in vq_sketch(
            events_typed.withColumn("scope", F.lit("all")),
            ["scope"], "value", "event_id",
        ).collect()
    }
    assert merged == direct and len(direct) > 0


def test_vq_quantiles_rank_error_bounded(events_typed):
    """The sampled p50's TRUE percentile rank must sit within 0.10 of
    0.50 (sample ~n/8, binomial rank error ~1/(2*sqrt(n/8)) << 0.10),
    and the exact tier must return the true lower median exactly."""
    from parquet_merger_spark.operators.sketches import (
        lower_rank,
        vq_quantiles,
        vq_sketch,
    )

    all_rows = events_typed.withColumn("scope", F.lit("all"))
    sk = vq_sketch(all_rows, ["scope"], "value", "event_id")
    (est,) = vq_quantiles(
        sk, ["scope"], [("p50", lower_rank(1, 2)), ("p95", lower_rank(19, 20))]
    ).collect()
    values = sorted(r.value for r in events_typed.select("value").collect())
    import bisect

    for label, q in (("p50", 0.5), ("p95", 0.95)):
        true_rank = bisect.bisect_right(values, est[label]) / len(values)
        assert abs(true_rank - q) <= 0.10, (label, est[label], true_rank)

    full = all_rows.groupBy("scope", F.col("value").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    (exact,) = vq_quantiles(full, ["scope"], [("p50", lower_rank(1, 2))]).collect()
    assert exact.p50 == values[(len(values) - 1) // 2]


def test_vq_deterministic_under_repartition(events_typed):
    from parquet_merger_spark.operators.sketches import (
        lower_rank,
        vq_quantiles,
        vq_sketch,
    )

    qs = [("p50", lower_rank(1, 2)), ("p95", lower_rank(19, 20))]
    a = {
        tuple(r)
        for r in vq_quantiles(
            vq_sketch(events_typed, ["scope"], "value", "event_id"),
            ["scope"], qs,
        ).collect()
    }
    b = {
        tuple(r)
        for r in vq_quantiles(
            vq_sketch(
                events_typed.repartition(13), ["scope"], "value", "event_id"
            ),
            ["scope"], qs,
        ).collect()
    }
    assert a == b and len(a) == 5


def test_vq_quantiles_matches_sorted_reference(spark):
    """Grouped, global and empty-global selections equal a pure-Python
    reference: expand each group's (v, cnt) rows into its sorted
    multiset and index it at the rank.  The table has groups of
    different n, a repeated value within a group, weights > 1, a
    zero-weight row and a single-row group; ranks follow both rules in
    use (``lower_rank`` and ceil(q*n)) plus the end ranks 1 and n."""
    from parquet_merger_spark.operators.sketches import lower_rank, vq_quantiles

    rows = [
        ("a", 10, 1), ("a", 20, 3), ("a", 20, 1), ("a", 30, 0),
        ("a", 40, 2), ("a", 50, 1),
        ("b", 5, 2), ("b", 20, 4), ("b", 60, 1),
        ("c", 7, 3),
    ]
    qs = [
        ("q1", lower_rank(1, 4)),
        ("p50", lower_rank(1, 2)),
        ("p90", lower_rank(9, 10)),
        ("p95c", "(n * 95 + 99) div 100"),
        ("lo", "1"),
        ("hi", "n"),
    ]
    rank_of = {
        "q1": lambda n: (n - 1) * 1 // 4 + 1,
        "p50": lambda n: (n - 1) * 1 // 2 + 1,
        "p90": lambda n: (n - 1) * 9 // 10 + 1,
        "p95c": lambda n: (n * 95 + 99) // 100,
        "lo": lambda n: 1,
        "hi": lambda n: n,
    }

    def reference(members):
        values = sorted(v for v, cnt in members for _ in range(cnt))
        n = len(values)
        return (n, *(values[rank_of[label](n) - 1] for label, _ in qs))

    t = spark.createDataFrame(rows, "g string, v long, cnt long")
    glob = t.drop("g")
    got = (
        vq_quantiles(t, ["g"], qs)
        .unionByName(vq_quantiles(glob, [], qs).withColumn("g", F.lit("*")))
        .unionByName(
            vq_quantiles(glob.filter(F.lit(False)), [], qs).withColumn("g", F.lit("empty"))
        )
        .collect()
    )
    labels = ["n"] + [label for label, _ in qs]
    got = {r.g: tuple(r[c] for c in labels) for r in got}
    want = {
        g: reference([(v, c) for gg, v, c in rows if gg == g]) for g in "abc"
    }
    want["*"] = reference([(v, c) for _, v, c in rows])
    want["empty"] = (None,) * len(labels)
    assert got == want


@pytest.fixture(scope="module")
def events_day_user(spark):
    e = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    ts = (
        F.expr("timestamp_micros(ts div 1000)")
        if dict(e.dtypes)["ts"] == "bigint"
        else F.col("ts").cast("timestamp")
    )
    return e.select(
        F.date_trunc("day", ts).cast("long").alias("day_epoch"), "user_id"
    )


def test_cms_merge_is_lossless(events_day_user):
    """CMS(union of days) == elementwise sum of per-day CMS matrices —
    counters add exactly, so merged-day and direct-global sketches are
    the same matrix."""
    from parquet_merger_spark.operators.sketches import cms_merge, cms_sketch

    fine = cms_sketch(events_day_user, ["day_epoch"], "user_id")
    merged = {
        (r.i, r.slot, r.c)
        for r in cms_merge(
            fine.select(F.lit(0).alias("g"), "i", "slot", "c"), ["g"]
        ).collect()
    }
    direct = {
        (r.i, r.slot, r.c)
        for r in cms_sketch(
            events_day_user.withColumn("g", F.lit(0)), ["g"], "user_id"
        ).collect()
    }
    assert merged == direct and len(direct) > 0


def test_cms_estimates_overestimate_only_and_tight(events_day_user):
    """est >= exact for EVERY key (collisions add, never subtract) and
    the error obeys the count-min bound comfortably: at depth 3 /
    width 256 over 10k events, max observed overestimate stays under
    3 * total/width (deterministic at this fixture)."""
    from parquet_merger_spark.operators.sketches import cms_estimate, cms_sketch

    g = events_day_user.withColumn("g", F.lit(0))
    sk = cms_sketch(g, ["g"], "user_id")
    users = g.select("user_id").distinct()
    est = {r.user_id: r.n_est for r in cms_estimate(sk, users, "user_id").collect()}
    exact = {
        r.user_id: r.n
        for r in g.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    total = sum(exact.values())
    assert set(est) == set(exact)
    assert all(est[u] >= exact[u] for u in exact)
    assert max(est[u] - exact[u] for u in exact) <= 3 * total // 256
    hit = sum(est[u] == exact[u] for u in exact) / len(exact)
    assert hit >= 0.7, f"exact-hit rate {hit:.2f}"


def test_cms_deterministic_under_repartition(events_day_user):
    from parquet_merger_spark.operators.sketches import cms_sketch

    a = {
        tuple(r)
        for r in cms_sketch(events_day_user, ["day_epoch"], "user_id").collect()
    }
    b = {
        tuple(r)
        for r in cms_sketch(
            events_day_user.repartition(17), ["day_epoch"], "user_id"
        ).collect()
    }
    assert a == b and len(a) > 0


def test_bloom_no_false_negatives_and_prunes(spark):
    """Every true join key survives the Bloom pre-filter (no false
    negatives — the property that makes the pre-filtered join equal the
    plain join) while ~90% of fact rows are eliminated before the
    join's shuffle; the false-positive overhead stays under 1% of the
    fact table at 4096 bits / 3 hashes / 153 keys."""
    from parquet_merger_spark.operators.sketches import (
        bloom_build,
        bloom_filter_rows,
    )

    c = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    o = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
    dim = c.filter(F.col("c_acctbal") >= 9000).select("c_custkey")
    bloom = bloom_build(dim, "c_custkey")
    survivors = bloom_filter_rows(
        o.crossJoin(F.broadcast(bloom)), "words", "o_custkey"
    ).drop("words")

    true_ids = {
        r.o_orderkey
        for r in o.join(
            dim, o.o_custkey == dim.c_custkey, "left_semi"
        ).select("o_orderkey").collect()
    }
    surv_ids = {r.o_orderkey for r in survivors.select("o_orderkey").collect()}
    assert true_ids <= surv_ids  # no false negatives, ever
    n_orders = o.count()
    assert len(surv_ids) < 0.2 * n_orders  # the prune is real
    assert len(surv_ids) - len(true_ids) < 0.01 * n_orders  # FP overhead


def test_bloom_deterministic_under_repartition(spark):
    from parquet_merger_spark.operators.sketches import bloom_build

    c = spark.read.parquet(os.path.join(SF_DIR, "customer.parquet"))
    dim = c.filter(F.col("c_acctbal") >= 9000).select("c_custkey")
    a = bloom_build(dim, "c_custkey").collect()[0].words
    b = bloom_build(dim.repartition(7), "c_custkey").collect()[0].words
    assert a == b and len(a) == 64 and any(w != 0 for w in a)


def test_kmv_set_ops_accuracy_and_merge_identity(spark):
    """Inclusion-exclusion overlap from sketches alone: a / b / union
    estimates within the 1/sqrt(k) family error (rel <= 0.25 at k=64),
    the compounded intersect estimate within 0.35, and the union
    estimate obtained from MERGED per-segment sketches identical to
    sketching the combined segment directly (losslessness through the
    set-ops route)."""
    from parquet_merger_spark.operators.sketches import (
        kmv_estimate,
        kmv_merge,
        kmv_sketch,
    )
    from parquet_merger_spark.queries import QUERIES

    rows = {r.measure: r for r in QUERIES["kmv_set_ops"](spark, SF_DIR).collect()}
    assert set(rows) == {"a", "b", "union", "intersect"}
    for m in ("a", "b", "union"):
        r = rows[m]
        assert abs(r.n_est - r.n_exact) <= 0.25 * r.n_exact, (m, r)
    ri = rows["intersect"]
    assert abs(ri.n_est - ri.n_exact) <= 0.35 * ri.n_exact, ri
    # exact inclusion-exclusion consistency of the truth columns
    assert rows["intersect"].n_exact == (
        rows["a"].n_exact + rows["b"].n_exact - rows["union"].n_exact
    )

    e = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    seg = (
        e.filter(F.col("event_type").isin("purchase", "click"))
        .filter(F.col("value") > 120)
        .select(F.col("event_type").alias("seg"), "user_id")
    )
    sk = kmv_sketch(seg, ["seg"], "user_id")
    via_merge = kmv_estimate(
        kmv_merge(sk.select(F.lit("u").alias("seg"), "rank", "h"), ["seg"]),
        ["seg"],
    ).collect()[0].n_est
    direct = kmv_estimate(
        kmv_sketch(seg.withColumn("seg", F.lit("u")), ["seg"], "user_id"),
        ["seg"],
    ).collect()[0].n_est
    assert via_merge == direct == rows["union"].n_est


def _events_typed(spark):
    e = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
    return e.select(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("long").alias("day_epoch"),
        "event_id",
    )


def test_mincount_merge_lossless(spark):
    """Elementwise-min rollup of per-(type, day) registers equals the
    sketch computed directly at the type grain — the property that lets
    a 100 TB pipeline keep per-partition registers and answer any
    coarser distinct-count without rescanning."""
    from parquet_merger_spark.operators.sketches import (
        mincount_merge,
        mincount_sketch,
    )

    e = _events_typed(spark)
    fine = mincount_sketch(e, ["event_type", "day_epoch"], "event_id")
    merged = {
        (r.event_type, r.reg, r.m)
        for r in mincount_merge(fine, ["event_type"]).collect()
    }
    direct = {
        (r.event_type, r.reg, r.m)
        for r in mincount_sketch(e, ["event_type"], "event_id").collect()
    }
    assert merged == direct and len(direct) > 0


def test_mincount_accuracy_and_determinism(spark):
    """Estimates stay within the sum-of-mins estimator's envelope
    (sigma ~ 1.3/sqrt(k) ~ 16% at k=64; bound 0.5 covers the 1/x
    skew tails — measured max 0.40 on the fixture) and the sketch is
    partition-invariant."""
    from parquet_merger_spark.operators.sketches import (
        mincount_estimate,
        mincount_sketch,
    )

    e = _events_typed(spark)
    sk = mincount_sketch(e, ["event_type"], "event_id")
    est = {r.event_type: r.n_est for r in mincount_estimate(sk, ["event_type"]).collect()}
    exact = {
        r.event_type: r.n
        for r in e.groupBy("event_type")
        .agg(F.countDistinct("event_id").alias("n"))
        .collect()
    }
    assert set(est) == set(exact)
    for t, n in exact.items():
        assert abs(est[t] - n) / n <= 0.5, (t, est[t], n)

    again = {
        (r.event_type, r.reg, r.m)
        for r in mincount_sketch(
            e.repartition(11), ["event_type"], "event_id"
        ).collect()
    }
    assert again == {(r.event_type, r.reg, r.m) for r in sk.collect()}
