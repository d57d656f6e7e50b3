"""Portable mergeable cardinality sketches (KMV / k-minimum-values).

The engine's other sketch key (``sketch_stats``) uses Spark's built-in
HLL++/quantile sketches — correct at scale but ENGINE-SPECIFIC, so it can
only be rows-only checked against DuckDB.  KMV closes that gap: keep the
``k`` smallest distinct hash values per group; with hashes uniform on
[0, p), the group's distinct count is estimated by ``(k-1) * p / h_k``
(Bar-Yossef et al. 2002, the classic bottom-k estimator).  Using the
repo's portable universal hash ``(a*x + c) mod p`` (every intermediate
< 2^61) the ENTIRE sketch — hashing, per-group bottom-k, merge, estimate
— is exact integer arithmetic any SQL engine reproduces bit-for-bit,
so the key carries a full DuckDB oracle.

Mergeability is LOSSLESS for the estimate: the global k smallest hash
values of a union are each among their own partition's k smallest, so
``merge(bottom_k(day) for day in month) == bottom_k(month)`` exactly —
pinned by ``tests/test_sketches.py``.  That is the property that lets a
100 TB pipeline maintain per-partition sketches (a few hundred bytes
each) and answer distinct-count rollups at any grain without rescanning:
the shuffle moves k longs per group, never the data.

Scale shape: one distinct on (group, hash) — the same key shuffle an
exact COUNT(DISTINCT) needs — then the skew-safe two-phase bottom-k
(:func:`~parquet_merger_spark.operators.ranking.topk_per_group_salted`),
so a single hot group never funnels through one task.  At 100 TB the
exact-distinct tier is what you replace: sketches for the dashboard
grains, exact only where the contract demands it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from parquet_merger_spark.operators.dedup import PORTABLE_HASH_AC, PORTABLE_MOD
from parquet_merger_spark.operators.ranking import topk_per_group_salted


def portable_hash64(col: Column, which: int = 0) -> Column:
    """The repo's portable universal hash over a non-negative int64 key,
    reduced mod p first so the multiply stays < 2^61 (exact everywhere)."""
    a, c = PORTABLE_HASH_AC[which]
    return F.pmod(
        F.lit(a) * F.pmod(col, F.lit(PORTABLE_MOD)) + F.lit(c),
        F.lit(PORTABLE_MOD),
    )


def kmv_sketch(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int = 64,
) -> DataFrame:
    """(group_cols..., rank, h): the ``k`` smallest DISTINCT portable-hash
    values of ``id_col`` per group — the serialized sketch, k longs per
    group.  rank is 1-based (rank k row carries h_k, the estimator's
    denominator)."""
    hashed = df.select(
        *group_cols, portable_hash64(F.col(id_col)).alias("h")
    ).distinct()
    return topk_per_group_salted(
        hashed,
        group_cols,
        [F.col("h").asc()],
        k,
        salt_col=F.xxhash64("h"),
    ).select(*group_cols, "rank", "h")


def kmv_estimate(
    sketch: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """(group_cols..., n_est): distinct-count estimate per group from a
    :func:`kmv_sketch` frame.  Groups with fewer than k distinct values
    are EXACT (their sketch holds every hash): n_est = row count.
    Otherwise n_est = (k-1) * p div h_k — integer arithmetic, < 2^63.
    """
    agg = sketch.groupBy(*group_cols).agg(
        F.count(F.lit(1)).alias("__n"),
        F.max(F.when(F.col("rank") == k, F.col("h"))).alias("__hk"),
    )
    est = F.when(F.col("__n") < k, F.col("__n")).otherwise(
        F.expr(f"CAST(({k} - 1) * CAST({PORTABLE_MOD} AS BIGINT) div __hk AS BIGINT)")
    )
    return agg.select(*group_cols, est.cast("long").alias("n_est"))


def kmv_merge(
    sketch: DataFrame,
    to_group_cols: list[str],
    k: int = 64,
) -> DataFrame:
    """Re-aggregate sketches to a coarser grain (day -> month, source ->
    corpus): the k smallest of the unioned hash sets.  LOSSLESS: every
    member of the coarser bottom-k is in its finer group's bottom-k, so
    the result equals :func:`kmv_sketch` run directly at the coarse grain
    (equality pinned in tests).  Input rows are (group, rank, h); hashes
    repeated across fine groups (the same id seen on two days) collapse
    via distinct before re-ranking."""
    hashes = sketch.select(*to_group_cols, "h").distinct()
    return topk_per_group_salted(
        hashes,
        to_group_cols,
        [F.col("h").asc()],
        k,
        salt_col=F.xxhash64("h"),
    ).select(*to_group_cols, "rank", "h")


def vq_sketch(
    df: DataFrame,
    group_cols: list[str],
    value_col: str,
    id_col: str,
    rate_den: int = 8,
    which: int = 1,
) -> DataFrame:
    """(group_cols..., v, cnt): a portable mergeable QUANTILE sketch —
    the value-count table of a deterministic hash sample.

    Rows whose portable hash of ``id_col`` falls below ``p // rate_den``
    (a ~1/rate_den uniform sample, row-local, no RNG) are counted per
    (group, value).  Because the gate depends only on the row id, the
    sample of a union IS the union of the samples, so sketches merge
    LOSSLESSLY by summing counts (:func:`vq_merge` at a coarser grain
    equals sketching that grain directly — pinned in tests), and the
    whole structure is order- and partition-invariant: every engine that
    reproduces the integer hash reproduces the sketch bit-for-bit.

    Scale shape: one map-side-combinable groupBy on (group, value) over
    the sampled subset; the sketch size is bounded by the sample's
    distinct values, never the data.  ``rate_den`` trades accuracy
    (rank error ~ 1/sqrt(sample rows per group)) for sketch cost —
    at 100 TB you raise it; the estimator below is unchanged."""
    thr = PORTABLE_MOD // rate_den
    return (
        df.filter(F.col(value_col).isNotNull())
        .filter(portable_hash64(F.col(id_col), which) < thr)
        .groupBy(*group_cols, F.col(value_col).alias("v"))
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def vq_merge(sketch: DataFrame, to_group_cols: list[str]) -> DataFrame:
    """Re-aggregate value-count sketches to a coarser grain (day ->
    month, source -> corpus): counts ADD, losslessly — the merged table
    equals :func:`vq_sketch` run directly at the coarse grain."""
    return sketch.groupBy(*to_group_cols, "v").agg(F.sum("cnt").alias("cnt"))


def lower_rank(num: int, den: int) -> str:
    """The lower-quantile rank ``(n - 1) * num div den + 1`` of the
    fraction ``num/den`` as an integer SQL expression over the group
    total ``n`` — a :func:`vq_quantiles` rank (exact integers, no float
    probabilities, so every engine selects the same rank)."""
    if den <= 0:
        raise ValueError(f"quantile fraction needs den > 0; got {num}/{den}")
    return f"((n - 1) * {num}) div {den} + 1"


def vq_quantiles(
    sketch: DataFrame,
    group_cols: list[str],
    qs: list[tuple[str, str]],
) -> DataFrame:
    """(group_cols..., n, <label>...): exact rank selection over a
    value-count table — one row per group, one column per quantile.

    ``sketch`` is a ``(group_cols..., v, cnt)`` count table (a
    :func:`vq_sketch`, an exact value count, or any table whose ``cnt``
    is a non-negative integer weight; rows of equal ``v`` in a group
    count together); ``n`` is the group's total count.
    Each ``(label, rank)`` in ``qs`` names an integer SQL expression over
    ``n`` — :func:`lower_rank` for the ``(n-1)*num div den + 1`` rule, or
    any other rank such as ``(n * 95 + 99) div 100`` (= ceil(0.95 n)) —
    and ``<label>`` is the first ``v`` whose cumulative count reaches
    it: the value whose cumulative interval covers the rank.

    One cumulative window over the count table joined to its broadcast
    per-group totals (one row per group), then one aggregate picks every
    label.  The window runs over the COUNT TABLE (distinct values), never
    rows; with ``group_cols=[]`` it runs in one partition over that
    table, the 1-row total is cross-joined, and an empty table gives one
    all-null row."""
    if not qs:
        raise ValueError(f"qs must be a non-empty list of (label, rank); got {qs!r}")
    w = Window.partitionBy(*group_cols).orderBy("v").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = sketch.withColumn("cum", F.sum("cnt").over(w))
    totals = F.broadcast(sketch.groupBy(*group_cols).agg(F.sum("cnt").alias("n")))
    cum = cum.join(totals, group_cols) if group_cols else cum.crossJoin(totals)
    return cum.groupBy(*group_cols).agg(
        F.max("n").alias("n"),
        *[
            F.min(F.when(F.col("cum") >= F.expr(rank), F.col("v"))).alias(label)
            for label, rank in qs
        ],
    )


def cms_probe_entries(
    key_col: str, depth: int = 3, width: int = 256, which_base: int = 2
):
    """array<struct<i,slot>> of a key's ``depth`` counter coordinates —
    the shared probe expression behind sketch build, estimate, and the
    streaming counter maintenance (one definition, bit-identical
    everywhere)."""
    return F.array(
        *[
            F.struct(
                F.lit(i).alias("i"),
                F.pmod(
                    portable_hash64(F.col(key_col), which_base + i),
                    F.lit(width),
                ).alias("slot"),
            )
            for i in range(depth)
        ]
    )


def cms_sketch(
    df: DataFrame,
    group_cols: list[str],
    key_col: str,
    depth: int = 3,
    width: int = 256,
    which_base: int = 2,
) -> DataFrame:
    """(group_cols..., i, slot, c): a portable count-min sketch per group
    — the one-pass frequency structure :func:`q_heavy_hitters`'s
    docstring promises as the streaming-scale tier of the exact
    wordcount.  Row ``(i, slot)`` holds the summed multiplicity of every
    key whose i-th portable hash lands in ``slot`` (``h_i(x) mod
    width``); an item's frequency estimate is the MIN over its ``depth``
    counters — an overestimate ONLY (collisions add, never subtract),
    within ``total/width`` with probability ``1 - (1/e)^depth`` (Cormode
    & Muthukrishnan 2005).

    All integer arithmetic on the repo's portable hash family, so any
    engine reproduces the counter matrix bit-for-bit, and the sketch is
    order/partition-invariant by construction (addition commutes).
    Scale shape: one explode(depth) + map-side-combinable groupBy; the
    sketch is depth*width longs per group, never data-sized."""
    entries = cms_probe_entries(key_col, depth, width, which_base)
    return (
        df.select(*group_cols, F.explode(entries).alias("e"))
        .select(*group_cols, "e.i", "e.slot")
        .groupBy(*group_cols, "i", "slot")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def cms_merge(sketch: DataFrame, to_group_cols: list[str]) -> DataFrame:
    """Re-aggregate count-min sketches to a coarser grain: counters ADD
    elementwise, losslessly — ``CMS(A ∪ B) == CMS(A) + CMS(B)`` exactly,
    so the merged matrix equals sketching the coarse grain directly
    (pinned in tests).  The shuffle moves depth*width longs per fine
    group, never the data."""
    return sketch.groupBy(*to_group_cols, "i", "slot").agg(
        F.sum("c").alias("c")
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    key_col: str,
    depth: int = 3,
    width: int = 256,
    which_base: int = 2,
) -> DataFrame:
    """(key_col, n_est): count-min frequency estimates for each candidate
    key against a single-group sketch (drop or fix the group columns
    first).  min over the key's depth counters; a key whose slot has no
    counter row estimates 0 (nothing ever hashed there).  The candidate
    side is the small one (a broadcast-sized dictionary at any scale a
    top-k contract needs), so the probe is a broadcast join, no
    data-sized shuffle."""
    entries = cms_probe_entries(key_col, depth, width, which_base)
    probes = candidates.select(key_col, F.explode(entries).alias("e")).select(
        key_col, "e.i", "e.slot"
    )
    return (
        probes.join(sketch.select("i", "slot", "c"), ["i", "slot"], "left")
        .groupBy(key_col)
        .agg(F.min(F.coalesce(F.col("c"), F.lit(0))).alias("n_est"))
    )


def bloom_build(
    df: DataFrame,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    which_base: int = 5,
) -> DataFrame:
    """1-row (words: array<long>) Bloom filter of ``key_col``'s value
    set — the portable semi-join runtime filter: ``m_bits`` bits packed
    into ``m_bits/64`` longs, each key setting ``k_hashes`` bits at
    portable-hash positions.  NO FALSE NEGATIVES ever (a member's bits
    are all set by construction), so pre-filtering a fact table with
    :func:`bloom_filter_rows` before an exact join never changes the
    join's result — the property that lets the ``bloom_prefilter_join``
    key be certified by the PLAIN join's oracle.

    Built fully in-plan (no driver collect): explode k positions per
    key, bit_or per 64-bit word, densify against a ``range(m/64)``
    frame, fold to one ordered array row.  Every frame after the first
    groupBy is model-sized (<= m/64 rows).  At 100 TB this is the
    shuffle killer for selective dim joins too big to broadcast whole:
    the dim's KEY SET rides along as m/8 bytes (8 KB here) and
    eliminates non-matching fact rows at the SCAN, before the
    sort-merge join's exchange ever sees them."""
    # ceil, not floor: for m_bits not a multiple of 64 the top PARTIAL
    # word must exist or its bits are dropped in the densify join and a
    # true member tests negative (element_at past the array end) —
    # breaking the no-false-negative contract the prefilter rides on
    n_words = (m_bits + 63) // 64
    spark = df.sparkSession
    entries = F.array(
        *[
            F.pmod(portable_hash64(F.col(key_col), which_base + i), F.lit(m_bits))
            for i in range(k_hashes)
        ]
    )
    bits = (
        df.select(F.explode(entries).alias("pos"))
        .select(
            F.expr("pos div 64").alias("w"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("mask"),
        )
    )
    words = bits.groupBy("w").agg(F.bit_or("mask").alias("bits"))
    dense = (
        spark.range(n_words)
        .join(words, F.col("id") == F.col("w"), "left")
        .select("id", F.coalesce("bits", F.lit(0).cast("long")).alias("bits"))
    )
    return dense.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("id", "bits"))),
            lambda s: s["bits"],
        ).alias("words")
    )


def bloom_test_col(
    words_col: str,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    which_base: int = 5,
) -> Column:
    """Boolean column: ``key_col`` MAY be in the Bloom filter carried in
    ``words_col`` (all ``k_hashes`` bits set) — row-local integer tests,
    no shuffle; the arithmetic-shift sign extension is masked off by the
    & 1.  Never false for a true member; NULL for a NULL key (callers
    splitting keep/maybe branches must coalesce)."""
    conds = []
    for i in range(k_hashes):
        # the SAME portable_hash64 Column helper the build side uses —
        # a second hand-built SQL spelling of the hash would let build
        # and probe silently desynchronize (= false negatives)
        pos = F.pmod(
            portable_hash64(F.col(key_col), which_base + i), F.lit(m_bits)
        )
        word = F.element_at(
            F.col(words_col), (pos / 64).cast("int") + F.lit(1)
        )
        conds.append(F.bit_get(word, F.pmod(pos, F.lit(64)).cast("int")) == 1)
    cond = conds[0]
    for c in conds[1:]:
        cond = cond & c
    return cond


def bloom_filter_rows(
    df: DataFrame,
    words_col: str,
    key_col: str,
    m_bits: int = 4096,
    k_hashes: int = 3,
    which_base: int = 5,
) -> DataFrame:
    """Rows of ``df`` whose ``key_col`` MAY be in the Bloom filter
    carried in ``words_col`` — see :func:`bloom_test_col`."""
    return df.filter(
        bloom_test_col(words_col, key_col, m_bits, k_hashes, which_base)
    )


# ---------------------------------------------------------------------------
# MinCount sketch (Flajolet-Martin with stochastic averaging; Giroire 2009):
# the STREAMING member of the distinct-sketch family.  The bottom-k KMV
# above cannot be maintained by a native streaming aggregation (its state —
# "the k smallest distinct hashes" — needs custom bounded state and a sort),
# but MinCount can: hash once per row, route to register ``h mod k``, keep
# MIN(h div k) — an elementwise-min matrix that a plain complete-mode
# streaming groupBy maintains with state bounded at groups * k rows BY
# CONSTRUCTION (the sketch bounds the state store, not a watermark), exactly
# like the count-min matrix in ``cms_freq_stream``.  Min is associative and
# commutative, so the streamed registers equal the batch sketch bit-for-bit,
# and merge to coarser grains (elementwise min) is LOSSLESS: min of mins ==
# global min.  One integer probe per row — at 100 TB this is the cheap
# always-on distinct tier (KMV stays the batch rollup tier with its sharper
# bottom-k estimator).
# ---------------------------------------------------------------------------

MINCOUNT_WHICH = 8  # disjoint member of the portable hash family


def mincount_sketch(
    df: DataFrame,
    group_cols: list[str],
    id_col: str,
    k: int = 64,
) -> DataFrame:
    """(group_cols..., reg, m): per-group MinCount registers — for each of
    ``k`` registers the minimum of ``hash(id) div k`` over rows routed to
    it by ``hash(id) mod k``.  Registers never touched by a row are
    absent (the estimator fills them with the register ceiling).  No
    distinct and no sort: one hash + one (group, reg) MIN aggregation,
    map-side combined."""
    h = portable_hash64(F.col(id_col), MINCOUNT_WHICH)
    return (
        df.select(*group_cols, h.alias("hv"))
        .select(
            *group_cols,
            F.pmod(F.col("hv"), F.lit(k)).alias("reg"),
            F.expr(f"hv div {k}").alias("val"),
        )
        .groupBy(*group_cols, "reg")
        .agg(F.min("val").alias("m"))
    )


def mincount_merge(
    sketch: DataFrame, to_group_cols: list[str]
) -> DataFrame:
    """Roll registers up to a coarser grain: elementwise min.  LOSSLESS —
    equals :func:`mincount_sketch` run directly at the coarse grain
    (min of mins is the global min), pinned in tests."""
    return sketch.groupBy(*to_group_cols, "reg").agg(F.min("m").alias("m"))


def mincount_estimate(
    sketch: DataFrame, group_cols: list[str], k: int = 64
) -> DataFrame:
    """(group_cols..., n_est): distinct-count estimate from MinCount
    registers.  Each register's min over n_j routed values sits near
    ceiling/(n_j+1), so the SUM of all k mins sits near p/(n/k + 1) and
    ``n_est = (k * p) div sum - k`` — pure int64 arithmetic any engine
    reproduces (``k * p`` ~ 6.4e10 << 2^63, so the multiply comes
    FIRST and the estimator keeps unit resolution; empty registers
    contribute the ceiling ``p div k``; the max(sum, 1) guard covers
    the all-zero-mins corner)."""
    ceiling = PORTABLE_MOD // k
    agg = sketch.groupBy(*group_cols).agg(
        F.sum("m").alias("__s"), F.count(F.lit(1)).alias("__k")
    )
    return (
        agg.withColumn(
            "__t",
            F.greatest(
                F.col("__s") + (F.lit(k) - F.col("__k")) * F.lit(ceiling),
                F.lit(1).cast("long"),
            ),
        )
        .select(
            *group_cols,
            (
                F.expr(
                    f"CAST({k} * CAST({PORTABLE_MOD} AS BIGINT) AS BIGINT) div __t"
                )
                - F.lit(k)
            ).cast("long").alias("n_est"),
        )
    )
