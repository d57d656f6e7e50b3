"""Unit tests for near-dup cluster resolution (connected components)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from parquet_merger_spark.operators.dedup import (  # noqa: E402
    dup_clusters,
    near_dedup_survivors,
)


def _pairs(spark, rows):
    return spark.createDataFrame(rows, "id_a long, id_b long")


def test_chain_collapses_to_one_cluster(spark):
    """1-2, 2-3, 3-4 is a diameter-3 chain: propagation must carry the min
    label across multiple rounds, not just one hop."""
    clusters = dup_clusters(_pairs(spark, [(1, 2), (2, 3), (3, 4)]))
    got = {(r.doc_id, r.cluster_id) for r in clusters.collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1)}


def test_separate_components_keep_separate_ids(spark):
    clusters = dup_clusters(_pairs(spark, [(1, 2), (10, 11), (11, 12)]))
    got = {(r.doc_id, r.cluster_id) for r in clusters.collect()}
    assert got == {(1, 1), (2, 1), (10, 10), (11, 10), (12, 10)}


def test_survivors_keep_canonical_and_untouched(spark):
    docs = spark.createDataFrame(
        [(i, f"doc{i}") for i in range(1, 8)], "doc_id long, text string"
    )
    pairs = _pairs(spark, [(2, 3), (3, 4), (6, 7)])
    kept = sorted(
        r.doc_id for r in near_dedup_survivors(docs, pairs).select("doc_id").collect()
    )
    # clusters {2,3,4} -> keep 2; {6,7} -> keep 6; 1 and 5 untouched
    assert kept == [1, 2, 5, 6]


def test_chunk_documents_boundaries(spark):
    from parquet_merger_spark.operators.chunking import chunk_documents

    docs = spark.createDataFrame(
        [(1, " ".join(f"w{i}" for i in range(10))), (2, "only three words"), (3, "")],
        "doc_id long, text string",
    )
    out = chunk_documents(docs, chunk_tokens=4, overlap=1).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r.doc_id, []).append((r.chunk_idx, r.chunk_text, r.n_chunk_tokens))
    # doc 1 (10 tokens, step 3): starts 1,4,7 — chunk at 7 reaches the doc
    # end, so no redundant tail chunk at 10
    assert [c[1] for c in sorted(by_doc[1])] == [
        "w0 w1 w2 w3", "w3 w4 w5 w6", "w6 w7 w8 w9",
    ]
    assert [c[2] for c in sorted(by_doc[1])] == [4, 4, 4]
    assert sorted(by_doc[2]) == [(1, "only three words", 3)]
    # empty text -> split(" ") gives [""] -> one 1-token chunk (documented)
    assert sorted(by_doc[3]) == [(1, "", 1)]


def test_pack_sequences_bin_offsets(spark):
    from parquet_merger_spark.operators.chunking import pack_sequences

    rows = [(i, "x", 600) for i in range(1, 8)]  # 7 docs x 600 tokens
    df = spark.createDataFrame(rows, "doc_id long, lang string, n_tokens long")
    packed = {r.doc_id: r.bin_id for r in pack_sequences(df, 1000, shard_col="lang").collect()}
    # start offsets 0,600,1200,...,3600 -> bins 0,0,1,1,2,3,3
    assert packed == {1: 0, 2: 0, 3: 1, 4: 1, 5: 2, 6: 3, 7: 3}


def test_gram_index_roundtrip_matches_direct(spark, tmp_path):
    """write_gram_index -> load_gram_index -> contamination_probe must
    reproduce ngram_contamination exactly (same grams, same df cap), so
    the persisted build-once index is a pure performance rewrite — also
    at a ``file:`` URI, which goes through the Hadoop path handling."""
    from parquet_merger_spark.operators.dedup import (
        contamination_probe,
        load_gram_index,
        ngram_contamination,
        write_gram_index,
    )

    train = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated training text about spark shuffles"),
            (3, "the quick brown fox jumps over the lazy dog today again"),
        ],
        "doc_id long, text string",
    )
    test = spark.createDataFrame(
        [
            (100, "eval set copy: the quick brown fox jumps over the lazy dog"),
            (101, "novel eval sentence sharing nothing with training data"),
            (102, "xy"),  # too short for a 3-gram: must not crash or match
        ],
        "doc_id long, text string",
    )

    direct = {
        (r.test_id, r.train_id, r.shared_grams)
        for r in ngram_contamination(
            train, test, shingle_words=3, min_shared=3
        ).collect()
    }
    assert direct, "fixture must produce at least one contaminated pair"

    for path in (str(tmp_path / "gram_index"), (tmp_path / "gram_index_uri").as_uri()):
        write_gram_index(train, path, shingle_words=3)
        grams, sw = load_gram_index(spark, path)
        assert sw == 3
        via_index = {
            (r.test_id, r.train_id, r.shared_grams)
            for r in contamination_probe(
                grams, test, shingle_words=sw, min_shared=3
            ).collect()
        }
        assert via_index == direct, path

    # the df cap is part of the persisted index, not the probe: a gram in
    # every train doc disappears when max_train_df=2
    path2 = str(tmp_path / "gram_index_capped")
    write_gram_index(train, path2, shingle_words=3, max_train_df=2)
    grams2, _ = load_gram_index(spark, path2)
    capped = {
        (r.test_id, r.train_id)
        for r in contamination_probe(
            grams2, test, shingle_words=3, min_shared=1
        ).collect()
    }
    uncapped_direct = {
        (r.test_id, r.train_id)
        for r in ngram_contamination(
            train, test, shingle_words=3, min_shared=1, max_train_df=2
        ).collect()
    }
    assert capped == uncapped_direct


def test_interrupted_gram_index_write_rebuilds(spark, monkeypatch):
    """A crash while write_gram_index stores meta.json, after grams/ was
    rewritten, leaves no meta.json behind: not the stale one, not a
    partial one, not its temporary file.  So the next
    q_decontaminate_indexed call rebuilds the index and returns the
    oracle result, not a probe of the half-written grams/."""
    import duckdb
    import pytest

    from parquet_merger_spark.operators.dedup import write_gram_index
    from parquet_merger_spark.oracle import canon_rows, register_views
    from parquet_merger_spark.queries import ORACLE_SQL, QUERIES, _scratch_dir
    from parquet_merger_spark.sources import jsonfile

    sf = "/root/testdata/sf0.001"
    idx = _scratch_dir(spark, "gram_index_sf0.001")
    # the model a complete earlier build left
    jsonfile.write_json(
        spark, os.path.join(idx, "meta.json"), {"shingle_words": 3, "max_train_df": 10_000}
    )

    def crash(fs, src, dest):
        raise OSError("simulated crash before the rename")

    monkeypatch.setattr(jsonfile, "_replace", crash)
    unrelated = spark.createDataFrame(
        [(1, "a train corpus that shares no gram with the eval set")],
        "doc_id long, text string",
    )
    with pytest.raises(OSError, match="simulated crash"):
        write_gram_index(unrelated, idx, shingle_words=3)
    monkeypatch.undo()
    assert not [n for n in os.listdir(idx) if "meta.json" in n]

    got = QUERIES["decontaminate_indexed"](spark, sf).toPandas()
    assert os.path.exists(os.path.join(idx, "meta.json"))
    con = duckdb.connect()
    try:
        register_views(con, sf)
        want = con.execute(ORACLE_SQL["decontaminate_indexed"]).df()
    finally:
        con.close()
    assert len(want) > 0
    assert sorted(got.columns) == sorted(want.columns)
    assert canon_rows(got) == canon_rows(want)


def test_dup_clusters_string_ids_propagate_fully(spark):
    """Connected components must work for STRING doc ids: the old
    label-sum convergence check summed a string column (NULL every round
    under ANSI-off -> silent one-round 'convergence' that left path
    components split; a cast crash under ANSI-on).  The changed-label
    count is type-safe: a 4-hop path must fully collapse to the
    lexicographic minimum."""
    from parquet_merger_spark.operators.dedup import dup_clusters

    pairs = spark.createDataFrame(
        [("doc4", "doc5"), ("doc3", "doc4"), ("doc1", "doc3"), ("doc9", "doc8")],
        "id_a string, id_b string",
    )
    got = {
        (r.doc_id, r.cluster_id) for r in dup_clusters(pairs).collect()
    }
    assert got == {
        ("doc1", "doc1"),
        ("doc3", "doc1"),
        ("doc4", "doc1"),
        ("doc5", "doc1"),
        ("doc8", "doc8"),
        ("doc9", "doc8"),
    }, got


def test_minhash_signatures_row_sliced_kernel_is_exact(spark, monkeypatch):
    """The memory-bounded row-sliced minhash reduction must be
    bit-identical to the one-shot matrix it replaced: force multi-slice
    runs (budget smaller than any document) and compare."""
    import parquet_merger_spark.operators.dedup as dd

    docs = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog again and again"),
            (2, "an entirely different training document about query engines"),
            (3, "short text"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    base = {
        r.doc_id: tuple(r.sig)
        for r in dd.minhash_signatures(docs, "doc_id", "text", 64, 2).collect()
    }
    monkeypatch.setattr(dd, "_SIG_CHUNK_SHINGLES", 2)
    sliced = {
        r.doc_id: tuple(r.sig)
        for r in dd.minhash_signatures(docs, "doc_id", "text", 64, 2).collect()
    }
    assert sliced == base


def test_exact_dedup_survivor_deterministic_under_ties(spark):
    """Rows tying on order_col must yield the same survivor regardless of
    partitioning — the total-order tie-break over the remaining columns."""
    from parquet_merger_spark.operators.dedup import exact_dedup

    rows = [(1, 100, "b"), (1, 100, "a"), (1, 100, "c"), (2, 50, "z")]
    df = spark.createDataFrame(rows, "k long, ts long, payload string")
    first = sorted(
        tuple(r) for r in exact_dedup(df, ["k"], "ts").collect()
    )
    again = sorted(
        tuple(r)
        for r in exact_dedup(df.repartition(7), ["k"], "ts").collect()
    )
    assert first == again == [(1, 100, "a"), (2, 50, "z")]


# ---------------------------------------------------------------------------
# dup_passage_coverage / containment_pairs unit semantics
# ---------------------------------------------------------------------------

from parquet_merger_spark.operators.dedup import (  # noqa: E402
    containment_pairs,
    dup_passage_coverage,
)


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_dup_passages_shared_gram_covers_k_positions(spark):
    """Two docs sharing exactly one 3-gram: each gets dup_tokens = 3."""
    d = _docs(
        spark,
        [
            (1, "alpha beta gamma delta epsilon"),
            (2, "zeta alpha beta gamma eta theta"),
        ],
    )
    got = {
        r.doc_id: (r.n_tokens, r.dup_tokens, r.dup_frac)
        for r in dup_passage_coverage(d, k=3).collect()
    }
    assert got[1] == (5, 3, 0.6)
    assert got[2] == (6, 3, 0.5)


def test_dup_passages_overlapping_grams_union_not_sum(spark):
    """Adjacent duplicated grams overlap: coverage is the UNION of their
    position intervals, not k per gram."""
    d = _docs(
        spark,
        [
            (1, "a b c d x1 y1"),
            (2, "a b c d x2 y2"),
        ],
    )
    # shared 3-grams: "a b c" (pos 1) and "b c d" (pos 2) -> covers 1..4
    got = {r.doc_id: r.dup_tokens for r in dup_passage_coverage(d, k=3).collect()}
    assert got == {1: 4, 2: 4}


def test_dup_passages_short_and_unique_docs_zero(spark):
    d = _docs(
        spark,
        [
            (1, "one two"),  # shorter than k
            (2, "three four five six"),  # unique content
            (3, "p q r s p q r s"),  # IN-DOC repeat only: not cross-doc dup
        ],
    )
    rows = {r.doc_id: (r.n_tokens, r.dup_tokens) for r in dup_passage_coverage(d, k=3).collect()}
    assert rows == {1: (2, 0), 2: (4, 0), 3: (8, 0)}


def test_containment_is_directional(spark):
    """A's grams all appear in B (B is A + extra text): A->B containment
    1.0; B->A is below threshold and must NOT appear."""
    d = _docs(
        spark,
        [
            (1, "a b c d"),
            (2, "a b c d e f g h i j k l m n o p"),
        ],
    )
    rows = {
        (r.id, r.contained_in): r.containment
        for r in containment_pairs(d, shingle_words=2, threshold=0.9).collect()
    }
    assert rows == {(1, 2): 1.0}


def test_containment_threshold_filters(spark):
    """Half of A's 2-grams in B -> containment 0.5: included at t=0.5,
    excluded at t=0.9."""
    d = _docs(
        spark,
        [
            (1, "a b c x y z"),  # grams: ab bc cx xy yz (5)
            (2, "a b c q r s t u v w"),  # shares ab bc -> 2/5 = 0.4
        ],
    )
    lo = {
        (r.id, r.contained_in)
        for r in containment_pairs(d, shingle_words=2, threshold=0.4).collect()
    }
    hi = {
        (r.id, r.contained_in)
        for r in containment_pairs(d, shingle_words=2, threshold=0.9).collect()
    }
    assert (1, 2) in lo and not hi


def test_survivors_by_policy_keeps_best_member(spark):
    """Longest-text policy: cluster {1,2,3} keeps doc 2 (longest); doc 9
    is untouched and passes through."""
    from pyspark.sql import functions as F

    from parquet_merger_spark.operators.dedup import near_dedup_survivors_by

    docs = spark.createDataFrame(
        [(1, 5), (2, 50), (3, 20), (9, 1)], "doc_id long, n_chars long"
    )
    pairs = _pairs(spark, [(1, 2), (2, 3)])
    kept = sorted(
        r.doc_id
        for r in near_dedup_survivors_by(
            docs, pairs, order_by=[F.desc("n_chars")]
        ).collect()
    )
    assert kept == [2, 9]


def test_survivors_by_policy_tie_breaks_on_id(spark):
    from pyspark.sql import functions as F

    from parquet_merger_spark.operators.dedup import near_dedup_survivors_by

    docs = spark.createDataFrame(
        [(7, 10), (8, 10)], "doc_id long, n_chars long"
    )
    pairs = _pairs(spark, [(7, 8)])
    kept = [
        r.doc_id
        for r in near_dedup_survivors_by(
            docs, pairs, order_by=[F.desc("n_chars")]
        ).collect()
    ]
    assert kept == [7]


def test_exact_dedup_skips_unorderable_tiebreak_columns(spark):
    """Map-typed columns cannot enter an ORDER BY; the total-order
    tiebreak must skip them (and containers holding them) instead of
    raising EXPRESSION_TYPE_IS_NOT_ORDERABLE."""
    from parquet_merger_spark.operators.dedup import exact_dedup

    df = spark.createDataFrame(
        [(1, 10, {"a": "x"}), (1, 5, {"b": "y"}), (2, 7, {"c": "z"})],
        "k long, ts long, props map<string,string>",
    )
    out = {r.k: r.ts for r in exact_dedup(df, ["k"], "ts").collect()}
    assert out == {1: 5, 2: 7}


def test_dup_clusters_step_grouping_invariant(spark):
    """The multi-step round composition is an optimization, not a
    semantics change: any steps_per_round reaches the same fixpoint on a
    long chain (diameter >> steps)."""
    from parquet_merger_spark.operators.dedup import dup_clusters

    chain = [(i, i + 1) for i in range(12)] + [(20, 21), (21, 22)]
    pairs = spark.createDataFrame(chain, "id_a long, id_b long")
    expect = {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs, steps_per_round=1).collect()}
    assert expect == {r["doc_id"]: r["cluster_id"] for r in dup_clusters(pairs, steps_per_round=3).collect()}
    assert expect[12] == 0 and expect[22] == 20


def test_dedup_pipeline_lsh_matches_union_find_replay(spark):
    """The composed LSH->clusters->survivors key equals an independent
    driver-side union-find over the SAME candidate pairs."""
    from parquet_merger_spark.operators.dedup import minhash_lsh_pairs
    from parquet_merger_spark.queries import QUERIES, _t

    sf = "/root/testdata/sf0.01"
    d = _t(spark, sf, "documents")
    pairs = minhash_lsh_pairs(d, num_hashes=64, bands=16, threshold=0.5)
    parent: dict[int, int] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for r in pairs.collect():
        ra, rb = find(r["id_a"]), find(r["id_b"])
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    losers = {x for x in parent if find(x) != x}
    all_ids = {r["doc_id"] for r in d.select("doc_id").collect()}
    expect = all_ids - losers
    got = {r["doc_id"] for r in QUERIES["dedup_pipeline_lsh"](spark, sf).collect()}
    assert got == expect
