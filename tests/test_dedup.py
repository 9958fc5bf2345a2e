"""Dedup operator invariants (SURVEY §5.3: exact-duplicate recall = 1.0):
identical documents must always be caught by every near-dup detector, and
non-duplicates must score accordingly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bigdatafraude_ml_graphx_spark.dedup import (
    dedup_exact,
    duplicate_groups,
    lsh_candidate_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash64,
    simhash_near_pairs,
)


@pytest.fixture(scope="module")
def docs(spark):
    base = "the quick brown fox jumps over the lazy dog near the river bank"
    near = "the quick brown fox jumps over the lazy dog near the river bend"
    other = "completely different content about spark partitions and shuffles"
    rows = [
        (1, base),
        (2, base),            # exact duplicate of 1
        (3, base + "!!!"),    # exact after normalization (punct stripped)
        (4, near),            # near duplicate
        (5, other),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup_recall_and_canonical(docs):
    groups = duplicate_groups(docs).collect()
    by_canon = {r["canonical_id"]: r["n_copies"] for r in groups}
    # 1,2,3 collapse (3 normalizes to the same text); canonical = min id.
    assert by_canon[1] == 3
    assert by_canon[4] == 1 and by_canon[5] == 1
    kept = sorted(r["doc_id"] for r in dedup_exact(docs).collect())
    assert kept == [1, 4, 5]


def test_minhash_identical_signatures(docs):
    sigs = {r["doc"]: tuple(r[c] for c in sorted(r.asDict()) if c.startswith("mh_"))
            for r in minhash_signatures(docs, num_hashes=8).collect()}
    assert sigs[1] == sigs[2] == sigs[3]  # exact dups: identical signatures
    assert sigs[1] != sigs[5]


def test_lsh_finds_exact_duplicates(docs):
    sigs = minhash_signatures(docs, num_hashes=8)
    pairs = {
        (r["doc_a"], r["doc_b"]): r["n_shared_bands"]
        for r in lsh_candidate_pairs(sigs, num_hashes=8, bands=4).collect()
    }
    # exact dups share ALL bands — recall 1.0 by construction
    assert pairs[(1, 2)] == 4 and pairs[(1, 3)] == 4 and pairs[(2, 3)] == 4
    assert (1, 5) not in pairs


def test_ngram_jaccard_scores(docs):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, n=3, threshold=0.0).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical → jaccard exactly 1
    assert 0.5 < pairs[(1, 4)] < 1.0  # near dup: one trailing word differs
    assert (1, 5) not in pairs  # disjoint trigrams never even join


def test_simhash_hamming_zero_for_dups(docs):
    sh = {r["doc"]: r["simhash"] for r in simhash64(docs).collect()}
    assert sh[1] == sh[2] == sh[3]
    near = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=3).collect()
    }
    assert near[(1, 2)] == 0
    assert (1, 5) not in near or near[(1, 5)] > 3  # banding may not even pair them


def test_dedup_preserves_non_duplicates(spark):
    distinct_rows = [(i, f"unique document number {i} with words {i * 7}") for i in range(20)]
    df = spark.createDataFrame(distinct_rows, "doc_id long, text string")
    assert dedup_exact(df).count() == 20


def test_doc_shingles_map_side_distinct_equals_global_distinct(docs):
    """The r13 map-side set semantics (array_distinct before explode) yield
    exactly the multiset the old post-explode global .distinct() produced —
    valid because doc ids are unique per row (the documented precondition)."""
    from pyspark.sql import functions as F

    from bigdatafraude_ml_graphx_spark.dedup.ngram import (
        _doc_shingles,
        ngrams_from_tokens,
    )
    from bigdatafraude_ml_graphx_spark.functions.text import tokens

    new = _doc_shingles(docs, "text", "doc_id", 3, distinct=True)
    old = (
        docs.select(F.col("doc_id").alias("doc"), tokens("text").alias("_toks"))
        .select(
            "doc",
            F.explode(ngrams_from_tokens(F.col("_toks"), 3)).alias("shingle"),
        )
        .distinct()
    )
    a = sorted(map(tuple, new.collect()))
    b = sorted(map(tuple, old.collect()))
    assert a == b


def _exchanges_above_cache(df) -> int:
    """Exchange nodes in ``df``'s physical plan, not counting the plans of
    the cached frames it scans (an InMemoryTableScan is a leaf)."""
    root = df._jdf.queryExecution().executedPlan()
    if root.nodeName() == "AdaptiveSparkPlan":
        root = root.executedPlan()

    def walk(node):
        kids = node.children()
        return ("Exchange" in node.nodeName()) + sum(
            walk(kids.apply(i)) for i in range(kids.size())
        )

    return walk(root)


def test_keyed_shingle_frames_sized_from_input(spark, sf_dir, monkeypatch):
    """The keyed shingle frames take their partition count from the input —
    max(input partitions, defaultParallelism) — not from the session's
    spark.sql.shuffle.partitions (8 in this suite). The self-join over the
    keyed frame still needs no Exchange, and both sides of the probe join
    share one count (the larger), so they stay co-partitioned."""
    from bigdatafraude_ml_graphx_spark.catalog import load_table
    from bigdatafraude_ml_graphx_spark.dedup.ngram import (
        _keyed_capped_shingles,
        ngram_jaccard_probe_pairs,
    )

    floor = spark.sparkContext.defaultParallelism
    docs = load_table(spark, sf_dir, "documents")
    assert docs.rdd.getNumPartitions() == 1  # a one-file corpus
    sh = _keyed_capped_shingles(docs, "text", "doc_id", 3, None)
    try:
        assert sh.rdd.getNumPartitions() == floor
        sh.count()  # materialized: consumers plan off its partitioning
        joined = sh.alias("a").join(
            sh.hint("merge").alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc") < F.col("b.doc")),
        )
        assert _exchanges_above_cache(joined) == 0
    finally:
        sh.unpersist()

    persisted = []
    cls = type(docs)
    orig_persist = cls.persist

    def recording_persist(self, *args, **kwargs):
        persisted.append(self)
        return orig_persist(self, *args, **kwargs)

    monkeypatch.setattr(cls, "persist", recording_persist)
    index_parts = floor + 2
    ngram_jaccard_probe_pairs(
        docs.filter(F.col("doc_id") % 17 == 0),
        docs.filter(F.col("doc_id") % 17 != 0).repartition(index_parts),
        max_shingle_freq=10,
    )
    assert [f.rdd.getNumPartitions() for f in persisted] == [index_parts] * 2
