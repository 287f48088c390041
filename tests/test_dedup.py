"""Dedup operator semantics on the documents table (the testdata plants
near-duplicate pairs at Jaccard >= 0.9 with a clean gap below ~0.1)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_datalake_platform_spark.catalog import load_table
from aws_datalake_platform_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
    word_shingles,
)

from .conftest import SF_SMOKE


def test_word_shingles_edges(spark):
    df = spark.createDataFrame(
        [("a b c d",), ("a b",), ("",), ("  x  y   z ",)], "text string"
    )
    rows = df.select(word_shingles("text", 3).alias("sh")).collect()
    assert rows[0]["sh"] == ["a b c", "b c d"]
    assert rows[1]["sh"] == []  # fewer than k tokens
    assert rows[2]["sh"] == []
    assert rows[3]["sh"] == ["x y z"]  # whitespace-collapsed


def test_exact_dedup_keeps_canonical(spark):
    df = spark.createDataFrame(
        [(1, "Hello, World!"), (2, "hello world"), (3, "other text")],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"] for r in exact_dedup(df, "doc_id", "text").collect())
    assert kept == [1, 3]  # 2 normalizes to the same text as 1; min id wins


@pytest.fixture(scope="module")
def docs(spark):
    return load_table(spark, SF_SMOKE, "documents")


def test_jaccard_pairs_find_planted_dups(spark, docs):
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    assert len(pairs) > 0
    for r in pairs:
        assert r["doc_a"] < r["doc_b"]
        assert r["jaccard"] >= 0.5


def test_minhash_matches_exact_at_high_threshold(spark, docs):
    """At J>=0.5 with 8x4 banding, LSH recall on the planted (J>=0.9) dups
    should equal the exact all-pairs result."""
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.5).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"])
        for r in minhash_lsh_pairs(docs, "doc_id", "text", threshold=0.5).collect()
    }
    assert lsh <= exact  # LSH never invents pairs (verify step is exact)
    # planted dups are J>=0.9; banding catches those with prob ~1-3e-4 each
    assert len(lsh) >= len(exact) - 1


def test_simhash_finds_planted_dups(spark, docs):
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in ngram_jaccard_pairs(docs, "doc_id", "text", k=3, threshold=0.9).collect()
    }
    sim = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3).collect()
    }
    # simhash at hamming<=3 should recover most word-shuffle near-dups
    assert len(exact & sim) >= len(exact) * 0.5
    assert len(sim) <= len(exact) * 3  # and not explode with false positives


def test_hot_bucket_cap_star_links_degenerate_corpus(spark):
    """Adversarial corpus: 1000 identical docs put ALL docs into one bucket
    per band. The cap keeps every agg buffer <= max_bucket_size (no task
    OOM path) by degrading oversized buckets to star pairs — and the
    duplicate group is still fully reported as one connected component
    rooted at the min id."""
    docs = spark.createDataFrame(
        [(i, "spam spam spam wonderful spam baked beans and spam") for i in range(1000)],
        "doc_id long, text string",
    )
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", threshold=0.5, max_bucket_size=64
    ).collect()
    assert len(pairs) == 999  # star: (0, b) for every other member, once
    assert all(r["doc_a"] == 0 and r["jaccard"] == 1.0 for r in pairs)
    assert {r["doc_b"] for r in pairs} == set(range(1, 1000))


def test_bucket_stats_reports_dropped_comparisons(spark):
    from aws_datalake_platform_spark.operators.dedup import bucket_stats, minhash_band_buckets

    docs = spark.createDataFrame(
        [(i, "spam spam spam wonderful spam baked beans and spam") for i in range(1000)],
        "doc_id long, text string",
    )
    stats = bucket_stats(minhash_band_buckets(docs, "doc_id", "text"), 64).collect()
    assert len(stats) == 8  # one hot bucket per band
    dropped = (1000 * 999) // 2 - 999
    assert all(r["n_docs"] == 1000 and r["dropped_comparisons"] == dropped for r in stats)


def test_max_df_guard_drops_stop_shingles(spark):
    df = spark.createDataFrame(
        [(1, "the quick brown fox"), (2, "the quick brown cat"), (3, "the quick brown dog")],
        "doc_id long, text string",
    )
    unguarded = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1).count()
    guarded = ngram_jaccard_pairs(df, "doc_id", "text", k=3, threshold=0.1, max_df=2).count()
    assert unguarded == 3  # all pairs share 'the quick brown'
    assert guarded == 0  # the shared stop-shingle is dropped


def test_winnow_fingerprints_shared_chunk(spark):
    """Winnowing guarantee: a shared run of window+k-1 tokens yields at
    least one shared fingerprint; docs with < window k-grams emit none."""
    from aws_datalake_platform_spark.operators.dedup import winnow_fingerprints

    chunk = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, "one two three " + chunk + " four five six"),
        (2, chunk + " completely different tail words here now"),
        (3, "unrelated content about something else entirely with many words"),
        (4, "too few"),  # < k tokens
        (5, "just four little words"),  # 2 k-grams < window -> none
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    fps = winnow_fingerprints(df, "doc_id", "text", k=3, window=4)
    got = fps.collect()
    sets = {}
    for r in got:
        sets.setdefault(r["doc_id"], set()).add(r["fp"])
    assert sets.get(4) is None and sets.get(5) is None
    assert sets[1] & sets[2], "shared chunk must share a fingerprint"
    assert not (sets[1] & sets[3])


def test_connected_components_chain_and_islands(spark):
    """Chain 1-2-3-4-5 (diameter 4 -> several propagation rounds), a
    2-clique, and an untouched pair ordering (doc_a < doc_b not assumed)."""
    from aws_datalake_platform_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (3, 2), (3, 4), (5, 4), (10, 11), (20, 21), (21, 20)],
        "doc_a long, doc_b long",
    )
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 20: 20, 21: 20}


def test_distributed_connected_components_leaves_nothing_cached(spark, monkeypatch):
    """The propagation loop checkpoints its rounds instead of caching
    them, so the distributed path leaves Spark's cache as it found it."""
    from aws_datalake_platform_spark.functions import core
    from aws_datalake_platform_spark.operators.dedup import connected_components

    monkeypatch.setattr(core, "DRIVER_COLLECT_BYTES", 0)
    spark.catalog.clearCache()
    edges = spark.createDataFrame([(1, 2), (3, 2), (10, 11)], "doc_a long, doc_b long")
    got = {r["node"]: r["comp"] for r in connected_components(edges).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_simhash_cap_star_links_degenerate_corpus(spark):
    """SimHash twin of the MinHash cap test (added after the sf1 proof
    found the band self-join uncapped): identical docs land in one bucket
    per band; with the cap they degrade to star pairs — candidate count
    is linear, and the boilerplate block stays ONE connected component."""
    from aws_datalake_platform_spark.operators.dedup import (
        connected_components,
        simhash_near_dup_pairs,
    )

    docs = spark.createDataFrame(
        [(i, "terms of service boilerplate apply to all users") for i in range(200)],
        "doc_id long, text string",
    )
    pairs = simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=3, max_bucket_size=64)
    rows = pairs.collect()
    # star degradation: linear pair count (min-id hub), not C(200,2)=19900
    assert len(rows) == 199, len(rows)
    assert all(r["hamming"] == 0 for r in rows)
    comp = connected_components(pairs, "doc_a", "doc_b")
    assert comp.select("comp").distinct().count() == 1


def test_pagerank_plan_embeds_single_edge_subtree(spark):
    """q123 returns a checkpointed result: the final plan must NOT embed
    ten copies of the edge-mining window subtree (VERDICT r2 item 2 —
    pre-fix the lag-window appeared once per power iteration)."""
    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

    df = QUERY_REGISTRY["q123_pagerank_transitions"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Window") == 0, "edge-mining subtree leaked into the returned plan"
    assert df.count() > 0


def test_capped_pairs_no_self_pairs_on_duplicate_membership(spark):
    """Regression (r3 advisor): duplicate (__id, __band, __bucket) rows
    from a caller must not produce doc_a == doc_b self-pairs in the tiny
    collect_list expansion (the old join path's a < b guard, restored)."""
    from aws_datalake_platform_spark.operators.dedup import capped_candidate_pairs

    buckets = spark.createDataFrame(
        [(1, 0, 7), (1, 0, 7), (2, 0, 7), (3, 0, 7), (3, 0, 7)],
        ["__id", "__band", "__bucket"],
    )
    rows = capped_candidate_pairs(buckets, max_bucket_size=64).collect()
    assert all(r["doc_a"] < r["doc_b"] for r in rows), rows
    assert {(r["doc_a"], r["doc_b"]) for r in rows} == {(1, 2), (1, 3), (2, 3)}


def test_capped_pairs_cap_boundary(spark):
    """A bucket of exactly max_bucket_size members expands to all C(n, 2)
    pairs; one member more degrades it to the n - 1 star pairs anchored
    at the bucket minimum. Pairs that two buckets both produce (a second
    band repeating them) come out once."""
    from itertools import combinations

    from aws_datalake_platform_spark.operators.dedup import capped_candidate_pairs

    cap = 4
    at_cap = [10, 11, 12, 13]
    over_cap = [20, 21, 22, 23, 24]
    rows = [(i, 0, 1) for i in at_cap] + [(i, 0, 2) for i in over_cap]
    # band 1 repeats a pair of the at-cap bucket and the whole over-cap one
    rows += [(10, 1, 1), (11, 1, 1)] + [(i, 1, 2) for i in over_cap]
    buckets = spark.createDataFrame(rows, ["__id", "__band", "__bucket"])
    pairs = [
        (r["doc_a"], r["doc_b"])
        for r in capped_candidate_pairs(buckets, max_bucket_size=cap).collect()
    ]
    assert len(pairs) == len(set(pairs)), pairs
    assert set(pairs) == set(combinations(at_cap, 2)) | {(20, b) for b in over_cap[1:]}
    assert len(pairs) == 6 + 4


def test_incremental_dedup_verdicts_planted(spark):
    """Hand-planted batch vs corpus: an exact re-ingest -> exact_dup with
    dup_of = the corpus id; a one-token edit of a long doc -> near_dup;
    fresh text -> unique; and exact wins precedence when both match."""
    from aws_datalake_platform_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts,
    )

    base = ("the quick brown fox jumps over the lazy dog again and again "
            "while the patient tortoise wins the long race every time")
    corpus = spark.createDataFrame(
        [(1, base), (2, "completely different corpus text about spark " 
                        "partitioning strategies and shuffle boundaries at scale")],
        "doc_id long, text string",
    )
    batch = spark.createDataFrame(
        [
            (100, base),                                   # exact re-ingest
            (101, base.replace("tortoise", "turtle")),     # near dup (1-token edit)
            (102, "entirely novel document with no overlap whatsoever "
                  "covering watermarks state stores and output modes"),  # unique
        ],
        "doc_id long, text string",
    )
    index = build_dedup_index(corpus, "doc_id", "text")
    out = {r["doc_id"]: r for r in
           incremental_dedup_verdicts(batch, index, "doc_id", "text", threshold=0.5).collect()}
    assert out[100]["verdict"] == "exact_dup" and out[100]["dup_of"] == 1
    assert out[101]["verdict"] == "near_dup" and out[101]["dup_of"] == 1
    assert out[102]["verdict"] == "unique" and out[102]["dup_of"] is None


def test_incremental_dedup_hot_bucket_star_cap(spark):
    """A corpus bucket above the cap contributes only its min-id star
    representative as a candidate — the batch still detects the dup but
    the join fan-out is 1 per new doc, not |bucket|."""
    from aws_datalake_platform_spark.operators.dedup import (
        build_dedup_index,
        incremental_dedup_verdicts,
    )

    boiler = ("all rights reserved terms of service apply to every user "
              "of this site please read them very carefully before use")
    corpus = spark.createDataFrame(
        [(i, boiler) for i in range(10, 40)], "doc_id long, text string"
    )
    batch = spark.createDataFrame([(500, boiler)], "doc_id long, text string")
    index = build_dedup_index(corpus, "doc_id", "text")
    out = incremental_dedup_verdicts(
        batch, index, "doc_id", "text", threshold=0.5, max_bucket_size=4
    ).collect()
    assert len(out) == 1
    # exact match fires regardless; dup_of is the smallest corpus id
    assert out[0]["verdict"] == "exact_dup" and out[0]["dup_of"] == 10
