"""Materialized dedup-audit layer.

The dedup audit family (q214 cluster histogram, q243 golden record,
q277 detector agreement, q300 corpus scorecard) consumes three expensive
relations — MinHash-LSH pairs (q24), SimHash pairs (q25), n-gram Jaccard
pairs (q23) — plus the connected-components cluster labels derived from
the MinHash pairs (q68). Re-running the detectors for every audit is the
exploratory mode; a production platform computes each relation ONCE per
corpus snapshot, persists it, and re-aggregates the stored relation.

``materialize_dedup_index`` runs each detector once and commits its
output through the snapshot store (operators/snapshots.py — versioned,
time-travelable, same manifest machinery as every other table). The
cluster relation is derived FROM the stored pair relation, so the LSH
pass runs exactly once even though two relations depend on it.

The ``*_from_index`` twins produce bit-identical results to their fresh
counterparts (pinned by tests/test_audit_index.py) while reading only
the materialized relations + column-pruned document metadata — at 100 TB
the audits drop from corpus-sized LSH re-runs to re-aggregations of
relations bounded by the duplicate mass.

Mirrors the reference's pattern of persisting derived tables for the
serving layer (reference: glue_jobs/transform.py writes curated parquet
once; Athena queries re-read it) applied to dedup relations.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

from ..operators.snapshots import read_snapshot, write_snapshot

# index tables: name -> the registry query whose output is materialized
INDEX_SOURCES = {
    "minhash_pairs": "q24_minhash_lsh_dedup",
    "simhash_pairs": "q25_simhash_dedup",
    "ngram_pairs": "q23_ngram_jaccard_dedup",
}
DERIVED_TABLES = ("dup_clusters",)  # from stored minhash_pairs, not the corpus


def _table_path(index_dir: str, name: str) -> str:
    return os.path.join(index_dir, name)


def materialize_dedup_index(
    spark: SparkSession, sf_dir: str, index_dir: str
) -> dict[str, dict[str, int]]:
    """Compute the dedup relations once and commit each as a snapshot.

    Returns {table: {"version": v, "n_rows": n}}. Re-running appends a
    new version per table (overwrite-mode snapshot: latest wins, old
    versions stay time-travelable / rollback-able).
    """
    from ..operators.dedup import dup_clusters
    from ..plans.queries import QUERY_REGISTRY

    report: dict[str, dict[str, int]] = {}
    for table, query in INDEX_SOURCES.items():
        df = QUERY_REGISTRY[query].fn(spark, sf_dir)
        path = _table_path(index_dir, table)
        version = write_snapshot(df, path)
        n = read_snapshot(spark, path).count()
        report[table] = {"version": version, "n_rows": n}

    # clusters derive from the STORED pair relation: the LSH pass above
    # ran once; connected components is per-round equi-join + min-agg
    # over the (tiny) pair relation only.
    pairs = read_snapshot(spark, _table_path(index_dir, "minhash_pairs"))
    clusters = dup_clusters(pairs)
    path = _table_path(index_dir, "dup_clusters")
    version = write_snapshot(clusters, path)
    report["dup_clusters"] = {
        "version": version,
        "n_rows": read_snapshot(spark, path).count(),
    }
    return report


# ── from-index audit twins (bit-identical to the fresh queries) ──────────────


def dup_cluster_histogram_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str, version: int | None = None
) -> DataFrame:
    """q214 over the stored cluster relation: the histogram and the
    singleton anti-join re-aggregate (doc_id, cluster_id) — no LSH."""
    from ..catalog import load_table
    from ..plans.training import _dup_cluster_histogram

    clusters = read_snapshot(
        spark, _table_path(index_dir, "dup_clusters"), version
    ).select("doc_id", "cluster_id")
    return _dup_cluster_histogram(load_table(spark, sf_dir, "documents"), clusters)


def golden_record_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str, version: int | None = None
) -> DataFrame:
    """q243 over the stored cluster relation joined to column-pruned
    document attributes."""
    from ..catalog import load_table
    from ..plans.training import _golden_record

    cl = read_snapshot(
        spark, _table_path(index_dir, "dup_clusters"), version
    ).select("doc_id", "cluster_id")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return _golden_record(cl, d)


def detector_agreement_from_index(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> DataFrame:
    """q277 over the stored pair relations — neither detector re-runs."""
    from ..plans.training import _detector_agreement

    return _detector_agreement(
        read_snapshot(spark, _table_path(index_dir, "minhash_pairs"), version),
        read_snapshot(spark, _table_path(index_dir, "simhash_pairs"), version),
    )


def corpus_scorecard_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str, version: int | None = None
) -> DataFrame:
    """q300 with the n-gram dup-pair relation read from the index; the
    cheap map-only components (quality score, mixture diversity) still
    compute fresh — they are not dedup relations."""
    from ..plans.training import _corpus_scorecard

    pairs = read_snapshot(spark, _table_path(index_dir, "ngram_pairs"), version)
    return _corpus_scorecard(spark, sf_dir, pairs)


def cluster_agreement_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str, version: int | None = None
) -> DataFrame:
    """q349 (ARI + B-cubed vs the exact-dup partition) over the stored
    cluster relation — the LSH+CC pass never re-runs; only the cheap
    fingerprint window over column-pruned documents computes fresh."""
    from ..catalog import load_table
    from ..plans.training2 import _cluster_agreement

    cl = read_snapshot(
        spark, _table_path(index_dir, "dup_clusters"), version
    ).select("doc_id", "cluster_id")
    return _cluster_agreement(
        load_table(spark, sf_dir, "documents").select("doc_id", "text"), cl
    )


def dup_capture_recapture_from_index(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> DataFrame:
    """q354 (Chapman coverage estimate) over the stored pair relations —
    neither detector re-runs."""
    from ..plans.training2 import _capture_recapture

    return _capture_recapture(
        read_snapshot(spark, _table_path(index_dir, "minhash_pairs"), version)
        .select("doc_a", "doc_b"),
        read_snapshot(spark, _table_path(index_dir, "simhash_pairs"), version)
        .select("doc_a", "doc_b"),
    )


def cochran_q_from_index(
    spark: SparkSession, index_dir: str, version: int | None = None
) -> DataFrame:
    """q367 (Cochran's Q across detectors) over the stored pair
    relations — none of the three detectors re-runs."""
    from ..plans.training2 import _cochran_q

    def pairs(name):
        return read_snapshot(spark, _table_path(index_dir, name), version).select(
            "doc_a", "doc_b"
        )

    return _cochran_q(
        pairs("minhash_pairs"), pairs("simhash_pairs"), pairs("ngram_pairs")
    )


def split_leakage_from_index(
    spark: SparkSession, sf_dir: str, index_dir: str, version: int | None = None
) -> DataFrame:
    """q417 (doc-split vs cluster-split leakage audit) over the stored
    MinHash pair + cluster relations — the LSH+CC pass never re-runs;
    only the map-side hash split over doc ids computes fresh."""
    from ..catalog import load_table
    from ..plans.training4 import _split_leakage

    return _split_leakage(
        load_table(spark, sf_dir, "documents").select("doc_id"),
        read_snapshot(spark, _table_path(index_dir, "minhash_pairs"), version)
        .select("doc_a", "doc_b"),
        read_snapshot(spark, _table_path(index_dir, "dup_clusters"), version)
        .select("doc_id", "cluster_id"),
    )


FROM_INDEX_AUDITS = {
    "q417_split_leakage_audit": split_leakage_from_index,
    "q214_dup_cluster_histogram": dup_cluster_histogram_from_index,
    "q243_golden_record": golden_record_from_index,
    "q277_detector_agreement": lambda spark, sf_dir, index_dir, version=None: (
        detector_agreement_from_index(spark, index_dir, version)
    ),
    "q300_corpus_scorecard": corpus_scorecard_from_index,
    "q349_cluster_agreement": cluster_agreement_from_index,
    "q354_dup_capture_recapture": lambda spark, sf_dir, index_dir, version=None: (
        dup_capture_recapture_from_index(spark, index_dir, version)
    ),
    "q367_cochran_q": lambda spark, sf_dir, index_dir, version=None: (
        cochran_q_from_index(spark, index_dir, version)
    ),
}
