"""Daily-batch incremental curation: process day N against the stored
day-0..N-1 index without ever re-reading prior corpus text.

The full-recompute pipeline (pipelines/corpus.py) is the bootstrap /
backfill mode; this module is the operating mode a platform runs every
day. State lives in three snapshot-store tables under ``state_dir``
(versioned, time-travelable — one append per day, no rewrite):

- ``dedup_index``   — per-doc text-dedup metadata (__id, __fp exact
  fingerprint, __bks LSH band buckets, __mh 60-bit shingle-hash set)
  from operators/dedup.py:build_dedup_index. NO text column: yesterday's
  corpus is scanned once, on the day it was curated.
- ``semantic_index`` — (vec_id, cluster, embedding) for every curated
  doc, pre-assigned to its nearest centroid, so today's cross-corpus
  semantic pass is a cluster-bounded join, never batch × corpus.
- ``centroids``      — the learned k-means coarse quantizer (cid, ce),
  trained ONCE on the day-0 batch (operators/similarity.py
  _centroid_matrix) and reused by every later day; retrain offline and
  re-materialize when drift audits (q213/q278) say so.

Per-day flow: within-batch exact dedup → within-batch MinHash-LSH
near-dup (connected components, keep min id) → cross-corpus verdicts
against the stored dedup_index (exact fingerprint join + banded bucket
join + Jaccard verify on candidates only — operators/dedup.py
incremental_dedup_verdicts) → optional semantic pass (within-batch
SemDeDup with the stored centroids, then batch-vs-stored same-cluster
cosine) → append the survivors' index rows to state.

Scale: every per-day cost is sized by the BATCH (one Arrow feature pass,
one fingerprint equi-join, one banded bucket join with hot-bucket star
degradation, one cluster-bounded embedding join); the corpus appears
only through its stored index metadata, whose snapshot append is a
manifest update + one batch-sized parquet write.

Reference parity: the reference's daily trigger re-runs its Glue
transform over the new partition only (reference: glue_jobs/
transform.py + the EventBridge daily schedule in main.tf); this is that
operating mode with dedup/semantic state made explicit.
"""

from __future__ import annotations

import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.snapshots import list_snapshots, read_snapshot, write_snapshot

DEDUP_INDEX = "dedup_index"
SEMANTIC_INDEX = "semantic_index"
CENTROIDS = "centroids"

# LSH parameterization shared by build_dedup_index and the verdict join —
# must match across days, so it is pinned here rather than per-call.
_K, _NUM_HASHES, _BANDS = 3, 32, 8


def _path(state_dir: str, table: str) -> str:
    return os.path.join(state_dir, table)


def _has_state(state_dir: str, table: str) -> bool:
    try:
        return bool(list_snapshots(_path(state_dir, table)))
    except (OSError, ValueError, KeyError):
        return False


def curate_incremental(
    spark: SparkSession,
    batch_docs: DataFrame,
    state_dir: str,
    batch_embeddings: DataFrame | None = None,
    semantic_threshold: float | None = None,
    near_dup_threshold: float = 0.5,
    n_centroids: int = 64,
) -> dict[str, Any]:
    """Curate one day's batch against the stored corpus state.

    ``batch_docs``: documents-shaped frame (doc_id, text, ...).
    ``batch_embeddings``: (doc_id|vec_id, embedding) for the batch —
    required together with ``semantic_threshold`` (same both-or-neither
    contract as curate_corpus).

    Returns per-stage counts, the surviving DataFrame (``curated``) and
    the new state versions. Day 0 (empty ``state_dir``) bootstraps:
    within-batch passes only, centroids trained on this batch.
    """
    from ..operators.dedup import (
        build_dedup_index,
        dup_clusters,
        exact_dedup,
        incremental_dedup_verdicts,
        minhash_lsh_pairs,
    )

    if (batch_embeddings is None) != (semantic_threshold is None):
        missing = (
            "batch_embeddings" if batch_embeddings is None else "semantic_threshold"
        )
        raise ValueError(
            "incremental semantic dedup needs both `batch_embeddings` and "
            f"`semantic_threshold`; `{missing}` was not provided"
        )

    report: dict[str, Any] = {"n_batch": batch_docs.count()}

    # 1. within-batch exact dedup (hash-groupBy on the fingerprint)
    surv = exact_dedup(batch_docs, "doc_id", "text")
    report["n_after_batch_exact"] = surv.count()

    # 2. within-batch near-dup (same machinery as curate_corpus 1b).
    # CHECKPOINT the stage result: the LSH pair mining + CC anti-join is
    # the batch's most expensive subtree, and without lineage truncation
    # every later action (verdict collect, final count, the TWO Arrow
    # feature passes in stages 3 and 5) re-executes it. persist+count is
    # NOT enough — the cache entry under the nondeterministic Arrow-UDF
    # lineage is not reliably substituted into derived plans (profiled
    # at sf0.1: day-1 verdicts 111 s persisted vs 1.8 s checkpointed;
    # see incremental_dedup_verdicts' docstring note).
    pairs = minhash_lsh_pairs(
        surv, "doc_id", "text",
        k=_K, num_hashes=_NUM_HASHES, bands=_BANDS, threshold=near_dup_threshold,
    )
    clusters = dup_clusters(pairs)
    losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    surv = surv.join(losers, "doc_id", "left_anti").localCheckpoint(eager=True)
    report["n_after_batch_near"] = surv.count()

    # 3. cross-corpus verdicts against the STORED index (day 1+): exact
    # fingerprint join + banded bucket join + Jaccard verify — the
    # corpus contributes index metadata only, never text.
    bootstrap = not _has_state(state_dir, DEDUP_INDEX)
    report["bootstrap"] = bootstrap
    if not bootstrap:
        index = read_snapshot(spark, _path(state_dir, DEDUP_INDEX))
        verdicts = incremental_dedup_verdicts(
            surv, index, "doc_id", "text",
            k=_K, num_hashes=_NUM_HASHES, bands=_BANDS,
            threshold=near_dup_threshold,
        )
        by_kind = {
            r["verdict"]: r["n"]
            for r in verdicts.groupBy("verdict").agg(
                F.count(F.lit(1)).alias("n")
            ).collect()
        }
        report["n_corpus_exact_dup"] = int(by_kind.get("exact_dup", 0))
        report["n_corpus_near_dup"] = int(by_kind.get("near_dup", 0))
        keep = verdicts.filter(F.col("verdict") == "unique").select("doc_id")
        surv = surv.join(keep, "doc_id", "left_semi").localCheckpoint(
            eager=True
        )
    else:
        report["n_corpus_exact_dup"] = 0
        report["n_corpus_near_dup"] = 0
    report["n_after_corpus_dedup"] = surv.count()

    # 4. optional semantic pass
    report["n_semantic_dup"] = 0
    assigned: DataFrame | None = None
    if semantic_threshold is not None:
        surv, assigned, n_sem = _semantic_pass(
            spark, surv, batch_embeddings, state_dir,
            semantic_threshold, n_centroids, bootstrap,
        )
        report["n_semantic_dup"] = n_sem
        surv = surv.localCheckpoint(eager=True)
    report["n_final"] = surv.count()

    # 5. append the survivors' index rows to state (one batch-sized
    # parquet write per table + a manifest update; prior days' files are
    # referenced, never rewritten)
    new_index = build_dedup_index(
        surv, "doc_id", "text", k=_K, num_hashes=_NUM_HASHES, bands=_BANDS
    )
    report["dedup_index_version"] = write_snapshot(
        new_index, _path(state_dir, DEDUP_INDEX), mode="append"
    )
    if assigned is not None:
        keep_assigned = assigned.join(
            surv.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        ).select("vec_id", "cluster", "embedding")
        report["semantic_index_version"] = write_snapshot(
            keep_assigned, _path(state_dir, SEMANTIC_INDEX), mode="append"
        )
    report["curated"] = surv
    return report


def _semantic_pass(
    spark: SparkSession,
    surv: DataFrame,
    batch_embeddings: DataFrame,
    state_dir: str,
    threshold: float,
    n_centroids: int,
    bootstrap: bool,
) -> tuple[DataFrame, DataFrame | None, int]:
    """Within-batch SemDeDup + batch-vs-stored same-cluster cosine.

    Returns (survivors, batch assignment relation for the state append,
    n docs dropped semantically). The assignment relation carries every
    batch doc that survived the TEXT passes (vec_id, cluster, embedding);
    the caller re-filters it to the final survivor set before appending.
    """
    from ..operators.similarity import (
        _centroid_matrix,
        _pair_cosine,
        _vec_side,
        semdedup,
    )

    id_col = "doc_id" if "doc_id" in batch_embeddings.columns else "vec_id"
    emb = batch_embeddings.select(
        F.col(id_col).alias("vec_id"), "embedding"
    ).join(
        surv.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
    )

    # centroids: train on day 0, reuse thereafter
    if bootstrap and not _has_state(state_dir, CENTROIDS):
        cents = _centroid_matrix(emb, "vec_id", "embedding", n_centroids)
        if not cents.size:
            return surv, None, 0
        cdf = spark.createDataFrame(
            [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
            "cid BIGINT, ce ARRAY<DOUBLE>",
        )
        write_snapshot(cdf, _path(state_dir, CENTROIDS))
    cdf = read_snapshot(spark, _path(state_dir, CENTROIDS))

    # within-batch SemDeDup; verdicts carries (vec_id, cluster, dup_of, kept)
    verdicts = semdedup(emb, centroids=cdf, threshold=threshold)
    assigned = verdicts.select("vec_id", "cluster").join(emb, "vec_id")
    dropped_in_batch = verdicts.filter(~F.col("kept")).select("vec_id")

    # batch-vs-STORED: same-cluster join against the pre-assigned corpus
    # embeddings — bounded by cluster co-membership, never batch x corpus
    if _has_state(state_dir, SEMANTIC_INDEX):
        stored = read_snapshot(spark, _path(state_dir, SEMANTIC_INDEX))
        n = _vec_side(assigned, "vec_id", "embedding", "vec_id", "n", "cluster")
        c = _vec_side(stored, "vec_id", "embedding", "__sid", "c", "cluster")
        vs_corpus = (
            n.join(c, "cluster")
            .filter(F.round(_pair_cosine("n", "c"), 6) >= threshold)
            .select("vec_id")
            .distinct()
        )
        dropped = dropped_in_batch.union(vs_corpus).distinct()
    else:
        dropped = dropped_in_batch
    n_sem = dropped.count()
    surv = surv.join(
        dropped.select(F.col("vec_id").alias("doc_id")), "doc_id", "left_anti"
    )
    return surv, assigned, n_sem


def curate_stream(
    spark: SparkSession,
    input_dir: str,
    state_dir: str,
    checkpoint_dir: str,
    schema: str = (
        "doc_id long, text string, lang string, source string, n_chars long"
    ),
    near_dup_threshold: float = 0.5,
    available_now: bool = True,
):
    """Structured-Streaming front end for the incremental pipeline: a
    file stream over ``input_dir`` (one parquet drop per ingest batch,
    e.g. a day's crawl) drives :func:`curate_incremental` through
    ``foreachBatch``, so each micro-batch is deduplicated within itself
    AND against the stored corpus state before its survivors' index
    rows are appended.

    maxFilesPerTrigger=1 makes each dropped file its own micro-batch —
    the streaming equivalent of the daily-batch CLI, with the file
    stream providing ordering, discovery and (via the checkpoint)
    exactly-once batch tracking. foreachBatch is at-least-once on
    replay; the dedup itself makes the replay IDEMPOTENT: a replayed
    batch's docs are all exact_dup against the state the first attempt
    appended, so nothing is double-counted downstream (same argument as
    stream_upsert_to_lake's MERGE, reference: streaming/ingest.py).

    Returns the list of per-batch reports (curated frames dropped —
    only counts and versions survive the batch boundary).
    """
    reports: list[dict[str, Any]] = []

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        r = curate_incremental(
            spark,
            batch_df,
            state_dir,
            near_dup_threshold=near_dup_threshold,
        )
        r.pop("curated", None)
        r["batch_id"] = batch_id
        reports.append(r)

    sdf = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(input_dir)
    )
    writer = sdf.writeStream.foreachBatch(_apply).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()
    if available_now:
        query.awaitTermination()
        return reports
    return query, reports
