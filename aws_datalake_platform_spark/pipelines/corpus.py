"""End-to-end LLM-corpus curation pipeline: the operator library composed
into the workflow a training-data team actually runs.

Stages (each an oracle-checked operator elsewhere in the engine):

  1. exact dedup        — keep one doc per normalized-text fingerprint
                          (operators/dedup.py, q22/q177)
  1b. near-dup (opt-in) — MinHash-LSH pairs at a Jaccard threshold,
                          min-label clustering, keep min-id per
                          component (operators/dedup.py, q24/q68)
  1c. excerpt drop (opt-in) — shingle containment on the deduped
                          residual drops docs swallowed by longer ones
                          (operators/dedup.py, q199; MUST follow the
                          dedup passes — see the 10x counter-example)
  2. rule gate (opt-in) — Gopher/MassiveText heuristic rules BEFORE the
                          model score: cheap map-only rejects first
                          (operators/quality.py gopher_rules, q192)
  3. quality filter     — logistic-regression score >= threshold
                          (plans/curation.py q173 feature/weight set)
  4. decontamination    — drop docs sharing any 5-gram with a held-out
                          benchmark slice (operators/quality.py, q72)
  5. mixture sampling   — deterministic hash-threshold per language
                          (operators/sampling.py, q88)
  6. curated write      — snappy parquet, snapshot-versioned
                          (operators/snapshots.py)

With ``report_mixture=True`` the result additionally carries the final
corpus's per-source temperature-0.5 sampling weights (q193) — the
hand-off artifact a training run needs to build its data loader mix.

Downstream steps (chunking q87, sequence packing q114) run over the
curated snapshot — they change row shape, so they belong after the
keep/drop decisions this pipeline makes. Stages are lazy column logic
over one growing plan; the scored relation is checkpointed once so the
funnel counts (plain actions, reported in the result dict) read cached
data instead of re-running the dedup join per count.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    out_path: str | None = None,
    quality_threshold: float = 0.5,
    mixture: dict[str, float] | None = None,
    bench_modulus: int = 20,
    seed: int = 42,
    rule_gate: dict[str, Any] | None = None,
    report_mixture: bool = False,
    near_dup_threshold: float | None = None,
    containment_threshold: float | None = None,
    embeddings: DataFrame | None = None,
    semantic_threshold: float | None = None,
    semantic_n_centroids: int = 64,
) -> dict[str, Any]:
    """Run the full curation flow over a ``documents``-shaped frame
    (doc_id, text, lang, source, n_chars). Returns per-stage counts and
    the curated DataFrame; with ``out_path`` the result is committed as a
    new snapshot version.
    """
    from ..operators.dedup import exact_dedup
    from ..operators.quality import contamination_pairs
    from ..operators.sampling import stratified_sample

    # The semantic stage needs BOTH an embeddings frame and a threshold;
    # passing exactly one used to silently skip the stage with no signal
    # (n_pre_semantic stays None, same as "stage off") — fail loud
    # instead (ADVICE r6).
    if (embeddings is None) != (semantic_threshold is None):
        missing = "embeddings" if embeddings is None else "semantic_threshold"
        raise ValueError(
            "semantic dedup needs both `embeddings` and `semantic_threshold`; "
            f"`{missing}` was not provided, so the stage would silently no-op"
        )

    n_raw = docs.count()

    # 1. exact dedup (hash-groupBy, one shuffle on the fingerprint)
    deduped = exact_dedup(docs, "doc_id", "text")

    # 1b. optional NEAR-dup pass: MinHash-LSH candidate pairs verified at
    # the Jaccard threshold, clustered by min-label propagation, keep the
    # min-id representative per component. Runs after exact dedup so the
    # LSH pass never hashes byte-identical copies twice; only non-
    # canonical members are dropped (join is an anti on losers).
    if near_dup_threshold is not None:
        from ..operators.dedup import dup_clusters, minhash_lsh_pairs

        pairs = minhash_lsh_pairs(
            deduped, "doc_id", "text", threshold=near_dup_threshold
        )
        clusters = dup_clusters(pairs)
        losers = clusters.filter(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
        deduped = deduped.join(losers, "doc_id", "left_anti")

    # 1c. optional excerpt drop: shingle containment AFTER the dedup
    # passes — the measured 10x counter-example (operators/dedup.py
    # shingle_containment_pairs docstring) shows containment on a
    # duplicate-heavy corpus is quadratic in the duplicates, so this
    # stage only ever runs on the deduped residual, where it is cheap.
    # Drops the SHORTER side (doc_a, the contained doc) of each pair.
    if containment_threshold is not None:
        from ..operators.dedup import (
            shingle_containment_pairs_prefix as shingle_containment_pairs,
        )

        # MUTUAL containment (two near-copies above threshold in BOTH
        # directions — pairs are ordered, so both appear as doc_a) must
        # keep ONE representative: dropping every doc_a would delete the
        # content entirely (r4 review finding, reproduced). One-way
        # swallowed docs drop only when a HOST of theirs survives:
        # containment is not transitive (A⊂B⊂C one-way gives A-in-C of
        # only ~t², so dropping both A and B can lose A's content
        # entirely — ADVICE r4). The keep/drop set is the kernel of the
        # one-way containment DAG (edges shorter→longer content, so
        # acyclic): survivor ⇔ no surviving host, computed by fixpoint
        # iteration that converges within the longest-chain length.
        pairs = shingle_containment_pairs(
            deduped, "doc_id", "text", threshold=containment_threshold
        ).select("doc_a", "doc_b")  # prefix variant: same output, 8.7x
        rev = pairs.select(
            F.col("doc_a").alias("doc_b"), F.col("doc_b").alias("doc_a")
        )
        mutual = pairs.join(rev, ["doc_a", "doc_b"], "left_semi")
        oneway = pairs.join(rev, ["doc_a", "doc_b"], "left_anti").localCheckpoint(
            eager=True
        )
        # fixpoint on the (small) pair relation only — corpus text is
        # never touched; each step is one anti-join + distinct. Start
        # from "every contained doc drops" and re-derive: drop doc_a iff
        # some host doc_b is NOT itself dropped. On a DAG this is the
        # bottom-up losing-position computation and converges in at most
        # longest-chain steps; the cap is a safety net, and on a
        # non-converged cap the INTERSECTION of the last two iterates is
        # used — erring toward keeping docs, never losing content.
        drops = oneway.select("doc_a").distinct().localCheckpoint(eager=True)
        prev = None
        converged = False
        for _ in range(25):
            dropped_hosts = drops.select(F.col("doc_a").alias("doc_b"))
            new_drops = (
                oneway.join(dropped_hosts, "doc_b", "left_anti")
                .select("doc_a")
                .distinct()
                .localCheckpoint(eager=False)
            )
            changed = (
                new_drops.join(drops, "doc_a", "left_anti").count()
                + drops.join(new_drops, "doc_a", "left_anti").count()
            )
            if changed == 0:
                converged = True
                break
            prev, drops = drops, new_drops
        if not converged and prev is not None:
            drops = drops.join(prev, "doc_a", "left_semi")
        # checkpoint the ID LIST, not the residual rows: every downstream
        # action re-executes this anti-join's build side, and the
        # containment self-join behind it is the most expensive subtree
        # in the pipeline. A bigint id list is bounded by the residual
        # count; the earlier full-row residual cache is documented below.
        swallowed = (
            drops.union(mutual.filter(F.col("doc_a") > F.col("doc_b")).select("doc_a"))
            .select(F.col("doc_a").alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        deduped = deduped.join(swallowed, "doc_id", "left_anti")

    # 1d. optional SEMANTIC dedup (SemDeDup, q201) — the production
    # configuration the oracle path can't exercise: learned k-means
    # centroids from the IVF coarse quantizer (q47's _centroid_matrix)
    # wired into semdedup's map-side assignment, so the only corpus-sized
    # costs are one Arrow pass and the cluster-bounded pair join. Runs
    # AFTER the text-level passes: byte/shingle duplicates are already
    # gone, so the embedding pass only pays for the residual. Drops any doc whose embedding has a
    # lower-id same-cluster neighbor at cosine >= semantic_threshold.
    n_pre_semantic = None
    if semantic_threshold is not None and embeddings is not None:
        from ..operators.similarity import _centroid_matrix, semdedup

        emb = embeddings.select(
            F.col("doc_id").alias("vec_id"), "embedding"
        ).join(
            deduped.select(F.col("doc_id").alias("vec_id")), "vec_id", "left_semi"
        )
        cents = _centroid_matrix(emb, "vec_id", "embedding", semantic_n_centroids)
        if cents.size:
            n_pre_semantic = deduped.count()
            cdf = spark.createDataFrame(
                [(i, [float(x) for x in row]) for i, row in enumerate(cents)],
                "cid BIGINT, ce ARRAY<DOUBLE>",
            )
            verdicts = semdedup(emb, centroids=cdf, threshold=semantic_threshold)
            sem_losers = verdicts.filter(~F.col("kept")).select(
                F.col("vec_id").alias("doc_id")
            )
            deduped = deduped.join(sem_losers, "doc_id", "left_anti")

    # NOTE on (non-)caching: the heavy near-dup subtree is already
    # materialized exactly once — connected_components runs its loop
    # EAGERLY (per-round convergence counts) and leaves the final label
    # relation checkpointed, so every downstream consumer of `losers`
    # reads that checkpoint; only the cheap exact-dedup join re-executes per
    # action. An experiment that additionally persisted the full
    # `deduped` residual OOM'd the 52k full-stack funnel twice (16g and
    # 32g driver heap, local mode) without improving wall time, so the
    # residual is deliberately NOT cached here.

    # 2. optional Gopher rule gate — heuristic rejects are map-only
    # column math, so they run BEFORE the (also cheap, but wider) model
    # score; pass rule thresholds as kwargs for gopher_rules
    n_pre_rules = None
    if rule_gate is not None:
        from ..operators.quality import gopher_rules

        # same empty-text basis as scored/n_dedup, so n_after_dedup
        # means the same thing whether or not the gate is on (r4 review)
        n_pre_rules = deduped.filter(
            F.length(F.trim(F.col("text"))) > 0
        ).count()  # opt-in extra action, pre-gate size
        passing = gopher_rules(deduped, "doc_id", "text", **rule_gate).filter(
            "passes"
        ).select("doc_id")
        deduped = deduped.join(passing, "doc_id", "left_semi")

    # 2. model-based quality filter — q173's feature/weight set, pure
    # column math that fuses into the scan
    toks = F.split(F.trim(F.col("text")), r"\s+")
    n_words = F.size(toks)
    n_stop = F.size(
        F.expr(
            r"filter(split(trim(lower(text)), '\\s+'), t -> t IN "
            r"('the','a','an','and','of','to','in','is','it','that'))"
        )
    )
    n_punct = F.length("text") - F.length(F.regexp_replace("text", r"[.,;:!?]", ""))
    n_digit = F.length("text") - F.length(F.regexp_replace("text", r"[0-9]", ""))
    n_word_chars = F.length(F.array_join(toks, ""))
    z = (
        F.lit(-2.0)
        + 0.35 * F.log(1 + n_words)
        + 2.5 * (n_stop / n_words)
        - 4.0 * (n_punct / F.length("text"))
        - 3.0 * (n_digit / F.length("text"))
        + 0.1 * (n_word_chars / n_words)
    )
    # scored feeds a count, the quality filter, decontamination, AND the
    # final projection — checkpoint it once or every funnel count re-runs
    # dedup + scoring from the scan (measured 13.2 s -> 10.7 s at sf0.1; the remaining cost is the real work — dedup join, contamination join, snapshot write)
    scored = (
        deduped.filter(F.length(F.trim(F.col("text"))) > 0)
        .withColumn("quality_score", F.round(1.0 / (1.0 + F.exp(-z)), 4))
        .localCheckpoint(eager=False)
    )
    # empty-text rows are dropped pre-scoring, so this is the post-dedup
    # usable count
    n_dedup = scored.count()
    quality = scored.filter(F.col("quality_score") >= quality_threshold)
    n_quality = quality.count()

    # 3. decontamination: drop anything sharing a 5-gram with the
    # held-out benchmark slice (doc_id % bench_modulus == 0)
    bench = docs.filter(F.col("doc_id") % bench_modulus == 0)
    candidates = quality.filter(F.col("doc_id") % bench_modulus != 0)
    contaminated = contamination_pairs(
        candidates, bench, "doc_id", "text", k=5, min_shared=1
    ).select("doc_id").distinct()
    # checkpointed before anything is built on it: only frames derived
    # from the returned object read the checkpoint
    clean = candidates.join(contaminated, "doc_id", "left_anti").localCheckpoint(
        eager=False
    )
    n_clean = clean.count()

    # 4. mixture sampling (deterministic hash threshold per language)
    mix = mixture or {"en": 1.0, "es": 1.0, "fr": 1.0, "de": 1.0, "zh": 1.0}
    sampled = stratified_sample(clean, "doc_id", "lang", mix, seed=seed)
    curated = sampled.select(
        "doc_id", "text", "lang", "source", "n_chars", "quality_score"
    )
    n_final = curated.count()

    result: dict[str, Any] = {
        "n_raw": n_raw,
        # with the rule gate on, n_after_dedup is the PRE-gate size and
        # n_after_rules the post-gate (scored) size; without it the two
        # stages coincide
        "n_after_dedup": n_pre_rules if n_pre_rules is not None else n_dedup,
        "n_after_rules": n_dedup if n_pre_rules is not None else None,
        # pre-semantic residual size (text passes only); the post-
        # semantic count is n_after_dedup/n_after_rules downstream
        "n_before_semantic": n_pre_semantic,
        "n_after_quality": n_quality,
        "n_after_decontam": n_clean,
        "n_final": n_final,
        "drop_fraction": round(1 - n_final / n_raw, 4) if n_raw else 0.0,
        "curated": curated,
    }
    if report_mixture:
        from ..operators.quality import mixture_weights

        result["mixture_report"] = {
            r["source"]: {
                "n_docs": r["n_docs"],
                "n_tokens": r["n_tokens"],
                "mix_weight": r["mix_weight"],
            }
            for r in mixture_weights(curated, "source", "text").collect()
        }
    if out_path is not None:
        from ..operators.snapshots import write_snapshot

        result["snapshot_version"] = write_snapshot(curated, out_path)
    return result
