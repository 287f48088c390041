"""Training-data shaping operators (round 6): the pre-training steps a
data team runs AFTER curation — clustering the corpus for mixture /
dedup decisions (q203), decontaminating against a benchmark in
EMBEDDING space (q204), inducing tokenizer merge candidates (q205),
shaping length buckets for efficient batch packing (q206), spotting
outlier axes via PCA (q207), LM-perplexity quality scoring (q208),
auditing ANN index recall (q209), positional phrase retrieval (q210),
the tabular-ML feature-prep pair — WOE/IV screening (q211) and
leakage-safe K-fold target encoding (q212) — plus the monitoring
readouts: embedding-distribution drift between corpus halves (q213),
the dup-cluster size histogram (q214), DP-style noisy count release
(q215), last-touch purchase attribution (q216), daily session bounce
rate (q217), and per-source quantile normalization (q218).

Reference tie-in: the reference delegates all analytics to Athena
(README.md:128-132); these extend the engine's LLM-pipeline surface
(SURVEY.md north-star ops) the same way q192-q202 did.
"""

from __future__ import annotations

from math import floor as math_floor

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, load_table_pk
from ..functions.core import round_half_up
from .llm_ops import _cos_sql
from .queries import register

# ── q203: k-means cluster profile (the corpus-clustering readout) ───────────

_Q203_K = 12  # clusters
_Q203_ITER = 10


def _q203_sql() -> str:
    from .extras import _kmeans_prefix_sql
    from .llm_ops import _COS

    prefix = _kmeans_prefix_sql(
        n_centroids=_Q203_K, sample_size=1024, n_iter=_Q203_ITER, seed=42, dim=64
    )
    # cosine of each RAW corpus vector to its (unit-norm) centroid —
    # the same proven _COS expression, then floor-half-up quantized to
    # 1e-6 BIGINT so the per-cluster SUM is order-free exact integer math
    cos = _COS.format(a="m.embedding", b="c.cv")
    return f"""
    WITH {prefix},
    qx AS (
      SELECT m.cluster,
             CAST(FLOOR({cos} * 1000000 + 0.5) AS BIGINT) AS q6
      FROM cb m JOIN cents{_Q203_ITER} c ON c.cid = m.cluster
    )
    SELECT CAST(cluster AS INT) AS cluster,
           CAST(COUNT(*) AS BIGINT) AS n_members,
           FLOOR(SUM(q6)::DOUBLE / (1000000.0 * COUNT(*)) * 1000000 + 0.5)
             / 1000000 AS avg_cos
    FROM qx GROUP BY cluster ORDER BY cluster
    """


@register(
    "q203_kmeans_clusters",
    _q203_sql(),
    doc="K-means corpus clustering profile: assign every embedding to "
    "its nearest learned centroid (the q47 coarse quantizer surfaced as "
    "a first-class clustering operator) and report per-cluster size and "
    "mean cosine-to-centroid — the readout that drives cluster-balanced "
    "mixture sampling and SemDeDup K sizing. The oracle replays the "
    "full quantizer via the shared _kmeans_prefix_sql CTEs; per-cluster "
    "mean cosine is floor-half-up quantized to 1e-6 BIGINT before the "
    "SUM so the aggregate is order-free exact integer math (q175's "
    "integer-quantized-sum idiom).",
)
def q203_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: centroids come from a bounded driver sample (one
    TakeOrdered corpus scan); assignment is one vectorized fold per
    Arrow batch (map-side, no shuffle); the profile is a K-row hash
    aggregate with map-side combine on quantized integers. The only
    corpus-sized shuffle is the final K-group aggregate."""
    import numpy as np

    from ..operators.similarity import _centroid_matrix, _pair_cosine, _vec_side, ivf_assign

    emb = load_table_pk(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _centroid_matrix(emb, "vec_id", "embedding", _Q203_K, n_iter=_Q203_ITER)
    asg = _vec_side(
        ivf_assign(emb, cents, n_probe=1),
        "cluster", "embedding", "cluster", "e",
    )
    cdf = _vec_side(
        spark.createDataFrame(
            [(int(i), [float(x) for x in row]) for i, row in enumerate(cents)],
            "cluster INT, cv ARRAY<DOUBLE>",
        ),
        "cluster", "cv", "cluster", "c",
    )
    q6 = F.floor(_pair_cosine("e", "c") * 1_000_000 + 0.5).cast("long")
    return (
        asg.withColumn("cluster", F.col("cluster").cast("int"))
        .join(F.broadcast(cdf), "cluster")
        .groupBy("cluster")
        .agg(F.count(F.lit(1)).alias("n_members"), F.sum(q6).alias("__s"))
        .select(
            "cluster",
            "n_members",
            round_half_up(
                F.col("__s").cast("double") / (1_000_000.0 * F.col("n_members")), 6
            ).alias("avg_cos"),
        )
        .orderBy("cluster")
    )


# ── q204: semantic decontamination (benchmark overlap in embedding space) ───

_Q204_T = 0.35  # cosine threshold; bench slice = vec_id % 20 == 0


def _q204_sql() -> str:
    from .llm_ops import _COS

    cos = _COS.format(a="t.embedding", b="b.embedding")
    return f"""
    WITH bench AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 = 0),
    train AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id % 20 <> 0),
    hits AS (
      SELECT t.vec_id, ROUND({cos}, 6) AS sim
      FROM train t CROSS JOIN bench b
      WHERE ROUND({cos}, 6) >= {_Q204_T}
    )
    SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_bench_hits,
           MAX(sim) AS max_sim
    FROM hits GROUP BY vec_id
    """


@register(
    "q204_semantic_decontamination",
    _q204_sql(),
    doc="Semantic (embedding-space) benchmark decontamination: flag "
    "every training vector whose cosine to ANY held-out benchmark "
    "vector (vec_id % 20 == 0) reaches the threshold — the paraphrase-"
    "robust complement of the 5-gram decontamination (q72), which "
    "literal-match contamination checks miss. Output: contaminated "
    "vec_id, how many benchmark items it collides with, and the max "
    "similarity.",
)
def q204_semantic_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the BENCHMARK side is small by construction (a held-out
    eval suite — thousands of rows, here corpus/20), so it broadcasts
    and the scan over training embeddings is map-side with a per-row
    K_bench fold; the aggregate shuffles only the flagged rows. At a
    benchmark too large to broadcast, swap the candidate stage for the
    LSH bucket join (q59's embedding_near_dup_pairs) — same verdict
    columns."""
    from ..operators.similarity import _pair_cosine, _vec_side

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    bench = _vec_side(emb.filter(F.col("vec_id") % 20 == 0), "vec_id", "embedding", "__bid", "b")
    # spread per-pair HOF work across cores when the corpus arrives as
    # one parquet split (brute_force_topk's repartition idiom — values
    # are partitioning-invariant)
    n_parts = spark.sparkContext.defaultParallelism
    train = _vec_side(
        emb.filter(F.col("vec_id") % 20 != 0).repartition(n_parts),
        "vec_id", "embedding", "vec_id", "t",
    )
    return (
        train.crossJoin(F.broadcast(bench))
        .select("vec_id", F.round(_pair_cosine("t", "b"), 6).alias("sim"))
        .filter(F.col("sim") >= _Q204_T)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_bench_hits"),
            F.max("sim").alias("max_sim"),
        )
    )


# ── q205: BPE merge-pair statistics (tokenizer induction, step 1) ───────────

_Q205_TOP = 25


@register(
    "q205_bpe_pair_stats",
    rf"""
    WITH words AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
      ) WHERE length(w) >= 2 GROUP BY w
    ),
    pairs AS (
      SELECT unnest(list_transform(range(1, length(w)),
                                   i -> substr(w, i, 2))) AS pair, cnt
      FROM words
    ),
    agg AS (
      SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occurrences,
             CAST(COUNT(*) AS BIGINT) AS n_word_types
      FROM pairs GROUP BY pair
    )
    SELECT pair, n_occurrences, n_word_types, rank FROM (
      SELECT pair, n_occurrences, n_word_types,
             CAST(ROW_NUMBER() OVER (ORDER BY n_occurrences DESC, pair)
                  AS INTEGER) AS rank
      FROM agg) t
    WHERE rank <= {_Q205_TOP}
    """,
    doc="BPE tokenizer induction, first merge step: corpus-frequency-"
    "weighted counts of adjacent character pairs inside words — the "
    "statistic the byte-pair-encoding loop greedily merges (Sennrich et "
    "al., ACL'16). Top candidates by total occurrences (word frequency x "
    "in-word positions), with the number of distinct word types each "
    "pair appears in. Pure integer math, exact.",
)
def q205_bpe_pair_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the word-frequency aggregate shuffles UNIQUE words (zipf-
    bounded vocabulary, not the corpus), and bigram expansion runs over
    that vocabulary — so the quadratic-ish blowup is |vocab| x word_len,
    independent of corpus row count. Both aggregates are map-side
    combinable; the top-k is a TakeOrdered, no global sort. A full BPE
    trainer iterates this query, re-splitting words on the learned
    merges — each iteration the same one-shuffle shape."""
    docs = load_table(spark, sf_dir, "documents")
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    pairs = words.select(
        F.explode(
            F.expr("transform(sequence(1, length(w) - 1), i -> substr(w, i, 2))")
        ).alias("pair"),
        "cnt",
    )
    agg = pairs.groupBy("pair").agg(
        F.sum("cnt").alias("n_occurrences"),
        F.count(F.lit(1)).alias("n_word_types"),
    )
    w = Window.orderBy(F.desc("n_occurrences"), F.asc("pair"))
    return (
        agg.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _Q205_TOP)
        .select("pair", "n_occurrences", "n_word_types", "rank")
    )


# ── q206: length-bucket padding efficiency (batch shaping) ──────────────────

_Q206_BUCKETS = 8


@register(
    "q206_padding_efficiency",
    f"""
    WITH toks AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT)
               AS n_tokens
      FROM documents WHERE length(trim(text)) > 0
    ),
    bucketed AS (
      SELECT doc_id, n_tokens,
             CAST(NTILE({_Q206_BUCKETS}) OVER (ORDER BY n_tokens, doc_id)
                  AS INTEGER) AS bucket
      FROM toks
    )
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(MAX(n_tokens) * COUNT(*) - SUM(n_tokens) AS BIGINT)
             AS padding_tokens,
           FLOOR((MAX(n_tokens) * COUNT(*) - SUM(n_tokens))::DOUBLE
                 / (MAX(n_tokens) * COUNT(*)) * 1000000 + 0.5) / 1000000
             AS waste_frac
    FROM bucketed GROUP BY bucket ORDER BY bucket
    """,
    doc="Length-bucketed batch-shaping report: split docs into "
    f"{_Q206_BUCKETS} equal-depth token-length buckets (NTILE over the "
    "deterministic (n_tokens, doc_id) order) and report per-bucket "
    "padding overhead if every batch pads to the bucket max — the "
    "decision artifact for sequence-length bucketing in a training "
    "loader (padding waste falls from one global bucket's worst case to "
    "the per-bucket residual). Integer token math; the waste fraction "
    "is a single deterministic double division, floor-half-up rounded.",
)
def q206_padding_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: token counts are map-side column math; NTILE needs a total
    order — at 100 TB replace it with a two-pass equi-depth split
    (approx quantile boundaries broadcast as a range predicate, q161's
    histogram machinery) instead of a global sort; the per-bucket
    aggregate is 8 groups with map-side combine. The oracle setting
    keeps NTILE so both engines share exact bucket assignment."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.filter(F.length(F.trim(F.col("text"))) > 0).select(
        "doc_id",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("long").alias(
            "n_tokens"
        ),
    )
    w = Window.orderBy(F.asc("n_tokens"), F.asc("doc_id"))
    bucketed = toks.withColumn("bucket", F.ntile(_Q206_BUCKETS).over(w).cast("int"))
    pad = F.max("n_tokens") * F.count(F.lit(1)) - F.sum("n_tokens")
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
            pad.alias("padding_tokens"),
            round_half_up(
                pad.cast("double") / (F.max("n_tokens") * F.count(F.lit(1))), 6
            ).alias("waste_frac"),
        )
        .orderBy("bucket")
    )


# ── q208: bigram-LM held-out perplexity (CCNet-style quality signal) ────────


@register(
    "q208_bigram_perplexity",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    big AS (
      SELECT doc_id, unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM tok WHERE len(toks) >= 2
    ),
    train_uni AS (
      SELECT w1 AS w, CAST(COUNT(*) AS BIGINT) AS c1 FROM big
      WHERE doc_id % 5 <> 0 GROUP BY w1
    ),
    train_big AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM big
      WHERE doc_id % 5 <> 0 GROUP BY w1, w2
    ),
    vsize AS (
      SELECT CAST(COUNT(DISTINCT tk) AS BIGINT) AS v FROM (
        SELECT unnest(toks) AS tk FROM tok WHERE doc_id % 5 <> 0)
    ),
    held AS (SELECT doc_id, w1, w2 FROM big WHERE doc_id % 5 = 0),
    scored AS (
      SELECT h.doc_id,
             CAST(FLOOR(LN((COALESCE(tb.cb, 0) + 1)::DOUBLE
                           / (COALESCE(tu.c1, 0) + vs.v)) * 1000000 + 0.5)
                  AS BIGINT) AS q6
      FROM held h
      LEFT JOIN train_big tb ON tb.w1 = h.w1 AND tb.w2 = h.w2
      LEFT JOIN train_uni tu ON tu.w = h.w1
      CROSS JOIN vsize vs
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(SUM(q6)::DOUBLE / (COUNT(*) * 1000000.0) * 10000 + 0.5)
             / 10000 AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc="Bigram-LM quality scoring (the CCNet recipe, arXiv:1911.00359 "
    "§4.3, with add-one smoothing instead of a pretrained KenLM): train "
    "P(w2|w1) = (c(w1,w2)+1)/(c(w1)+V) on docs with doc_id %% 5 != 0, "
    "score each HELD-OUT doc by mean bigram log-probability — the "
    "conditional upgrade of q92's unigram filter, which is blind to "
    "word-order scrambling. Each bigram's log-prob is ln of an exact "
    "integer ratio (IEEE-identical cross-engine), floor-half-up "
    "quantized to micro-nats BEFORE the per-doc sum so the aggregate is "
    "an order-free integer sum.",
)
def q208_bigram_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: bigram/unigram count relations are vocabulary-bounded
    (zipf, ≪ corpus) and broadcast; V rides one scalar row. The held-out
    scan joins map-side and re-aggregates per doc with map-side combine
    on integers. Bigram explode is a local fan-out. At a vocabulary too
    big to broadcast, the joins degrade to shuffle hash joins on the
    bigram key — same plan shape, one extra exchange."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower("text"), "[^a-z]+"), lambda t: t != ""
        ).alias("toks"),
    )
    n = F.size("toks")
    big = (
        tok.filter(n >= 2)
        .select(
            "doc_id",
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("w1"),
                    F.slice("toks", 2, n - 1).alias("w2"),
                )
            ).alias("p"),
        )
        .select("doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    train = big.filter(F.col("doc_id") % 5 != 0)
    train_uni = train.groupBy(F.col("w1").alias("w")).agg(
        F.count(F.lit(1)).alias("c1")
    )
    train_big = train.groupBy("w1", "w2").agg(F.count(F.lit(1)).alias("cb"))
    vsize = (
        tok.filter(F.col("doc_id") % 5 != 0)
        .select(F.explode("toks").alias("tk"))
        .agg(F.countDistinct("tk").alias("v"))
    )
    held = big.filter(F.col("doc_id") % 5 == 0)
    # try_divide: a lake whose only docs are held out has an EMPTY train
    # split -> c1 and V both zero -> log-prob undefined (NULL, like DuckDB)
    q6 = F.floor(
        F.log(
            F.try_divide(
                (F.coalesce(F.col("cb"), F.lit(0)) + 1).cast("double"),
                F.coalesce(F.col("c1"), F.lit(0)) + F.col("v"),
            )
        )
        * 1_000_000
        + 0.5
    ).cast("long")
    return (
        held.join(F.broadcast(train_big), ["w1", "w2"], "left")
        .join(
            F.broadcast(train_uni),
            held["w1"] == F.col("w"),
            "left",
        )
        .crossJoin(F.broadcast(vsize))
        .select("doc_id", q6.alias("q6"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_bigrams"),
            round_half_up(
                F.sum("q6").cast("double") / (F.count(F.lit(1)) * 1_000_000.0), 4
            ).alias("avg_logprob"),
        )
    )


# ── q207: PCA top component (power iteration, fully hash-certified) ─────────

_Q207_ITER = 12
_Q207_TOP = 20


def _q207_sql(sample_size: int = 1024, n_iter: int = _Q207_ITER, seed: int = 42,
              dim: int = 64) -> str:
    """SQL replay of pca_power + the map-side projection: md5-ordered
    sample, per-dim mean (member-order list_sum fold), centered
    covariance (member-order fold of element products / n), n_iter
    power-iteration matvecs with renormalization, eigenvalue, and the
    per-vector projection score. Same sequential-fold contract as the
    q47 quantizer replay; MATERIALIZED CTEs stop the iteration chain
    re-inlining."""
    rng = f"range(1,{dim + 1})"
    steps = []
    for t in range(1, n_iter + 1):
        steps.append(f"""
    w{t} AS MATERIALIZED (
      SELECT c.d1 AS d, list_sum(list_transform({rng}, j -> c.cr[j] * v.vv[j]))
               AS wd
      FROM crow c CROSS JOIN v{t - 1} v),
    wa{t} AS MATERIALIZED (SELECT list(wd ORDER BY d) AS wv FROM w{t}),
    v{t} AS MATERIALIZED (
      SELECT list_transform(wv,
               e -> e / greatest(sqrt(list_sum(list_transform(wv, q -> q*q))),
                                 1e-12)) AS vv
      FROM wa{t})""")
    return f"""
    WITH sord AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v,
             md5(concat('{seed}', CAST(vec_id AS VARCHAR))) AS h
      FROM embeddings ORDER BY h, id LIMIT {sample_size}
    ),
    sidx AS (SELECT id, v, ROW_NUMBER() OVER (ORDER BY h, id) AS idx FROM sord),
    sx AS MATERIALIZED (
      SELECT idx, list_transform({rng}, i -> v[i]::DOUBLE) AS xv FROM sidx
    ),
    mv AS MATERIALIZED (
      SELECT list(md ORDER BY d) AS mv FROM (
        SELECT d, list_sum(list(val ORDER BY idx)) / COUNT(*) AS md
        FROM (SELECT idx, UNNEST({rng}) AS d, UNNEST(xv) AS val FROM sx) u
        GROUP BY d) m
    ),
    cx AS MATERIALIZED (
      SELECT idx, list_transform({rng}, i -> s.xv[i] - m.mv[i]) AS cxv
      FROM sx s CROSS JOIN mv m
    ),
    ux AS MATERIALIZED (
      SELECT idx, UNNEST({rng}) AS d, UNNEST(cxv) AS cval FROM cx
    ),
    crow AS MATERIALIZED (
      SELECT d1, list(cv ORDER BY d2) AS cr FROM (
        SELECT a.d AS d1, b.d AS d2,
               list_sum(list(a.cval * b.cval ORDER BY a.idx)) / COUNT(*) AS cv
        FROM ux a JOIN ux b USING (idx)
        GROUP BY a.d, b.d) g
      GROUP BY d1
    ),
    v0 AS MATERIALIZED (
      SELECT list_transform({rng}, i -> CASE WHEN i = 1 THEN 1.0 ELSE 0.0 END)
               AS vv
    ),{",".join(steps)},
    eig AS MATERIALIZED (
      SELECT FLOOR(list_sum(list_transform({rng}, j -> v.vv[j] * w.wd2[j]))
                   * 1000000 + 0.5) / 1000000 AS eigval
      FROM v{n_iter} v CROSS JOIN (
        SELECT list(wd ORDER BY d) AS wd2 FROM (
          SELECT c.d1 AS d,
                 list_sum(list_transform({rng}, j -> c.cr[j] * v.vv[j])) AS wd
          FROM crow c CROSS JOIN v{n_iter} v) z) w
    ),
    proj AS (
      SELECT e.vec_id,
             FLOOR(list_sum(list_transform({rng},
                     i -> (e.embedding[i]::DOUBLE - m.mv[i]) * v.vv[i]))
                   * 1000000 + 0.5) / 1000000 AS proj
      FROM embeddings e CROSS JOIN mv m CROSS JOIN v{n_iter} v
    )
    SELECT vec_id, proj, rank, eigval FROM (
      SELECT vec_id, proj,
             CAST(ROW_NUMBER() OVER (ORDER BY ABS(proj) DESC, vec_id)
                  AS INTEGER) AS rank
      FROM proj) t CROSS JOIN eig
    WHERE rank <= {_Q207_TOP}
    """


@register(
    "q207_pca_top_component",
    _q207_sql(),
    doc="Top principal component of the embedding cloud (power "
    "iteration on a deterministic driver sample) with the top-20 "
    "largest-|projection| vectors — the outlier/drift-axis readout an "
    "embedding pipeline uses to spot clusters of anomalous documents. "
    "Fully hash-certified: mean, covariance, every matvec, the "
    "eigenvalue, and the map-side projection replay in SQL via the "
    "same sequential-fold float contract as the q47 k-means replay — "
    "an iterative LINEAR-ALGEBRA algorithm under the exact oracle, not "
    "rows-only.",
)
def q207_pca_top_component(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one TakeOrdered sample scan + dim^2 driver math; the
    per-vector projection is a JVM-side fold expression (no UDF, no
    shuffle) and the top-k is a TakeOrdered. Nothing corpus-sized
    shuffles."""
    from ..operators.similarity import dot, pca_power

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    mean, comp, lam = pca_power(emb, "vec_id", "embedding", n_iter=_Q207_ITER)
    mean_lit = F.array(*[F.lit(float(m)) for m in mean])
    comp_lit = F.array(*[F.lit(float(c)) for c in comp])
    centered = F.zip_with(
        "embedding", mean_lit, lambda x, y: x.cast("double") - y
    )
    proj6 = F.floor(dot(centered, comp_lit) * 1_000_000 + 0.5) / 1_000_000
    eig6 = float(__import__("math").floor(lam * 1_000_000 + 0.5)) / 1_000_000
    w = Window.orderBy(F.abs(F.col("proj")).desc(), F.asc("vec_id"))
    return (
        emb.select("vec_id", proj6.alias("proj"))
        .withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= _Q207_TOP)
        .withColumn("eigval", F.lit(eig6))
    )


# ── q209: ANN recall audit (IVF vs exact, certified metric) ─────────────────


def _q209_sql() -> str:
    from .extras import _ivf_sql
    from .llm_ops import _COS

    cos = _COS.format(a="qe", b="c.embedding")
    return f"""
    WITH ivf AS ({_ivf_sql()}),
    exact AS (
      WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
                 WHERE vec_id < 10),
      sims AS (
        SELECT query_id, c.vec_id AS neighbor_id, ROUND({cos}, 6) AS sim
        FROM q JOIN embeddings c ON c.vec_id <> query_id
      )
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) t
      WHERE rank <= 5
    )
    SELECT e.query_id,
           CAST(COUNT(i.neighbor_id) AS BIGINT) AS n_hits,
           FLOOR(COUNT(i.neighbor_id)::DOUBLE / 5 * 1000000 + 0.5) / 1000000
             AS recall
    FROM exact e
    LEFT JOIN ivf i ON i.query_id = e.query_id
                   AND i.neighbor_id = e.neighbor_id
    GROUP BY e.query_id
    """


@register(
    "q209_ann_recall_audit",
    _q209_sql(),
    doc="ANN quality evaluation as a first-class query: per-query "
    "recall@5 of the IVF index (q47) against the exact brute-force "
    "top-5 (q30) — the continuous-monitoring metric an embedding "
    "platform alerts on when an index drifts stale. Because BOTH "
    "retrieval paths replay exactly in SQL (the q47 quantizer replay), "
    "the recall numbers themselves are hash-certified, not just "
    "pytest-bounded; recall values are exact binary fractions (n/5).",
)
def q209_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both sides are the already-audited operators (broadcast
    queries, cluster-equi-join candidates); the audit join is k rows per
    query. In production the exact side runs over a fixed probe SAMPLE
    (queries here are 10 probes), so the audit costs one brute-force
    scan over probes x corpus — the price of ground truth, amortized by
    scheduling it, not a per-query cost."""
    from ..operators.similarity import brute_force_topk, ivf_topk

    emb = load_table_pk(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < 10)
    exact = brute_force_topk(probes, emb, k=5).select("query_id", "neighbor_id")
    ivf = ivf_topk(probes, emb, k=5, n_centroids=16, n_probe=4).select(
        "query_id", F.col("neighbor_id").alias("__in")
    )
    joined = exact.join(
        ivf,
        (exact["query_id"] == ivf["query_id"])
        & (exact["neighbor_id"] == ivf["__in"]),
        "left",
    ).select(exact["query_id"], "neighbor_id", "__in")
    return joined.groupBy("query_id").agg(
        F.count("__in").alias("n_hits"),
        round_half_up(F.count("__in").cast("double") / 5, 6).alias("recall"),
    )


# ── q210: positional phrase search over the inverted index ──────────────────

_Q210_PHRASE = ("spark", "window")


@register(
    "q210_phrase_search",
    rf"""
    WITH pos AS (
      SELECT doc_id, unnest(toks) AS term,
             unnest(range(1, len(toks) + 1)) AS p
      FROM (SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
            FROM documents)
    ),
    a AS (SELECT doc_id, p FROM pos WHERE term = '{_Q210_PHRASE[0]}'),
    b AS (SELECT doc_id, p FROM pos WHERE term = '{_Q210_PHRASE[1]}')
    SELECT a.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           MIN(a.p) AS first_pos
    FROM a JOIN b ON b.doc_id = a.doc_id AND b.p = a.p + 1
    GROUP BY a.doc_id
    """,
    doc="Exact phrase search via POSITIONAL postings (the reason q196's "
    "index stores positions): docs containing the query phrase as "
    "adjacent tokens, with occurrence count and first match position — "
    "the retrieval feature a bag-of-words index cannot answer. "
    "Adjacency is an equi-join of the two terms' postings on "
    "(doc_id, p+1).",
)
def q210_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: only the PHRASE TERMS' postings leave the scan (term
    filter before anything shuffles — q197's discipline), so the join
    is |postings(w1)| x |postings(w2)| on doc_id, not corpus-sized;
    n-word phrases chain n-1 such equi-joins. With the q196 index
    MATERIALIZED, the scan is an index lookup instead of a corpus
    tokenize."""
    docs = load_table(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id",
        F.posexplode(F.split(F.trim(F.lower("text")), r"\s+")).alias("p0", "term"),
    ).select("doc_id", "term", (F.col("p0") + 1).cast("long").alias("p"))
    a = pos.filter(F.col("term") == _Q210_PHRASE[0]).select("doc_id", "p")
    b = pos.filter(F.col("term") == _Q210_PHRASE[1]).select(
        "doc_id", F.col("p").alias("p2")
    )
    return (
        a.join(b, ["doc_id"])
        .filter(F.col("p2") == F.col("p") + 1)
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_occurrences"),
            F.min("p").alias("first_pos"),
        )
    )


# ── q211: weight-of-evidence / information value (feature screening) ────────


@register(
    "q211_woe_iv",
    """
    WITH agg AS (
      SELECT o_orderpriority,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bad,
             CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT)
               AS n_good
      FROM orders GROUP BY o_orderpriority
    ),
    tot AS (
      SELECT CAST(SUM(n_bad) AS BIGINT) AS tb, CAST(SUM(n_good) AS BIGINT) AS tg
      FROM agg
    )
    SELECT o_orderpriority, n_good, n_bad,
           FLOOR(LN((n_bad::DOUBLE * tg) / (tb::DOUBLE * n_good)) * 1000000
                 + 0.5) / 1000000 AS woe,
           FLOOR((n_bad::DOUBLE / tb - n_good::DOUBLE / tg)
                 * (FLOOR(LN((n_bad::DOUBLE * tg) / (tb::DOUBLE * n_good))
                          * 1000000 + 0.5) / 1000000)
                 * 1000000 + 0.5) / 1000000 AS iv_term
    FROM agg CROSS JOIN tot
    """,
    doc="Weight-of-evidence / information-value feature screening "
    "(credit-scoring's standard categorical diagnostic, here o_orderpriority "
    "vs the order-status target): per category, WOE = ln(bad-share / "
    "good-share) computed as ln of one exact integer-ratio expression, "
    "and the category's IV contribution. Every input to ln is exact "
    "integer arithmetic widened to double in the same order on both "
    "engines; outputs are floor-half-up rounded. Summing iv_term gives "
    "the feature's IV — left per-category so the oracle stays "
    "order-free.",
)
def q211_woe_iv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable aggregate over the fact table (the
    conditional-count fusion of q04), a one-row totals broadcast, and
    |categories| output rows — the cheapest useful feature screen at
    100 TB."""
    li = load_table(spark, sf_dir, "orders")
    agg = li.groupBy("o_orderpriority").agg(
        F.sum(F.when(F.col("o_orderstatus") == "F", 1).otherwise(0)).alias("n_bad"),
        F.sum(F.when(F.col("o_orderstatus") == "F", 0).otherwise(1)).alias("n_good"),
    )
    tot = agg.agg(F.sum("n_bad").alias("tb"), F.sum("n_good").alias("tg"))
    # try_divide: a single-class lake (e.g. 1 order) has tb or tg zero
    # -> WOE/IV undefined (NULL, matching DuckDB's x/0 -> NULL)
    woe = (
        F.floor(
            F.log(
                F.try_divide(
                    F.col("n_bad").cast("double") * F.col("tg"),
                    F.col("tb").cast("double") * F.col("n_good"),
                )
            )
            * 1_000_000
            + 0.5
        )
        / 1_000_000
    )
    iv_term = (
        F.floor(
            (
                F.try_divide(F.col("n_bad").cast("double"), F.col("tb"))
                - F.try_divide(F.col("n_good").cast("double"), F.col("tg"))
            )
            * woe
            * 1_000_000
            + 0.5
        )
        / 1_000_000
    )
    return agg.crossJoin(F.broadcast(tot)).select(
        "o_orderpriority", "n_good", "n_bad", woe.alias("woe"), iv_term.alias("iv_term")
    )


# ── q212: leakage-safe K-fold target encoding ───────────────────────────────

_Q212_FOLDS = 3


@register(
    "q212_target_encoding",
    f"""
    WITH base AS (
      SELECT o_orderpriority, CAST(o_orderkey % {_Q212_FOLDS} AS INT) AS fold,
             CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    per_fold AS (
      SELECT o_orderpriority, fold,
             CAST(SUM(y) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS c
      FROM base GROUP BY o_orderpriority, fold
    ),
    per_cat AS (
      SELECT o_orderpriority, CAST(SUM(s) AS BIGINT) AS st,
             CAST(SUM(c) AS BIGINT) AS ct
      FROM per_fold GROUP BY o_orderpriority
    )
    SELECT f.o_orderpriority, f.fold,
           f.c AS n_rows,
           FLOOR((p.st - f.s)::DOUBLE / (p.ct - f.c) * 1000000 + 0.5) / 1000000
             AS encoded
    FROM per_fold f JOIN per_cat p USING (o_orderpriority)
    """,
    doc="Leakage-safe K-fold target encoding (the mean-target categorical "
    "encoder every tabular-ML pipeline ships): rows in fold f receive "
    "the category's target mean computed over the OTHER folds — "
    "(sum_all - sum_f) / (cnt_all - cnt_f), exact integer sums with one "
    "deterministic double division, floor-half-up rounded. Output is the "
    "compact (category, fold) encoding table a scorer broadcast-joins "
    "back onto the raw rows.",
)
def q212_target_encoding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two map-side-combinable integer aggregates (category x fold,
    then category) and a categories-sized join — no row-level shuffle at
    all; the encoding table is tiny and broadcasts onto the training
    frame downstream."""
    li = load_table(spark, sf_dir, "orders")
    base = li.select(
        "o_orderpriority",
        (F.col("o_orderkey") % _Q212_FOLDS).cast("int").alias("fold"),
        F.when(F.col("o_orderstatus") == "F", 1).otherwise(0).alias("y"),
    )
    per_fold = base.groupBy("o_orderpriority", "fold").agg(
        F.sum("y").alias("s"), F.count(F.lit(1)).alias("c")
    )
    per_cat = per_fold.groupBy("o_orderpriority").agg(
        F.sum("s").alias("st"), F.sum("c").alias("ct")
    )
    # try_divide: a (category, fold) that holds ALL of its category's
    # rows (e.g. a 1-row lake) has no other-fold rows -> encoding NULL
    enc = (
        F.floor(
            F.try_divide(
                (F.col("st") - F.col("s")).cast("double"),
                F.col("ct") - F.col("c"),
            )
            * 1_000_000
            + 0.5
        )
        / 1_000_000
    )
    return per_fold.join(F.broadcast(per_cat), "o_orderpriority").select(
        "o_orderpriority",
        "fold",
        F.col("c").alias("n_rows"),
        enc.alias("encoded"),
    )


# ── q213: embedding distribution drift between corpus halves ────────────────


@register(
    "q213_embedding_drift",
    f"""
    WITH ex AS (
      SELECT vec_id % 2 AS half, UNNEST(range(1,65)) AS pos,
             UNNEST(list_transform(range(1,65),
               i -> CAST(FLOOR(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT)))
               AS q6
      FROM embeddings
    ),
    sums AS (
      SELECT half, pos, CAST(SUM(q6) AS BIGINT) AS s
      FROM ex GROUP BY half, pos
    ),
    va AS (SELECT list(CAST(s AS DOUBLE) ORDER BY pos) AS v FROM sums WHERE half = 0),
    vb AS (SELECT list(CAST(s AS DOUBLE) ORDER BY pos) AS v FROM sums WHERE half = 1),
    cosrel AS (
      SELECT FLOOR({_cos_sql("va.v", "vb.v")} * 1000000 + 0.5) / 1000000 AS cos_shift
      FROM va CROSS JOIN vb
    ),
    diffs AS (
      SELECT o.pos, o.s AS sum_old, n.s AS sum_new, ABS(n.s - o.s) AS shift
      FROM sums o JOIN sums n ON n.pos = o.pos AND o.half = 0 AND n.half = 1
    )
    SELECT CAST(pos AS INT) AS pos, sum_old, sum_new, shift, rank, cos_shift
    FROM (
      SELECT pos, sum_old, sum_new, shift,
             CAST(ROW_NUMBER() OVER (ORDER BY shift DESC, pos) AS INTEGER)
               AS rank
      FROM diffs) t CROSS JOIN cosrel
    WHERE rank <= 10
    """,
    doc="Embedding-distribution drift between two corpus halves (the "
    "old-snapshot vs new-snapshot readout an embedding pipeline alerts "
    "on): per-dimension component sums are floor-half-up quantized to "
    "1e-6 BIGINT — order-free exact integer aggregates — then the "
    "cosine between the two halves' sum vectors (== cosine of their "
    "mean vectors; counts cancel) is one deterministic fold over the "
    "64 integer-valued dims, plus the 10 dimensions with the largest "
    "absolute shift (exact integer differences).",
)
def q213_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one posexplode pass with a map-side-combinable integer
    aggregate on (half, pos) — 128 groups regardless of corpus size —
    then driver-free constant-size math. The quantization makes the
    per-dim sums order-free, so the big aggregation needs no fold
    discipline; only the final 64-element cosine does, and it runs on
    the 2x64 aggregated relation."""
    from ..operators.similarity import _pair_cosine, _vec_side

    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(
        (F.col("vec_id") % 2).alias("half"),
        F.posexplode("embedding").alias("p0", "val"),
    ).select(
        "half",
        (F.col("p0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 1_000_000 + 0.5)
        .cast("long")
        .alias("q6"),
    )
    sums = ex.groupBy("half", "pos").agg(F.sum("q6").alias("s"))
    vecs = (
        sums.groupBy("half")
        .agg(F.array_sort(F.collect_list(F.struct("pos", "s"))).alias("ps"))
        .select(
            "half",
            F.expr("transform(ps, x -> cast(x.s as double))").alias("v"),
        )
    )
    va = _vec_side(vecs.filter(F.col("half") == 0), "half", "v", "__ha", "a")
    vb = _vec_side(vecs.filter(F.col("half") == 1), "half", "v", "__hb", "b")
    cosrel = va.crossJoin(vb).select(
        (F.floor(_pair_cosine("a", "b") * 1_000_000 + 0.5) / 1_000_000).alias("cos_shift")
    )
    old = sums.filter(F.col("half") == 0).select(
        "pos", F.col("s").alias("sum_old")
    )
    new = sums.filter(F.col("half") == 1).select(
        "pos", F.col("s").alias("sum_new")
    )
    diffs = old.join(new, "pos").withColumn(
        "shift", F.abs(F.col("sum_new") - F.col("sum_old"))
    )
    w = Window.orderBy(F.desc("shift"), F.asc("pos"))
    return (
        diffs.withColumn("rank", F.row_number().over(w).cast("int"))
        .filter(F.col("rank") <= 10)
        .crossJoin(F.broadcast(cosrel))
        .select(
            F.col("pos").cast("int").alias("pos"),
            "sum_old", "sum_new", "shift", "rank", "cos_shift",
        )
    )


# ── q214: dup-cluster size histogram (corpus redundancy readout) ────────────


def _q214_sql() -> str:
    from .llm_ops import _Q24_PAIRS_SQL

    return f"""
    WITH RECURSIVE pairs AS ({_Q24_PAIRS_SQL}),
    e AS (
      SELECT doc_a AS a, doc_b AS b FROM pairs
      UNION
      SELECT doc_b AS a, doc_a AS b FROM pairs
    ),
    walk(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT w.a, e.b FROM walk w JOIN e ON w.b = e.a
    ),
    lab AS (
      SELECT a AS doc_id, least(a, min(b)) AS cluster_id
      FROM walk GROUP BY a
    ),
    csz AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS sz
            FROM lab GROUP BY cluster_id),
    hist AS (
      SELECT sz AS cluster_size, CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(SUM(sz) AS BIGINT) AS n_docs
      FROM csz GROUP BY sz
    ),
    singles AS (
      SELECT CAST(1 AS BIGINT) AS cluster_size,
             CAST(COUNT(*) AS BIGINT) AS n_clusters,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents WHERE doc_id NOT IN (SELECT doc_id FROM lab)
    )
    SELECT * FROM hist UNION ALL SELECT * FROM singles
    """


def _dup_cluster_histogram(docs: DataFrame, clusters: DataFrame) -> DataFrame:
    """Shared aggregation for q214 and its from-index twin: histogram of
    cluster sizes over a (doc_id, cluster_id) label relation, plus the
    singleton row from an anti-join on docs. The label relation is tiny
    (dup members only); the only corpus-sized input is the column-pruned
    doc_id anti-join."""
    csz = clusters.groupBy("cluster_id").agg(F.count(F.lit(1)).alias("sz"))
    hist = csz.groupBy(F.col("sz").alias("cluster_size")).agg(
        F.count(F.lit(1)).alias("n_clusters"), F.sum("sz").alias("n_docs")
    )
    singles = (
        docs.join(clusters.select("doc_id"), "doc_id", "left_anti")
        .agg(F.count(F.lit(1)).alias("n"))
        .select(
            F.lit(1).cast("long").alias("cluster_size"),
            F.col("n").alias("n_clusters"),
            F.col("n").alias("n_docs"),
        )
    )
    return hist.unionByName(singles)


@register(
    "q214_dup_cluster_histogram",
    _q214_sql(),
    doc="Corpus-redundancy readout: histogram of near-dup cluster sizes "
    "(MinHash-LSH pairs -> connected components, q24/q68's exact "
    "replayed pipeline) including the singleton mass — the one-line "
    "answer to 'how much of this corpus is boilerplate?' and the "
    "monitor that catches a crawler loop flooding one mega-cluster. "
    "n_docs per row = cluster_size x n_clusters; rows sum to the "
    "corpus size.",
)
def q214_dup_cluster_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: everything corpus-sized is the already-audited q24/q68
    machinery (banded LSH, capped buckets, per-round equi-join CC); the
    histogram itself aggregates the tiny cluster-label relation, and
    the singleton count is one anti-join. No new scale surface.
    The from-index twin (pipelines/audit_index.py) re-aggregates the
    MATERIALIZED cluster relation instead of recomputing the LSH."""
    from ..operators.dedup import dup_clusters
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    pairs = _REGISTRY["q24_minhash_lsh_dedup"].fn(spark, sf_dir)
    clusters = dup_clusters(pairs).select("doc_id", "cluster_id")
    return _dup_cluster_histogram(docs, clusters)


# ── q215: differential-privacy-style noisy counts (seeded Laplace) ──────────

_Q215_EPS = 1.0
_Q215_SEED = "dp42"
_Q215_DENOM = float(16**13)  # 2^52 — 13 hex chars parse exactly into a double


@register(
    "q215_dp_noisy_counts",
    f"""
    WITH counts AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_true
      FROM events GROUP BY event_type
    ),
    noise AS (
      SELECT event_type, n_true,
             CAST(('0x' || substr(md5(concat('{_Q215_SEED}', event_type)), 1, 13))
                  AS BIGINT) / {_Q215_DENOM!r} AS u
      FROM counts
    )
    SELECT event_type, n_true,
           FLOOR((n_true + (-1.0 / {_Q215_EPS!r}) * sign(u - 0.5)
                  * ln(greatest(1e-15, 1 - 2 * abs(u - 0.5)))) * 10000 + 0.5)
             / 10000 AS n_noisy
    FROM noise
    """,
    doc="Differential-privacy-style noisy counts (Laplace mechanism, "
    "sensitivity 1, epsilon 1): per-group counts perturbed by "
    "Laplace(1/eps) noise drawn via inverse-CDF from a SEEDED "
    "md5-derived uniform — u = first 13 hex chars / 16^13, an exact "
    "integer ratio both engines parse identically (the q40/q84 HLL "
    "hex-parse idiom), so the 'random' noise replays bit-for-bit in "
    "the oracle. Completes the privacy surface: removal (P4/q71), "
    "pseudonymization (U1), measurement (q194 k-anonymity), and now "
    "noisy release. True counts are included for the oracle check — a "
    "production release would drop that column.",
)
def q215_dp_noisy_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable count aggregate; the noise math is
    per-GROUP column arithmetic (5 rows here). Seeded noise is the same
    trade a seeded sample makes: reproducible runs, with the seed
    rotated per release in production."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_true"))
    u = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit(_Q215_SEED), F.col("event_type"))), 1, 13),
            16,
            10,
        ).cast("long")
        / F.lit(_Q215_DENOM)
    )
    noise = (
        F.lit(-1.0 / _Q215_EPS)
        * F.signum(u - 0.5)
        * F.log(F.greatest(F.lit(1e-15), 1 - 2 * F.abs(u - 0.5)))
    )
    return counts.select(
        "event_type",
        "n_true",
        (F.floor((F.col("n_true") + noise) * 10_000 + 0.5) / 10_000).alias("n_noisy"),
    )


# ── q216: last-touch purchase attribution ───────────────────────────────────


@register(
    "q216_touch_attribution",
    """
    WITH ordered AS (
      SELECT user_id, event_id, ts, event_type, value,
             LAST_VALUE(CASE WHEN event_type IN ('click', 'view')
                             THEN event_type END IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch
      FROM events
    )
    SELECT COALESCE(last_touch, 'none') AS touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_purchases,
           CAST(SUM(CAST(FLOOR(value * 10000 + 0.5) AS BIGINT)) AS BIGINT)
             / 10000.0 AS total_value
    FROM ordered
    WHERE event_type = 'purchase'
    GROUP BY COALESCE(last_touch, 'none')
    """,
    doc="Last-touch purchase attribution: each purchase event credits "
    "the user's most recent preceding click/view (LAST_VALUE IGNORE "
    "NULLS over the deterministic (ts, event_id) order — q117's LOCF "
    "idiom), 'none' when the purchase had no preceding touch; revenue "
    "is summed as floor-half-up 1e-4-quantized integers so the "
    "aggregate is order-free. The standard behavioral-analytics readout "
    "over the event stream (first-touch is the same window with "
    "FIRST_VALUE).",
)
def q216_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id for the window (state bounded per
    user), then a 3-group aggregate on quantized integers. The window
    carries one VARCHAR of running state — no buffering of the
    partition beyond Spark's running-frame optimization for
    UNBOUNDED PRECEDING frames."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    touch = F.last(
        F.when(F.col("event_type").isin("click", "view"), F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    q4 = F.floor(F.col("value") * 10_000 + 0.5).cast("long")
    return (
        ev.withColumn("last_touch", touch)
        .filter(F.col("event_type") == "purchase")
        .groupBy(F.coalesce(F.col("last_touch"), F.lit("none")).alias("touch_type"))
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            (F.sum(q4) / 10_000.0).alias("total_value"),
        )
    )


# ── q217: daily session quality (bounce rate over sessionized events) ───────


@register(
    "q217_session_bounce",
    """
    WITH g AS (
      SELECT user_id, ts, event_id,
             CASE WHEN LAG(ts) OVER w IS NULL
                    OR ts > LAG(ts) OVER w + INTERVAL 12 HOUR THEN 1 ELSE 0 END
               AS brk
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (
      SELECT user_id, ts,
             SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
                            ROWS UNBOUNDED PRECEDING) AS sess
      FROM g
    ),
    sessions AS (
      SELECT user_id, sess, CAST(MIN(ts) AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM s GROUP BY user_id, sess
    )
    SELECT day,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_bounces,
           FLOOR(SUM(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS bounce_rate
    FROM sessions GROUP BY day
    """,
    doc="Daily session-quality readout: q36's gaps-and-islands "
    "sessionization (12 h inactivity gap, deterministic (ts, event_id) "
    "order) rolled up to sessions-per-day with the single-event BOUNCE "
    "count and rate — the product-analytics KPI the event stream "
    "serves; a session is dated by its start. Integer counts with one "
    "deterministic division, floor-half-up rounded.",
)
def q217_session_bounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id for the session windows (running
    frames, no partition buffering), one map-side-combinable aggregate
    per (user, session), then a days-sized aggregate. Same shape as q36
    plus two tiny rollups."""
    from .temporal import sessionize

    ev = load_table(spark, sf_dir, "events")
    sessions = sessionize(
        ev, key="user_id", ts="ts", order_tiebreak="event_id", gap="12 hours"
    ).select(F.col("session_start").cast("date").alias("day"), "n_events")
    bounce = F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
    return sessions.groupBy("day").agg(
        F.count(F.lit(1)).alias("n_sessions"),
        bounce.alias("n_bounces"),
        (
            F.floor(bounce.cast("double") / F.count(F.lit(1)) * 1_000_000 + 0.5)
            / 1_000_000
        ).alias("bounce_rate"),
    )


# ── q218: per-source quantile normalization of a numeric feature ────────────


@register(
    "q218_quantile_normalization",
    """
    WITH ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY n_chars, doc_id) AS rk,
             COUNT(*) OVER (PARTITION BY source) AS n
      FROM documents
    )
    SELECT doc_id, source, n_chars,
           CASE WHEN n = 1 THEN 0.5
                ELSE FLOOR((rk - 1)::DOUBLE / (n - 1) * 1000000 + 0.5) / 1000000
           END AS pct_rank
    FROM ranked
    """,
    doc="Per-source quantile normalization of document length: each "
    "doc's percent-rank WITHIN its source ((rank-1)/(n-1) over the "
    "deterministic (n_chars, doc_id) order, 0.5 for a singleton source) "
    "— the feature transform that makes length comparable across "
    "sources whose raw distributions differ (a web source and a books "
    "source agree on 'long for its source'). Exact integer ranks, one "
    "deterministic division per row.",
)
def q218_quantile_normalization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on the source key; ROW_NUMBER and the count
    both ride the same window partitioning (single WindowExec). At a
    skewed mega-source, swap exact ranks for the q161 equi-depth
    histogram boundaries (broadcast range lookup) — same output
    contract at sketch precision."""
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    docs = load_table(spark, sf_dir, "documents")
    ranked = docs.select(
        "doc_id", "source", "n_chars",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy("source")).alias("n"),
    )
    return ranked.select(
        "doc_id", "source", "n_chars",
        F.when(F.col("n") == 1, F.lit(0.5))
        .otherwise(
            F.floor(
                (F.col("rk") - 1).cast("double") / (F.col("n") - 1) * 1_000_000
                + 0.5
            )
            / 1_000_000
        )
        .alias("pct_rank"),
    )


# ── q219: vocabulary OOV coverage (tokenizer-health audit) ──────────────────

_Q219_V = 500  # vocabulary size (top-V train-split unigrams)


@register(
    "q219_vocab_oov_coverage",
    rf"""
    WITH tok AS (
      SELECT doc_id, source,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    flat AS (SELECT doc_id, source, unnest(toks) AS tk FROM tok),
    vocab AS (
      SELECT tk FROM (
        SELECT tk, COUNT(*) AS c FROM flat WHERE doc_id % 5 <> 0
        GROUP BY tk ORDER BY c DESC, tk LIMIT {_Q219_V})
    ),
    held AS (
      SELECT f.source, f.tk, v.tk AS vk
      FROM flat f LEFT JOIN vocab v ON v.tk = f.tk
      WHERE f.doc_id % 5 = 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN vk IS NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_oov,
           CAST(COUNT(DISTINCT CASE WHEN vk IS NULL THEN tk END) AS BIGINT)
             AS n_oov_types,
           FLOOR(SUM(CASE WHEN vk IS NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS oov_rate
    FROM held GROUP BY source
    """,
    doc=f"Vocabulary coverage / OOV-rate audit (tokenizer health): "
    f"freeze the top-{_Q219_V} unigram vocabulary on the train split "
    f"(doc_id %% 5 != 0, ties broken (count DESC, token ASC)), then "
    f"measure each source's held-out OOV token rate and distinct OOV "
    f"type count — the standard check that a tokenizer/vocab trained "
    f"on one mix still covers every source before pretraining. "
    f"Complements q198 (distribution drift) and q208 (LM quality): "
    f"this one is about coverage, not shape.",
)
def q219_vocab_oov_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: token counts are vocabulary-bounded (zipf); the top-V
    selection is a TakeOrdered over that bounded relation, and the
    V-row vocab broadcasts into the held-out scan (no corpus shuffle
    for membership). Per-source rollup is a map-side-combinable
    aggregate; COUNT(DISTINCT oov type) re-shuffles only the OOV
    subset, keyed (source, token)."""
    docs = load_table(spark, sf_dir, "documents")
    flat = docs.select(
        "doc_id",
        "source",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
        ).alias("tk"),
    )
    vocab = (
        flat.filter(F.col("doc_id") % 5 != 0)
        .groupBy("tk")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tk")
        .limit(_Q219_V)
        .select(F.col("tk").alias("vk"))
    )
    held = flat.filter(F.col("doc_id") % 5 == 0).join(
        F.broadcast(vocab), flat["tk"] == F.col("vk"), "left"
    )
    oov = F.sum(F.when(F.col("vk").isNull(), 1).otherwise(0))
    return held.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_tokens"),
        oov.cast("long").alias("n_oov"),
        F.countDistinct(F.when(F.col("vk").isNull(), F.col("tk"))).alias(
            "n_oov_types"
        ),
        (F.floor(oov.cast("double") / F.count(F.lit(1)) * 1_000_000 + 0.5)
         / 1_000_000).alias("oov_rate"),
    )


# ── q220: most-duplicated n-grams (memorization-risk audit) ─────────────────


@register(
    "q220_duplicate_ngrams",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    gr AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-3)) AS i
            FROM tok WHERE len(toks) >= 5)
    )
    SELECT gram,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df,
           CAST(COUNT(*) AS BIGINT) AS occ
    FROM gr GROUP BY gram
    ORDER BY df DESC, occ DESC, gram LIMIT 50
    """,
    doc="Memorization-risk audit: inventory the 50 most cross-document "
    "duplicated word 5-grams (document frequency, then total "
    "occurrences, then gram as the deterministic tie-break). Passages "
    "repeated verbatim across many training documents are the ones a "
    "model memorizes; this is the corpus-level readout that drives "
    "n-gram-based scrubbing, complementing q113 (per-doc duplicated "
    "LINE ratio) and q70 (WITHIN-doc repetition).",
)
def q220_duplicate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the explode is a local fan-out; the (gram → df, occ)
    aggregate is one shuffle keyed by gram with map-side combine
    (count-distinct over doc_id rides the same exchange as a partial
    aggregate). Top-50 is a TakeOrdered, never a global sort. At
    100 TB hash each gram to a 64-bit key for the shuffle and join the
    top keys back for display text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
    grams = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.array_join(F.slice("toks", i, F.lit(5)), " "),
                )
            ).alias("gram"),
        )
    )
    return (
        grams.groupBy("gram")
        .agg(
            F.countDistinct("doc_id").alias("df"),
            F.count(F.lit(1)).alias("occ"),
        )
        .orderBy(F.desc("df"), F.desc("occ"), "gram")
        .limit(50)
    )


# ── q221: dedup threshold sensitivity curve ─────────────────────────────────


def _q221_sql() -> str:
    from .llm_ops import _SH_CTE

    return f"""
    WITH {_SH_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    ),
    pb AS (
      SELECT doc_a, doc_b,
             LEAST((i * 10) // (sa.sz + sb.sz - i), 9) AS b
      FROM inter
      JOIN sz sa ON sa.doc_id = doc_a
      JOIN sz sb ON sb.doc_id = doc_b
    ),
    ph AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS np FROM pb GROUP BY b),
    dmax AS (
      SELECT doc, MAX(b) AS mb FROM (
        SELECT doc_a AS doc, b FROM pb
        UNION ALL SELECT doc_b AS doc, b FROM pb)
      GROUP BY doc
    ),
    dh AS (SELECT mb, CAST(COUNT(*) AS BIGINT) AS nd FROM dmax GROUP BY mb),
    t AS (SELECT unnest(range(0, 10)) AS b)
    SELECT t.b / 10.0 AS thr,
           (SELECT CAST(COALESCE(SUM(np), 0) AS BIGINT) FROM ph
             WHERE ph.b >= t.b) AS n_pairs_ge,
           (SELECT CAST(COALESCE(SUM(nd), 0) AS BIGINT) FROM dh
             WHERE dh.mb >= t.b) AS n_docs_ge
    FROM t
    """


@register(
    "q221_dedup_threshold_curve",
    _q221_sql(),
    doc="Dedup threshold sensitivity: for each Jaccard threshold 0.0, "
    "0.1, ..., 0.9, how many near-dup pairs — and how many distinct "
    "documents — would a shingle-Jaccard dedup at that threshold "
    "touch. The tuning curve run BEFORE committing to q23's fixed 0.5: "
    "pick the knee, not a guess. Buckets come from exact integer "
    "arithmetic ((i*10) DIV union, both BIGINT) so the 0.1-boundary "
    "assignment is bit-identical cross-engine; the shingle universe is "
    "q23's word-3-shingle relation verbatim.",
)
def q221_dedup_threshold_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the expensive part is the shared-shingle pair join — the
    SAME relation q23 builds (use max_df there to cap hot shingles at
    real scale); everything after is a pairs-sized projection, two tiny
    histograms, and a 10-row non-equi rollup (broadcast nested loop
    over 10x10). Running the curve costs one q23, not ten."""
    from ..operators.dedup import _shingle_pair_intersections

    docs = load_table(spark, sf_dir, "documents")
    inter, sizes = _shingle_pair_intersections(
        docs, "doc_id", "text", k=3, max_df=None, symmetric=True
    )
    sz_a = sizes.select(F.col("__id").alias("doc_a"), F.col("__sz").alias("__sza"))
    sz_b = sizes.select(F.col("__id").alias("doc_b"), F.col("__sz").alias("__szb"))
    pb = (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.least(
                F.expr("(__i * 10) DIV (__sza + __szb - __i)"), F.lit(9)
            ).alias("b"),
        )
    )
    ph = pb.groupBy("b").agg(F.count(F.lit(1)).alias("np"))
    dh = (
        pb.select(F.col("doc_a").alias("doc"), "b")
        .unionAll(pb.select(F.col("doc_b").alias("doc"), "b"))
        .groupBy("doc")
        .agg(F.max("b").alias("mb"))
        .groupBy("mb")
        .agg(F.count(F.lit(1)).alias("nd"))
    )
    t = spark.range(0, 10).select(F.col("id").alias("tb"))
    cp = (
        t.join(F.broadcast(ph), F.col("b") >= F.col("tb"), "left")
        .groupBy("tb")
        .agg(F.coalesce(F.sum("np"), F.lit(0)).alias("n_pairs_ge"))
    )
    cd = (
        t.join(F.broadcast(dh), F.col("mb") >= F.col("tb"), "left")
        .groupBy("tb")
        .agg(F.coalesce(F.sum("nd"), F.lit(0)).alias("n_docs_ge"))
    )
    return (
        cp.join(cd, "tb")
        .select(
            (F.col("tb") / 10.0).alias("thr"), "n_pairs_ge", "n_docs_ge"
        )
    )


# ── q222: join-key skew profiler (the "should I salt?" readout) ─────────────


@register(
    "q222_key_skew_profile",
    """
    WITH c AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM events GROUP BY user_id
    ),
    tot AS (
      SELECT CAST(SUM(n_rows) AS BIGINT) AS t, CAST(COUNT(*) AS BIGINT) AS k
      FROM c
    ),
    r AS (
      SELECT user_id, n_rows,
             CAST(ROW_NUMBER() OVER (ORDER BY n_rows DESC, user_id) AS INT)
               AS rk
      FROM c
    )
    SELECT rk, user_id, n_rows,
           FLOOR(n_rows::DOUBLE / t * 1000000 + 0.5) / 1000000 AS share,
           FLOOR((SUM(n_rows) OVER (ORDER BY rk ROWS UNBOUNDED PRECEDING))
                 ::DOUBLE / t * 1000000 + 0.5) / 1000000 AS cum_share,
           FLOOR(n_rows::DOUBLE * k / t * 1000000 + 0.5) / 1000000
             AS hot_factor
    FROM r CROSS JOIN tot WHERE rk <= 20
    """,
    doc="Join-key skew profiler: the 20 hottest event-stream keys with "
    "row count, corpus share, cumulative share, and hot_factor = this "
    "key's rows over the mean rows-per-key — the diagnostic a data "
    "team runs BEFORE a user-keyed join/groupBy to decide whether to "
    "salt (q45/q85 are the remedies; this is the detector). All "
    "ratios are one deterministic division over exact integer "
    "aggregates, floor-half-up quantized.",
)
def q222_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the per-key count is one map-side-combinable shuffle; the
    top-20 is a TakeOrdered (never a global sort); rank and running
    share are windowed over the 20-row result only, so the
    single-partition window is constant-size by construction. The
    scalar (t, k) totals broadcast."""
    ev = load_table(spark, sf_dir, "events")
    c = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n_rows"))
    tot = c.agg(
        F.sum("n_rows").alias("t"), F.count(F.lit(1)).alias("k")
    )
    top = c.orderBy(F.desc("n_rows"), "user_id").limit(20)
    w = Window.orderBy(F.desc("n_rows"), "user_id")
    cum = F.sum("n_rows").over(w.rowsBetween(Window.unboundedPreceding, 0))
    q6 = lambda x: F.floor(x * 1_000_000 + 0.5) / 1_000_000
    return (
        top.withColumn("rk", F.row_number().over(w).cast("int"))
        .withColumn("__cum", cum)
        .crossJoin(F.broadcast(tot))
        .select(
            "rk",
            "user_id",
            "n_rows",
            q6(F.col("n_rows").cast("double") / F.col("t")).alias("share"),
            q6(F.col("__cum").cast("double") / F.col("t")).alias("cum_share"),
            q6(F.col("n_rows").cast("double") * F.col("k") / F.col("t")).alias(
                "hot_factor"
            ),
        )
    )


# ── q223: per-dimension embedding scaling stats (feature-scaling readout) ───


@register(
    "q223_embedding_dim_stats",
    """
    WITH ex AS (
      SELECT UNNEST(range(1,65)) AS pos,
             UNNEST(list_transform(range(1,65),
               i -> CAST(FLOOR(embedding[i]::DOUBLE * 1000000 + 0.5) AS BIGINT)))
               AS q6
      FROM embeddings
    ),
    agg AS (
      SELECT CAST(pos AS INT) AS dim,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(q6) AS BIGINT) AS s,
             CAST(SUM(q6 * q6) AS BIGINT) AS ssq,
             CAST(MIN(q6) AS BIGINT) AS mn,
             CAST(MAX(q6) AS BIGINT) AS mx
      FROM ex GROUP BY pos
    )
    SELECT dim, n,
           FLOOR(s::DOUBLE / n + 0.5) / 1000000 AS mean,
           FLOOR(SQRT(GREATEST(ssq::DOUBLE / n
                               - (s::DOUBLE / n) * (s::DOUBLE / n), 0))
                 + 0.5) / 1000000 AS std,
           FLOOR(mn::DOUBLE + 0.5) / 1000000 AS min_v,
           FLOOR(mx::DOUBLE + 0.5) / 1000000 AS max_v
    FROM agg
    """,
    doc="Per-dimension embedding scaling statistics: mean, population "
    "std, min, max for each of the 64 dims — the feature-scaling / "
    "dead-dimension readout run before whitening, quantization (q77 "
    "picks its clip range from exactly this), or PQ codebook training "
    "(q115). Components are floor-half-up quantized to 1e-6 BIGINT "
    "first, so SUM and SUM of squares are order-free exact integer "
    "aggregates; mean and std then come from one deterministic "
    "double expression over those scalars (sqrt, not pow, for IEEE "
    "parity — q213's integer-quantize-then-fold idiom).",
)
def q223_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one posexplode pass feeding a map-side-combinable integer
    aggregate with exactly 64 groups regardless of corpus size; the
    double math runs on the 64-row aggregated relation. At corpora
    where SUM(q6^2) nears int64 range (~1e6 vectors per dim at unit
    scale it's still 1e18/64 — safe; beyond, widen to DECIMAL(38,0))."""
    emb = load_table(spark, sf_dir, "embeddings")
    ex = emb.select(F.posexplode("embedding").alias("p0", "val")).select(
        (F.col("p0") + 1).alias("pos"),
        F.floor(F.col("val").cast("double") * 1_000_000 + 0.5)
        .cast("long")
        .alias("q6"),
    )
    agg = ex.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("q6").alias("s"),
        F.sum(F.col("q6") * F.col("q6")).alias("ssq"),
        F.min("q6").alias("mn"),
        F.max("q6").alias("mx"),
    )
    sd, nd = F.col("s").cast("double"), F.col("n")
    return agg.select(
        F.col("pos").cast("int").alias("dim"),
        "n",
        (F.floor(sd / nd + 0.5) / 1_000_000).alias("mean"),
        (
            F.floor(
                F.sqrt(
                    F.greatest(
                        F.col("ssq").cast("double") / nd - (sd / nd) * (sd / nd),
                        F.lit(0.0),
                    )
                )
                + 0.5
            )
            / 1_000_000
        ).alias("std"),
        (F.floor(F.col("mn").cast("double") + 0.5) / 1_000_000).alias("min_v"),
        (F.floor(F.col("mx").cast("double") + 0.5) / 1_000_000).alias("max_v"),
    )


# ── q224: EWMA smoothing + deviation over each key's recent readings ────────

_Q224_TAIL = 32  # readings per key fed to the smoother
_Q224_ALPHA = 0.25  # smoothing weight (0.25 and 0.75 are exact binary)


@register(
    "q224_ewma_deviation",
    f"""
    WITH ordered AS (
      SELECT user_id, list(value ORDER BY ts, event_id) AS vs
      FROM events GROUP BY user_id
    ),
    tl AS (
      SELECT user_id,
             CASE WHEN len(vs) > {_Q224_TAIL}
                  THEN vs[len(vs)-{_Q224_TAIL - 1}:len(vs)] ELSE vs END AS v
      FROM ordered
    )
    SELECT user_id,
           CAST(len(v) AS BIGINT) AS n_used,
           FLOOR(v[len(v)] * 1000000 + 0.5) / 1000000 AS last_value,
           FLOOR(list_reduce(v, (acc, x) -> acc * 0.75 + x * 0.25)
                 * 1000000 + 0.5) / 1000000 AS ewma,
           FLOOR((v[len(v)] - list_reduce(v, (acc, x) -> acc * 0.75 + x * 0.25))
                 * 1000000 + 0.5) / 1000000 AS deviation
    FROM tl
    """,
    doc=f"Exponentially-weighted moving average per key over its last "
    f"{_Q224_TAIL} readings (alpha={_Q224_ALPHA}, seeded with the "
    f"oldest reading) plus the last reading's deviation from the "
    f"smoothed level — the classic sensor/metric anomaly readout. An "
    f"EWMA is inherently a SEQUENTIAL float fold, so both engines run "
    f"the identical in-order fold (Spark F.aggregate over the "
    f"(ts, event_id)-sorted tail ≡ DuckDB list_reduce) with exact "
    f"binary constants 0.75/0.25 — the q47/q115 sequential-fold float "
    f"contract applied to time series.",
)
def q224_ewma_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a window row_number bounds each key to its newest 32
    readings BEFORE the collect, so per-group state is a constant-size
    array (never an unbounded collect_list); the window and the
    group-by share the user_id partitioning, so AQE plans one exchange.
    The fold itself is a per-row expression over a 32-element array —
    map-side, JVM codegen, no UDF."""
    ev = load_table(spark, sf_dir, "events")
    wdesc = Window.partitionBy("user_id").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    tail = (
        ev.select("user_id", "ts", "event_id", "value")
        .withColumn("__rn", F.row_number().over(wdesc))
        .filter(F.col("__rn") <= _Q224_TAIL)
    )
    v = (
        tail.groupBy("user_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("ts", "event_id", "value"))
            ).alias("svs")
        )
        .select(
            "user_id",
            F.transform("svs", lambda s: s["value"]).alias("v"),
        )
    )
    fold = F.aggregate(
        F.slice("v", 2, F.size("v") - 1),
        F.element_at("v", 1),
        lambda acc, x: acc * F.lit(0.75) + x * F.lit(0.25),
    )
    last = F.element_at("v", -1)
    q6 = lambda x: F.floor(x * 1_000_000 + 0.5) / 1_000_000
    return v.select(
        "user_id",
        F.size("v").cast("long").alias("n_used"),
        q6(last).alias("last_value"),
        q6(fold).alias("ewma"),
        q6(last - fold).alias("deviation"),
    )


# ── q225: LSH dedup quality audit (precision/recall vs exact truth) ─────────


def _q225_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    q24 = _REGISTRY["q24_minhash_lsh_dedup"].sql
    q23 = _REGISTRY["q23_ngram_jaccard_dedup"].sql
    return f"""
    WITH cand AS ({q24}),
    truth AS ({q23}),
    hit AS (
      SELECT c.doc_a FROM cand c
      JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
    ),
    m AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM truth) AS n_true,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cand) AS n_cand,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM hit) AS n_hit
    )
    SELECT n_true, n_cand, n_hit,
           CASE WHEN n_cand = 0 THEN 1.0
                ELSE FLOOR(n_hit::DOUBLE / n_cand * 1000000 + 0.5) / 1000000
           END AS prec,
           CASE WHEN n_true = 0 THEN 1.0
                ELSE FLOOR(n_hit::DOUBLE / n_true * 1000000 + 0.5) / 1000000
           END AS recall
    FROM m
    """


@register(
    "q225_lsh_dedup_audit",
    _q225_sql(),
    doc="Dedup index quality audit: precision and recall of the "
    "MinHash+LSH near-dup pairs (q24, verified over 60-bit shingle "
    "hash sets) against the exact shingle-Jaccard truth (q23) at the "
    "same 0.5 threshold — the measure-don't-guess readout that says "
    "whether the banded index's band/row config is safe to trust "
    "before it replaces the exact path at scale. Both pair relations "
    "are the registered queries' own plans, so the audit certifies "
    "exactly what runs in production.",
)
def q225_lsh_dedup_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: reuses q23/q24's plans (banded LSH with capped buckets;
    shared-shingle join — cap with max_df at real scale); the audit
    adds one pair-keyed join and three single-row aggregates that
    broadcast into a 1-row result."""
    from .queries import QUERY_REGISTRY as _REGISTRY, build_concurrently

    # Independent detector builds from a driver thread pool (guide §2.6;
    # r11): q24's eager signature-base barrier and q23's shingle join
    # previously ran back-to-back. Pair relations unchanged.
    cand, truth = build_concurrently(
        lambda: _REGISTRY["q24_minhash_lsh_dedup"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
        lambda: _REGISTRY["q23_ngram_jaccard_dedup"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
    )
    hit = cand.join(truth, ["doc_a", "doc_b"])
    m = (
        truth.agg(F.count(F.lit(1)).alias("n_true"))
        .crossJoin(cand.agg(F.count(F.lit(1)).alias("n_cand")))
        .crossJoin(hit.agg(F.count(F.lit(1)).alias("n_hit")))
    )
    rate = lambda num, den: F.when(F.col(den) == 0, F.lit(1.0)).otherwise(
        F.floor(F.col(num).cast("double") / F.col(den) * 1_000_000 + 0.5)
        / 1_000_000
    )
    return m.select(
        "n_true",
        "n_cand",
        "n_hit",
        rate("n_hit", "n_cand").alias("prec"),
        rate("n_hit", "n_true").alias("recall"),
    )


# ── q226: epoch composition plan (dedup keep-set + seeded mixture sample) ────


@register(
    "q226_epoch_mix_plan",
    r"""
    WITH keep AS (
      SELECT MIN(doc_id) AS doc_id FROM documents
      GROUP BY md5(trim(regexp_replace(regexp_replace(lower(text),
                   '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')))
    ),
    cand AS (
      SELECT d.doc_id, d.source,
             len(list_filter(string_split_regex(d.text, '\s+'),
                             t -> t <> '')) AS n_toks,
             (CAST(substr(d.source, 4) AS INT) % 4 + 1) / 4.0 AS rate,
             (CAST(('0x' || substr(md5('226|' || CAST(d.doc_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1)
               / 1152921504606846976.0 AS u
      FROM documents d JOIN keep k ON k.doc_id = d.doc_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_candidates,
           CAST(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END) AS BIGINT)
             AS n_sampled,
           CAST(SUM(CASE WHEN u < rate THEN n_toks ELSE 0 END) AS BIGINT)
             AS tok_sampled,
           rate AS target_rate,
           FLOOR(SUM(CASE WHEN u < rate THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*) * 1000000 + 0.5) / 1000000 AS achieved_rate
    FROM cand GROUP BY source, rate
    """,
    doc="Epoch composition plan — the final pre-training assembly "
    "readout: exact-dedup the corpus (q22's keep-min-id rule), apply "
    "each source's target mixture rate (derived deterministically from "
    "the source index: 0.25/0.5/0.75/1.0 by idx %% 4, standing in for "
    "the q193-learned weights) via a seeded md5 uniform per document "
    "(reproducible across engines, partitionings, and reruns — no RNG "
    "state), and report per source: surviving candidates, sampled "
    "docs, sampled token budget, target vs achieved rate. This is the "
    "plan a data team signs off before an epoch is materialized.",
)
def q226_epoch_mix_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one fingerprint shuffle (q22), a semi-join back (both
    sides hash-partitioned on doc_id), then a map-side-combinable
    per-source aggregate over integer counters. The per-doc uniform is
    a pure column expression — sampling 100 TB needs no driver
    randomness and replays bit-for-bit for audit."""
    from ..operators.dedup import exact_dedup

    docs = load_table(spark, sf_dir, "documents")
    kept = exact_dedup(docs, "doc_id", "text")
    rate = (F.substring("source", 4, 10).cast("int") % 4 + 1) / 4.0
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("226|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float(1 << 60))
    n_toks = F.size(F.filter(F.split("text", r"\s+"), lambda t: t != ""))
    cand = kept.select(
        "source",
        rate.alias("rate"),
        u.alias("u"),
        n_toks.alias("n_toks"),
    )
    sampled = F.sum(F.when(F.col("u") < F.col("rate"), 1).otherwise(0))
    return (
        cand.groupBy("source", "rate")
        .agg(
            F.count(F.lit(1)).alias("n_candidates"),
            sampled.cast("long").alias("n_sampled"),
            F.sum(
                F.when(F.col("u") < F.col("rate"), F.col("n_toks")).otherwise(0)
            ).alias("tok_sampled"),
            (
                F.floor(
                    sampled.cast("double") / F.count(F.lit(1)) * 1_000_000 + 0.5
                )
                / 1_000_000
            ).alias("achieved_rate"),
        )
        .select(
            "source",
            "n_candidates",
            "n_sampled",
            "tok_sampled",
            F.col("rate").alias("target_rate"),
            "achieved_rate",
        )
    )


# ── q227: train/held-out split leakage detector ─────────────────────────────


def _q227_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    q23 = _REGISTRY["q23_ngram_jaccard_dedup"].sql
    return f"""
    WITH pairs AS ({q23})
    SELECT CASE WHEN doc_a % 5 = 0 THEN doc_b ELSE doc_a END AS doc_train,
           CASE WHEN doc_a % 5 = 0 THEN doc_a ELSE doc_b END AS doc_held,
           jaccard
    FROM pairs
    WHERE (doc_a % 5 = 0) <> (doc_b % 5 = 0)
    """


@register(
    "q227_split_leakage",
    _q227_sql(),
    doc="Train/held-out split leakage detector: near-dup pairs (q23's "
    "exact shingle-Jaccard relation at 0.5) that CROSS the doc_id %% 5 "
    "split used by q208/q219 — each leaked pair is an eval document "
    "whose near-copy sits in training, silently inflating held-out "
    "metrics. The readout every LLM eval pipeline needs before "
    "trusting a held-out score; fix is to move whole dup-clusters "
    "(q68) into one side, never split them.",
)
def q227_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair relation is q23's (max_df-cappable shared-shingle
    join); the split test and column swap are per-pair projections —
    zero extra shuffles on top of the relation the dedup pass already
    builds."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    pairs = _REGISTRY["q23_ngram_jaccard_dedup"].fn(spark, sf_dir)
    a_held = F.col("doc_a") % 5 == 0
    b_held = F.col("doc_b") % 5 == 0
    return pairs.filter(a_held != b_held).select(
        F.when(a_held, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_train"),
        F.when(a_held, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_held"),
        "jaccard",
    )


# ── q228: class-balanced downsampling (seeded negative sampling) ────────────


@register(
    "q228_class_balanced_sample",
    """
    WITH lab AS (
      SELECT event_id, (event_type = 'purchase') AS pos,
             (CAST(('0x' || substr(md5('228|' || CAST(event_id AS VARCHAR)),
                                   1, 15)) AS BIGINT) + 1)
               / 1152921504606846976.0 AS u
      FROM events
    ),
    cnt AS (
      SELECT CAST(SUM(CASE WHEN pos THEN 1 ELSE 0 END) AS BIGINT) AS n_pos,
             CAST(SUM(CASE WHEN pos THEN 0 ELSE 1 END) AS BIGINT) AS n_neg
      FROM lab
    )
    SELECT n_pos, n_neg,
           CAST(SUM(CASE WHEN NOT pos
                          AND u < LEAST(1.0, n_pos::DOUBLE / n_neg)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_neg_kept,
           FLOOR(LEAST(1.0, n_pos::DOUBLE / n_neg) * 1000000 + 0.5) / 1000000
             AS neg_rate,
           FLOOR(SUM(CASE WHEN NOT pos
                           AND u < LEAST(1.0, n_pos::DOUBLE / n_neg)
                          THEN 1 ELSE 0 END)::DOUBLE
                 / n_pos * 1000000 + 0.5) / 1000000 AS balance_achieved
    FROM lab CROSS JOIN cnt
    GROUP BY n_pos, n_neg
    """,
    doc="Class-balanced negative downsampling (the CTR/classification "
    "prep step): count positives (purchase events) and negatives, keep "
    "every positive, keep each negative with probability n_pos/n_neg "
    "via a seeded per-row md5 uniform — deterministic, partition-"
    "independent, replayable. Reports the planned rate and the "
    "achieved negative:positive balance. Two passes over the label "
    "relation; no RNG state, no driver sampling.",
)
def q228_class_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: pass 1 is a 1-row count aggregate (broadcast back); pass
    2 is a map-side filter + 1-row aggregate. The uniform is a column
    expression, so the sample is stable under repartitioning and
    re-execution — the property that makes the epoch reproducible."""
    ev = load_table(spark, sf_dir, "events")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("228|"), F.col("event_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(float(1 << 60))
    lab = ev.select(
        (F.col("event_type") == "purchase").alias("pos"), u.alias("u")
    )
    cnt = lab.agg(
        F.sum(F.when(F.col("pos"), 1).otherwise(0)).cast("long").alias("n_pos"),
        F.sum(F.when(F.col("pos"), 0).otherwise(1)).cast("long").alias("n_neg"),
    )
    # try_divide: an all-positive lake has n_neg = 0 (both engines'
    # LEAST skips the NULL -> rate 1.0); an all-negative one has
    # n_pos = 0 -> balance undefined (NULL, matching DuckDB)
    rate = F.least(
        F.lit(1.0), F.try_divide(F.col("n_pos").cast("double"), F.col("n_neg"))
    )
    kept = F.sum(
        F.when((~F.col("pos")) & (F.col("u") < rate), 1).otherwise(0)
    )
    q6 = lambda x: F.floor(x * 1_000_000 + 0.5) / 1_000_000
    return (
        lab.crossJoin(F.broadcast(cnt))
        .groupBy("n_pos", "n_neg")
        .agg(
            kept.cast("long").alias("n_neg_kept"),
            q6(rate).alias("neg_rate"),
            q6(F.try_divide(kept.cast("double"), F.col("n_pos"))).alias(
                "balance_achieved"
            ),
        )
    )


# ── q229: customer monthly feature frame (lags + rolling mean) ──────────────


@register(
    "q229_customer_feature_frame",
    """
    WITH m AS (
      SELECT o_custkey AS custkey,
             CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS m_cents,
             CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY 1, 2
    )
    SELECT custkey, month, n_orders, m_cents,
           LAG(m_cents) OVER w AS lag1_cents,
           CAST(FLOOR(AVG(m_cents) OVER (PARTITION BY custkey ORDER BY month
                  ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) + 0.5) AS BIGINT)
             AS avg3_cents
    FROM m
    WINDOW w AS (PARTITION BY custkey ORDER BY month)
    """,
    doc="Tabular-ML feature frame assembly: per (customer, month) "
    "revenue in EXACT integer cents (floor-half-up per order before "
    "the sum, q157's decimal-money idiom), previous-month lag, and a "
    "3-month rolling mean — the lag/rolling feature block a churn or "
    "LTV model trains on, with leakage-safe windows (only PRECEDING "
    "rows feed each feature). AVG over BIGINT cents is an exact "
    "integer-sum / count division, floored half-up to whole cents on "
    "both engines.",
)
def q229_customer_feature_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle keyed o_custkey for the month aggregate; the
    lag/rolling windows ride the same customer partitioning (running
    frames, no whole-partition buffering). Month counts per customer
    are bounded (~tens), so window state is tiny."""
    orders = load_table(spark, sf_dir, "orders")
    m = (
        orders.select(
            F.col("o_custkey").alias("custkey"),
            F.date_trunc("month", "o_orderdate").cast("date").alias("month"),
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        )
        .groupBy("custkey", "month")
        .agg(
            F.sum("cents").alias("m_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
    w = Window.partitionBy("custkey").orderBy("month")
    w3 = w.rowsBetween(-2, 0)
    return m.select(
        "custkey",
        "month",
        "n_orders",
        "m_cents",
        F.lag("m_cents").over(w).alias("lag1_cents"),
        F.floor(F.avg("m_cents").over(w3) + 0.5).cast("long").alias("avg3_cents"),
    )


# ── q230: Bradley-Terry preference strength (RLHF preference-data op) ───────

_Q230_ITER = 20  # fixed MM iterations (Hunter 2004), unrolled in the oracle


def _q230_sql() -> str:
    # One MM iteration, as three MATERIALIZED CTEs over the tiny item
    # relation.  MATERIALIZED is load-bearing: each step references its
    # predecessor more than once, and non-materialized CTEs re-inline
    # EXPONENTIALLY (q203/q207 precedent).  Every float accumulation is
    # a strict in-order fold — list(x ORDER BY k) + list_sum — matching
    # the Python solver's ascending-index loops exactly (the
    # sequential-fold float contract, operators/similarity.py:309).
    steps = []
    for t in range(1, _Q230_ITER + 1):
        steps.append(
            f"""
    d{t} AS MATERIALIZED (
      SELECT m.i,
             list_sum(list(m.n * 1.0 / (pi.p + pj.p) ORDER BY m.j)) AS den
      FROM m
      JOIN p{t - 1} pi ON pi.i = m.i
      JOIN p{t - 1} pj ON pj.i = m.j
      GROUP BY m.i
    ),
    r{t} AS MATERIALIZED (
      SELECT w.i, w.wins / d{t}.den AS pr FROM wsum w JOIN d{t} ON d{t}.i = w.i
    ),
    p{t} AS MATERIALIZED (
      SELECT i, pr / (SELECT list_sum(list(pr ORDER BY i)) FROM r{t}) AS p
      FROM r{t}
    )"""
        )
    return f"""
    WITH cnt AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    pw AS (
      SELECT a.event_type AS ta, b.event_type AS tb,
             CAST(SUM(CASE WHEN a.c > b.c THEN 1 ELSE 0 END) AS BIGINT) AS wab,
             CAST(SUM(CASE WHEN b.c > a.c THEN 1 ELSE 0 END) AS BIGINT) AS wba
      FROM cnt a JOIN cnt b
        ON a.user_id = b.user_id AND a.event_type < b.event_type
      WHERE a.c <> b.c
      GROUP BY 1, 2
    ),
    items AS MATERIALIZED (
      SELECT event_type, ROW_NUMBER() OVER (ORDER BY event_type) - 1 AS i
      FROM (SELECT DISTINCT ta AS event_type FROM pw
            UNION SELECT DISTINCT tb FROM pw)
    ),
    m AS MATERIALIZED (
      SELECT ia.i AS i, ib.i AS j, wab + wba AS n, wab AS w
      FROM pw JOIN items ia ON ia.event_type = pw.ta
              JOIN items ib ON ib.event_type = pw.tb
      UNION ALL
      SELECT ib.i, ia.i, wab + wba, wba
      FROM pw JOIN items ia ON ia.event_type = pw.ta
              JOIN items ib ON ib.event_type = pw.tb
    ),
    wsum AS MATERIALIZED (
      SELECT i, CAST(SUM(w) AS BIGINT) AS wins, CAST(SUM(n) AS BIGINT) AS n_comparisons
      FROM m GROUP BY i
    ),
    p0 AS MATERIALIZED (
      SELECT i, 1.0 / (SELECT COUNT(*) FROM items) AS p FROM items
    ),{",".join(steps)}
    SELECT it.event_type, w.wins, w.n_comparisons,
           FLOOR(p.p * 1000000 + 0.5) / 1000000 AS bt_strength,
           CAST(ROW_NUMBER() OVER (
             ORDER BY FLOOR(p.p * 1000000 + 0.5) DESC, it.event_type)
             AS INTEGER) AS rank
    FROM p{_Q230_ITER} p
    JOIN items it ON it.i = p.i
    JOIN wsum w ON w.i = p.i
    """


@register(
    "q230_bt_preference",
    _q230_sql(),
    doc="Bradley-Terry preference-strength rating — the solver behind "
    "RLHF preference-data audits and chat-arena leaderboards. Pairwise "
    "comparisons are mined from behavior: for each user and each pair "
    "of event types, the type with the higher per-user event count "
    "wins (ties dropped). The BT strengths come from 20 fixed "
    "minorization-maximization iterations (Hunter 2004), every float "
    "accumulation a strict ascending-index fold on both engines; the "
    "oracle unrolls the iterations as MATERIALIZED CTEs and ranks by "
    "the ROUNDED strength so ulp-level ties cannot flip order.",
)
def q230_bt_preference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the distributed part is exactly the part that grows —
    per-(user,type) counts (one shuffle, map-side combinable) and the
    pairwise win aggregate (self-join co-partitioned on user_id, output
    bounded by k^2 rows for k event types). The MM solver then runs on
    the driver over that CONSTANT-size win matrix (k^2 <= ~10^4 floats
    — the bounded-collect class of the k-means centroid step,
    operators/similarity.py:343), with ascending-index loops so every
    IEEE add happens in the same order as the oracle's list_sum folds."""
    ev = load_table(spark, sf_dir, "events")
    cnt = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("c"))
    a, b = cnt.alias("a"), cnt.alias("b")
    pw = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .filter(F.col("a.c") != F.col("b.c"))
        .groupBy(
            F.col("a.event_type").alias("ta"), F.col("b.event_type").alias("tb")
        )
        .agg(
            F.sum(F.when(F.col("a.c") > F.col("b.c"), 1).otherwise(0))
            .cast("long")
            .alias("wab"),
            F.sum(F.when(F.col("b.c") > F.col("a.c"), 1).otherwise(0))
            .cast("long")
            .alias("wba"),
        )
        .collect()  # bounded: k event types -> <= k*(k-1)/2 rows
    )
    assert len(pw) <= 10_000, "event-type universe unexpectedly large"
    types = sorted({r["ta"] for r in pw} | {r["tb"] for r in pw})
    idx = {t: i for i, t in enumerate(types)}
    k = len(types)
    if k == 0:  # empty lake: schema-stable empty result
        return spark.createDataFrame(
            [],
            "event_type STRING, wins LONG, n_comparisons LONG, "
            "bt_strength DOUBLE, rank INT",
        )
    # directed edge lists: edges[i] = [(j, n_ij)], ascending j
    edges: dict[int, list[tuple[int, int]]] = {i: [] for i in range(k)}
    wins = [0] * k
    ncmp = [0] * k
    for r in pw:
        i, j, n = idx[r["ta"]], idx[r["tb"]], r["wab"] + r["wba"]
        edges[i].append((j, n))
        edges[j].append((i, n))
        wins[i] += r["wab"]
        wins[j] += r["wba"]
        ncmp[i] += n
        ncmp[j] += n
    p = [1.0 / k] * k
    for _ in range(_Q230_ITER):
        raw = []
        for i in range(k):
            den = 0.0
            for j, n in sorted(edges[i]):  # ascending j = oracle's ORDER BY j
                den += n * 1.0 / (p[i] + p[j])
            raw.append(wins[i] / den)
        tot = 0.0
        for v in raw:  # ascending i = oracle's ORDER BY i
            tot += v
        p = [v / tot for v in raw]
    q6 = [math_floor(v * 1_000_000 + 0.5) / 1_000_000 for v in p]
    order = sorted(range(k), key=lambda i: (-q6[i], types[i]))
    rank = {i: r + 1 for r, i in enumerate(order)}
    rows = [
        (types[i], wins[i], ncmp[i], q6[i], rank[i]) for i in range(k)
    ]
    return spark.createDataFrame(
        rows,
        "event_type STRING, wins LONG, n_comparisons LONG, "
        "bt_strength DOUBLE, rank INT",
    )


# ── q231: quality-gate agreement (Cohen's kappa between two filters) ────────

_Q231_LM_T = -3.402  # unigram-LM threshold (median-ish at every sf)


def _q231_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    gopher = _REGISTRY["q192_gopher_quality_rules"].sql
    lm = _REGISTRY["q92_unigram_logprob"].sql
    return f"""
    WITH g AS ({gopher}),
    l AS ({lm}),
    j AS (
      SELECT g.passes AS a, l.avg_logprob >= {_Q231_LM_T} AS b
      FROM g JOIN l ON g.doc_id = l.doc_id
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_pass,
             CAST(SUM(CASE WHEN a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_rule_only,
             CAST(SUM(CASE WHEN NOT a AND b THEN 1 ELSE 0 END) AS BIGINT) AS n_lm_only,
             CAST(SUM(CASE WHEN NOT a AND NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_both_fail
      FROM j
    )
    SELECT n_docs, n_both_pass, n_rule_only, n_lm_only, n_both_fail,
           FLOOR((n_both_pass + n_both_fail) * 1.0 / n_docs * 1000000 + 0.5)
             / 1000000 AS po,
           FLOOR((((n_both_pass + n_rule_only) * 1.0 / n_docs)
                  * ((n_both_pass + n_lm_only) * 1.0 / n_docs)
                  + ((n_lm_only + n_both_fail) * 1.0 / n_docs)
                  * ((n_rule_only + n_both_fail) * 1.0 / n_docs))
                 * 1000000 + 0.5) / 1000000 AS pe,
           FLOOR(((n_both_pass + n_both_fail) * 1.0 / n_docs
                  - (((n_both_pass + n_rule_only) * 1.0 / n_docs)
                     * ((n_both_pass + n_lm_only) * 1.0 / n_docs)
                     + ((n_lm_only + n_both_fail) * 1.0 / n_docs)
                     * ((n_rule_only + n_both_fail) * 1.0 / n_docs)))
                 / (1 - (((n_both_pass + n_rule_only) * 1.0 / n_docs)
                         * ((n_both_pass + n_lm_only) * 1.0 / n_docs)
                         + ((n_lm_only + n_both_fail) * 1.0 / n_docs)
                         * ((n_rule_only + n_both_fail) * 1.0 / n_docs)))
                 * 1000000 + 0.5) / 1000000 AS kappa
    FROM c
    """


@register(
    "q231_quality_gate_agreement",
    _q231_sql(),
    doc="Inter-filter agreement audit: Cohen's kappa between the two "
    "quality classifiers the engine already runs — the Gopher rule "
    "gate (q192 passes) and the unigram-LM score filter (q92 "
    "avg_logprob >= -3.402). The 2x2 confusion counts, observed "
    "agreement po, chance agreement pe, and kappa — the calibration "
    "readout that tells a curation team whether two filters are "
    "redundant (high kappa) or complementary (low) BEFORE stacking "
    "them. All floats derive from exact integer counts through "
    "identical division/multiplication sequences on both engines.",
)
def q231_quality_gate_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both input relations are per-doc map-side scores (q192 is
    map-only; q92's vocab broadcasts); the equi-join on doc_id is one
    co-partitioned shuffle and the confusion matrix is a single-row
    fused aggregate (validation.py's one-pass idiom) — nothing here
    grows faster than the corpus scan."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("a")
    )
    l = _REGISTRY["q92_unigram_logprob"].fn(spark, sf_dir).select(
        "doc_id", (F.col("avg_logprob") >= _Q231_LM_T).alias("b")
    )
    j = g.join(l, "doc_id")
    c = j.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_pass"),
        F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_rule_only"),
        F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_lm_only"),
        F.sum(F.when(~F.col("a") & ~F.col("b"), 1).otherwise(0))
        .cast("long")
        .alias("n_both_fail"),
    )
    n = F.col("n_docs")
    po = (F.col("n_both_pass") + F.col("n_both_fail")) * 1.0 / n
    pa = (F.col("n_both_pass") + F.col("n_rule_only")) * 1.0 / n
    pb = (F.col("n_both_pass") + F.col("n_lm_only")) * 1.0 / n
    qa = (F.col("n_lm_only") + F.col("n_both_fail")) * 1.0 / n
    qb = (F.col("n_rule_only") + F.col("n_both_fail")) * 1.0 / n
    pe = pa * pb + qa * qb
    return c.select(
        "n_docs",
        "n_both_pass",
        "n_rule_only",
        "n_lm_only",
        "n_both_fail",
        round_half_up(po, 6).alias("po"),
        round_half_up(pe, 6).alias("pe"),
        round_half_up((po - pe) / (1 - pe), 6).alias("kappa"),
    )


# ── q232: per-doc memorization score (duplicated-5-gram fraction) ───────────


@register(
    "q232_doc_memorization_score",
    r"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    gr AS (
      SELECT doc_id, array_to_string(toks[i:i+4], ' ') AS gram
      FROM (SELECT doc_id, toks, unnest(range(1, len(toks)-3)) AS i
            FROM tok WHERE len(toks) >= 5)
    ),
    df AS (
      SELECT gram, COUNT(DISTINCT doc_id) AS df FROM gr GROUP BY gram
    )
    SELECT gr.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_grams,
           CAST(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           FLOOR(SUM(CASE WHEN df.df >= 2 THEN 1 ELSE 0 END) * 1.0 / COUNT(*)
                 * 1000000 + 0.5) / 1000000 AS memorization_score
    FROM gr JOIN df USING (gram)
    GROUP BY gr.doc_id
    """,
    doc="Per-document memorization-risk score: the fraction of a doc's "
    "word 5-grams that also occur in at least one OTHER document — the "
    "per-doc drilldown of q220's corpus-level duplicated-n-gram "
    "inventory, and the score used to quarantine high-overlap documents "
    "(boilerplate, licenses, templated pages) before training. Shares "
    "q220's exact gram universe (lowercase alpha tokens, 5-gram "
    "windows, docs with >= 5 tokens).",
)
def q232_doc_memorization_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same single gram-keyed shuffle as q220 for df (map-side
    combinable count-distinct over doc_id); the per-doc re-aggregate
    joins gram->df back broadcast-or-shuffle under AQE and re-keys by
    doc_id. At 100 TB, hash grams to 64-bit keys for the exchange (the
    q220 note) — the score needs only df>=2, never the gram text."""
    docs = load_table(spark, sf_dir, "documents")
    toks = F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
    grams = (
        docs.select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") >= 5)
        .select(
            "doc_id",
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.size("toks") - 4),
                    lambda i: F.array_join(F.slice("toks", i, F.lit(5)), " "),
                )
            ).alias("gram"),
        )
    )
    df_rel = grams.groupBy("gram").agg(F.countDistinct("doc_id").alias("df"))
    shared = F.sum(F.when(F.col("df") >= 2, 1).otherwise(0))
    return (
        grams.join(df_rel, "gram")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            shared.cast("long").alias("n_shared"),
            round_half_up(shared * 1.0 / F.count(F.lit(1)), 6).alias(
                "memorization_score"
            ),
        )
    )


# ── q233: curriculum difficulty buckets (easy->hard training stages) ────────

_Q233_V = 500  # top-V corpus vocabulary = the "known" token set
_Q233_STAGES = 10


@register(
    "q233_curriculum_buckets",
    rf"""
    WITH tok AS (
      SELECT doc_id, t.tok
      FROM documents,
           UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok
        ORDER BY c DESC, tok LIMIT {_Q233_V})
    ),
    per AS (
      SELECT tok.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(FLOOR(SUM(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) * 1.0
                        / COUNT(*) * 1000000 + 0.5) AS BIGINT) AS oov_q6
      FROM tok LEFT JOIN vocab v USING (tok)
      GROUP BY tok.doc_id
    ),
    staged AS (
      SELECT *, CAST(NTILE({_Q233_STAGES}) OVER (ORDER BY oov_q6, doc_id)
                     AS INTEGER) AS stage
      FROM per
    )
    SELECT stage,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
           FLOOR(SUM(oov_q6)::DOUBLE / COUNT(*) / 1000000 * 1000000 + 0.5)
             / 1000000 AS avg_oov_rate,
           MIN(oov_q6) / 1000000.0 AS min_oov_rate,
           MAX(oov_q6) / 1000000.0 AS max_oov_rate
    FROM staged GROUP BY stage
    """,
    doc="Curriculum-learning stage assignment: per-doc difficulty = "
    "out-of-vocabulary token rate against the top-500 corpus unigram "
    "vocabulary (rare-word-heavy docs are harder), NTILE(10) over "
    "(difficulty, doc_id) splits the corpus into 10 equal easy->hard "
    "training stages, and the per-stage readout (docs, token budget, "
    "OOV range) is what the data loader schedules epochs from. "
    "Difficulty is quantized to integer 1e-6 BEFORE ranking so the "
    "NTILE total order is bit-identical cross-engine.",
)
def q233_curriculum_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: vocab is a TakeOrdered over the zipf-bounded token-count
    relation and broadcasts into the corpus scan; per-doc stats are one
    doc_id-keyed aggregate. The global NTILE is the one intentionally
    serial step — a single ORDER BY over per-DOC rows (corpus/1000s of
    tokens smaller than the corpus); at 100 TB replace with
    percentile-bucketed assignment from an approx-quantile sketch of
    oov_q6 (same output contract, no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = (
        tok.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_Q233_V)
        .select(F.col("tok").alias("vk"))
    )
    oov = F.sum(F.when(F.col("vk").isNull(), 1).otherwise(0))
    per = (
        tok.join(F.broadcast(vocab), tok["tok"] == F.col("vk"), "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.floor(oov * 1.0 / F.count(F.lit(1)) * 1_000_000 + 0.5)
            .cast("long")
            .alias("oov_q6"),
        )
    )
    staged = per.withColumn(
        "stage",
        F.ntile(_Q233_STAGES).over(Window.orderBy("oov_q6", "doc_id")).cast("int"),
    )
    return staged.groupBy("stage").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("n_tokens"),
        round_half_up(
            F.sum("oov_q6").cast("double") / F.count(F.lit(1)) / 1_000_000, 6
        ).alias("avg_oov_rate"),
        (F.min("oov_q6") / 1_000_000.0).alias("min_oov_rate"),
        (F.max("oov_q6") / 1_000_000.0).alias("max_oov_rate"),
    )


# ── q234: DoReMi-style domain reweighting step (excess-loss exp update) ─────

_Q234_ETA = 1.0  # multiplicative-weights step size


@register(
    "q234_domain_reweight",
    rf"""
    WITH toks AS (
      SELECT source, t.tok
      FROM documents,
           UNNEST(string_split_regex(lower(text), '[^a-z]+')) AS t(tok)
      WHERE t.tok <> ''
    ),
    vocab AS (SELECT tok, COUNT(*) AS tf FROM toks GROUP BY tok),
    tot AS (SELECT SUM(tf) AS total FROM vocab),
    per AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(CAST(ROUND(-LN(v.tf / t.total) * 1000000) AS BIGINT))
                  AS BIGINT) AS nll_u
      FROM toks JOIN vocab v USING (tok) CROSS JOIN tot t
      GROUP BY source
    ),
    base AS (
      SELECT source, n_tokens,
             nll_u / (n_tokens * 1000000.0) AS nll,
             n_tokens * 1.0 / SUM(n_tokens) OVER () AS w0
      FROM per
    ),
    exc AS (
      SELECT *, nll - MIN(nll) OVER () AS excess FROM base
    )
    SELECT source, n_tokens,
           FLOOR(nll * 1000000 + 0.5) / 1000000 AS nll,
           FLOOR(excess * 1000000 + 0.5) / 1000000 AS excess_nll,
           FLOOR(w0 * 1000000 + 0.5) / 1000000 AS w0,
           FLOOR(w0 * EXP({_Q234_ETA} * excess)
                 / SUM(w0 * EXP({_Q234_ETA} * excess)) OVER ()
                 * 1000000 + 0.5) / 1000000 AS w1
    FROM exc
    """,
    doc="DoReMi-style domain-mixture reweighting (arXiv:2305.10429, one "
    "multiplicative-weights step): per-source mean token NLL under the "
    "corpus unigram LM (q92's integer micro-nat sums, so the per-source "
    "loss is order-free exact), excess loss over the best source, and "
    "the exponentiated-gradient update w1 ∝ w0 * exp(eta*excess) from "
    "the token-share baseline w0 — up-weighting domains the reference "
    "model finds hard. The |sources|-row normalization windows follow "
    "q193's proven small-relation pattern; exp parity per q159.",
)
def q234_domain_reweight(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus-sized work is q92's — one vocab aggregate
    (broadcast back) and one source-keyed integer-sum aggregate. The
    window normalizations run over |sources| aggregate rows (dozens),
    never data rows. One exp per SOURCE, not per token."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "source", F.explode(F.split(F.lower("text"), "[^a-z]+")).alias("tok")
    ).filter(F.col("tok") != "")
    vocab = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("tf"))
    total = vocab.agg(F.sum("tf").alias("total"))
    per = (
        toks.join(F.broadcast(vocab), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum(
                F.round(-F.log(F.col("tf") / F.col("total")) * 1e6).cast("long")
            ).alias("nll_u"),
        )
    )
    wall = Window.partitionBy()
    base = per.select(
        "source",
        "n_tokens",
        (F.col("nll_u") / (F.col("n_tokens") * 1_000_000.0)).alias("nll"),
        (F.col("n_tokens") * 1.0 / F.sum("n_tokens").over(wall)).alias("w0"),
    )
    exc = base.withColumn("excess", F.col("nll") - F.min("nll").over(wall))
    upd = F.col("w0") * F.exp(_Q234_ETA * F.col("excess"))
    return exc.select(
        "source",
        "n_tokens",
        round_half_up(F.col("nll"), 6).alias("nll"),
        round_half_up(F.col("excess"), 6).alias("excess_nll"),
        round_half_up(F.col("w0"), 6).alias("w0"),
        round_half_up(upd / F.sum(upd).over(wall), 6).alias("w1"),
    )


# ── q235: nDCG@10 ranking-quality evaluation of the BM25 path ───────────────


def _q235_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    bm25 = _REGISTRY["q197_bm25_scoring"].sql
    return rf"""
    WITH ranked AS ({bm25}),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id,
                   unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
            FROM documents)
      GROUP BY doc_id, term
    ),
    rel AS (
      SELECT r.term, r.doc_id, r.rank, LEAST(tf.tf, 4) AS rel
      FROM ranked r JOIN tf ON tf.term = r.term AND tf.doc_id = r.doc_id
    ),
    ideal AS (
      SELECT term, doc_id, rel,
             ROW_NUMBER() OVER (PARTITION BY term ORDER BY rel DESC, doc_id)
               AS irank
      FROM rel
    ),
    g AS (
      SELECT rel.term,
             CAST(SUM(CAST(FLOOR(((1 << rel.rel) - 1) / log2(rel.rank + 1)
                                 * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS dcg_u,
             CAST(SUM(CASE WHEN rel.rel >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_highly_rel
      FROM rel GROUP BY rel.term
    ),
    gi AS (
      SELECT term,
             CAST(SUM(CAST(FLOOR(((1 << rel) - 1) / log2(irank + 1)
                                 * 1000000 + 0.5) AS BIGINT)) AS BIGINT) AS idcg_u
      FROM ideal GROUP BY term
    )
    SELECT g.term,
           g.dcg_u / 1000000.0 AS dcg,
           gi.idcg_u / 1000000.0 AS idcg,
           FLOOR(g.dcg_u * 1.0 / gi.idcg_u * 1000000 + 0.5) / 1000000 AS ndcg,
           g.n_highly_rel
    FROM g JOIN gi USING (term)
    """


@register(
    "q235_ndcg_ranking_eval",
    _q235_sql(),
    doc="Retrieval-quality evaluation: nDCG@10 of the BM25 ranking "
    "(q197) per query term, with graded pseudo-relevance rel = "
    "min(tf, 4) — the offline eval every retrieval/RAG pipeline runs "
    "before swapping rankers. DCG terms (2^rel-1)/log2(rank+1) are "
    "floor-quantized to integer micro-units BEFORE the per-term sum "
    "(q92's order-free idiom); the ideal ordering re-ranks the SAME "
    "retrieved set by (rel DESC, doc_id) so nDCG isolates ordering "
    "quality from recall.",
)
def q235_ndcg_ranking_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the candidate relation is |terms| x 10 rows (the ranker's
    own top-k), so everything after q197 — the tf join, both windowed
    re-ranks, the per-term folds — runs on a constant-size relation
    partitioned by term. Cost is q197's: only query-term postings ever
    shuffle."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    ranked = _REGISTRY["q197_bm25_scoring"].fn(spark, sf_dir)
    tf = (
        docs.select(
            "doc_id",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("term"),
        )
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    rel = ranked.join(tf, ["term", "doc_id"]).select(
        "term", "doc_id", "rank", F.least(F.col("tf"), F.lit(4)).alias("rel")
    )
    def gain(rank_col):
        return F.floor(
            ((F.expr("shiftleft(1, rel)") - 1)
             / F.log2(rank_col + 1)) * 1_000_000 + 0.5
        ).cast("long")

    g = rel.groupBy("term").agg(
        F.sum(gain(F.col("rank"))).alias("dcg_u"),
        F.sum(F.when(F.col("rel") >= 2, 1).otherwise(0))
        .cast("long")
        .alias("n_highly_rel"),
    )
    wi = Window.partitionBy("term").orderBy(F.desc("rel"), "doc_id")
    ideal = rel.withColumn("irank", F.row_number().over(wi))
    gi = ideal.groupBy("term").agg(F.sum(gain(F.col("irank"))).alias("idcg_u"))
    return (
        g.join(gi, "term")
        .select(
            "term",
            (F.col("dcg_u") / 1_000_000.0).alias("dcg"),
            (F.col("idcg_u") / 1_000_000.0).alias("idcg"),
            round_half_up(F.col("dcg_u") * 1.0 / F.col("idcg_u"), 6).alias("ndcg"),
            "n_highly_rel",
        )
    )


# ── q236: MinHash-LSH parameter planner (band/row sweep over the corpus) ────

_Q236_SIG = 128  # signature budget: candidate (bands, rows) with b*r = 128
_Q236_CFGS = [(128, 1), (64, 2), (32, 4), (16, 8), (8, 16), (4, 32), (2, 64), (1, 128)]


def _q236_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    curve = _REGISTRY["q221_dedup_threshold_curve"].sql
    cfgs = ", ".join(f"({b}, {r})" for b, r in _Q236_CFGS)
    return f"""
    WITH curve AS ({curve}),
    buck AS (
      SELECT thr,
             n_pairs_ge - COALESCE(LEAD(n_pairs_ge) OVER (ORDER BY thr), 0)
               AS n_b
      FROM curve
    ),
    cfg AS (SELECT * FROM (VALUES {cfgs}) AS t(b, r)),
    det AS (
      SELECT cfg.b, cfg.r, buck.thr, buck.n_b,
             1 - EXP(cfg.b * LN(1 - EXP(cfg.r * LN(buck.thr + 0.05)))) AS p
      FROM cfg CROSS JOIN buck
    ),
    agg AS (
      SELECT b, r,
             SUM(CAST(FLOOR(n_b * p * 1000000 + 0.5) AS BIGINT)) AS det_u,
             SUM(CASE WHEN thr >= 0.5
                      THEN CAST(FLOOR(n_b * p * 1000000 + 0.5) AS BIGINT)
                      ELSE 0 END) AS det_hi_u,
             SUM(CASE WHEN thr < 0.3
                      THEN CAST(FLOOR(n_b * p * 1000000 + 0.5) AS BIGINT)
                      ELSE 0 END) AS det_lo_u,
             CAST(SUM(CASE WHEN thr >= 0.5 THEN n_b ELSE 0 END) AS BIGINT) AS n_hi,
             CAST(SUM(CASE WHEN thr < 0.3 THEN n_b ELSE 0 END) AS BIGINT) AS n_lo
      FROM det GROUP BY b, r
    )
    SELECT b AS n_bands, r AS n_rows_per_band,
           FLOOR(EXP(LN(1.0 / b) / r) * 1000000 + 0.5) / 1000000
             AS approx_threshold,
           FLOOR(det_u / 1000000.0 * 100 + 0.5) / 100 AS exp_detected_pairs,
           FLOOR(det_hi_u * 1.0 / (n_hi * 1000000) * 1000000 + 0.5) / 1000000
             AS recall_ge05,
           FLOOR(det_lo_u * 1.0 / (n_lo * 1000000) * 1000000 + 0.5) / 1000000
             AS fp_rate_lt03
    FROM agg
    """


@register(
    "q236_lsh_parameter_plan",
    _q236_sql(),
    doc="MinHash-LSH parameter planner: for every (bands, rows) split "
    "of a 128-hash signature budget, the expected number of candidate "
    "pairs the banding would surface from THIS corpus — the q221 "
    "Jaccard histogram convolved with the banding S-curve "
    "p(s)=1-(1-s^r)^b at each bucket midpoint — plus estimated recall "
    "on true pairs (s>=0.5) and false-candidate rate on junk pairs "
    "(s<0.3). The tuning table a team reads before setting q24's "
    "bands/rows knobs: pick the row whose approx threshold (1/b)^(1/r) "
    "brackets the dedup threshold with acceptable junk. Powers are "
    "EXP/LN chains (q159/q92 parity class); per-bucket expectations "
    "are floor-quantized to integer micro-pairs before the sum.",
)
def q236_lsh_parameter_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the ONLY corpus-sized work is q221's shared-shingle pair
    relation (built once, max_df-cappable); this planner then runs on a
    10-row histogram x 8-row config spine — the entire parameter sweep
    costs O(1) on top of a single dedup pass, versus re-running LSH 8
    times to measure each configuration empirically."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    curve = _REGISTRY["q221_dedup_threshold_curve"].fn(spark, sf_dir)
    buck = curve.select(
        "thr",
        (
            F.col("n_pairs_ge")
            - F.coalesce(
                F.lead("n_pairs_ge").over(Window.orderBy("thr")), F.lit(0)
            )
        ).alias("n_b"),
    )
    cfg = spark.createDataFrame(_Q236_CFGS, "b INT, r INT")
    p = 1 - F.exp(
        F.col("b") * F.log(1 - F.exp(F.col("r") * F.log(F.col("thr") + 0.05)))
    )
    term = F.floor(F.col("n_b") * p * 1_000_000 + 0.5).cast("long")
    det = F.broadcast(cfg).crossJoin(buck)
    agg = det.groupBy("b", "r").agg(
        F.sum(term).alias("det_u"),
        F.sum(F.when(F.col("thr") >= 0.5, term).otherwise(0)).alias("det_hi_u"),
        F.sum(F.when(F.col("thr") < 0.3, term).otherwise(0)).alias("det_lo_u"),
        F.sum(F.when(F.col("thr") >= 0.5, F.col("n_b")).otherwise(0))
        .cast("long")
        .alias("n_hi"),
        F.sum(F.when(F.col("thr") < 0.3, F.col("n_b")).otherwise(0))
        .cast("long")
        .alias("n_lo"),
    )
    return agg.select(
        F.col("b").alias("n_bands"),
        F.col("r").alias("n_rows_per_band"),
        round_half_up(F.exp(F.log(1.0 / F.col("b")) / F.col("r")), 6).alias(
            "approx_threshold"
        ),
        round_half_up(F.col("det_u") / 1_000_000.0, 2).alias(
            "exp_detected_pairs"
        ),
        # try_divide: NULL (not ANSI error) when a band has zero pairs —
        # empty-lake recall is undefined; matches DuckDB's x/0 -> NULL
        round_half_up(
            F.try_divide(F.col("det_hi_u") * 1.0, F.col("n_hi") * 1_000_000), 6
        ).alias("recall_ge05"),
        round_half_up(
            F.try_divide(F.col("det_lo_u") * 1.0, F.col("n_lo") * 1_000_000), 6
        ).alias("fp_rate_lt03"),
    )


# ── q237: KMV sketch source-overlap (the sketch twin of q195) ────────────────

_Q237_K = 256  # k-minimum-values sketch size
_Q237_SALT = 64  # salt fan-out for the skew-safe two-phase top-k
# (k-1) * 2^60, the KMV distinct estimator numerator; both factors are
# exactly representable doubles so the product is one exact fp value
_Q237_NUM = "255.0 * 1152921504606846976.0"


def _q237_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    exact = _REGISTRY["q195_source_overlap_matrix"].sql
    return rf"""
    WITH exact AS ({exact}),
    tok AS (
      SELECT source, string_split_regex(trim(text), '\s+') AS toks FROM documents
    ),
    sh AS (
      SELECT source, unnest(
        CASE WHEN len(toks) >= 5
             THEN list_transform(range(1, len(toks)-3),
                                 i -> array_to_string(toks[i:i+4], ' '))
             ELSE []::VARCHAR[] END) AS s
      FROM tok
    ),
    hs AS (
      SELECT DISTINCT source,
             CAST(('0x' || substr(md5('kmv|' || s), 1, 15)) AS BIGINT) AS h
      FROM sh
    ),
    pre AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source, h % {_Q237_SALT}
                                  ORDER BY h) AS r1
        FROM hs) WHERE r1 <= {_Q237_K}
    ),
    sk AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM pre) WHERE rk <= {_Q237_K}
    ),
    sz AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM hs GROUP BY source),
    srcs AS (SELECT DISTINCT source FROM sk),
    pairs AS (
      SELECT a.source AS source_a, b.source AS source_b
      FROM srcs a JOIN srcs b ON a.source < b.source
    ),
    ph AS (
      SELECT p.source_a, p.source_b, s.h,
             MAX(CASE WHEN s.source = p.source_a THEN 1 ELSE 0 END) AS in_a,
             MAX(CASE WHEN s.source = p.source_b THEN 1 ELSE 0 END) AS in_b
      FROM pairs p JOIN sk s ON s.source IN (p.source_a, p.source_b)
      GROUP BY 1, 2, 3
    ),
    topu AS (
      SELECT source_a, source_b, in_a, in_b,
             ROW_NUMBER() OVER (PARTITION BY source_a, source_b
                                ORDER BY h) AS r, h
      FROM ph
    ),
    est AS (
      SELECT source_a, source_b,
             MAX(CASE WHEN r = {_Q237_K} THEN h END) AS uk,
             SUM(CASE WHEN r <= {_Q237_K} THEN in_a * in_b ELSE 0 END) AS matches
      FROM topu GROUP BY 1, 2
    ),
    est2 AS (
      SELECT source_a, source_b, matches,
             CAST(FLOOR({_Q237_NUM} / uk + 0.5) AS BIGINT) AS est_union
      FROM est
    )
    SELECT e.source_a, e.source_b, e.est_union,
           CAST(FLOOR(e.matches * e.est_union / {_Q237_K}.0 + 0.5) AS BIGINT)
             AS est_inter,
           FLOOR(e.matches / {_Q237_K}.0 * 1000000 + 0.5) / 1000000
             AS jaccard_est,
           CAST(za.n + zb.n - COALESCE(x.n_shared, 0) AS BIGINT) AS n_union,
           CAST(COALESCE(x.n_shared, 0) AS BIGINT) AS n_shared,
           COALESCE(x.jaccard, 0.0) AS jaccard_exact,
           FLOOR(ABS(e.matches / {_Q237_K}.0 - COALESCE(x.jaccard, 0.0))
                 * 1000000 + 0.5) / 1000000 AS abs_err
    FROM est2 e
    JOIN sz za ON za.source = e.source_a
    JOIN sz zb ON zb.source = e.source_b
    LEFT JOIN exact x
      ON x.source_a = e.source_a AND x.source_b = e.source_b
    ORDER BY e.source_a, e.source_b
    """


@register(
    "q237_kmv_source_overlap",
    _q237_sql(),
    doc="KMV (k-minimum-values) sketch of each source's distinct 5-gram "
    "shingle set, then pairwise union/intersection/Jaccard ESTIMATES "
    "from merged sketches — the sketch twin of q195's exact overlap "
    "matrix, joined against it so every row carries its own error "
    "audit. Distinct-estimate (k-1)/u_k on the k-th minimum hash; "
    "intersection via the match fraction in the merged top-k "
    "(Beyer et al., SIGMOD'07). Hash-certifiable because the sketch "
    "is pure md5 integer order statistics — no RNG, no float "
    "accumulation; the only floats are two pinned single-op "
    "divisions.",
)
def q237_kmv_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus-sized work is ONE distinct over (source, shingle)
    — the same relation q195 builds — after which KMV reduces each
    source to k=256 hashes BEFORE any pairwise work: the pair stage is
    |sources|^2 * 2k rows regardless of corpus size, where q195's exact
    matrix pays a shared-shingle join over the full relation. The
    per-source top-k is the skew-safe two-phase rank: rank within
    (source, h % 64) salt cells first (64-way fan-out keeps the 20-key
    source partition from serializing a 100 TB corpus through 20
    window tasks), then rank the <= 64*256-row survivor set. At 100 TB
    you drop the exact-audit join (q195) and keep only the sketch
    path; sketches also persist/merge across ingest increments since
    min-hashes are associative.

    Reference tie-in: the reference delegates corpus analytics to
    Athena (README.md:128-132); this extends the engine's sketch
    family (q40/q84 HLL, q144 CountMin) with mergeable set-overlap
    estimation."""
    from ..operators.dedup import word_shingles
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    # hash BEFORE the (single) distinct: the set of md5 hashes of distinct
    # shingles == the distinct set of hashes, and deduping on the 8-byte
    # hash ships a ~6x narrower shuffle than deduping 50-char shingle
    # strings first (10x stress measured 2.85x -> see README)
    sh = docs.select("source", F.explode(word_shingles("text", 5)).alias("s"))
    h = F.conv(
        F.substring(F.md5(F.concat(F.lit("kmv|"), F.col("s"))), 1, 15), 16, 10
    ).cast("long")
    hs = sh.select("source", h.alias("h")).distinct()
    w1 = Window.partitionBy("source", F.col("h") % _Q237_SALT).orderBy("h")
    pre = (
        hs.withColumn("r1", F.row_number().over(w1))
        .filter(F.col("r1") <= _Q237_K)
        .drop("r1")
    )
    w2 = Window.partitionBy("source").orderBy("h")
    sk = (
        pre.withColumn("rk", F.row_number().over(w2))
        .filter(F.col("rk") <= _Q237_K)
        .drop("rk")
    )
    srcs = sk.select("source").distinct()
    pairs = F.broadcast(
        srcs.select(F.col("source").alias("source_a"))
    ).join(
        srcs.select(F.col("source").alias("source_b")),
        F.col("source_a") < F.col("source_b"),
    )
    ska = sk.select(F.col("source").alias("source_a"), "h")
    skb = sk.select(F.col("source").alias("source_b"), "h")
    ph = (
        pairs.join(ska, "source_a")
        .select("source_a", "source_b", "h", F.lit(1).alias("in_a"), F.lit(0).alias("in_b"))
        .unionByName(
            pairs.join(skb, "source_b")
            .select("source_a", "source_b", "h", F.lit(0).alias("in_a"), F.lit(1).alias("in_b"))
        )
        .groupBy("source_a", "source_b", "h")
        .agg(F.max("in_a").alias("in_a"), F.max("in_b").alias("in_b"))
    )
    wu = Window.partitionBy("source_a", "source_b").orderBy("h")
    topu = ph.withColumn("r", F.row_number().over(wu)).filter(
        F.col("r") <= _Q237_K
    )
    est = topu.groupBy("source_a", "source_b").agg(
        F.max(F.when(F.col("r") == _Q237_K, F.col("h"))).alias("uk"),
        F.sum(F.col("in_a") * F.col("in_b")).alias("matches"),
    )
    est_union = F.floor(
        F.lit(255.0) * F.lit(1152921504606846976.0) / F.col("uk") + F.lit(0.5)
    ).cast("long")
    est2 = est.select(
        "source_a", "source_b", "matches", est_union.alias("est_union")
    )
    sz = hs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    za = sz.select(F.col("source").alias("source_a"), F.col("n").alias("na"))
    zb = sz.select(F.col("source").alias("source_b"), F.col("n").alias("nb"))
    exact = (
        _REGISTRY["q195_source_overlap_matrix"]
        .fn(spark, sf_dir)
        .select("source_a", "source_b", "n_shared", F.col("jaccard").alias("jx"))
    )
    return (
        est2.join(F.broadcast(za), "source_a")
        .join(F.broadcast(zb), "source_b")
        .join(exact, ["source_a", "source_b"], "left")
        .select(
            "source_a",
            "source_b",
            "est_union",
            F.floor(
                F.col("matches") * F.col("est_union") / F.lit(float(_Q237_K))
                + F.lit(0.5)
            )
            .cast("long")
            .alias("est_inter"),
            round_half_up(F.col("matches") / F.lit(float(_Q237_K)), 6).alias(
                "jaccard_est"
            ),
            (F.col("na") + F.col("nb") - F.coalesce(F.col("n_shared"), F.lit(0)))
            .cast("long")
            .alias("n_union"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("long").alias("n_shared"),
            F.coalesce(F.col("jx"), F.lit(0.0)).alias("jaccard_exact"),
            round_half_up(
                F.abs(
                    F.col("matches") / F.lit(float(_Q237_K))
                    - F.coalesce(F.col("jx"), F.lit(0.0))
                ),
                6,
            ).alias("abs_err"),
        )
        .orderBy("source_a", "source_b")
    )


# ── q238: IVF n_probe planner (recall/cost curve for the q47 index) ──────────

_Q238_PROBES = [1, 2, 4, 8, 16]
_Q238_NC = 16
_Q238_K = 5
_Q238_NQ = 10


def _q238_sql() -> str:
    from .extras import _kmeans_prefix_sql
    from .llm_ops import _COS, _dot_sql

    prefix = _kmeans_prefix_sql(
        n_centroids=_Q238_NC, sample_size=1024, n_iter=10, seed=42, dim=64
    )
    aff = _dot_sql("e.env", "c.cv")
    cos_final = _COS.format(a="q.embedding", b="n.embedding")
    cos_exact = _COS.format(a="qe", b="c.embedding")
    cfgs = ", ".join(f"({p})" for p in _Q238_PROBES)
    return f"""
    WITH {prefix},
    qall AS MATERIALIZED (
      SELECT e.vec_id AS query_id, e.embedding, c.cid AS cluster,
             CAST(ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {aff} DESC, c.cid) AS INT) AS prank
      FROM en e CROSS JOIN cents10 c
      WHERE e.vec_id < {_Q238_NQ}),
    cfg AS (SELECT * FROM (VALUES {cfgs}) AS t(p)),
    cand AS MATERIALIZED (
      SELECT q.query_id, q.prank, n.neighbor_id, ROUND({cos_final}, 6) AS sim
      FROM qall q JOIN cb n USING (cluster)
      WHERE n.neighbor_id <> q.query_id),
    ranked AS (
      SELECT f.p, c.query_id, c.neighbor_id,
             ROW_NUMBER() OVER (PARTITION BY f.p, c.query_id
               ORDER BY c.sim DESC, c.neighbor_id) AS rank
      FROM cfg f JOIN cand c ON c.prank <= f.p),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, c.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY ROUND({cos_exact}, 6) DESC, c.vec_id) AS rank
        FROM (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
              WHERE vec_id < {_Q238_NQ}) q
        JOIN embeddings c ON c.vec_id <> query_id) t
      WHERE rank <= {_Q238_K}),
    hits AS (
      SELECT r.p, CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM ranked r JOIN exact e
        ON e.query_id = r.query_id AND e.neighbor_id = r.neighbor_id
      WHERE r.rank <= {_Q238_K}
      GROUP BY r.p),
    sz AS (SELECT cluster, CAST(COUNT(*) AS BIGINT) AS n FROM cb GROUP BY cluster),
    cost AS (
      SELECT f.p, CAST(SUM(sz.n) AS BIGINT) AS total
      FROM cfg f JOIN qall q ON q.prank <= f.p
      JOIN sz USING (cluster)
      GROUP BY f.p),
    ncorp AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc FROM cb)
    SELECT f.p AS n_probe,
           CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
           FLOOR(COALESCE(h.n_hits, 0) / {_Q238_NQ * _Q238_K}.0 * 1000000 + 0.5)
             / 1000000 AS recall_at5,
           FLOOR(c.total / {_Q238_NQ}.0 * 100 + 0.5) / 100 AS avg_candidates,
           FLOOR(c.total / ({_Q238_NQ}.0 * n.nc) * 1000000 + 0.5) / 1000000
             AS cost_fraction
    FROM cfg f
    LEFT JOIN hits h ON h.p = f.p
    JOIN cost c ON c.p = f.p
    CROSS JOIN ncorp n
    ORDER BY n_probe
    """


@register(
    "q238_ivf_nprobe_plan",
    _q238_sql(),
    doc="IVF n_probe tuning curve: for each probe budget, recall@5 of "
    "the q47 index against the exact brute-force top-5 AND the scan "
    "cost it pays (average probed-list size, as count and as corpus "
    "fraction) — the recall/cost frontier a team reads before setting "
    "q47's n_probe knob, the IVF twin of q236's LSH planner. The "
    "quantizer trains ONCE (the q47 k-means replay); every config "
    "reuses its assignments, so the sweep costs one index build plus "
    "per-config candidate ranking, not five index builds. Recall "
    "numbers are exact fractions of 50 and hash-certified end-to-end.",
)
def q238_ivf_nprobe_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: corpus work is one quantizer train + one map-side
    assignment pass (Arrow-batch matmul, no shuffle) + one exact
    brute-force pass over the 10 audit probes (the price of ground
    truth, same contract as q209). The probe-rank relation is
    |queries| x n_centroids rows; the config sweep multiplies only
    CANDIDATE rows (bounded by probes x corpus at p=K_max — the audit
    setting; production sweeps cap max probe). Cluster sizes aggregate
    map-side; the config spine broadcasts.

    Reference tie-in: extends the Athena-role analytics surface
    (reference README.md:128-132) with index-tuning introspection the
    reference delegates to manual Athena queries."""
    from ..operators.similarity import (
        _centroid_matrix,
        _pair_cosine,
        _vec_side,
        brute_force_topk,
        ivf_assign,
        ivf_probe_order,
    )

    emb = load_table_pk(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < _Q238_NQ)
    cents = _centroid_matrix(emb, "vec_id", "embedding", _Q238_NC)

    qall = _vec_side(
        ivf_probe_order(probes, cents, "vec_id", "embedding"),
        "vec_id", "embedding", "query_id", "q", "cluster", "prank",
    )
    cb = _vec_side(
        ivf_assign(emb, cents, "vec_id", "embedding", n_probe=1),
        "vec_id", "embedding", "neighbor_id", "c", "cluster",
    )
    cand = (
        qall.join(cb, "cluster")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id", "prank", "neighbor_id", F.round(_pair_cosine("q", "c"), 6).alias("sim")
        )
    )
    cfg = spark.createDataFrame([(p,) for p in _Q238_PROBES], "p INT")
    ranked = (
        F.broadcast(cfg)
        .join(cand, F.col("prank") <= F.col("p"))
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("p", "query_id").orderBy(
                    F.col("sim").desc(), "neighbor_id"
                )
            ),
        )
    )
    exact = brute_force_topk(probes, emb, k=_Q238_K).select(
        F.col("query_id").alias("__eq"), F.col("neighbor_id").alias("__en")
    )
    hits = (
        ranked.filter(F.col("rank") <= _Q238_K)
        .join(
            exact,
            (F.col("query_id") == F.col("__eq"))
            & (F.col("neighbor_id") == F.col("__en")),
        )
        .groupBy("p")
        .agg(F.count(F.lit(1)).cast("long").alias("n_hits"))
    )
    sz = cb.groupBy("cluster").agg(F.count(F.lit(1)).alias("n"))
    cost = (
        F.broadcast(cfg)
        .join(qall.select("cluster", "prank"), F.col("prank") <= F.col("p"))
        .join(sz, "cluster")
        .groupBy("p")
        .agg(F.sum("n").cast("long").alias("total"))
    )
    ncorp = cb.agg(F.count(F.lit(1)).cast("long").alias("nc"))
    denom = float(_Q238_NQ * _Q238_K)
    return (
        cfg.join(hits, "p", "left")
        .join(cost, "p")
        .crossJoin(F.broadcast(ncorp))
        .select(
            F.col("p").alias("n_probe"),
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("long").alias("n_hits"),
            round_half_up(
                F.coalesce(F.col("n_hits"), F.lit(0)) / F.lit(denom), 6
            ).alias("recall_at5"),
            round_half_up(F.col("total") / F.lit(float(_Q238_NQ)), 2).alias(
                "avg_candidates"
            ),
            round_half_up(
                F.col("total") / (F.lit(float(_Q238_NQ)) * F.col("nc")), 6
            ).alias("cost_fraction"),
        )
        .orderBy("n_probe")
    )


# ── q239: calibration curve + Brier score for the q173 quality model ────────


def _q239_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q173_quality_logreg"].sql
    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    return f"""
    WITH m AS ({model}),
    g AS ({gate}),
    j AS (
      SELECT CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT) AS score_u,
             CASE WHEN g.passes THEN 1 ELSE 0 END AS label
      FROM m JOIN g ON m.doc_id = g.doc_id
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR(score_u / 1000.0) AS INT), 9) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(score_u) AS BIGINT) AS sum_u,
             CAST(SUM(label) AS BIGINT) AS n_pass,
             CAST(SUM((score_u - label * 10000) * (score_u - label * 10000))
                  AS BIGINT) AS sq_u
      FROM j GROUP BY 1
    )
    SELECT bucket,
           n_docs,
           FLOOR(sum_u / (10000.0 * n_docs) * 1000000 + 0.5) / 1000000
             AS avg_pred,
           FLOOR(n_pass * 1.0 / n_docs * 1000000 + 0.5) / 1000000 AS obs_rate,
           FLOOR(ABS(sum_u / (10000.0 * n_docs) - n_pass * 1.0 / n_docs)
                 * 1000000 + 0.5) / 1000000 AS calib_gap,
           FLOOR(sq_u / (100000000.0 * n_docs) * 1000000 + 0.5) / 1000000
             AS brier
    FROM b ORDER BY bucket
    """


@register(
    "q239_calibration_brier",
    _q239_sql(),
    doc="Reliability diagram + per-bucket Brier score for the q173 "
    "logistic quality model against the q192 Gopher rule gate as the "
    "reference label: score-decile buckets with mean predicted "
    "probability, observed pass rate, their gap, and the bucket Brier "
    "— the calibration readout a team checks before trusting model "
    "scores as sampling weights (q226/q234 consume them as such). All "
    "statistics are exact integer sums of the 1e-4-quantized score; "
    "the squared error is integer arithmetic, so the Brier needs no "
    "float-accumulation contract.",
)
def q239_calibration_brier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both inputs are map-only scorers; the join is one shuffle
    on doc_id (or zero with co-partitioned inputs) and the rollup is a
    10-key partial aggregate — calibration costs one pass regardless of
    corpus size."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("score_u"),
    )
    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("label")
    )
    j = m.join(g, "doc_id")
    sq = (F.col("score_u") - F.col("label") * 10000) * (
        F.col("score_u") - F.col("label") * 10000
    )
    b = j.groupBy(
        F.least(
            F.floor(F.col("score_u") / F.lit(1000.0)).cast("int"), F.lit(9)
        ).alias("bucket")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("score_u").cast("long").alias("sum_u"),
        F.sum("label").cast("long").alias("n_pass"),
        F.sum(sq).cast("long").alias("sq_u"),
    )
    return b.select(
        "bucket",
        "n_docs",
        round_half_up(
            F.col("sum_u") / (F.lit(10000.0) * F.col("n_docs")), 6
        ).alias("avg_pred"),
        round_half_up(F.col("n_pass") * 1.0 / F.col("n_docs"), 6).alias(
            "obs_rate"
        ),
        round_half_up(
            F.abs(
                F.col("sum_u") / (F.lit(10000.0) * F.col("n_docs"))
                - F.col("n_pass") * 1.0 / F.col("n_docs")
            ),
            6,
        ).alias("calib_gap"),
        round_half_up(
            F.col("sq_u") / (F.lit(100000000.0) * F.col("n_docs")), 6
        ).alias("brier"),
    ).orderBy("bucket")


# ── q240: ROC AUC of the quality model via the score histogram ───────────────


def _q240_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q173_quality_logreg"].sql
    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    return f"""
    WITH m AS ({model}),
    g AS ({gate}),
    j AS (
      SELECT CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT) AS score_u,
             CASE WHEN g.passes THEN 1 ELSE 0 END AS label
      FROM m JOIN g ON m.doc_id = g.doc_id
    ),
    h AS (
      SELECT score_u, CAST(COUNT(*) AS BIGINT) AS cnt,
             CAST(SUM(label) AS BIGINT) AS pos
      FROM j GROUP BY score_u
    ),
    r AS (
      SELECT pos, cnt,
             COALESCE(SUM(cnt) OVER (ORDER BY score_u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
      FROM h
    ),
    s AS (
      SELECT CAST(SUM(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS s2,
             CAST(SUM(pos) AS BIGINT) AS np,
             CAST(SUM(cnt - pos) AS BIGINT) AS nn
      FROM r
    )
    SELECT np AS n_pos, nn AS n_neg,
           FLOOR((s2 / 2.0 - np * (np + 1) / 2.0) / (np * nn) * 1000000 + 0.5)
             / 1000000 AS auc,
           FLOOR((2.0 * ((s2 / 2.0 - np * (np + 1) / 2.0) / (np * nn)) - 1.0)
                 * 1000000 + 0.5) / 1000000 AS gini
    FROM s
    """


@register(
    "q240_roc_auc",
    _q240_sql(),
    doc="ROC AUC (Mann-Whitney rank-sum with midrank tie handling) of "
    "the q173 quality score against the q192 rule gate, plus the Gini "
    "coefficient 2*AUC-1 — the threshold-free discrimination metric "
    "that complements q239's calibration view. Computed from the SCORE "
    "HISTOGRAM, not per-row ranks: tie groups contribute "
    "pos*(2*cum_before+cnt+1) where doubling keeps midranks integer, "
    "so the whole statistic is exact integer arithmetic until two "
    "final pinned divisions.",
)
def q240_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the histogram GROUP BY is map-side combinable down to at
    most 10001 distinct quantized scores, and the running-rank window
    runs over THAT relation — never a corpus-wide global sort. This is
    the only AUC shape that survives 100 TB: per-row rank() would
    single-partition the corpus (q80's GK lesson applied to ranks)."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("score_u"),
    )
    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("label")
    )
    h = (
        m.join(g, "doc_id")
        .groupBy("score_u")
        .agg(
            F.count(F.lit(1)).cast("long").alias("cnt"),
            F.sum("label").cast("long").alias("pos"),
        )
    )
    w = Window.orderBy("score_u").rowsBetween(Window.unboundedPreceding, -1)
    r = h.select(
        "pos",
        "cnt",
        F.coalesce(F.sum("cnt").over(w), F.lit(0)).alias("cum_before"),
    )
    s = r.agg(
        F.sum(
            F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1)
        )
        .cast("long")
        .alias("s2"),
        F.sum("pos").cast("long").alias("np"),
        F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("nn"),
    )
    # try_divide: a single-class corpus (e.g. a 1-doc lake) has np or
    # nn zero -> AUC undefined (NULL, matching DuckDB)
    auc_raw = F.try_divide(
        F.col("s2") / 2.0 - F.col("np") * (F.col("np") + 1) / 2.0,
        F.col("np") * F.col("nn"),
    )
    return s.select(
        F.col("np").alias("n_pos"),
        F.col("nn").alias("n_neg"),
        round_half_up(auc_raw, 6).alias("auc"),
        round_half_up(2.0 * auc_raw - 1.0, 6).alias("gini"),
    )


# ── q241: Markov transition entropy of the event stream ─────────────────────


@register(
    "q241_transition_entropy",
    """
    WITH seq AS (
      SELECT event_type AS cur,
             LEAD(event_type) OVER (PARTITION BY user_id
               ORDER BY ts, event_id) AS nxt
      FROM events
    ),
    trans AS (
      SELECT cur, nxt, CAST(COUNT(*) AS BIGINT) AS c
      FROM seq WHERE nxt IS NOT NULL GROUP BY cur, nxt
    ),
    tot AS (
      SELECT cur, CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_next
      FROM trans GROUP BY cur
    ),
    term AS (
      SELECT t.cur, t.nxt, t.c, z.n, z.n_next,
             CAST(FLOOR((0 - (t.c * 1.0 / z.n) * LN(t.c * 1.0 / z.n)
                         / LN(2.0)) * 1000000 + 0.5) AS BIGINT) AS h_u,
             ROW_NUMBER() OVER (PARTITION BY t.cur
               ORDER BY t.c DESC, t.nxt) AS rk
      FROM trans t JOIN tot z ON z.cur = t.cur
    )
    SELECT cur AS event_type,
           MAX(n) AS n_transitions,
           MAX(n_next) AS n_next_states,
           MAX(CASE WHEN rk = 1 THEN nxt END) AS top_next,
           FLOOR(MAX(CASE WHEN rk = 1 THEN c ELSE 0 END) * 1.0 / MAX(n)
                 * 1000000 + 0.5) / 1000000 AS top_next_p,
           FLOOR(SUM(h_u) / 1000000.0 * 1000000 + 0.5) / 1000000
             AS entropy_bits,
           FLOOR(SUM(h_u) / 1000000.0 / (LN(MAX(n_next)) / LN(2.0))
                 * 1000000 + 0.5) / 1000000 AS norm_entropy
    FROM term
    GROUP BY cur ORDER BY cur
    """,
    doc="Markov next-event predictability: per current event type, the "
    "conditional entropy of the next event in each user's stream (the "
    "information-theoretic sibling of q123's PageRank over the same "
    "transition relation), with the modal transition and its "
    "probability. High entropy = random navigation; entropy near 0 = "
    "deterministic funnels (q81's steps emerge here as low-entropy "
    "states). Per-term plogp values are floor-quantized to integer "
    "micro-bits BEFORE the per-state sum, so the entropy is order-free "
    "exact integer math (the q213 idiom).",
)
def q241_transition_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id for the LEAD window (the
    sessionization partitioning, reusable across all sequence queries),
    then the transition relation is |event_types|^2 rows — every later
    step is driver-trivial. The window orders by (ts, event_id) so
    same-timestamp events are deterministic on both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("cur"),
        F.lead("event_type").over(w).alias("nxt"),
    ).filter(F.col("nxt").isNotNull())
    trans = seq.groupBy("cur", "nxt").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = trans.groupBy("cur").agg(
        F.sum("c").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("n_next"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    term = trans.join(F.broadcast(tot), "cur").select(
        "cur",
        "nxt",
        "c",
        "n",
        "n_next",
        F.floor((F.lit(0) - p * F.log(p) / F.log(F.lit(2.0))) * 1000000 + 0.5)
        .cast("long")
        .alias("h_u"),
        F.row_number()
        .over(Window.partitionBy("cur").orderBy(F.col("c").desc(), "nxt"))
        .alias("rk"),
    )
    return (
        term.groupBy(F.col("cur").alias("event_type"))
        .agg(
            F.max("n").alias("n_transitions"),
            F.max("n_next").alias("n_next_states"),
            F.max(F.when(F.col("rk") == 1, F.col("nxt"))).alias("top_next"),
            round_half_up(
                F.max(F.when(F.col("rk") == 1, F.col("c")).otherwise(0))
                * 1.0
                / F.max("n"),
                6,
            ).alias("top_next_p"),
            round_half_up(F.sum("h_u") / 1000000.0, 6).alias("entropy_bits"),
            # try_divide: a state with ONE observed successor (e.g. a
            # constant event log) has log2(1) = 0 -> normalized entropy
            # undefined (NULL, matching DuckDB)
            round_half_up(
                F.try_divide(
                    F.sum("h_u") / 1000000.0,
                    F.log(F.max("n_next").cast("double")) / F.log(F.lit(2.0)),
                ),
                6,
            ).alias("norm_entropy"),
        )
        .orderBy("event_type")
    )


# ── q242: language-metadata confusion matrix (stored lang vs q27) ───────────


def _q242_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    pred = _REGISTRY["q27_language_id"].sql
    return f"""
    WITH p AS ({pred}),
    j AS (
      SELECT d.lang, p.lang_pred
      FROM documents d JOIN p ON p.doc_id = d.doc_id
    ),
    tot AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_lang FROM j GROUP BY lang)
    SELECT j.lang, j.lang_pred,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(COUNT(*) * 1.0 / MAX(t.n_lang) * 1000000 + 0.5) / 1000000
             AS frac_of_lang,
           j.lang = j.lang_pred AS is_match
    FROM j JOIN tot t ON t.lang = j.lang
    GROUP BY j.lang, j.lang_pred
    ORDER BY j.lang, j.lang_pred
    """


@register(
    "q242_lang_confusion",
    _q242_sql(),
    doc="Language-metadata audit: confusion matrix between the stored "
    "lang column and the q27 stopword-vote predictor, with each cell's "
    "share of its stored-language row — the readout that catches "
    "mislabeled corpus slices before a lang-stratified mixture (q193/"
    "q226) trusts the metadata. On this corpus it correctly exposes "
    "that the synthetic text is English-ish regardless of the lang "
    "tag — exactly the disagreement signal the audit exists to raise.",
)
def q242_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the predictor is map-only; one shuffle joins it to the
    metadata (co-partitioned by doc_id at write time → zero) and the
    matrix aggregate is |langs|^2 cells, map-side combinable."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    p = _REGISTRY["q27_language_id"].fn(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    j = d.join(p, "doc_id").select("lang", "lang_pred")
    tot = j.groupBy("lang").agg(F.count(F.lit(1)).cast("long").alias("n_lang"))
    return (
        j.join(F.broadcast(tot), "lang")
        .groupBy("lang", "lang_pred")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            round_half_up(F.count(F.lit(1)) * 1.0 / F.max("n_lang"), 6).alias(
                "frac_of_lang"
            ),
        )
        .select(
            "lang",
            "lang_pred",
            "n_docs",
            "frac_of_lang",
            (F.col("lang") == F.col("lang_pred")).alias("is_match"),
        )
        .orderBy("lang", "lang_pred")
    )


# ── q243: golden record per near-dup cluster (survivorship rules) ────────────


def _q243_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    clusters = _REGISTRY["q68_dup_clusters"].sql
    return f"""
    WITH cl AS ({clusters}),
    m AS (
      SELECT c.cluster_id, d.doc_id, d.source, d.lang, d.n_chars
      FROM cl c JOIN documents d ON d.doc_id = c.doc_id
    ),
    canon AS (
      SELECT cluster_id, doc_id AS canonical_doc, source AS canonical_source
      FROM (SELECT cluster_id, doc_id, source,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY n_chars DESC, doc_id) AS rn
            FROM m) t WHERE rn = 1
    ),
    langv AS (
      SELECT cluster_id, lang AS majority_lang
      FROM (SELECT cluster_id, lang,
                   ROW_NUMBER() OVER (PARTITION BY cluster_id
                     ORDER BY COUNT(*) DESC, lang) AS rn
            FROM m GROUP BY cluster_id, lang) t WHERE rn = 1
    ),
    agg AS (
      SELECT cluster_id,
             CAST(COUNT(*) AS BIGINT) AS n_members,
             CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM m GROUP BY cluster_id
    )
    SELECT a.cluster_id, a.n_members, a.n_sources, a.total_chars,
           c.canonical_doc, c.canonical_source, l.majority_lang
    FROM agg a
    JOIN canon c ON c.cluster_id = a.cluster_id
    JOIN langv l ON l.cluster_id = a.cluster_id
    ORDER BY a.cluster_id
    """


def _golden_record(cl: DataFrame, d: DataFrame) -> DataFrame:
    """Shared aggregation for q243 and its from-index twin: survivorship
    rules over a (doc_id, cluster_id) label relation joined to document
    attributes — canonical pick (longest text wins), majority language,
    per-cluster rollups. All windows partition by cluster_id, so work is
    bounded by the dup-member relation, never the corpus."""
    m = cl.join(d, "doc_id")
    canon = (
        m.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col("n_chars").desc(), "doc_id"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "cluster_id",
            F.col("doc_id").alias("canonical_doc"),
            F.col("source").alias("canonical_source"),
        )
    )
    langv = (
        m.groupBy("cluster_id", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("cluster_id").orderBy(
                    F.col("c").desc(), "lang"
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .select("cluster_id", F.col("lang").alias("majority_lang"))
    )
    agg = m.groupBy("cluster_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.countDistinct("source").cast("long").alias("n_sources"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    return (
        agg.join(canon, "cluster_id")
        .join(langv, "cluster_id")
        .select(
            "cluster_id",
            "n_members",
            "n_sources",
            "total_chars",
            "canonical_doc",
            "canonical_source",
            "majority_lang",
        )
        .orderBy("cluster_id")
    )


@register(
    "q243_golden_record",
    _q243_sql(),
    doc="Golden-record survivorship over the q68 near-duplicate "
    "clusters: per cluster the canonical document (longest text, then "
    "smallest id — q177's keep-best rule applied at attribute level), "
    "the majority-vote language (ties to the alphabetically first), "
    "distinct-source spread, and total footprint — the entity-"
    "resolution step after connected components that picks WHICH copy "
    "a curated corpus keeps and reconciles its metadata.",
)
def q243_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: clusters come from q68 (banded LSH + per-round equi-join
    CC — never all-pairs); this adds one attribute join on doc_id and
    per-cluster windows over member lists (cluster-size-bounded, and
    dup clusters are small by construction once exact dedup ran).
    The from-index twin (pipelines/audit_index.py) reads the
    MATERIALIZED cluster relation instead of recomputing the LSH."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    cl = _REGISTRY["q68_dup_clusters"].fn(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "lang", "n_chars"
    )
    return _golden_record(cl, d)


# ── q244: tokenizer fertility rollup per language slice ─────────────────────


def _q244_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    stats = _REGISTRY["q26_text_stats"].sql
    return f"""
    WITH s AS ({stats}),
    j AS (
      SELECT d.lang, s.n_tokens, s.n_bpe_tokens, d.n_chars
      FROM s JOIN documents d ON d.doc_id = s.doc_id
      WHERE s.n_tokens > 0
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_words,
           CAST(SUM(n_bpe_tokens) AS BIGINT) AS total_bpe_tokens,
           FLOOR(SUM(n_bpe_tokens) * 1.0 / SUM(n_tokens) * 1000000 + 0.5)
             / 1000000 AS fertility,
           FLOOR(SUM(n_chars) * 1.0 / SUM(n_bpe_tokens) * 1000000 + 0.5)
             / 1000000 AS chars_per_token
    FROM j GROUP BY lang ORDER BY lang
    """


@register(
    "q244_fertility_rollup",
    _q244_sql(),
    doc="Tokenizer fertility per language slice: BPE-ish tokens per "
    "whitespace word and characters per token, aggregated from q26's "
    "per-document counts — the budget table that converts a corpus's "
    "character footprint into training-token counts per language "
    "(fertility differences across languages are a standard cost "
    "driver in multilingual training). Pure integer sums; two pinned "
    "final divisions.",
)
def q244_fertility_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: q26 is map-only column math; the rollup is a |langs|-key
    partial aggregate. One doc_id join (zero with co-partitioning)."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    s = _REGISTRY["q26_text_stats"].fn(spark, sf_dir).select(
        "doc_id", "n_tokens", "n_bpe_tokens"
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")
    j = s.join(d, "doc_id").filter(F.col("n_tokens") > 0)
    return (
        j.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_words"),
            F.sum("n_bpe_tokens").cast("long").alias("total_bpe_tokens"),
            round_half_up(
                F.sum("n_bpe_tokens") * 1.0 / F.sum("n_tokens"), 6
            ).alias("fertility"),
            round_half_up(
                F.sum("n_chars") * 1.0 / F.sum("n_bpe_tokens"), 6
            ).alias("chars_per_token"),
        )
        .orderBy("lang")
    )


# ── q245: chi-square independence of source × quality gate ───────────────────


def _q245_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    return f"""
    WITH g AS ({gate}),
    j AS (
      SELECT d.source, CASE WHEN g.passes THEN 1 ELSE 0 END AS pass
      FROM g JOIN documents d ON d.doc_id = g.doc_id
    ),
    o AS (SELECT source, pass, CAST(COUNT(*) AS BIGINT) AS o FROM j GROUP BY 1, 2),
    rs AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS r FROM j GROUP BY 1),
    cs AS (SELECT pass, CAST(COUNT(*) AS BIGINT) AS c FROM j GROUP BY 1),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM j),
    grid AS (
      SELECT rs.source, cs.pass, rs.r, cs.c, n.n,
             COALESCE(o.o, 0) AS o,
             rs.r * cs.c * 1.0 / n.n AS e
      FROM rs CROSS JOIN cs CROSS JOIN n
      LEFT JOIN o ON o.source = rs.source AND o.pass = cs.pass
    ),
    terms AS (
      SELECT n, r, c,
             CAST(FLOOR((o * 1.0 - e) * (o * 1.0 - e) / e * 1000000 + 0.5)
                  AS BIGINT) AS t_u
      FROM grid
    )
    SELECT MAX(n) AS n_docs,
           CAST(((SELECT COUNT(*) FROM rs) - 1)
                * ((SELECT COUNT(*) FROM cs) - 1) AS BIGINT) AS dof,
           FLOOR(SUM(t_u) / 1000000.0 * 1000000 + 0.5) / 1000000 AS chi2,
           FLOOR(SQRT(SUM(t_u) / 1000000.0 / MAX(n)) * 1000000 + 0.5) / 1000000
             AS cramers_v
    FROM terms
    """


@register(
    "q245_source_quality_chi2",
    _q245_sql(),
    doc="Chi-square test of independence between source and the q192 "
    "quality gate (full source x pass/fail grid with expected counts, "
    "zero cells included), plus Cramer's V effect size — the data-QA "
    "check that a quality filter is not silently gutting one corpus "
    "slice. Per-cell (O-E)^2/E terms are floor-quantized to integer "
    "micro-units before the order-free sum; sqrt over the quantized "
    "value keeps IEEE parity (the established sqrt-over-pow rule).",
)
def q245_source_quality_chi2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one pass builds the observed table (|sources| x 2 cells,
    map-side combinable); margins and the grid are broadcast scalars.
    The statistic never touches row-level data after the first
    aggregate."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("pass")
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    j = d.join(g, "doc_id").select("source", "pass")
    o = j.groupBy("source", "pass").agg(F.count(F.lit(1)).cast("long").alias("o"))
    rs = j.groupBy("source").agg(F.count(F.lit(1)).cast("long").alias("r"))
    cs = j.groupBy("pass").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = j.agg(F.count(F.lit(1)).cast("long").alias("n"))
    grid = (
        rs.crossJoin(F.broadcast(cs))
        .crossJoin(F.broadcast(n))
        .join(o, ["source", "pass"], "left")
        .select(
            "source",
            "pass",
            "r",
            "c",
            "n",
            F.coalesce(F.col("o"), F.lit(0)).alias("o"),
            (F.col("r") * F.col("c") * 1.0 / F.col("n")).alias("e"),
        )
    )
    terms = grid.select(
        "n",
        F.floor(
            (F.col("o") * 1.0 - F.col("e"))
            * (F.col("o") * 1.0 - F.col("e"))
            / F.col("e")
            * 1000000
            + 0.5
        )
        .cast("long")
        .alias("t_u"),
    )
    n_rs = rs.agg(F.count(F.lit(1)).alias("nr"))
    n_cs = cs.agg(F.count(F.lit(1)).alias("nc"))
    return (
        terms.agg(
            F.max("n").alias("n_docs"),
            F.sum("t_u").alias("su"),
        )
        .crossJoin(F.broadcast(n_rs))
        .crossJoin(F.broadcast(n_cs))
        .select(
            "n_docs",
            ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
            round_half_up(F.col("su") / 1000000.0, 6).alias("chi2"),
            round_half_up(
                F.sqrt(F.col("su") / 1000000.0 / F.col("n_docs")), 6
            ).alias("cramers_v"),
        )
    )


# ── q246: KMV sketch merge invariance (the incremental-ingest contract) ─────

_Q246_SKETCH_SQL = r"""
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM (
          SELECT source, h FROM (
            SELECT source, h,
                   ROW_NUMBER() OVER (PARTITION BY source, h % 64
                                      ORDER BY h) AS r1
            FROM (
              SELECT DISTINCT source,
                     CAST(('0x' || substr(md5('kmv|' || s), 1, 15)) AS BIGINT) AS h
              FROM (
                SELECT source, unnest(
                  CASE WHEN len(toks) >= 5
                       THEN list_transform(range(1, len(toks)-3),
                                           i -> array_to_string(toks[i:i+4], ' '))
                       ELSE []::VARCHAR[] END) AS s
                FROM (SELECT source, string_split_regex(trim(text), '\s+') AS toks
                      FROM documents WHERE {pred})
              )
            )
          ) WHERE r1 <= 256
        )
      ) WHERE rk <= 256
"""


def _q246_sql() -> str:
    full = _Q246_SKETCH_SQL.replace("{pred}", "1=1")
    a = _Q246_SKETCH_SQL.replace("{pred}", "doc_id % 2 = 0")
    b = _Q246_SKETCH_SQL.replace("{pred}", "doc_id % 2 = 1")
    return f"""
    WITH skf AS ({full}),
    ska AS ({a}),
    skb AS ({b}),
    merged AS (
      SELECT source, h FROM (
        SELECT source, h,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY h) AS rk
        FROM (SELECT source, h FROM ska UNION SELECT source, h FROM skb)
      ) WHERE rk <= 256
    ),
    sf2 AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k_full,
             CAST(MAX(h) AS BIGINT) AS uk_full,
             CAST(SUM(h % 1099511627776) AS BIGINT) AS sum_full
      FROM skf GROUP BY source
    ),
    sm AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS k_merged,
             CAST(MAX(h) AS BIGINT) AS uk_merged,
             CAST(SUM(h % 1099511627776) AS BIGINT) AS sum_merged
      FROM merged GROUP BY source
    )
    SELECT f.source, f.k_full, f.uk_full, m.uk_merged,
           f.sum_full = m.sum_merged AND f.uk_full = m.uk_merged
             AND f.k_full = m.k_merged AS sketch_equal
    FROM sf2 f JOIN sm m ON m.source = f.source
    ORDER BY f.source
    """


@register(
    "q246_kmv_merge_invariance",
    _q246_sql(),
    doc="Mergeability proof for the q237 KMV sketches, certified as a "
    "query: per source, the sketch built over the FULL corpus must "
    "equal the k-minimum merge of sketches built over two disjoint "
    "halves (even/odd doc ids) — the algebraic property that lets "
    "ingest increments maintain overlap sketches without re-reading "
    "the corpus (q191's incremental-dedup contract, applied to set "
    "sketches). Equality is checked on count, k-th minimum, AND the "
    "exact integer hash sum, so a single divergent member flips the "
    "row.",
)
def q246_kmv_merge_invariance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each half-sketch is the q237 pipeline (scan + one 8-byte
    distinct + salted two-phase rank); the merge ranks 2k rows per
    source. In production the halves are ingest increments and only
    the NEW increment is scanned — this query exists to certify that
    shortcut's correctness, not to run three full builds."""
    from ..operators.dedup import word_shingles

    docs = load_table(spark, sf_dir, "documents")

    def sketch(pred):
        sh = docs.filter(pred).select(
            "source", F.explode(word_shingles("text", 5)).alias("s")
        )
        h = F.conv(
            F.substring(F.md5(F.concat(F.lit("kmv|"), F.col("s"))), 1, 15),
            16,
            10,
        ).cast("long")
        hs = sh.select("source", h.alias("h")).distinct()
        w1 = Window.partitionBy("source", F.col("h") % 64).orderBy("h")
        pre = (
            hs.withColumn("r1", F.row_number().over(w1))
            .filter(F.col("r1") <= 256)
            .drop("r1")
        )
        w2 = Window.partitionBy("source").orderBy("h")
        return (
            pre.withColumn("rk", F.row_number().over(w2))
            .filter(F.col("rk") <= 256)
            .drop("rk")
        )

    skf = sketch(F.lit(True))
    ska = sketch(F.col("doc_id") % 2 == 0)
    skb = sketch(F.col("doc_id") % 2 == 1)
    merged = (
        ska.unionByName(skb)
        .distinct()
        .withColumn(
            "rk",
            F.row_number().over(Window.partitionBy("source").orderBy("h")),
        )
        .filter(F.col("rk") <= 256)
        .drop("rk")
    )
    sf2 = skf.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("k_full"),
        F.max("h").cast("long").alias("uk_full"),
        F.sum(F.col("h") % F.lit(1099511627776)).cast("long").alias("sum_full"),
    )
    sm = merged.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("k_merged"),
        F.max("h").cast("long").alias("uk_merged"),
        F.sum(F.col("h") % F.lit(1099511627776)).cast("long").alias("sum_merged"),
    )
    return (
        sf2.join(sm, "source")
        .select(
            "source",
            "k_full",
            "uk_full",
            "uk_merged",
            (
                (F.col("sum_full") == F.col("sum_merged"))
                & (F.col("uk_full") == F.col("uk_merged"))
                & (F.col("k_full") == F.col("k_merged"))
            ).alias("sketch_equal"),
        )
        .orderBy("source")
    )


# ── q247: distributed bootstrap CI (seeded Poisson resample weights) ─────────

_Q247_B = 64  # bootstrap resamples
# Poisson(1) CDF ladder, full-precision repr so both engines compare
# against bit-identical double literals (the MMR float-literal rule)
_Q247_CDF = [
    "0.36787944117144233",
    "0.7357588823428847",
    "0.9196986029286058",
    "0.9810118431238463",
    "0.9963401531726563",
    "0.9994058151824183",
    "0.999916758850712",
    "0.9999897508033253",
]


def _q247_sql() -> str:
    ladder = " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(_Q247_CDF)
    )
    return f"""
    WITH spine AS (SELECT unnest(range({_Q247_B})) AS b),
    u AS (
      SELECT s.b, d.n_chars,
             (CAST(('0x' || substr(md5('bs|' || CAST(s.b AS VARCHAR) || '|'
                || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
               / 1152921504606846976.0 AS u
      FROM documents d CROSS JOIN spine s
    ),
    w AS (
      SELECT b, n_chars, CASE {ladder} ELSE 8 END AS w FROM u
    ),
    means AS (
      SELECT b, CAST(SUM(w * n_chars) AS BIGINT) AS wx,
             CAST(SUM(w) AS BIGINT) AS wn
      FROM w GROUP BY b
    ),
    ranked AS (
      SELECT wx * 1.0 / wn AS m,
             ROW_NUMBER() OVER (ORDER BY wx * 1.0 / wn, b) AS rn
      FROM means
    ),
    full_mean AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(n_chars) AS BIGINT) AS sx
      FROM documents
    )
    SELECT f.n AS n_rows,
           CAST({_Q247_B} AS BIGINT) AS n_resamples,
           FLOOR(f.sx * 1.0 / f.n * 1000000 + 0.5) / 1000000 AS mean_full,
           FLOOR(MAX(CASE WHEN rn = 2 THEN m END) * 1000000 + 0.5) / 1000000
             AS ci_lo,
           FLOOR(MAX(CASE WHEN rn = {_Q247_B - 1} THEN m END) * 1000000 + 0.5)
             / 1000000 AS ci_hi,
           FLOOR((MAX(CASE WHEN rn = {_Q247_B - 1} THEN m END)
                  - MAX(CASE WHEN rn = 2 THEN m END)) * 1000000 + 0.5)
             / 1000000 AS ci_width
    FROM ranked CROSS JOIN full_mean f
    GROUP BY f.n, f.sx
    """


@register(
    "q247_bootstrap_ci",
    _q247_sql(),
    doc="Distributed bootstrap: a ~95% CI for the corpus mean document "
    "length from B=64 Poisson(1)-weighted resamples (the standard "
    "streaming/distributed bootstrap approximation of multinomial "
    "resampling), weights minted per (doc, replicate) from the seeded "
    "md5 uniform through a full-precision Poisson CDF ladder — no RNG "
    "state, fully replayable. Each resample mean is an exact integer "
    "ratio (integer weights x integer lengths); the CI takes order "
    "statistics 2 and 63 of the 64 means.",
)
def q247_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the replicate spine multiplies MAP work by B but the
    shuffle carries only B groups of two integer partial sums —
    bootstrap at 100 TB costs B map passes fused into one scan (the
    crossJoin is a broadcast of 64 ints), not B shuffles. For very
    large B or per-group CIs, the Bag-of-Little-Bootstraps split
    (resample within hash-partitions, then average) bounds memory the
    same way; B=64 needs no such refinement."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars")
    spine = spark.range(_Q247_B).select(F.col("id").cast("int").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("bs|"),
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(1152921504606846976.0)
    w = F.lit(8)
    for k in range(len(_Q247_CDF) - 1, -1, -1):
        w = F.when(F.col("u") < F.lit(float(_Q247_CDF[k])), F.lit(k)).otherwise(w)
    means = (
        docs.crossJoin(F.broadcast(spine))
        .select("b", "n_chars", u.alias("u"))
        .select("b", "n_chars", w.alias("w"))
        .groupBy("b")
        .agg(
            F.sum(F.col("w") * F.col("n_chars")).cast("long").alias("wx"),
            F.sum("w").cast("long").alias("wn"),
        )
    )
    # try_divide: on a tiny lake a replicate can draw ALL-zero Poisson
    # weights (wn = 0) -> that resample mean is undefined (NULL, like
    # DuckDB); asc_nulls_last mirrors DuckDB's default NULLS LAST so
    # both engines rank the defined means identically
    m = F.try_divide(F.col("wx") * 1.0, F.col("wn"))
    ranked = means.select(
        m.alias("m"),
        F.row_number()
        .over(Window.orderBy(m.asc_nulls_last(), F.col("b")))
        .alias("rn"),
    )
    full = docs.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("n_chars").cast("long").alias("sx"),
    )
    lo = F.max(F.when(F.col("rn") == 2, F.col("m")))
    hi = F.max(F.when(F.col("rn") == _Q247_B - 1, F.col("m")))
    return (
        ranked.crossJoin(F.broadcast(full))
        .groupBy("n", "sx")
        .agg(
            round_half_up(F.max(F.col("sx") * 1.0 / F.col("n")), 6).alias(
                "mean_full"
            ),
            round_half_up(lo, 6).alias("ci_lo"),
            round_half_up(hi, 6).alias("ci_hi"),
            round_half_up(hi - lo, 6).alias("ci_width"),
        )
        .select(
            F.col("n").alias("n_rows"),
            F.lit(_Q247_B).cast("long").alias("n_resamples"),
            "mean_full",
            "ci_lo",
            "ci_hi",
            "ci_width",
        )
    )


# ── q248: jackknife source influence (leave-one-source-out mean shift) ──────


@register(
    "q248_jackknife_influence",
    """
    WITH per AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ns,
             CAST(SUM(n_chars) AS BIGINT) AS ss
      FROM documents GROUP BY source
    ),
    tot AS (
      SELECT CAST(SUM(ns) AS BIGINT) AS n, CAST(SUM(ss) AS BIGINT) AS s
      FROM per
    )
    SELECT p.source, p.ns AS n_docs,
           FLOOR(p.ss * 1.0 / p.ns * 1000000 + 0.5) / 1000000 AS source_mean,
           FLOOR((t.s - p.ss) * 1.0 / (t.n - p.ns) * 1000000 + 0.5) / 1000000
             AS loo_mean,
           FLOOR((t.s * 1.0 / t.n - (t.s - p.ss) * 1.0 / (t.n - p.ns))
                 * 1000000 + 0.5) / 1000000 AS influence
    FROM per p CROSS JOIN tot t
    ORDER BY p.source
    """,
    doc="Jackknife source influence: for every source, the corpus mean "
    "document length WITHOUT that source and the shift its inclusion "
    "causes — the leave-one-slice-out attribution that tells a "
    "curation team which source is dragging a corpus statistic (the "
    "aggregate-level sibling of q245's independence test). Exact "
    "integer sums; all |sources| deletions come from ONE aggregation "
    "pass via the algebraic identity (S - s_i)/(N - n_i).",
)
def q248_jackknife_influence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one |sources|-key partial aggregate over the corpus, then
    arithmetic on a broadcast 1-row total — leave-one-out never rescans.
    The same identity extends to variance (sum of squares) and any
    other additive statistic."""
    docs = load_table(spark, sf_dir, "documents").select("source", "n_chars")
    per = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ns"),
        F.sum("n_chars").cast("long").alias("ss"),
    )
    tot = per.agg(
        F.sum("ns").cast("long").alias("n"), F.sum("ss").cast("long").alias("s")
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.col("ns").alias("n_docs"),
            round_half_up(F.col("ss") * 1.0 / F.col("ns"), 6).alias(
                "source_mean"
            ),
            # try_divide: a source holding the WHOLE corpus (e.g. a
            # 1-doc lake) leaves nothing to delete -> LOO undefined
            round_half_up(
                F.try_divide(
                    (F.col("s") - F.col("ss")) * 1.0, F.col("n") - F.col("ns")
                ),
                6,
            ).alias("loo_mean"),
            round_half_up(
                F.col("s") * 1.0 / F.col("n")
                - F.try_divide(
                    (F.col("s") - F.col("ss")) * 1.0, F.col("n") - F.col("ns")
                ),
                6,
            ).alias("influence"),
        )
        .orderBy("source")
    )


# ── q249: split-conformal prediction interval for a linear model ─────────────

_Q249_ALPHA = 0.1  # 90% target coverage


@register(
    "q249_conformal_interval",
    rf"""
    WITH feat AS (
      SELECT doc_id, doc_id % 4 AS fold,
             CAST(n_chars AS DOUBLE) AS y,
             CAST(len(string_split_regex(trim(text), '\s+')) AS DOUBLE) AS x
      FROM documents WHERE len(trim(text)) > 0
    ),
    fit AS (
      SELECT regr_slope(y, x) AS b, regr_intercept(y, x) AS a,
             CAST(COUNT(*) AS BIGINT) AS n_train
      FROM feat WHERE fold IN (0, 1)
    ),
    cal AS (
      SELECT ABS(f.y - (t.a + t.b * f.x)) AS resid, f.doc_id
      FROM feat f CROSS JOIN fit t WHERE f.fold = 2
    ),
    ncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
    qhat AS (
      SELECT resid AS q_hat FROM (
        SELECT resid,
               ROW_NUMBER() OVER (ORDER BY resid, doc_id) AS rn,
               (SELECT n_cal FROM ncal) AS n_cal
        FROM cal) t
      WHERE rn = CAST(CEIL((n_cal + 1) * {1 - _Q249_ALPHA}) AS BIGINT)
    ),
    test AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
             CAST(SUM(CASE WHEN ABS(f.y - (t.a + t.b * f.x)) <= q.q_hat
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_covered
      FROM feat f CROSS JOIN fit t CROSS JOIN qhat q
      WHERE f.fold = 3
    )
    SELECT t.n_train, n.n_cal, s.n_test,
           FLOOR(t.b * 1000000 + 0.5) / 1000000 AS slope,
           FLOOR(t.a * 1000000 + 0.5) / 1000000 AS intercept,
           FLOOR(q.q_hat * 1000000 + 0.5) / 1000000 AS q_hat,
           FLOOR(s.n_covered * 1.0 / s.n_test * 1000000 + 0.5) / 1000000
             AS coverage
    FROM fit t CROSS JOIN ncal n CROSS JOIN qhat q CROSS JOIN test s
    """,
    doc="Split-conformal prediction interval: fit chars ~ words by OLS "
    "on folds 0-1, take the ceil((n+1)*0.9)-th smallest absolute "
    "residual on the calibration fold as the conformal radius q_hat "
    "(an ORDER STATISTIC, not a percentile function — the exact "
    "finite-sample rule), and report empirical coverage on the held-"
    "out test fold. The distribution-free uncertainty wrapper any "
    "model-based curation score (q173) can wear; regr_* parity is the "
    "q110 class, and the residual ranking reuses identical doubles on "
    "both engines.",
)
def q249_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: OLS is one partial-aggregable pass (regr_slope fuses);
    the calibration rank is a single order statistic — at corpus scale
    you'd GK-sketch it (q80's knob) or histogram it (q240's shape);
    here n_cal is audit-sized so the exact window is the right call.
    Coverage is one more map pass with two broadcast scalars."""
    feat = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim(F.col("text"))) > 0)
        .select(
            "doc_id",
            (F.col("doc_id") % 4).alias("fold"),
            F.col("n_chars").cast("double").alias("y"),
            F.size(F.split(F.trim(F.col("text")), r"\s+"))
            .cast("double")
            .alias("x"),
        )
    )
    fit = feat.filter(F.col("fold").isin(0, 1)).agg(
        F.regr_slope("y", "x").alias("b"),
        F.regr_intercept("y", "x").alias("a"),
        F.count(F.lit(1)).cast("long").alias("n_train"),
    )
    cal = (
        feat.filter(F.col("fold") == 2)
        .crossJoin(F.broadcast(fit))
        .select(
            F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x"))).alias(
                "resid"
            ),
            "doc_id",
        )
    )
    ncal = cal.agg(F.count(F.lit(1)).cast("long").alias("n_cal"))
    k = F.ceil((F.col("n_cal") + 1) * F.lit(1 - _Q249_ALPHA)).cast("long")
    qhat = (
        cal.withColumn(
            "rn", F.row_number().over(Window.orderBy("resid", "doc_id"))
        )
        .crossJoin(F.broadcast(ncal))
        .filter(F.col("rn") == k)
        .select(F.col("resid").alias("q_hat"))
    )
    test = (
        feat.filter(F.col("fold") == 3)
        .crossJoin(F.broadcast(fit))
        .crossJoin(F.broadcast(qhat))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("y") - (F.col("a") + F.col("b") * F.col("x")))
                    <= F.col("q_hat"),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_covered"),
        )
    )
    return (
        fit.crossJoin(F.broadcast(ncal))
        .crossJoin(F.broadcast(qhat))
        .crossJoin(F.broadcast(test))
        .select(
            "n_train",
            "n_cal",
            "n_test",
            round_half_up(F.col("b"), 6).alias("slope"),
            round_half_up(F.col("a"), 6).alias("intercept"),
            round_half_up(F.col("q_hat"), 6).alias("q_hat"),
            round_half_up(F.col("n_covered") * 1.0 / F.col("n_test"), 6).alias(
                "coverage"
            ),
        )
    )


# ── q250: A/B experiment power / minimum-detectable-effect planner ───────────

# full-precision z constants (alpha=0.05 two-sided, power=0.80)
_Q250_ZA = "1.959963984540054"
_Q250_ZB = "0.8416212335729143"


def _q250_sql() -> str:
    return f"""
    WITH per_user AS (
      SELECT user_id, user_id % 2 AS grp,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                       > SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS converted
      FROM events GROUP BY user_id
    ),
    agg AS (
      SELECT CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(converted) AS BIGINT) AS c,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM per_user
    )
    SELECT n0 AS n_arm_a, n1 AS n_arm_b,
           FLOOR(c * 1.0 / n * 1000000 + 0.5) / 1000000 AS base_rate,
           FLOOR(({_Q250_ZA} + {_Q250_ZB})
                 * SQRT(2 * (c * 1.0 / n) * (1 - c * 1.0 / n)
                        / LEAST(n0, n1)) * 1000000 + 0.5) / 1000000
             AS mde_abs,
           FLOOR(({_Q250_ZA} + {_Q250_ZB})
                 * SQRT(2 * (c * 1.0 / n) * (1 - c * 1.0 / n)
                        / LEAST(n0, n1)) / (c * 1.0 / n) * 1000000 + 0.5)
             / 1000000 AS mde_rel,
           CAST(CEIL(2 * (c * 1.0 / n) * (1 - c * 1.0 / n)
                     * ({_Q250_ZA} + {_Q250_ZB}) * ({_Q250_ZA} + {_Q250_ZB})
                     / ((c * 0.05 / n) * (c * 0.05 / n))) AS BIGINT)
             AS n_per_arm_5pct_lift
    FROM agg
    """


@register(
    "q250_power_mde",
    _q250_sql(),
    doc="Experiment power planner over the q179 assignment: given the "
    "observed base conversion rate and per-arm sizes, the minimum "
    "detectable absolute and relative effect at alpha=0.05 / "
    "power=0.80, and the per-arm sample size a 5% relative lift would "
    "need — the query a team runs BEFORE q179's significance readout "
    "to know whether a null result means anything. Closed-form "
    "normal-approximation expressions over exact integer aggregates; "
    "z constants are full-precision repr literals.",
)
def q250_power_mde(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one partial-aggregable groupBy(user_id), then scalar math
    on a 1-row relation — identical cost profile to q179 whose
    assignment it shares."""
    za_zb = float(_Q250_ZA) + float(_Q250_ZB)
    ev = load_table(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id", (F.col("user_id") % 2).alias("grp")).agg(
        (
            F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
            > F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        )
        .cast("int")
        .alias("converted")
    )
    agg = per_user.agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n1"),
        F.sum("converted").cast("long").alias("c"),
        F.count(F.lit(1)).cast("long").alias("n"),
    )
    p = F.col("c") * 1.0 / F.col("n")
    # try_divide: a 1-user lake leaves one arm empty (least = 0) and a
    # zero-conversion lake makes p = 0 -> MDE / sizing undefined (NULL,
    # matching DuckDB's x/0 -> NULL through SQRT/CEIL)
    mde = F.lit(za_zb) * F.sqrt(
        F.try_divide(2 * p * (1 - p), F.least(F.col("n0"), F.col("n1")))
    )
    return agg.select(
        F.col("n0").alias("n_arm_a"),
        F.col("n1").alias("n_arm_b"),
        round_half_up(p, 6).alias("base_rate"),
        round_half_up(mde, 6).alias("mde_abs"),
        round_half_up(F.try_divide(mde, p), 6).alias("mde_rel"),
        F.ceil(
            F.try_divide(
                2 * p * (1 - p) * F.lit(za_zb) * F.lit(za_zb),
                (F.col("c") * 0.05 / F.col("n"))
                * (F.col("c") * 0.05 / F.col("n")),
            )
        )
        .cast("long")
        .alias("n_per_arm_5pct_lift"),
    )


# ── q251: Heaps'-law vocabulary growth fit ───────────────────────────────────


@register(
    "q251_heaps_law_fit",
    r"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    tok AS (
      SELECT doc_id, unnest(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS term
      FROM tk WHERE len(t) >= 3
    ),
    first_seen AS (
      SELECT term, CAST(MIN(doc_id) AS BIGINT) AS first_doc FROM tok GROUP BY term
    ),
    doc_words AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nw FROM tok GROUP BY doc_id
    ),
    bounds AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS lo, CAST(MAX(doc_id) AS BIGINT) AS hi
      FROM documents
    ),
    spine AS (SELECT unnest(range(1, 11)) AS i),
    cuts AS (
      SELECT s.i,
             CAST(b.lo + CAST(FLOOR((b.hi - b.lo) * s.i / 10.0) AS BIGINT)
                  AS BIGINT) AS cutoff
      FROM spine s CROSS JOIN bounds b
    ),
    pts AS (
      SELECT c.i, c.cutoff,
             (SELECT CAST(SUM(nw) AS BIGINT) FROM doc_words d
              WHERE d.doc_id <= c.cutoff) AS n_words,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM first_seen f
              WHERE f.first_doc <= c.cutoff) AS vocab
      FROM cuts c
    ),
    fit AS (
      SELECT regr_slope(LN(vocab), LN(n_words)) AS beta,
             regr_intercept(LN(vocab), LN(n_words)) AS lnk
      FROM pts WHERE n_words > 0 AND vocab > 0
    )
    SELECT p.i AS decile, p.cutoff, p.n_words, p.vocab,
           FLOOR(f.beta * 1000000 + 0.5) / 1000000 AS heaps_beta,
           FLOOR(EXP(f.lnk) * 1000000 + 0.5) / 1000000 AS heaps_k
    FROM pts p CROSS JOIN fit f
    WHERE p.cutoff IS NOT NULL
    ORDER BY p.i
    """,
    doc="Heaps'-law fit: cumulative word-TRIGRAM vocabulary at ten corpus-prefix "
    "checkpoints (documents ordered by id, cutoffs at value deciles of "
    "the id range — broadcast min/max scalars, no global sort), with "
    "the log-log OLS exponent beta and coefficient K. V(n)=K*n^beta "
    "predicts vocabulary (and so hash-vocab/embedding-table sizing) at "
    "100x the corpus; sublinear beta is also the sanity check that a "
    "corpus is natural-ish rather than ID-like (beta->1 means every "
    "token is new: random strings, keys, or serial numbers).",
)
def q251_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: first-occurrence is ONE min-agg over the token relation
    (map-side combinable); checkpoint counts are ten range predicates
    over the term-level relation (a broadcast 10-row spine joined on
    <=, never a per-prefix rescan of the corpus); the fit runs on 10
    points. No windows anywhere."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = (
        docs.select(
            "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
        )
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("term"),
        )
    )
    first_seen = tok.groupBy("term").agg(
        F.min("doc_id").cast("long").alias("first_doc")
    )
    doc_words = tok.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("nw")
    )
    bounds = load_table(spark, sf_dir, "documents").agg(
        F.min("doc_id").cast("long").alias("lo"),
        F.max("doc_id").cast("long").alias("hi"),
    )
    spine = spark.range(1, 11).select(F.col("id").cast("int").alias("i"))
    cuts = (
        F.broadcast(spine)
        .crossJoin(F.broadcast(bounds))
        .select(
            "i",
            (
                F.col("lo")
                + F.floor((F.col("hi") - F.col("lo")) * F.col("i") / 10.0).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("cutoff"),
        )
    )
    nw = (
        F.broadcast(cuts)
        .join(doc_words, F.col("doc_id") <= F.col("cutoff"))
        .groupBy("i", "cutoff")
        .agg(F.sum("nw").cast("long").alias("n_words"))
    )
    vc = (
        F.broadcast(cuts)
        .join(first_seen, F.col("first_doc") <= F.col("cutoff"))
        .groupBy("i", "cutoff")
        .agg(F.count(F.lit(1)).cast("long").alias("vocab"))
    )
    pts = nw.join(vc, ["i", "cutoff"])
    fit = pts.filter((F.col("n_words") > 0) & (F.col("vocab") > 0)).agg(
        F.regr_slope(F.log("vocab"), F.log("n_words")).alias("beta"),
        F.regr_intercept(F.log("vocab"), F.log("n_words")).alias("lnk"),
    )
    return (
        pts.crossJoin(F.broadcast(fit))
        .select(
            F.col("i").alias("decile"),
            "cutoff",
            "n_words",
            "vocab",
            round_half_up(F.col("beta"), 6).alias("heaps_beta"),
            round_half_up(F.exp(F.col("lnk")), 6).alias("heaps_k"),
        )
        .orderBy("decile")
    )


# ── q252: Zipf rank-frequency fit over the top terms ─────────────────────────

_Q252_TOP = 1000


@register(
    "q252_zipf_fit",
    rf"""
    WITH tk AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    tok AS (
      SELECT unnest(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS term
      FROM tk WHERE len(t) >= 3
    ),
    freq AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY term),
    top AS (
      SELECT term, f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rank
      FROM freq ORDER BY f DESC, term LIMIT {_Q252_TOP}
    ),
    fit AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
             CAST(SUM(f) AS BIGINT) AS total_occ,
             regr_slope(LN(f), LN(rank)) AS slope,
             regr_r2(LN(f), LN(rank)) AS r2
      FROM top
    )
    SELECT n_terms, total_occ,
           FLOOR(slope * 1000000 + 0.5) / 1000000 AS zipf_slope,
           FLOOR(r2 * 1000000 + 0.5) / 1000000 AS r2
    FROM fit
    """,
    doc="Zipf fit: log-log OLS slope of word-trigram frequency vs rank over the top-"
    f"{_Q252_TOP} terms (natural text sits near -1; spammy or "
    "template-heavy corpora flatten, ID-like corpora steepen toward "
    "vertical) plus the fit R^2 as the 'is it even a power law' "
    "check — with q251's Heaps exponent, the two-number corpus "
    "naturalness fingerprint.",
)
def q252_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: term frequencies are one map-side-combinable aggregate;
    the top-1000 cut is TakeOrdered (per-partition local top-k, no
    global sort) and the fit runs on those 1000 rows."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    freq = (
        docs.select(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
        )
        .filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("term")
        )
        .groupBy("term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    top = (
        freq.orderBy(F.col("f").desc(), "term")
        .limit(_Q252_TOP)
        .withColumn(
            "rank",
            F.row_number().over(Window.orderBy(F.col("f").desc(), "term")),
        )
    )
    return top.agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("f").cast("long").alias("total_occ"),
        round_half_up(F.regr_slope(F.log("f"), F.log("rank")), 6).alias(
            "zipf_slope"
        ),
        round_half_up(F.regr_r2(F.log("f"), F.log("rank")), 6).alias("r2"),
    )


# ── q253: best-snippet extraction for search results ─────────────────────────

_Q253_TERMS = ("table", "join", "query")
_Q253_WIN = 10  # snippet window, tokens


def _q253_sql() -> str:
    terms = ", ".join(f"'{t}'" for t in _Q253_TERMS)
    w = _Q253_WIN
    return rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    pos AS (
      SELECT doc_id, unnest(t) AS term,
             unnest(range(1, len(t) + 1)) AS p
      FROM tok
    ),
    hits AS (SELECT doc_id, term, p FROM pos WHERE term IN ({terms})),
    win AS (
      SELECT a.doc_id, a.p AS snippet_start,
             CAST(COUNT(*) AS BIGINT) AS n_matches,
             CAST(COUNT(DISTINCT b.term) AS BIGINT) AS n_terms
      FROM hits a JOIN hits b
        ON b.doc_id = a.doc_id AND b.p >= a.p AND b.p < a.p + {w}
      GROUP BY a.doc_id, a.p
    ),
    best AS (
      SELECT doc_id, snippet_start, n_matches, n_terms FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
          ORDER BY n_terms DESC, n_matches DESC, snippet_start) AS rn
        FROM win) x WHERE rn = 1
    )
    SELECT b.doc_id, b.snippet_start, b.n_terms, b.n_matches,
           array_to_string(t[b.snippet_start:b.snippet_start + {w - 1}], ' ')
             AS snippet
    FROM best b JOIN tok USING (doc_id)
    ORDER BY b.n_terms DESC, b.n_matches DESC, b.doc_id
    LIMIT 10
    """


@register(
    "q253_search_snippets",
    _q253_sql(),
    doc=f"Search-result snippet extraction: for the query terms "
    f"{_Q253_TERMS}, the densest {_Q253_WIN}-token window per document "
    "(most distinct query terms, then most total matches, then "
    "earliest — the keyword-in-context heuristic every search UI "
    "needs on top of q197's BM25 ranking), with the actual snippet "
    "text sliced from the token array; top-10 documents by snippet "
    "quality. Completes the retrieval story: q196 postings -> q197 "
    "scores -> q210 phrase match -> q253 display snippet.",
)
def q253_search_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair join runs on HIT positions only (query-term
    postings, a tiny fraction of the corpus), equi-keyed on doc_id with
    a bounded range predicate — never on all positions; the windows
    rank per doc over per-doc hit counts. Snippet text joins back to
    the token array by doc_id once, for the 10 winners only after the
    global TakeOrdered."""
    terms = list(_Q253_TERMS)
    w = _Q253_WIN
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t")
    )
    pos = tok.select(
        "doc_id", F.posexplode("t").alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("p"))
    hits = pos.filter(F.col("term").isin(terms))
    a = hits.select("doc_id", F.col("p").alias("ap"))
    b = hits.select(
        F.col("doc_id").alias("bdoc"), F.col("term").alias("bterm"),
        F.col("p").alias("bp"),
    )
    win = (
        a.join(
            b,
            (F.col("bdoc") == F.col("doc_id"))
            & (F.col("bp") >= F.col("ap"))
            & (F.col("bp") < F.col("ap") + w),
        )
        .groupBy("doc_id", F.col("ap").alias("snippet_start"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_matches"),
            F.countDistinct("bterm").cast("long").alias("n_terms"),
        )
    )
    best = (
        win.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy(
                    F.col("n_terms").desc(),
                    F.col("n_matches").desc(),
                    "snippet_start",
                )
            ),
        )
        .filter(F.col("rn") == 1)
        .drop("rn")
    )
    return (
        best.join(tok, "doc_id")
        .select(
            "doc_id",
            "snippet_start",
            "n_terms",
            "n_matches",
            F.concat_ws(
                " ", F.expr(f"slice(t, snippet_start, {w})")
            ).alias("snippet"),
        )
        .orderBy(F.col("n_terms").desc(), F.col("n_matches").desc(), "doc_id")
        .limit(10)
    )


# ── q254: top order-3 event paths (sequence mining) ──────────────────────────


@register(
    "q254_top_event_paths",
    """
    WITH seq AS (
      SELECT event_type AS e1,
             LEAD(event_type, 1) OVER w AS e2,
             LEAD(event_type, 2) OVER w AS e3,
             LEAD(event_type, 3) OVER w AS e4
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    paths AS (
      SELECT e1 || '>' || e2 || '>' || e3 AS path,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN e4 = 'purchase' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_then_purchase,
             CAST(SUM(CASE WHEN e4 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_with_next
      FROM seq WHERE e3 IS NOT NULL GROUP BY 1
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM paths)
    SELECT path, n,
           FLOOR(n * 1.0 / t.t * 1000000 + 0.5) / 1000000 AS share,
           FLOOR(n_then_purchase * 1.0 / NULLIF(n_with_next, 0) * 1000000 + 0.5)
             / 1000000 AS p_next_purchase
    FROM (SELECT * FROM paths ORDER BY n DESC, path LIMIT 15) p
    CROSS JOIN tot t
    ORDER BY n DESC, path
    """,
    doc="Sequence mining over user event streams: the 15 most frequent "
    "3-step paths (sliding trigrams of consecutive events per user), "
    "each with its corpus share and the probability the NEXT event is "
    "a purchase — the path-to-conversion readout that generalizes "
    "q81's fixed funnel to discovered funnels and q241's order-1 "
    "transitions to order 3.",
)
def q254_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id (shared with every sequence query),
    two extra LEADs in the SAME window pass, then a path-keyed partial
    aggregate whose cardinality is bounded by |event_types|^3, and a
    TakeOrdered top-15."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_id", "event_type"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        F.col("event_type").alias("e1"),
        F.lead("event_type", 1).over(w).alias("e2"),
        F.lead("event_type", 2).over(w).alias("e3"),
        F.lead("event_type", 3).over(w).alias("e4"),
    ).filter(F.col("e3").isNotNull())
    paths = seq.groupBy(
        F.concat_ws(">", "e1", "e2", "e3").alias("path")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(F.when(F.col("e4") == "purchase", 1).otherwise(0))
        .cast("long")
        .alias("n_then_purchase"),
        F.sum(F.when(F.col("e4").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_with_next"),
    )
    tot = paths.agg(F.sum("n").cast("long").alias("t"))
    top = paths.orderBy(F.col("n").desc(), "path").limit(15)
    return (
        top.crossJoin(F.broadcast(tot))
        .select(
            "path",
            "n",
            round_half_up(F.col("n") * 1.0 / F.col("t"), 6).alias("share"),
            round_half_up(
                F.col("n_then_purchase")
                * 1.0
                / F.nullif(F.col("n_with_next"), F.lit(0)),
                6,
            ).alias("p_next_purchase"),
        )
        .orderBy(F.col("n").desc(), "path")
    )


# ── q255: seeded-sampler uniformity audit (the engine's own RNG QA) ──────────

# full-precision repr literals: chi-square crit (dof=99, alpha=0.05)
_Q255_CHI2_CRIT = "123.22522145336181"


def _q255_sql() -> str:
    return f"""
    WITH u AS (
      SELECT (CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15))
                AS BIGINT) + 1) / 1152921504606846976.0 AS u
      FROM documents
    ),
    b AS (
      SELECT LEAST(CAST(FLOOR(u * 100) AS INT), 99) AS bin,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM u GROUP BY 1
    ),
    spine AS (SELECT unnest(range(100)) AS bin),
    grid AS (
      SELECT s.bin, COALESCE(b.o, 0) AS o
      FROM spine s LEFT JOIN b ON b.bin = s.bin
    ),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM grid),
    terms AS (
      SELECT g.bin, g.o, n.n,
             CAST(FLOOR((g.o * 1.0 - n.n / 100.0) * (g.o * 1.0 - n.n / 100.0)
                        / (n.n / 100.0) * 1000000 + 0.5) AS BIGINT) AS t_u,
             SUM(g.o) OVER (ORDER BY g.bin) AS cum
      FROM grid g CROSS JOIN n
      WHERE n.n > 0
    ),
    d AS (
      SELECT MAX(ABS(cum * 1.0 / n - (bin + 1) / 100.0)) AS dmax FROM terms
    )
    SELECT MAX(t.n) AS n_samples,
           FLOOR(SUM(t_u) / 1000000.0 * 1000000 + 0.5) / 1000000
             AS chi2_uniform,
           SUM(t_u) / 1000000.0 <= {_Q255_CHI2_CRIT} AS uniform_at_95,
           FLOOR(d.dmax * 1000000 + 0.5) / 1000000 AS d_max,
           d.dmax <= SQRT(LN(40.0) / (2.0 * MAX(t.n))) AS dkw_at_95
    FROM terms t CROSS JOIN d
    GROUP BY d.dmax
    """


@register(
    "q255_sampler_uniformity",
    _q255_sql(),
    doc="QA of the engine's own determinism primitive: the seeded "
    "md5-uniform that drives q112's reservoir, q226/q228's sampling "
    "and q247's bootstrap weights, tested for uniformity with a "
    "100-bin chi-square (vs the dof=99 95% critical value) AND a "
    "binned-ecdf Kolmogorov distance against the DKW 95% band — the "
    "audit that justifies every 'seeded md5-uniform' claim elsewhere "
    "in the registry. Bin counts are exact integers; both test "
    "statistics quantize before comparison only in the OUTPUT, the "
    "pass/fail flags compare the raw doubles both engines share.",
)
def q255_sampler_uniformity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map pass bins the corpus (100-key partial aggregate);
    everything after runs on a 100-row grid. The same query audits any
    seed by changing one literal — a seed SWEEP is a 10-row spine away."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("7|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(1152921504606846976.0)
    b = (
        docs.select(
            F.least(F.floor(u * 100).cast("int"), F.lit(99)).alias("bin")
        )
        .groupBy("bin")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    spine = spark.range(100).select(F.col("id").cast("int").alias("bin"))
    grid = F.broadcast(spine).join(b, "bin", "left").select(
        "bin", F.coalesce(F.col("o"), F.lit(0)).alias("o")
    )
    n = grid.agg(F.sum("o").cast("long").alias("n"))
    e = F.col("n") / 100.0
    terms = (
        grid.crossJoin(F.broadcast(n)).filter(F.col("n") > 0)
    ).select(
        "bin",
        "o",
        "n",
        F.floor(
            (F.col("o") * 1.0 - e) * (F.col("o") * 1.0 - e) / e * 1000000
            + 0.5
        )
        .cast("long")
        .alias("t_u"),
        F.sum("o")
        .over(Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cum"),
    )
    d = terms.agg(
        F.max(
            F.abs(F.col("cum") * 1.0 / F.col("n") - (F.col("bin") + 1) / 100.0)
        ).alias("dmax")
    )
    return (
        terms.crossJoin(F.broadcast(d))
        .groupBy("dmax")
        .agg(
            F.max("n").alias("n_samples"),
            round_half_up(F.sum("t_u") / 1000000.0, 6).alias("chi2_uniform"),
            (F.sum("t_u") / 1000000.0 <= F.lit(float(_Q255_CHI2_CRIT))).alias(
                "uniform_at_95"
            ),
            round_half_up(F.col("dmax"), 6).alias("d_max"),
            (
                F.col("dmax")
                <= F.sqrt(F.log(F.lit(40.0)) / (F.lit(2.0) * F.max("n")))
            ).alias("dkw_at_95"),
        )
        .select(
            "n_samples", "chi2_uniform", "uniform_at_95", "d_max", "dkw_at_95"
        )
    )


# ── q256: multimodal near-dup via 64-bit average hash (aHash) ────────────────

_Q256_BAND_CAP = 200  # hot-band guard (q24/q25 discipline)


def _q256_sql() -> str:
    return rf"""
    WITH tok AS MATERIALIZED (
      SELECT doc_id, length(text) AS n,
             list_transform(range(1, length(text) + 1),
                            i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))
               AS codes
      FROM documents WHERE length(text) >= 64
    ),
    tot AS MATERIALIZED (
      SELECT doc_id, n, codes, list_sum(codes) AS total FROM tok
    ),
    spine AS (SELECT unnest(range(64)) AS j),
    bit AS MATERIALIZED (
      SELECT doc_id, j,
             CASE WHEN ((n * (j + 1)) // 64) - ((n * j) // 64) > 0
                   AND list_sum(codes[((n * j) // 64) + 1 : (n * (j + 1)) // 64])
                       * n > total * (((n * (j + 1)) // 64) - ((n * j) // 64))
                  THEN 1 ELSE 0 END AS b
      FROM tot CROSS JOIN spine
    ),
    hashes AS MATERIALIZED (
      SELECT doc_id,
             CAST(SUM(CASE WHEN j < 32
                           THEN b * (CAST(1 AS BIGINT) << j) ELSE 0 END)
                  AS BIGINT) AS h1,
             CAST(SUM(CASE WHEN j >= 32
                           THEN b * (CAST(1 AS BIGINT) << (j - 32)) ELSE 0 END)
                  AS BIGINT) AS h2
      FROM bit GROUP BY doc_id
    ),
    band AS MATERIALIZED (
      SELECT doc_id, j // 8 AS bidx,
             CAST(SUM(b * (CAST(1 AS BIGINT) << (j % 8))) AS BIGINT) AS bval
      FROM bit GROUP BY doc_id, j // 8
    ),
    okb AS (
      SELECT bidx, bval FROM band GROUP BY bidx, bval
      HAVING COUNT(*) <= {_Q256_BAND_CAP}
    ),
    bandc AS (
      SELECT b.doc_id, b.bidx, b.bval
      FROM band b JOIN okb o ON o.bidx = b.bidx AND o.bval = b.bval
    ),
    cand AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared_bands
      FROM bandc a JOIN bandc b
        ON a.bidx = b.bidx AND a.bval = b.bval AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT c.doc_a, c.doc_b,
           CAST(bit_count(xor(ha.h1, hb.h1)) + bit_count(xor(ha.h2, hb.h2))
                AS BIGINT) AS hamming,
           c.n_shared_bands
    FROM cand c
    JOIN hashes ha ON ha.doc_id = c.doc_a
    JOIN hashes hb ON hb.doc_id = c.doc_b
    ORDER BY hamming, c.doc_a, c.doc_b
    LIMIT 20
    """


@register(
    "q256_media_ahash_near_dup",
    _q256_sql(),
    doc="Multimodal near-duplicate detection: 64-bit average hash "
    "(aHash) over the binary payload — the perceptual-hash family's "
    "simplest member, computed by the real Arrow-batched ahash64 "
    "operator — then 8x8-bit banded LSH candidates (q25's SimHash "
    "shape with a hot-band cap) and exact Hamming verification; top-20 "
    "closest pairs. The DuckDB oracle replays the hash from the text "
    "twin because the stand-in payload is its UTF-8 bytes; with Pillow "
    "installed the identical grid math runs on decoded luma. Extends "
    "the dedup story (exact -> shingle -> MinHash -> SimHash -> "
    "semantic) to the binary/media column family.",
)
def q256_media_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: hashing is one map pass (no shuffle, integer-only); the
    candidate join is banded and capped exactly like q24/q25 — never
    all-pairs; Hamming verification touches candidate pairs only, via
    two broadcast-joinable 16-byte-per-doc hash relations."""
    from ..operators.multimodal import ahash64, attach_binary_payload

    docs = load_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 64
    )
    hs = ahash64(attach_binary_payload(docs))
    band = hs.select(
        "doc_id", F.posexplode("bands").alias("bidx", "bval")
    ).select("doc_id", "bidx", F.col("bval").cast("long").alias("bval"))
    okb = (
        band.groupBy("bidx", "bval")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= _Q256_BAND_CAP)
        .drop("c")
    )
    bandc = band.join(okb, ["bidx", "bval"])
    a = bandc.select(F.col("doc_id").alias("doc_a"), "bidx", "bval")
    b = bandc.select(F.col("doc_id").alias("doc_b"), "bidx", "bval")
    cand = (
        a.join(b, ["bidx", "bval"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared_bands"))
    )
    ha = hs.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h1").alias("h1a"),
        F.col("h2").alias("h2a"),
    )
    hb = hs.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h1").alias("h1b"),
        F.col("h2").alias("h2b"),
    )
    return (
        cand.join(ha, "doc_a")
        .join(hb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.bit_count(F.col("h1a").bitwiseXOR(F.col("h1b")))
                + F.bit_count(F.col("h2a").bitwiseXOR(F.col("h2b")))
            )
            .cast("long")
            .alias("hamming"),
            "n_shared_bands",
        )
        .orderBy("hamming", "doc_a", "doc_b")
        .limit(20)
    )


# ── q257: reciprocal-rank fusion (the search CLI's hybrid, certified) ────────

_Q257_RRF_K = 60
_Q257_ANCHORS = 5


def _q257_sql() -> str:
    from .curation import _BM25_B, _BM25_K1, _BM25_TERMS
    from .llm_ops import _COS

    cos = _COS.format(a="ae.embedding", b="ce.embedding")
    return rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents
    ),
    dl AS (SELECT doc_id, len(toks) AS dl FROM tok),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs, AVG(dl) AS avgdl FROM dl
    ),
    tf AS (
      SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
      WHERE term IN {tuple(_BM25_TERMS)!r}
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    su AS (
      SELECT tf.doc_id,
             CAST(SUM(CAST(floor(ln((stats.n_docs - df.df + 0.5)
                   / (df.df + 0.5) + 1) * tf.tf * ({_BM25_K1} + 1)
                   / (tf.tf + {_BM25_K1} * (1 - {_BM25_B}
                      + {_BM25_B} * dl.dl / stats.avgdl)) * 1000000 + 0.5)
                 AS BIGINT)) AS BIGINT) AS su
      FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
      GROUP BY tf.doc_id
    ),
    lex AS (
      SELECT doc_id, su,
             CAST(ROW_NUMBER() OVER (ORDER BY su DESC, doc_id) AS INTEGER)
               AS bm25_rank
      FROM su
    ),
    anchors AS (
      SELECT e.vec_id, e.embedding FROM lex l
      JOIN embeddings e ON e.vec_id = l.doc_id
      WHERE l.bm25_rank <= {_Q257_ANCHORS}
    ),
    sem_u AS (
      SELECT l.doc_id,
             CAST(SUM(CAST(FLOOR({cos} * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS semu
      FROM lex l
      JOIN embeddings ce ON ce.vec_id = l.doc_id
      CROSS JOIN anchors ae
      WHERE ae.vec_id <> l.doc_id
      GROUP BY l.doc_id
    ),
    sem AS (
      SELECT doc_id, semu,
             CAST(ROW_NUMBER() OVER (ORDER BY semu DESC, doc_id) AS INTEGER)
               AS sem_rank
      FROM sem_u
    )
    SELECT l.doc_id,
           FLOOR(l.su / 1000000.0 * 1000000 + 0.5) / 1000000 AS bm25,
           l.bm25_rank, s.sem_rank,
           FLOOR((1.0 / ({_Q257_RRF_K} + l.bm25_rank)
                  + 1.0 / ({_Q257_RRF_K} + s.sem_rank)) * 1000000 + 0.5)
             / 1000000 AS rrf
    FROM lex l JOIN sem s ON s.doc_id = l.doc_id
    ORDER BY (1.0 / ({_Q257_RRF_K} + l.bm25_rank)
              + 1.0 / ({_Q257_RRF_K} + s.sem_rank)) DESC, l.doc_id
    LIMIT 10
    """


@register(
    "q257_rrf_hybrid_rank",
    _q257_sql(),
    doc="Reciprocal-rank fusion: the hybrid lexical+semantic ranking the "
    "`search` CLI performs, certified as a query. Lexical = multi-term "
    "BM25 (q197's formula, per-term scores integer-quantized before "
    "the per-doc sum so the 3-term addition is order-free); semantic = "
    "mean cosine to the top-5 BM25 docs' embeddings (pseudo-relevance "
    "feedback, per-anchor cosines quantized before summing); fused by "
    "RRF with k=60 — the standard no-tuning rank combiner. Top-10 by "
    "fused score.",
)
def q257_rrf_hybrid_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: BM25 shuffles only query-term postings (q197's shape);
    the anchor set is 5 rows and BROADCASTS into a 5x-multiplier
    map-side cosine pass over lexical candidates; both rank windows run
    over the candidate set (docs containing a query term), not the
    corpus."""
    from ..operators.similarity import _pair_cosine, _vec_side
    from .curation import _BM25_B, _BM25_K1, _BM25_TERMS

    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks")
    )
    dl = tok.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
    )
    tf = (
        tok.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(list(_BM25_TERMS)))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    score = (
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        )
        * F.col("tf")
        * (_BM25_K1 + 1)
        / (
            F.col("tf")
            + _BM25_K1
            * (1 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    su = (
        tf.join(F.broadcast(df), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .select(
            "doc_id",
            F.floor(score * 1000000 + 0.5).cast("long").alias("term_u"),
        )
        .groupBy("doc_id")
        .agg(F.sum("term_u").cast("long").alias("su"))
    )
    lex = su.withColumn(
        "bm25_rank",
        F.row_number()
        .over(Window.orderBy(F.col("su").desc(), "doc_id"))
        .cast("int"),
    )
    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    anchors = _vec_side(
        lex.filter(F.col("bm25_rank") <= _Q257_ANCHORS).join(
            emb, F.col("vec_id") == F.col("doc_id")
        ),
        "vec_id", "embedding", "avid", "a",
    )
    cand_emb = _vec_side(
        lex.select("doc_id").join(emb, F.col("vec_id") == F.col("doc_id")),
        "doc_id", "embedding", "doc_id", "c",
    )
    cosu = F.floor(_pair_cosine("a", "c") * 1000000 + 0.5).cast("long")
    sem = (
        cand_emb.crossJoin(F.broadcast(anchors))
        .filter(F.col("avid") != F.col("doc_id"))
        .groupBy("doc_id")
        .agg(F.sum(cosu).cast("long").alias("semu"))
        .withColumn(
            "sem_rank",
            F.row_number()
            .over(Window.orderBy(F.col("semu").desc(), "doc_id"))
            .cast("int"),
        )
    )
    rrf_raw = 1.0 / (_Q257_RRF_K + F.col("bm25_rank")) + 1.0 / (
        _Q257_RRF_K + F.col("sem_rank")
    )
    return (
        lex.join(sem.select("doc_id", "sem_rank"), "doc_id")
        .select(
            "doc_id",
            round_half_up(F.col("su") / 1000000.0, 6).alias("bm25"),
            "bm25_rank",
            "sem_rank",
            round_half_up(rrf_raw, 6).alias("rrf"),
            rrf_raw.alias("__o"),
        )
        .orderBy(F.col("__o").desc(), "doc_id")
        .drop("__o")
        .limit(10)
    )


# ── q258: contrastive negative sampling (dedup-aware, hash-prefiltered) ──────

_Q258_ANCHORS = 20
_Q258_K = 4
_Q258_PREF = "0.05"  # hash-range prefilter: keep ~5% of candidates


def _q258_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    pairs = _REGISTRY["q23_ngram_jaccard_dedup"].sql
    return f"""
    WITH nd AS ({pairs}),
    anch AS (SELECT doc_id AS anchor_id FROM documents
             WHERE doc_id < {_Q258_ANCHORS}),
    cand AS (
      SELECT a.anchor_id, d.doc_id AS neg_id,
             (CAST(('0x' || substr(md5('neg|' || CAST(a.anchor_id AS VARCHAR)
                || '|' || CAST(d.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
               / 1152921504606846976.0 AS u
      FROM anch a CROSS JOIN documents d
      WHERE d.doc_id <> a.anchor_id
    ),
    pre AS (SELECT * FROM cand WHERE u < {_Q258_PREF}),
    safe AS (
      SELECT p.* FROM pre p
      WHERE NOT EXISTS (
        SELECT 1 FROM nd
        WHERE (nd.doc_a = p.anchor_id AND nd.doc_b = p.neg_id)
           OR (nd.doc_b = p.anchor_id AND nd.doc_a = p.neg_id))
    )
    SELECT anchor_id, neg_id,
           CAST(rn AS INTEGER) AS neg_rank,
           FLOOR(u * 1000000 + 0.5) / 1000000 AS sample_key
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY anchor_id
            ORDER BY u, neg_id) AS rn FROM safe) t
    WHERE rn <= {_Q258_K}
    ORDER BY anchor_id, neg_rank
    """


@register(
    "q258_contrastive_negatives",
    _q258_sql(),
    doc=f"Contrastive-training negative sampling: for each of "
    f"{_Q258_ANCHORS} anchor documents, {_Q258_K} seeded-uniform "
    "negatives drawn from the corpus EXCLUDING the anchor's q23 "
    "near-duplicates (sampling a paraphrase as a 'negative' poisons "
    "a contrastive objective — the dedup relation doubles as the "
    "false-negative filter). Candidates pass a 5% hash-range "
    "prefilter BEFORE ranking, so the per-anchor sort touches ~N/20 "
    "rows — the same top-k-after-prefilter shape KMV uses.",
)
def q258_contrastive_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the anchor spine broadcasts; candidate minting is map-side
    (md5 column math) and the prefilter drops 95% of rows before the
    only shuffle (per-anchor rank). The near-dup exclusion is a
    left-anti join against the ALREADY-COMPUTED dedup pair relation —
    at production scale that relation is the stored q191 index, not a
    recompute."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    anch = docs.filter(F.col("doc_id") < _Q258_ANCHORS).select(
        F.col("doc_id").alias("anchor_id")
    )
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("neg|"),
                        F.col("anchor_id").cast("string"),
                        F.lit("|"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(1152921504606846976.0)
    cand = (
        F.broadcast(anch)
        .crossJoin(docs)
        .filter(F.col("doc_id") != F.col("anchor_id"))
        .select("anchor_id", F.col("doc_id").alias("neg_id"), u.alias("u"))
    )
    pre = cand.filter(F.col("u") < float(_Q258_PREF))
    nd = _REGISTRY["q23_ngram_jaccard_dedup"].fn(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    excl = nd.unionByName(
        nd.select(F.col("doc_b").alias("doc_a"), F.col("doc_a").alias("doc_b"))
    ).select(F.col("doc_a").alias("anchor_id"), F.col("doc_b").alias("neg_id"))
    safe = pre.join(excl, ["anchor_id", "neg_id"], "left_anti")
    return (
        safe.withColumn(
            "rn",
            F.row_number().over(
                Window.partitionBy("anchor_id").orderBy("u", "neg_id")
            ),
        )
        .filter(F.col("rn") <= _Q258_K)
        .select(
            "anchor_id",
            "neg_id",
            F.col("rn").cast("int").alias("neg_rank"),
            round_half_up(F.col("u"), 6).alias("sample_key"),
        )
        .orderBy("anchor_id", "neg_rank")
    )


# ── q259: TF-IDF sparse-cosine nearest pairs ─────────────────────────────────

_Q259_MAX_DF_FRAC = 0.5  # stop-term guard: drop terms in > half the docs


def _q259_sql() -> str:
    return rf"""
    WITH tok AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS toks
      FROM documents WHERE len(trim(text)) > 0
    ),
    tf AS (
      SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
      FROM (SELECT doc_id, unnest(toks) AS term FROM tok)
      GROUP BY doc_id, term
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
    df AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
    ),
    w AS (
      SELECT tf.doc_id, tf.term,
             CAST(FLOOR(tf.tf * LN(n.n * 1.0 / df.df) * 1000 + 0.5)
                  AS BIGINT) AS wu
      FROM tf JOIN df USING (term) CROSS JOIN n
      WHERE df.df * 1.0 / n.n <= {_Q259_MAX_DF_FRAC}
    ),
    nrm AS (
      SELECT doc_id, CAST(SUM(wu * wu) AS BIGINT) AS n2 FROM w GROUP BY doc_id
    ),
    dots AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
             CAST(SUM(a.wu * b.wu) AS BIGINT) AS dp,
             CAST(COUNT(*) AS BIGINT) AS n_shared_terms
      FROM w a JOIN w b ON a.term = b.term AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT d.doc_a, d.doc_b, d.n_shared_terms,
           FLOOR(d.dp / (SQRT(na.n2) * SQRT(nb.n2)) * 1000000 + 0.5) / 1000000
             AS cosine
    FROM dots d
    JOIN nrm na ON na.doc_id = d.doc_a
    JOIN nrm nb ON nb.doc_id = d.doc_b
    ORDER BY d.dp / (SQRT(na.n2) * SQRT(nb.n2)) DESC, d.doc_a, d.doc_b
    LIMIT 20
    """


@register(
    "q259_tfidf_cosine_pairs",
    _q259_sql(),
    doc="Weighted lexical similarity: top-20 document pairs by TF-IDF "
    "sparse cosine, computed as a shared-term equi-join over quantized "
    "integer weights (tf*ln(N/df) floored to 1e-3 units, so dot "
    "products and squared norms are EXACT integer sums — the float "
    "order problem never arises) with the q23-family max_df stop-term "
    "guard bounding join fan-out. Complements q23 (set Jaccard) with "
    "frequency-weighted similarity and q30 (dense cosine) with its "
    "sparse lexical twin.",
)
def q259_tfidf_cosine_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE shuffle keyed on term; per-term fan-out is bounded by
    the max_df guard exactly as in q23/q199 (a term in half the corpus
    would otherwise contribute O(N^2) pairs); norms are a per-doc
    partial aggregate; the final ranking is TakeOrdered over the pair
    relation."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tok = docs.select(
        "doc_id", F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("toks")
    )
    tf = (
        tok.select("doc_id", F.explode("toks").alias("term"))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    n = tok.agg(F.count(F.lit(1)).cast("long").alias("n"))
    df = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    w = (
        tf.join(df, "term")
        .crossJoin(F.broadcast(n))
        .filter(F.col("df") * 1.0 / F.col("n") <= _Q259_MAX_DF_FRAC)
        .select(
            "doc_id",
            "term",
            F.floor(
                F.col("tf") * F.log(F.col("n") * 1.0 / F.col("df")) * 1000
                + 0.5
            )
            .cast("long")
            .alias("wu"),
        )
    )
    nrm = w.groupBy("doc_id").agg(
        F.sum(F.col("wu") * F.col("wu")).cast("long").alias("n2")
    )
    a = w.select(F.col("doc_id").alias("doc_a"), "term", F.col("wu").alias("wa"))
    b = w.select(F.col("doc_id").alias("doc_b"), "term", F.col("wu").alias("wb"))
    dots = (
        a.join(b, "term")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(
            F.sum(F.col("wa") * F.col("wb")).cast("long").alias("dp"),
            F.count(F.lit(1)).cast("long").alias("n_shared_terms"),
        )
    )
    na = nrm.select(F.col("doc_id").alias("doc_a"), F.col("n2").alias("na2"))
    nb = nrm.select(F.col("doc_id").alias("doc_b"), F.col("n2").alias("nb2"))
    cos_raw = F.col("dp") / (F.sqrt(F.col("na2")) * F.sqrt(F.col("nb2")))
    return (
        dots.join(na, "doc_a")
        .join(nb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_terms",
            round_half_up(cos_raw, 6).alias("cosine"),
            cos_raw.alias("__o"),
        )
        .orderBy(F.col("__o").desc(), "doc_a", "doc_b")
        .drop("__o")
        .limit(20)
    )


# ── q260: token-budget allocation plan (greedy fill by source quality) ──────

_Q260_BUDGET_FRAC = "0.5"  # spend half the corpus' tokens
_Q260_CAP_FRAC = "0.8"  # never take more than 80% of one source


def _q260_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q173_quality_logreg"].sql
    return rf"""
    WITH m AS ({model}),
    per AS (
      SELECT d.source,
             CAST(SUM(m.n_words) AS BIGINT) AS tokens_available,
             CAST(SUM(CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT))
                  AS BIGINT) AS qsum,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM m JOIN documents d ON d.doc_id = m.doc_id
      GROUP BY d.source
    ),
    tot AS (SELECT CAST(SUM(tokens_available) AS BIGINT) AS t FROM per),
    ranked AS (
      SELECT per.*, tot.t,
             CAST(FLOOR(tokens_available * {_Q260_CAP_FRAC}) AS BIGINT)
               AS cap_tokens,
             CAST(FLOOR(tot.t * {_Q260_BUDGET_FRAC}) AS BIGINT) AS budget,
             CAST(ROW_NUMBER() OVER (
               ORDER BY qsum * 1.0 / (n_docs * 10000.0) DESC, source)
               AS INTEGER) AS quality_rank
      FROM per CROSS JOIN tot
    ),
    alloc AS (
      SELECT *,
             CAST(COALESCE(SUM(cap_tokens) OVER (ORDER BY quality_rank
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cum_before
      FROM ranked
    )
    SELECT source, quality_rank, n_docs, tokens_available,
           FLOOR(qsum / (n_docs * 10000.0) * 1000000 + 0.5) / 1000000
             AS mean_quality,
           cap_tokens,
           CAST(LEAST(cap_tokens, GREATEST(budget - cum_before, 0))
                AS BIGINT) AS allocated_tokens,
           LEAST(cap_tokens, GREATEST(budget - cum_before, 0)) = cap_tokens
             AS fully_taken
    FROM alloc
    ORDER BY quality_rank
    """


@register(
    "q260_token_budget_plan",
    _q260_sql(),
    doc="Token-budget allocation: spend a 50%-of-corpus token budget "
    "greedily by source quality (q173 mean score), capped at 80% of "
    "any one source — the concrete decision table the audit family "
    "(q239 calibration, q240 AUC, q244 fertility, q248 influence) "
    "exists to justify. The greedy fill is one running-sum window over "
    "the |sources|-row relation: allocated = min(cap, max(budget - "
    "cum_before, 0)). Every quantity is an exact integer except the "
    "display-only mean quality.",
)
def q260_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per-source totals are one map-side-combinable aggregate
    over the (map-only) scorer; the allocation window runs over
    |sources| rows. Changing the budget or cap re-runs ONLY the tiny
    window, not the corpus pass, if per-source totals are cached."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    budget_frac, cap_frac = float(_Q260_BUDGET_FRAC), float(_Q260_CAP_FRAC)
    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id",
        "n_words",
        F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("qu"),
    )
    d = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    per = (
        m.join(d, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_words").cast("long").alias("tokens_available"),
            F.sum("qu").cast("long").alias("qsum"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    tot = per.agg(F.sum("tokens_available").cast("long").alias("t"))
    ranked = per.crossJoin(F.broadcast(tot)).select(
        "*",
        F.floor(F.col("tokens_available") * cap_frac)
        .cast("long")
        .alias("cap_tokens"),
        F.floor(F.col("t") * budget_frac).cast("long").alias("budget"),
        F.row_number()
        .over(
            Window.orderBy(
                (F.col("qsum") * 1.0 / (F.col("n_docs") * 10000.0)).desc(),
                "source",
            )
        )
        .cast("int")
        .alias("quality_rank"),
    )
    alloc = ranked.withColumn(
        "cum_before",
        F.coalesce(
            F.sum("cap_tokens").over(
                Window.orderBy("quality_rank").rowsBetween(
                    Window.unboundedPreceding, -1
                )
            ),
            F.lit(0),
        ).cast("long"),
    )
    take = F.least(
        F.col("cap_tokens"),
        F.greatest(F.col("budget") - F.col("cum_before"), F.lit(0)),
    )
    return alloc.select(
        "source",
        "quality_rank",
        "n_docs",
        "tokens_available",
        round_half_up(
            F.col("qsum") / (F.col("n_docs") * 10000.0), 6
        ).alias("mean_quality"),
        "cap_tokens",
        take.cast("long").alias("allocated_tokens"),
        (take == F.col("cap_tokens")).alias("fully_taken"),
    ).orderBy("quality_rank")


# ── q261: RFM customer segmentation ──────────────────────────────────────────


@register(
    "q261_rfm_segmentation",
    """
    WITH ref AS (SELECT CAST(MAX(o_orderdate) AS DATE) AS today FROM orders),
    per AS (
      SELECT o_custkey,
             date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                       (SELECT today FROM ref)) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS monetary_cents
      FROM orders GROUP BY o_custkey
    ),
    scored AS (
      SELECT *,
             NTILE(5) OVER (ORDER BY recency_days ASC, o_custkey) AS rq,
             NTILE(5) OVER (ORDER BY frequency DESC, o_custkey) AS fq,
             NTILE(5) OVER (ORDER BY monetary_cents DESC, o_custkey) AS mq
      FROM per
    )
    SELECT CAST(rq * 100 + fq * 10 + mq AS INTEGER) AS segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           FLOOR(SUM(recency_days) * 1.0 / COUNT(*) * 100 + 0.5) / 100
             AS avg_recency_days,
           FLOOR(SUM(frequency) * 1.0 / COUNT(*) * 100 + 0.5) / 100
             AS avg_orders,
           FLOOR(SUM(monetary_cents) * 1.0 / (COUNT(*) * 100.0) * 100 + 0.5)
             / 100 AS avg_monetary
    FROM scored
    GROUP BY rq * 100 + fq * 10 + mq
    ORDER BY segment
    """,
    doc="RFM segmentation: recency / frequency / monetary quintiles per "
    "customer (NTILE with deterministic custkey tie-breaks, exact "
    "integer cents per the q157 money discipline), rolled up to "
    "segment codes rq*100+fq*10+mq with per-segment averages — the "
    "classic CRM cut of the Athena-role surface. Quintile 1 = most "
    "recent / most frequent / highest spend, so segment 111 is the "
    "best-customer cell.",
)
def q261_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per-customer aggregates are one partial-aggregable pass;
    the three NTILEs run over the CUSTOMER relation (orders of
    magnitude below fact scale; at extreme customer counts the q233
    note applies — swap NTILE for pre-computed quantile boundaries).
    The rollup is <=125 cells."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    ref = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("today"))
    per = (
        o.groupBy("o_custkey")
        .agg(
            F.max(F.col("o_orderdate").cast("date")).alias("last_order"),
            F.count(F.lit(1)).cast("long").alias("frequency"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
            )
            .cast("long")
            .alias("monetary_cents"),
        )
        .crossJoin(F.broadcast(ref))
        .select(
            "o_custkey",
            F.datediff(F.col("today"), F.col("last_order")).alias(
                "recency_days"
            ),
            "frequency",
            "monetary_cents",
        )
    )
    scored = per.select(
        "*",
        F.ntile(5)
        .over(Window.orderBy(F.asc("recency_days"), F.asc("o_custkey")))
        .alias("rq"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("frequency"), F.asc("o_custkey")))
        .alias("fq"),
        F.ntile(5)
        .over(Window.orderBy(F.desc("monetary_cents"), F.asc("o_custkey")))
        .alias("mq"),
    )
    return (
        scored.groupBy(
            (F.col("rq") * 100 + F.col("fq") * 10 + F.col("mq"))
            .cast("int")
            .alias("segment")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_customers"),
            round_half_up(
                F.sum("recency_days") * 1.0 / F.count(F.lit(1)), 2
            ).alias("avg_recency_days"),
            round_half_up(
                F.sum("frequency") * 1.0 / F.count(F.lit(1)), 2
            ).alias("avg_orders"),
            round_half_up(
                F.sum("monetary_cents") * 1.0 / (F.count(F.lit(1)) * 100.0), 2
            ).alias("avg_monetary"),
        )
        .orderBy("segment")
    )


# ── q262: market-basket association (support / confidence / lift) ────────────

_Q262_TOP = 15


@register(
    "q262_basket_lift",
    f"""
    WITH basket AS (
      SELECT DISTINCT l_orderkey, l_partkey FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM basket),
    cnt AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM basket GROUP BY 1
    ),
    pairs AS (
      SELECT a.l_partkey AS part_a, b.l_partkey AS part_b,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
      GROUP BY 1, 2
    ),
    scored AS (
      SELECT p.part_a, p.part_b, p.c_ab, ca.c AS c_a, cb.c AS c_b, n.n,
             p.c_ab * n.n * 1.0 / (ca.c * cb.c) AS lift_raw
      FROM pairs p
      JOIN cnt ca ON ca.l_partkey = p.part_a
      JOIN cnt cb ON cb.l_partkey = p.part_b
      CROSS JOIN n
    )
    SELECT part_a, part_b, c_ab AS n_cooccur,
           FLOOR(c_ab * 1.0 / n * 1000000 + 0.5) / 1000000 AS support,
           FLOOR(c_ab * 1.0 / c_a * 1000000 + 0.5) / 1000000 AS confidence_ab,
           FLOOR(lift_raw * 100 + 0.5) / 100 AS lift
    FROM scored
    ORDER BY lift_raw DESC, part_a, part_b
    LIMIT {_Q262_TOP}
    """,
    doc="Market-basket association rules over order line items: "
    "pairwise co-occurrence support, confidence and lift "
    "(c_ab*N/(c_a*c_b)), top-15 by lift — the classic affinity "
    "analysis of the Athena-role catalog. The pair join is keyed on "
    "the ORDER (baskets are small), so fan-out is items-per-order "
    "choose 2, never parts^2.",
)
def q262_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: basket dedup is one distinct; the self-join is equi-keyed
    on l_orderkey with per-key fan-out bounded by basket size (~7
    items -> <=21 pairs per order); part counts broadcast. A degenerate
    mega-basket would need a per-key cap (q24's discipline) — TPC-H
    baskets are bounded by construction."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    basket = li.distinct()
    n = basket.agg(
        F.countDistinct("l_orderkey").cast("long").alias("n")
    )
    cnt = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = basket.select(
        "l_orderkey", F.col("l_partkey").alias("part_a")
    )
    b = basket.select(
        "l_orderkey", F.col("l_partkey").alias("part_b")
    )
    pairs = (
        a.join(b, "l_orderkey")
        .filter(F.col("part_a") < F.col("part_b"))
        .groupBy("part_a", "part_b")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
    )
    ca = cnt.select(F.col("l_partkey").alias("part_a"), F.col("c").alias("c_a"))
    cb = cnt.select(F.col("l_partkey").alias("part_b"), F.col("c").alias("c_b"))
    scored = (
        pairs.join(ca, "part_a")
        .join(cb, "part_b")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift_raw",
            F.col("c_ab") * F.col("n") * 1.0 / (F.col("c_a") * F.col("c_b")),
        )
    )
    return (
        scored.select(
            "part_a",
            "part_b",
            F.col("c_ab").alias("n_cooccur"),
            round_half_up(F.col("c_ab") * 1.0 / F.col("n"), 6).alias("support"),
            round_half_up(F.col("c_ab") * 1.0 / F.col("c_a"), 6).alias(
                "confidence_ab"
            ),
            round_half_up(F.col("lift_raw"), 2).alias("lift"),
            F.col("lift_raw").alias("__o"),
        )
        .orderBy(F.col("__o").desc(), "part_a", "part_b")
        .drop("__o")
        .limit(_Q262_TOP)
    )


# ── q263: cohort lifetime-value (LTV) curve ──────────────────────────────────


@register(
    "q263_cohort_ltv",
    """
    WITH firsts AS (
      SELECT o_custkey,
             CAST(date_trunc('month', MIN(CAST(o_orderdate AS DATE)))
                  AS DATE) AS cohort
      FROM orders GROUP BY o_custkey
    ),
    rev AS (
      SELECT f.cohort, o.o_custkey,
             date_diff('month', f.cohort,
                       CAST(date_trunc('month', CAST(o.o_orderdate AS DATE))
                            AS DATE)) AS age,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN firsts f ON f.o_custkey = o.o_custkey
    ),
    sz AS (
      SELECT cohort, CAST(COUNT(*) AS BIGINT) AS n_customers FROM firsts
      GROUP BY cohort
    ),
    by_age AS (
      SELECT cohort, age, CAST(SUM(cents) AS BIGINT) AS cents
      FROM rev WHERE age BETWEEN 0 AND 11 GROUP BY cohort, age
    ),
    cum AS (
      SELECT cohort, age,
             CAST(SUM(cents) OVER (PARTITION BY cohort ORDER BY age)
                  AS BIGINT) AS cum_cents
      FROM by_age
    )
    SELECT c.cohort, CAST(c.age AS INTEGER) AS age_months, s.n_customers,
           FLOOR(c.cum_cents / (s.n_customers * 100.0) * 100 + 0.5) / 100
             AS ltv_per_customer
    FROM cum c JOIN sz s ON s.cohort = c.cohort
    WHERE c.cohort IN (SELECT cohort FROM sz ORDER BY cohort LIMIT 6)
    ORDER BY c.cohort, age_months
    """,
    doc="Cohort lifetime-value curve: customers grouped by first-order "
    "month, cumulative revenue per customer through each of their "
    "first 12 months (exact integer cents; the cumulative window runs "
    "over the cohort x age grid, not order rows) — q82's retention "
    "matrix with money attached, limited to the first 6 cohorts for a "
    "stable report shape.",
)
def q263_cohort_ltv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two partial-aggregable passes over orders (first-order per
    customer, revenue per cohort-age cell); the running sum and the
    cohort cut operate on the |cohorts| x 12 grid."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderdate", "o_totalprice"
    )
    firsts = o.groupBy("o_custkey").agg(
        F.date_trunc("month", F.min(F.col("o_orderdate").cast("date")))
        .cast("date")
        .alias("cohort")
    )
    rev = o.join(firsts, "o_custkey").select(
        "cohort",
        F.months_between(
            F.date_trunc("month", F.col("o_orderdate").cast("date")),
            F.col("cohort"),
        )
        .cast("int")
        .alias("age"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    sz = firsts.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers")
    )
    by_age = (
        rev.filter((F.col("age") >= 0) & (F.col("age") <= 11))
        .groupBy("cohort", "age")
        .agg(F.sum("cents").cast("long").alias("cents"))
    )
    cum = by_age.select(
        "cohort",
        "age",
        F.sum("cents")
        .over(
            Window.partitionBy("cohort")
            .orderBy("age")
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        .cast("long")
        .alias("cum_cents"),
    )
    first6 = sz.orderBy("cohort").limit(6).select("cohort")
    return (
        cum.join(F.broadcast(first6), "cohort")
        .join(F.broadcast(sz), "cohort")
        .select(
            "cohort",
            F.col("age").cast("int").alias("age_months"),
            "n_customers",
            round_half_up(
                F.col("cum_cents") / (F.col("n_customers") * 100.0), 2
            ).alias("ltv_per_customer"),
        )
        .orderBy("cohort", "age_months")
    )


# ── q264: discount elasticity per brand (promo-effect regression) ────────────


@register(
    "q264_discount_elasticity",
    """
    WITH j AS (
      SELECT p.p_brand, l.l_discount, CAST(l.l_quantity AS DOUBLE) AS qty
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           FLOOR(AVG(qty) * 10000 + 0.5) / 10000 AS avg_qty,
           FLOOR(regr_slope(qty, l_discount) * 10000 + 0.5) / 10000
             AS qty_per_discount_slope,
           FLOOR(regr_r2(qty, l_discount) * 1000000 + 0.5) / 1000000 AS r2
    FROM j
    GROUP BY p_brand
    HAVING COUNT(*) >= 20
    ORDER BY p_brand
    """,
    doc="Promo-effect screening: per brand, the OLS slope of order "
    "quantity on discount rate (positive slope = discounts move "
    "volume) with fit R^2 and a minimum-evidence floor of 20 line "
    "items — the grouped-regression readout (q110's regr_* family "
    "applied per group) a pricing team scans before promo planning.",
)
def q264_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one broadcast join (part is the small dim) and one
    partial-aggregable grouped regression — regr_* fuses into the
    aggregate, so the whole query is a scan + 25-key rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_discount", "l_quantity"
    )
    p = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = li.join(
        F.broadcast(p), F.col("p_partkey") == F.col("l_partkey")
    ).select("p_brand", "l_discount", F.col("l_quantity").cast("double").alias("qty"))
    return (
        j.groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_lines"),
            round_half_up(F.avg("qty"), 4).alias("avg_qty"),
            round_half_up(F.regr_slope("qty", "l_discount"), 4).alias(
                "qty_per_discount_slope"
            ),
            round_half_up(F.regr_r2("qty", "l_discount"), 6).alias("r2"),
        )
        .filter(F.col("n_lines") >= 20)
        .orderBy("p_brand")
    )


# ── q265: column-profile drift detector (data-contract QA) ───────────────────

_Q265_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_Q265_REL_T = "0.02"  # relative mean-drift alarm threshold


def _q265_sql() -> str:
    half = "l_orderkey % 2"
    branches = "\n      UNION ALL\n".join(
        f"""      SELECT {half} AS half, '{c}' AS col,
             CASE WHEN {c} IS NULL THEN NULL
                  ELSE CAST(FLOOR({c} * 10000 + 0.5) AS BIGINT) END AS vu
      FROM lineitem"""
        for c in _Q265_COLS
    )
    return f"""
    WITH long AS (
{branches}
    ),
    prof AS (
      SELECT col, half,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(vu) AS BIGINT) AS n_present,
             CAST(SUM(vu) AS BIGINT) AS su,
             CAST(MIN(vu) AS BIGINT) AS mn,
             CAST(MAX(vu) AS BIGINT) AS mx
      FROM long GROUP BY col, half
    ),
    wide AS (
      SELECT col,
             MAX(CASE WHEN half = 0 THEN n_rows END) AS n_a,
             MAX(CASE WHEN half = 1 THEN n_rows END) AS n_b,
             MAX(CASE WHEN half = 0 THEN n_present END) AS p_a,
             MAX(CASE WHEN half = 1 THEN n_present END) AS p_b,
             MAX(CASE WHEN half = 0 THEN su END) AS s_a,
             MAX(CASE WHEN half = 1 THEN su END) AS s_b,
             MAX(CASE WHEN half = 0 THEN mn END) AS mn_a,
             MAX(CASE WHEN half = 1 THEN mn END) AS mn_b,
             MAX(CASE WHEN half = 0 THEN mx END) AS mx_a,
             MAX(CASE WHEN half = 1 THEN mx END) AS mx_b
      FROM prof GROUP BY col
    )
    SELECT col,
           FLOOR((n_a - p_a) * 1.0 / n_a * 1000000 + 0.5) / 1000000
             AS null_rate_a,
           FLOOR((n_b - p_b) * 1.0 / n_b * 1000000 + 0.5) / 1000000
             AS null_rate_b,
           FLOOR(s_a * 1.0 / (p_a * 10000.0) * 1000000 + 0.5) / 1000000
             AS mean_a,
           FLOOR(s_b * 1.0 / (p_b * 10000.0) * 1000000 + 0.5) / 1000000
             AS mean_b,
           ABS(s_b * 1.0 / (p_b * 10000.0) - s_a * 1.0 / (p_a * 10000.0))
             > {_Q265_REL_T} * ABS(s_a * 1.0 / (p_a * 10000.0)) AS mean_drift,
           mn_a <> mn_b OR mx_a <> mx_b AS range_drift
    FROM wide
    ORDER BY col
    """


@register(
    "q265_profile_drift",
    _q265_sql(),
    doc="Data-contract drift detector: split the fact table into hash "
    "halves (the ingest-batch A/B stand-in) and compare per-column "
    "profiles — null rates, means (values quantized to 1e-4 integer "
    "units BEFORE summing, so the comparison is order-free exact), "
    "and min/max range agreement — flagging columns whose mean moved "
    "more than 2% relative. The column-level sibling of q169/q170's "
    "distribution tests, shaped like the validation suite (F1-F4) "
    "running continuously instead of at ingest.",
)
def q265_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the unpivot multiplies map work by |columns| but the
    shuffle carries |columns| x 2 partial-aggregate groups; a real
    deployment fuses this into one pass with grouping sets. Integer
    sums bound: 1e-4-quantized values x rows must stay under 2^63 —
    at petabyte row counts switch the quantum to 1e-2 or sum per
    partition-group first (q213's idiom)."""
    li = load_table(spark, sf_dir, "lineitem")
    half = (F.col("l_orderkey") % 2).alias("half")
    pieces = None
    for c in _Q265_COLS:
        vu = F.when(
            F.col(c).isNotNull(),
            F.floor(F.col(c) * 10000 + 0.5).cast("long"),
        )
        p = li.select(half, F.lit(c).alias("col"), vu.alias("vu"))
        pieces = p if pieces is None else pieces.unionByName(p)
    prof = pieces.groupBy("col", "half").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.count("vu").cast("long").alias("n_present"),
        F.sum("vu").cast("long").alias("su"),
        F.min("vu").cast("long").alias("mn"),
        F.max("vu").cast("long").alias("mx"),
    )
    def side(name, col):
        return F.max(F.when(F.col("half") == (0 if name == "a" else 1), F.col(col))).alias(f"{col}_{name}")
    wide = prof.groupBy("col").agg(
        side("a", "n_rows"), side("b", "n_rows"),
        side("a", "n_present"), side("b", "n_present"),
        side("a", "su"), side("b", "su"),
        side("a", "mn"), side("b", "mn"),
        side("a", "mx"), side("b", "mx"),
    )
    mean_a = F.col("su_a") * 1.0 / (F.col("n_present_a") * 10000.0)
    mean_b = F.col("su_b") * 1.0 / (F.col("n_present_b") * 10000.0)
    rel_t = float(_Q265_REL_T)
    return wide.select(
        "col",
        round_half_up(
            (F.col("n_rows_a") - F.col("n_present_a")) * 1.0 / F.col("n_rows_a"), 6
        ).alias("null_rate_a"),
        round_half_up(
            (F.col("n_rows_b") - F.col("n_present_b")) * 1.0 / F.col("n_rows_b"), 6
        ).alias("null_rate_b"),
        round_half_up(mean_a, 6).alias("mean_a"),
        round_half_up(mean_b, 6).alias("mean_b"),
        (F.abs(mean_b - mean_a) > rel_t * F.abs(mean_a)).alias("mean_drift"),
        (
            (F.col("mn_a") != F.col("mn_b")) | (F.col("mx_a") != F.col("mx_b"))
        ).alias("range_drift"),
    ).orderBy("col")


# ── q266: funnel time-to-convert distribution (order statistics) ─────────────


@register(
    "q266_time_to_convert",
    """
    WITH firsts AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'signup' THEN ts END) AS t_signup,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY user_id
    ),
    delays AS (
      SELECT user_id,
             CAST(date_diff('second', t_signup, t_purchase) AS BIGINT)
               AS delay_s
      FROM firsts
      WHERE t_signup IS NOT NULL AND t_purchase IS NOT NULL
        AND t_purchase >= t_signup
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM delays),
    ranked AS (
      SELECT delay_s,
             ROW_NUMBER() OVER (ORDER BY delay_s, user_id) AS rn,
             (SELECT n FROM n) AS n
      FROM delays
    )
    SELECT MAX(n) AS n_converted,
           CAST(SUM(delay_s) AS BIGINT) // MAX(n) AS mean_delay_s,
           MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT)
                    THEN delay_s END) AS p50_delay_s,
           MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT)
                    THEN delay_s END) AS p90_delay_s,
           MAX(delay_s) AS max_delay_s
    FROM ranked
    """,
    doc="Funnel latency: per converting user the delay from first "
    "signup to first purchase, summarized as mean and exact p50/p90 "
    "ORDER STATISTICS (rank = ceil(q*n), user-id tie-break — the q249 "
    "discipline, not a percentile function) — the time dimension "
    "q81's step-count funnel lacks. Integer seconds throughout; the "
    "mean is integer division of exact sums.",
)
def q266_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user-keyed partial aggregate; the rank runs over
    CONVERTED users only (a small fraction of the user universe). At
    extreme converter counts the GK/histogram route (q80/q240) replaces
    the exact rank — the audit-sized exact form is right here."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    firsts = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias(
            "t_signup"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    delays = firsts.filter(
        F.col("t_signup").isNotNull()
        & F.col("t_purchase").isNotNull()
        & (F.col("t_purchase") >= F.col("t_signup"))
    ).select(
        "user_id",
        (
            F.unix_timestamp("t_purchase") - F.unix_timestamp("t_signup")
        )
        .cast("long")
        .alias("delay_s"),
    )
    n = delays.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = delays.withColumn(
        "rn", F.row_number().over(Window.orderBy("delay_s", "user_id"))
    ).crossJoin(F.broadcast(n))
    return ranked.agg(
        F.max("n").alias("n_converted"),
        F.expr("sum(delay_s) div max(n)").cast("long").alias("mean_delay_s"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.5).cast("long"),
                F.col("delay_s"),
            )
        ).alias("p50_delay_s"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.9).cast("long"),
                F.col("delay_s"),
            )
        ).alias("p90_delay_s"),
        F.max("delay_s").alias("max_delay_s"),
    )


# ── q267: unseen-vocabulary estimate (Good-Turing missing mass + Chao1) ──────


@register(
    "q267_vocab_richness",
    r"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS term
      FROM documents WHERE len(trim(text)) > 0
    ),
    tf AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS f
      FROM tok GROUP BY source, term
    ),
    per AS (
      SELECT source,
             CAST(SUM(f) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab,
             CAST(SUM(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN f = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
      FROM tf GROUP BY source
    )
    SELECT source, n_tokens, vocab, n1 AS singletons, n2 AS doubletons,
           FLOOR(n1 * 1.0 / n_tokens * 1000000 + 0.5) / 1000000
             AS missing_mass,
           CAST(vocab + CASE WHEN n2 > 0
                THEN CAST(FLOOR(n1 * n1 * 1.0 / (2 * n2) + 0.5) AS BIGINT)
                ELSE CAST(FLOOR(n1 * (n1 - 1) / 2.0 + 0.5) AS BIGINT) END
                AS BIGINT) AS chao1_vocab_est
    FROM per ORDER BY source
    """,
    doc="Unseen-vocabulary estimation per source: Good-Turing missing "
    "mass N1/N (the probability the NEXT token is one never seen — the "
    "coverage number an OOV budget is set against, q219's forward-"
    "looking sibling) and the Chao1 richness estimate "
    "vocab + N1^2/(2*N2) of how many types the source truly has "
    "(bias-corrected form when no doubletons exist). Pure integer "
    "frequency-of-frequency counts off one term aggregate.",
)
def q267_vocab_richness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one term-keyed aggregate (map-side combinable) then a
    |sources|-key rollup of frequency-of-frequencies — the same
    relation every vocab query shares; nothing here grows faster than
    the unique-term count."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    tf = (
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "term"
            ),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("f"))
    )
    per = tf.groupBy("source").agg(
        F.sum("f").cast("long").alias("n_tokens"),
        F.count(F.lit(1)).cast("long").alias("vocab"),
        F.sum(F.when(F.col("f") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("f") == 2, 1).otherwise(0)).cast("long").alias("n2"),
    )
    chao_extra = F.when(
        F.col("n2") > 0,
        F.floor(F.col("n1") * F.col("n1") * 1.0 / (2 * F.col("n2")) + 0.5).cast(
            "long"
        ),
    ).otherwise(
        F.floor(F.col("n1") * (F.col("n1") - 1) / 2.0 + 0.5).cast("long")
    )
    return per.select(
        "source",
        "n_tokens",
        "vocab",
        F.col("n1").alias("singletons"),
        F.col("n2").alias("doubletons"),
        round_half_up(F.col("n1") * 1.0 / F.col("n_tokens"), 6).alias(
            "missing_mass"
        ),
        (F.col("vocab") + chao_extra).cast("long").alias("chao1_vocab_est"),
    ).orderBy("source")


# ── q268: sequential A/B monitoring (Pocock looks over event time) ───────────

_Q268_LOOKS = 5
_Q268_POCOCK = "2.413"  # Pocock boundary, K=5 looks, alpha=0.05 (two-sided)


def _q268_sql() -> str:
    return f"""
    WITH bounds AS (
      SELECT CAST(epoch_us(MIN(ts)) AS BIGINT) AS lo,
             CAST(epoch_us(MAX(ts)) AS BIGINT) AS hi
      FROM events
    ),
    looks AS (
      SELECT i, lo + ((hi - lo) * i) // {_Q268_LOOKS} AS cutoff_us
      FROM (SELECT unnest(range(1, {_Q268_LOOKS + 1})) AS i) CROSS JOIN bounds
    ),
    per_user AS (
      SELECT l.i, e.user_id, e.user_id % 2 AS grp,
             CASE WHEN SUM(CASE WHEN e.event_type = 'purchase'
                               THEN 1 ELSE 0 END)
                       > SUM(CASE WHEN e.event_type = 'error'
                                  THEN 1 ELSE 0 END)
                  THEN 1 ELSE 0 END AS converted
      FROM events e JOIN looks l ON CAST(epoch_us(e.ts) AS BIGINT) <= l.cutoff_us
      GROUP BY l.i, e.user_id, e.user_id % 2
    ),
    agg AS (
      SELECT i,
             CAST(SUM(CASE WHEN grp = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN grp = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(SUM(CASE WHEN grp = 0 THEN converted ELSE 0 END) AS BIGINT)
               AS c0,
             CAST(SUM(CASE WHEN grp = 1 THEN converted ELSE 0 END) AS BIGINT)
               AS c1
      FROM per_user GROUP BY i
    )
    SELECT CAST(i AS INTEGER) AS look, n0 AS n_a, n1 AS n_b,
           FLOOR(c0 * 1.0 / n0 * 1000000 + 0.5) / 1000000 AS rate_a,
           FLOOR(c1 * 1.0 / n1 * 1000000 + 0.5) / 1000000 AS rate_b,
           FLOOR((c1 * 1.0 / n1 - c0 * 1.0 / n0)
                 / SQRT(((c0 + c1) * 1.0 / (n0 + n1))
                        * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                        * (1.0 / n0 + 1.0 / n1)) * 10000 + 0.5) / 10000 AS z,
           ABS((c1 * 1.0 / n1 - c0 * 1.0 / n0)
               / SQRT(((c0 + c1) * 1.0 / (n0 + n1))
                      * (1 - (c0 + c1) * 1.0 / (n0 + n1))
                      * (1.0 / n0 + 1.0 / n1))) > {_Q268_POCOCK}
             AS crossed_boundary
    FROM agg ORDER BY look
    """


@register(
    "q268_sequential_ab_looks",
    _q268_sql(),
    doc="Group-sequential experiment monitoring: the q179 two-proportion "
    "z-statistic evaluated at 5 interim looks (event-time range "
    "quintile cutoffs — broadcast min/max scalars, the q251 idiom) "
    "against the Pocock boundary 2.413 for K=5/alpha=0.05 — the "
    "peeking-safe readout that replaces eyeballing q179 daily. Each "
    "look recomputes per-user conversion FROM EVENTS VISIBLE AT THAT "
    "TIME (a user can convert later — look-k status is not monotone "
    "bookkeeping), so the query is one look-spine range join plus the "
    "closed-form z per look.",
)
def q268_sequential_ab_looks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the range join multiplies the event scan by K looks but
    the shuffle carries (look, user) partial aggregates; production
    incrementalizes by processing events once per look window and
    merging (the q76 rollup idiom). The boundary math is scalar."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "event_type"
    )
    bounds = ev.agg(
        F.unix_micros(F.min("ts")).cast("long").alias("lo"),
        F.unix_micros(F.max("ts")).cast("long").alias("hi"),
    )
    looks = (
        spark.range(1, _Q268_LOOKS + 1)
        .select(F.col("id").cast("int").alias("i"))
        .crossJoin(F.broadcast(bounds))
        .select(
            "i",
            (
                F.col("lo")
                + F.expr(f"((hi - lo) * i) div {_Q268_LOOKS}")
            )
            .cast("long")
            .alias("cutoff_us"),
        )
    )
    per_user = (
        ev.join(
            F.broadcast(looks),
            F.unix_micros(F.col("ts")).cast("long") <= F.col("cutoff_us"),
        )
        .groupBy("i", "user_id", (F.col("user_id") % 2).alias("grp"))
        .agg(
            (
                F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
                > F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            )
            .cast("int")
            .alias("converted")
        )
    )
    agg = per_user.groupBy("i").agg(
        F.sum(F.when(F.col("grp") == 0, 1).otherwise(0)).cast("long").alias("n0"),
        F.sum(F.when(F.col("grp") == 1, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(F.col("grp") == 0, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c0"),
        F.sum(F.when(F.col("grp") == 1, F.col("converted")).otherwise(0))
        .cast("long")
        .alias("c1"),
    )
    # try_divide: a 1-user lake leaves one arm empty at every look and a
    # degenerate pooled rate (p in {0,1}) zeroes the variance -> rates /
    # z undefined (NULL, matching DuckDB x/0 -> NULL; NULL > boundary
    # is NULL on both engines)
    p = (F.col("c0") + F.col("c1")) * 1.0 / (F.col("n0") + F.col("n1"))
    z = F.try_divide(
        F.try_divide(F.col("c1") * 1.0, F.col("n1"))
        - F.try_divide(F.col("c0") * 1.0, F.col("n0")),
        F.sqrt(
            p
            * (1 - p)
            * (
                F.try_divide(F.lit(1.0), F.col("n0"))
                + F.try_divide(F.lit(1.0), F.col("n1"))
            )
        ),
    )
    return agg.select(
        F.col("i").cast("int").alias("look"),
        F.col("n0").alias("n_a"),
        F.col("n1").alias("n_b"),
        round_half_up(
            F.try_divide(F.col("c0") * 1.0, F.col("n0")), 6
        ).alias("rate_a"),
        round_half_up(
            F.try_divide(F.col("c1") * 1.0, F.col("n1")), 6
        ).alias("rate_b"),
        round_half_up(z, 4).alias("z"),
        (F.abs(z) > F.lit(float(_Q268_POCOCK))).alias("crossed_boundary"),
    ).orderBy("look")


# ── q269: hierarchical contribution report (share-of-parent rollup) ──────────


@register(
    "q269_hierarchy_contribution",
    """
    WITH rev AS (
      SELECT r.r_name AS region, n.n_name AS nation,
             CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY r.r_name, n.n_name
    ),
    reg AS (SELECT region, CAST(SUM(cents) AS BIGINT) AS rc FROM rev GROUP BY region),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc FROM rev)
    SELECT rev.region, rev.nation,
           FLOOR(rev.cents / 100.0 * 100 + 0.5) / 100 AS revenue,
           FLOOR(rev.cents * 1.0 / reg.rc * 1000000 + 0.5) / 1000000
             AS share_of_region,
           FLOOR(rev.cents * 1.0 / tot.tc * 1000000 + 0.5) / 1000000
             AS share_of_total,
           CAST(ROW_NUMBER() OVER (PARTITION BY rev.region
             ORDER BY rev.cents DESC, rev.nation) AS INTEGER)
             AS rank_in_region
    FROM rev JOIN reg ON reg.region = rev.region CROSS JOIN tot
    ORDER BY rev.region, rank_in_region
    """,
    doc="Hierarchical contribution report: supplier revenue rolled up "
    "region -> nation with each nation's share of its region, share of "
    "the grand total, and within-region rank — the percent-of-parent "
    "drill-down every BI layer asks of the Athena-role surface, in "
    "exact integer cents (q157 discipline).",
)
def q269_hierarchy_contribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the dims broadcast; one fact-side partial aggregate keyed
    on (region, nation) (~125 cells), then shares and ranks run on that
    tiny relation."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    reg0 = load_table(spark, sf_dir, "region").select("r_regionkey", "r_name")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    rev = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .join(F.broadcast(reg0), F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    reg = rev.groupBy("region").agg(F.sum("cents").cast("long").alias("rc"))
    tot = rev.agg(F.sum("cents").cast("long").alias("tc"))
    return (
        rev.join(F.broadcast(reg), "region")
        .crossJoin(F.broadcast(tot))
        .select(
            "region",
            "nation",
            round_half_up(F.col("cents") / 100.0, 2).alias("revenue"),
            round_half_up(F.col("cents") * 1.0 / F.col("rc"), 6).alias(
                "share_of_region"
            ),
            round_half_up(F.col("cents") * 1.0 / F.col("tc"), 6).alias(
                "share_of_total"
            ),
            F.row_number()
            .over(
                Window.partitionBy("region").orderBy(
                    F.col("cents").desc(), "nation"
                )
            )
            .cast("int")
            .alias("rank_in_region"),
        )
        .orderBy("region", "rank_in_region")
    )


# ── q270: Wilson lower-bound ranking (error-prone users) ─────────────────────

_Q270_Z = "1.959963984540054"
_Q270_TOP = 15


def _q270_sql() -> str:
    z = _Q270_Z
    return f"""
    WITH per AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_errors
      FROM events GROUP BY user_id
      HAVING COUNT(*) >= 10
    ),
    sc AS (
      SELECT user_id, n_events, n_errors,
             n_errors * 1.0 / n_events AS p,
             ((n_errors * 1.0 / n_events) + {z} * {z} / (2 * n_events)
              - {z} * SQRT((n_errors * 1.0 / n_events)
                           * (1 - n_errors * 1.0 / n_events) / n_events
                           + {z} * {z} / (4.0 * n_events * n_events)))
             / (1 + {z} * {z} / n_events) AS wlb
      FROM per
    )
    SELECT user_id, n_events, n_errors,
           FLOOR(p * 1000000 + 0.5) / 1000000 AS error_rate,
           FLOOR(wlb * 1000000 + 0.5) / 1000000 AS wilson_lb
    FROM sc
    ORDER BY wlb DESC, user_id
    LIMIT {_Q270_TOP}
    """


@register(
    "q270_wilson_error_ranking",
    _q270_sql(),
    doc="Confidence-aware ranking: the 15 most error-prone users by the "
    "WILSON LOWER BOUND of their error rate (z=1.96, minimum 10 "
    "events) — the sort-by-lower-confidence-bound rule that stops a "
    "2-for-2 user outranking a 40-for-50 one, i.e. the statistically "
    "honest version of every naive rate leaderboard. One closed-form "
    "expression chain over exact integer counts; the z constant is a "
    "full-precision repr literal.",
)
def q270_wilson_error_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user-keyed partial aggregate, one map-side formula,
    one TakeOrdered — nothing grows beyond the user universe."""
    z = float(_Q270_Z)
    per = (
        load_table(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_events"),
            F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
            .cast("long")
            .alias("n_errors"),
        )
        .filter(F.col("n_events") >= 10)
    )
    p = F.col("n_errors") * 1.0 / F.col("n_events")
    wlb = (
        p
        + F.lit(z) * F.lit(z) / (2 * F.col("n_events"))
        - F.lit(z)
        * F.sqrt(
            p * (1 - p) / F.col("n_events")
            + F.lit(z) * F.lit(z) / (4.0 * F.col("n_events") * F.col("n_events"))
        )
    ) / (1 + F.lit(z) * F.lit(z) / F.col("n_events"))
    return (
        per.select(
            "user_id",
            "n_events",
            "n_errors",
            round_half_up(p, 6).alias("error_rate"),
            round_half_up(wlb, 6).alias("wilson_lb"),
            wlb.alias("__o"),
        )
        .orderBy(F.col("__o").desc(), "user_id")
        .drop("__o")
        .limit(_Q270_TOP)
    )


# ── q271: co-purchase recommendations ("customers also bought") ──────────────

_Q271_PER_PART = 3
_Q271_MIN_CO = 2


@register(
    "q271_copurchase_recs",
    f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n FROM basket),
    cnt AS (
      SELECT l_partkey, CAST(COUNT(*) AS BIGINT) AS c FROM basket GROUP BY 1
    ),
    co AS (
      SELECT a.l_partkey AS part, b.l_partkey AS rec,
             CAST(COUNT(*) AS BIGINT) AS c_ab
      FROM basket a JOIN basket b
        ON a.l_orderkey = b.l_orderkey AND a.l_partkey <> b.l_partkey
      GROUP BY 1, 2
      HAVING COUNT(*) >= {_Q271_MIN_CO}
    ),
    scored AS (
      SELECT co.part, co.rec, co.c_ab,
             co.c_ab * n.n * 1.0 / (ca.c * cb.c) AS lift_raw
      FROM co
      JOIN cnt ca ON ca.l_partkey = co.part
      JOIN cnt cb ON cb.l_partkey = co.rec
      CROSS JOIN n
    )
    SELECT part, rec, c_ab AS n_cooccur,
           FLOOR(lift_raw * 100 + 0.5) / 100 AS lift,
           CAST(rk AS INTEGER) AS rec_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY part
            ORDER BY lift_raw DESC, rec) AS rk FROM scored) t
    WHERE rk <= {_Q271_PER_PART}
    ORDER BY part, rec_rank
    """,
    doc='Per-item recommendations ("customers also bought"): for every '
    "part, the top-3 co-purchased parts by lift with a minimum of 2 "
    "co-occurrences — q262's association rules turned into the "
    "serving-shaped table a recommender reads, keyed for point "
    "lookups. The directed pair relation keeps BOTH orientations so "
    "every part gets its own shelf.",
)
def q271_copurchase_recs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same order-keyed pair join as q262 (fan-out bounded by
    basket size); the per-part top-3 is a WindowGroupLimit-eligible
    rank over the co-occurrence relation, which is itself bounded by
    pairs actually purchased together — never parts^2."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    basket = li.distinct()
    n = basket.agg(F.countDistinct("l_orderkey").cast("long").alias("n"))
    cnt = basket.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    a = basket.select("l_orderkey", F.col("l_partkey").alias("part"))
    b = basket.select("l_orderkey", F.col("l_partkey").alias("rec"))
    co = (
        a.join(b, "l_orderkey")
        .filter(F.col("part") != F.col("rec"))
        .groupBy("part", "rec")
        .agg(F.count(F.lit(1)).cast("long").alias("c_ab"))
        .filter(F.col("c_ab") >= _Q271_MIN_CO)
    )
    ca = cnt.select(F.col("l_partkey").alias("part"), F.col("c").alias("c_a"))
    cb = cnt.select(F.col("l_partkey").alias("rec"), F.col("c").alias("c_b"))
    scored = (
        co.join(ca, "part")
        .join(cb, "rec")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "lift_raw",
            F.col("c_ab") * F.col("n") * 1.0 / (F.col("c_a") * F.col("c_b")),
        )
    )
    return (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("part").orderBy(
                    F.col("lift_raw").desc(), "rec"
                )
            ),
        )
        .filter(F.col("rk") <= _Q271_PER_PART)
        .select(
            "part",
            "rec",
            F.col("c_ab").alias("n_cooccur"),
            round_half_up(F.col("lift_raw"), 2).alias("lift"),
            F.col("rk").cast("int").alias("rec_rank"),
        )
        .orderBy("part", "rec_rank")
    )


# ── q272: event-volume forecast (trend x day-of-week factor) ─────────────────

_Q272_HORIZON = 7


def _q272_sql() -> str:
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT d, n,
             CAST(date_diff('day', (SELECT MIN(d) FROM daily), d) AS BIGINT)
               AS t,
             CAST(dayofweek(d) AS INTEGER) % 7 AS dow
      FROM daily
    ),
    fit AS (
      SELECT regr_slope(n, t) AS b, regr_intercept(n, t) AS a,
             AVG(n) AS mean_n, CAST(MAX(t) AS BIGINT) AS t_max,
             MAX(d) AS d_max
      FROM idx
    ),
    dowf AS (
      SELECT dow, AVG(n) AS dow_mean FROM idx GROUP BY dow
    ),
    future AS (
      SELECT h, f.d_max + CAST(h AS INTEGER) AS d,
             f.t_max + h AS t,
             CAST(dayofweek(f.d_max + CAST(h AS INTEGER)) AS INTEGER) % 7
               AS dow,
             f.a, f.b, f.mean_n
      FROM (SELECT unnest(range(1, {_Q272_HORIZON + 1})) AS h) CROSS JOIN fit f
    )
    SELECT CAST(fu.h AS INTEGER) AS horizon_days, fu.d AS forecast_date,
           CAST(FLOOR((fu.a + fu.b * fu.t) * (w.dow_mean / fu.mean_n) + 0.5)
                AS BIGINT) AS forecast_events,
           FLOOR((fu.a + fu.b * fu.t) * 100 + 0.5) / 100 AS trend_component,
           FLOOR(w.dow_mean / fu.mean_n * 1000000 + 0.5) / 1000000
             AS dow_factor
    FROM future fu JOIN dowf w ON w.dow = fu.dow
    ORDER BY horizon_days
    """


@register(
    "q272_volume_forecast",
    _q272_sql(),
    doc="Capacity forecast: next-7-day event volume as OLS linear trend "
    "over the day index times a day-of-week multiplicative factor "
    "(dow mean over overall mean) — the two-component model that "
    "covers most ops traffic, as pure SQL. The regr_* fit and the dow "
    "factors come from the same single daily rollup; forecast dates "
    "extend from the observed maximum.",
)
def q272_volume_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE daily rollup of the event stream (map-side
    combinable to |days| rows); fit, factors, and the 7-row future
    spine all run on that tiny relation."""
    ev = load_table(spark, sf_dir, "events").select(F.col("ts").cast("date").alias("d"))
    daily = ev.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    dmin = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(dmin)).select(
        "d",
        "n",
        F.datediff("d", "d0").cast("long").alias("t"),
        (F.dayofweek("d") % 7).cast("int").alias("dow"),
    )
    fit = idx.agg(
        F.regr_slope(F.col("n").cast("double"), F.col("t").cast("double")).alias("b"),
        F.regr_intercept(F.col("n").cast("double"), F.col("t").cast("double")).alias("a"),
        F.avg("n").alias("mean_n"),
        F.max("t").cast("long").alias("t_max"),
        F.max("d").alias("d_max"),
    )
    dowf = idx.groupBy("dow").agg(F.avg("n").alias("dow_mean"))
    future = (
        spark.range(1, _Q272_HORIZON + 1)
        .select(F.col("id").cast("int").alias("h"))
        .crossJoin(F.broadcast(fit))
        .select(
            "h",
            F.date_add(F.col("d_max"), F.col("h")).alias("d"),
            (F.col("t_max") + F.col("h")).alias("t"),
            (F.dayofweek(F.date_add(F.col("d_max"), F.col("h"))) % 7)
            .cast("int")
            .alias("dow"),
            "a",
            "b",
            "mean_n",
        )
    )
    trend = F.col("a") + F.col("b") * F.col("t")
    return (
        future.join(F.broadcast(dowf), "dow")
        .select(
            F.col("h").cast("int").alias("horizon_days"),
            F.col("d").alias("forecast_date"),
            F.floor(trend * (F.col("dow_mean") / F.col("mean_n")) + 0.5)
            .cast("long")
            .alias("forecast_events"),
            round_half_up(trend, 2).alias("trend_component"),
            round_half_up(F.col("dow_mean") / F.col("mean_n"), 6).alias(
                "dow_factor"
            ),
        )
        .orderBy("horizon_days")
    )


# ── q273: k-NN distance outlier scores over embeddings ───────────────────────

_Q273_PROBES = 50
_Q273_K = 5
_Q273_TOP = 10


def _q273_sql() -> str:
    from .llm_ops import _COS

    cos = _COS.format(a="q.qe", b="c.embedding")
    return f"""
    WITH q AS (SELECT vec_id AS probe_id, embedding AS qe FROM embeddings
               WHERE vec_id < {_Q273_PROBES}),
    sims AS (
      SELECT probe_id, c.vec_id AS neighbor_id, ROUND({cos}, 6) AS sim
      FROM q JOIN embeddings c ON c.vec_id <> probe_id
    ),
    kth AS (
      SELECT probe_id, sim AS kth_sim FROM (
        SELECT probe_id, sim,
               ROW_NUMBER() OVER (PARTITION BY probe_id
                 ORDER BY sim DESC, neighbor_id) AS rank
        FROM sims) t
      WHERE rank = {_Q273_K}
    )
    SELECT probe_id,
           FLOOR((1 - kth_sim) * 1000000 + 0.5) / 1000000 AS outlier_score,
           kth_sim AS k5_cosine
    FROM kth
    ORDER BY kth_sim ASC, probe_id
    LIMIT {_Q273_TOP}
    """


@register(
    "q273_knn_outlier_scores",
    _q273_sql(),
    doc=f"Density-based outlier scoring: for {_Q273_PROBES} probe "
    f"vectors, the cosine to the {_Q273_K}-th nearest neighbor "
    "(k-distance) — vectors whose 5th neighbor is already far are in "
    "sparse regions: mislabeled, off-distribution, or noise. Top-10 "
    "outliers by score. The audit-sample form of the k-NN outlier "
    "family (LOF's first ingredient), sharing q30's exact-cosine "
    "machinery.",
)
def q273_knn_outlier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: this is q30's probes-x-corpus exact pass (the ground-truth
    price, amortized by sampling probes); a full-corpus outlier sweep
    swaps the exact pass for the IVF/LSH candidate join (q47/q32) with
    identical downstream ranking. The k-th-neighbor cut is
    WindowGroupLimit-eligible."""
    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    probes = emb.filter(F.col("vec_id") < _Q273_PROBES)
    topk = brute_force_topk(probes, emb, k=_Q273_K)
    kth = topk.filter(F.col("rank") == _Q273_K).select(
        F.col("query_id").alias("probe_id"), F.col("sim").alias("kth_sim")
    )
    return (
        kth.select(
            "probe_id",
            round_half_up(1 - F.col("kth_sim"), 6).alias("outlier_score"),
            F.col("kth_sim").alias("k5_cosine"),
        )
        # a zero-norm probe has a NULL cosine: DuckDB sorts it last
        .orderBy(F.asc_nulls_last("k5_cosine"), "probe_id")
        .limit(_Q273_TOP)
    )


# ── q274: DAU / WAU / MAU and stickiness ─────────────────────────────────────


@register(
    "q274_dau_wau_mau",
    """
    WITH du AS (
      SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events
    ),
    days AS (SELECT DISTINCT d FROM du),
    dau AS (
      SELECT d, CAST(COUNT(*) AS BIGINT) AS dau FROM du GROUP BY d
    ),
    wau AS (
      SELECT days.d, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS wau
      FROM days JOIN du ON du.d BETWEEN days.d - 6 AND days.d
      GROUP BY days.d
    ),
    mau AS (
      SELECT days.d, CAST(COUNT(DISTINCT du.user_id) AS BIGINT) AS mau
      FROM days JOIN du ON du.d BETWEEN days.d - 29 AND days.d
      GROUP BY days.d
    )
    SELECT dau.d AS day, dau.dau, wau.wau, mau.mau,
           FLOOR(dau.dau * 1.0 / mau.mau * 1000000 + 0.5) / 1000000
             AS stickiness
    FROM dau JOIN wau ON wau.d = dau.d JOIN mau ON mau.d = dau.d
    ORDER BY day DESC
    LIMIT 28
    """,
    doc="Product-analytics actives: DAU, rolling 7-day WAU and 30-day "
    "MAU (exact distinct users over the trailing window via a day-"
    "spine range join over the deduped (day,user) relation — count "
    "distinct over a window frame is not expressible directly, the "
    "spine join is the standard exact form), plus the DAU/MAU "
    "stickiness ratio; most recent 28 days.",
)
def q274_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the (day,user) dedup is one distinct; the spine join
    multiplies it by at most 30 (each activity row lands in <=30
    trailing windows) and re-aggregates — bounded blow-up, no
    corpus-wide window. At extreme user counts swap exact distinct for
    the q84 HLL registers per day and merge the trailing window's
    sketches (union is register-max)."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d"), "user_id"
    )
    du = ev.distinct()
    days = du.select("d").distinct()
    dau = du.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("dau"))

    def rolling(width, name):
        s = days.select(F.col("d").alias("wd"))
        return (
            F.broadcast(s)
            .join(
                du,
                (F.col("d") >= F.date_sub(F.col("wd"), width - 1))
                & (F.col("d") <= F.col("wd")),
            )
            .groupBy("wd")
            .agg(F.countDistinct("user_id").cast("long").alias(name))
            .select(F.col("wd").alias("d"), name)
        )

    wau = rolling(7, "wau")
    mau = rolling(30, "mau")
    return (
        dau.join(wau, "d")
        .join(mau, "d")
        .select(
            F.col("d").alias("day"),
            "dau",
            "wau",
            "mau",
            round_half_up(F.col("dau") * 1.0 / F.col("mau"), 6).alias(
                "stickiness"
            ),
        )
        .orderBy(F.desc("day"))
        .limit(28)
    )


# ── q275: ABC (Pareto) revenue classification of parts ───────────────────────


@register(
    "q275_abc_classification",
    """
    WITH rev AS (
      SELECT l_partkey,
             CAST(SUM(CAST(FLOOR(l_extendedprice * (1 - l_discount) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem GROUP BY l_partkey
    ),
    tot AS (SELECT CAST(SUM(cents) AS BIGINT) AS tc FROM rev),
    ranked AS (
      SELECT l_partkey, cents,
             SUM(cents) OVER (ORDER BY cents DESC, l_partkey) AS cum,
             tot.tc
      FROM rev CROSS JOIN tot
    ),
    classed AS (
      SELECT *,
             CASE WHEN cum * 1.0 / tc <= 0.8 THEN 'A'
                  WHEN cum * 1.0 / tc <= 0.95 THEN 'B'
                  ELSE 'C' END AS abc
      FROM ranked
    )
    SELECT abc,
           CAST(COUNT(*) AS BIGINT) AS n_parts,
           FLOOR(SUM(cents) * 1.0 / MAX(tc) * 1000000 + 0.5) / 1000000
             AS revenue_share,
           FLOOR(MIN(cents) / 100.0 * 100 + 0.5) / 100 AS min_part_revenue,
           FLOOR(MAX(cents) / 100.0 * 100 + 0.5) / 100 AS max_part_revenue
    FROM classed GROUP BY abc ORDER BY abc
    """,
    doc="ABC / Pareto classification: parts ranked by revenue, running "
    "cumulative share cut at 80% (A) and 95% (B) — the inventory-"
    "management classic that tells a team which 20% of items carry the "
    "business. Exact integer cents; the only window runs over the "
    "PART-level rollup, not fact rows.",
)
def q275_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: fact scan collapses to one part-keyed partial aggregate;
    the cumulative window orders the part relation (dimension-sized —
    at extreme part counts the q240 histogram shape substitutes)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_extendedprice", "l_discount"
    )
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    rev = li.groupBy("l_partkey").agg(F.sum(cents).cast("long").alias("cents"))
    tot = rev.agg(F.sum("cents").cast("long").alias("tc"))
    ranked = rev.crossJoin(F.broadcast(tot)).withColumn(
        "cum",
        F.sum("cents").over(
            Window.orderBy(F.col("cents").desc(), "l_partkey").rowsBetween(
                Window.unboundedPreceding, 0
            )
        ),
    )
    classed = ranked.withColumn(
        "abc",
        F.when(F.col("cum") * 1.0 / F.col("tc") <= 0.8, "A")
        .when(F.col("cum") * 1.0 / F.col("tc") <= 0.95, "B")
        .otherwise("C"),
    )
    return (
        classed.groupBy("abc")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_parts"),
            round_half_up(F.sum("cents") * 1.0 / F.max("tc"), 6).alias(
                "revenue_share"
            ),
            round_half_up(F.min("cents") / 100.0, 2).alias("min_part_revenue"),
            round_half_up(F.max("cents") / 100.0, 2).alias("max_part_revenue"),
        )
        .orderBy("abc")
    )


# ── q276: fulfillment-interval order statistics per priority ─────────────────


@register(
    "q276_fulfillment_intervals",
    """
    WITH lag AS (
      SELECT o.o_orderpriority AS priority,
             CAST(date_diff('day', CAST(o.o_orderdate AS DATE),
                            CAST(l.l_shipdate AS DATE)) AS BIGINT) AS days
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE l.l_shipdate >= o.o_orderdate
    ),
    n AS (SELECT priority, CAST(COUNT(*) AS BIGINT) AS n FROM lag GROUP BY 1),
    ranked AS (
      SELECT g.priority, g.days, n.n,
             ROW_NUMBER() OVER (PARTITION BY g.priority
               ORDER BY g.days) AS rn
      FROM lag g JOIN n ON n.priority = g.priority
    )
    SELECT priority, MAX(n) AS n_lines,
           CAST(SUM(days) AS BIGINT) // MAX(n) AS mean_days,
           MAX(CASE WHEN rn = CAST(CEIL(n * 0.5) AS BIGINT)
                    THEN days END) AS p50_days,
           MAX(CASE WHEN rn = CAST(CEIL(n * 0.9) AS BIGINT)
                    THEN days END) AS p90_days,
           MAX(days) AS max_days
    FROM ranked GROUP BY priority ORDER BY priority
    """,
    doc="Fulfillment SLA per order priority: order-to-ship interval "
    "with exact p50/p90 ORDER STATISTICS per priority group (the q266 "
    "rank-at-ceil(q*n) rule applied per group; rank ties share the "
    "same day value, so the selected statistic is order-free) and "
    "integer-division means — whether priority classes actually ship faster, answered "
    "with percentiles instead of means alone.",
)
def q276_fulfillment_intervals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one fact-dim join (orders broadcasts at dim scale or
    co-partitions on orderkey), one grouped rank per priority — five
    partitions, each shuffled once. The GK sketch replaces the exact
    rank at extreme line counts (q80's knob)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    lag = (
        li.join(o, F.col("o_orderkey") == F.col("l_orderkey"))
        .filter(F.col("l_shipdate") >= F.col("o_orderdate"))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.datediff(
                F.col("l_shipdate").cast("date"),
                F.col("o_orderdate").cast("date"),
            )
            .cast("long")
            .alias("days"),
        )
    )
    n = lag.groupBy("priority").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = lag.join(F.broadcast(n), "priority").withColumn(
        "rn",
        F.row_number().over(
            Window.partitionBy("priority").orderBy("days")
        ),
    )
    return (
        ranked.groupBy("priority")
        .agg(
            F.max("n").alias("n_lines"),
            F.expr("sum(days) div max(n)").cast("long").alias("mean_days"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") * 0.5).cast("long"),
                    F.col("days"),
                )
            ).alias("p50_days"),
            F.max(
                F.when(
                    F.col("rn") == F.ceil(F.col("n") * 0.9).cast("long"),
                    F.col("days"),
                )
            ).alias("p90_days"),
            F.max("days").alias("max_days"),
        )
        .orderBy("priority")
    )


# ── q277: dedup-detector agreement audit (MinHash vs SimHash) ────────────────


def _q277_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    mh = _REGISTRY["q24_minhash_lsh_dedup"].sql
    sh = _REGISTRY["q25_simhash_dedup"].sql
    return f"""
    WITH mh AS ({mh}),
    sh AS ({sh}),
    mp AS (SELECT DISTINCT doc_a, doc_b FROM mh),
    sp AS (SELECT DISTINCT doc_a, doc_b FROM sh),
    b AS (
      SELECT COALESCE(mp.doc_a, sp.doc_a) AS doc_a,
             COALESCE(mp.doc_b, sp.doc_b) AS doc_b,
             CASE WHEN mp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_mh,
             CASE WHEN sp.doc_a IS NOT NULL THEN 1 ELSE 0 END AS in_sh
      FROM mp FULL OUTER JOIN sp
        ON sp.doc_a = mp.doc_a AND sp.doc_b = mp.doc_b
    )
    SELECT CAST(SUM(in_mh) AS BIGINT) AS n_minhash_pairs,
           CAST(SUM(in_sh) AS BIGINT) AS n_simhash_pairs,
           CAST(SUM(in_mh * in_sh) AS BIGINT) AS n_both,
           FLOOR(SUM(in_mh * in_sh) * 1.0 / COUNT(*) * 1000000 + 0.5)
             / 1000000 AS pair_jaccard
    FROM b
    """


def _detector_agreement(mh_pairs: DataFrame, sh_pairs: DataFrame) -> DataFrame:
    """Shared aggregation for q277 and its from-index twin: full-outer
    join of two (doc_a, doc_b) pair relations + one scalar rollup. Both
    inputs are detector outputs, far smaller than the corpus."""
    mp = mh_pairs.select("doc_a", "doc_b").distinct().withColumn("in_mh", F.lit(1))
    sp = sh_pairs.select("doc_a", "doc_b").distinct().withColumn("in_sh", F.lit(1))
    b = mp.join(sp, ["doc_a", "doc_b"], "full_outer").select(
        F.coalesce(F.col("in_mh"), F.lit(0)).alias("in_mh"),
        F.coalesce(F.col("in_sh"), F.lit(0)).alias("in_sh"),
    )
    return b.agg(
        F.sum("in_mh").cast("long").alias("n_minhash_pairs"),
        F.sum("in_sh").cast("long").alias("n_simhash_pairs"),
        F.sum(F.col("in_mh") * F.col("in_sh")).cast("long").alias("n_both"),
        round_half_up(
            F.sum(F.col("in_mh") * F.col("in_sh")) * 1.0 / F.count(F.lit(1)), 6
        ).alias("pair_jaccard"),
    )


@register(
    "q277_detector_agreement",
    _q277_sql(),
    doc="Dedup-detector agreement audit: the pair sets surfaced by "
    "MinHash-LSH (q24) and SimHash (q25) compared as sets — sizes, "
    "intersection, and the Jaccard of the PAIR sets themselves. Low "
    "agreement between two detectors tuned for the same threshold is "
    "the canary that one of them is mis-calibrated for the corpus "
    "(the cross-detector sibling of q225's per-detector "
    "precision/recall audit).",
)
def q277_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both inputs are the already-bucketed detectors; the audit
    is a full-outer join of two pair relations (each far smaller than
    the corpus) and one scalar rollup. The from-index twin
    (pipelines/audit_index.py) reads MATERIALIZED pair relations
    instead of re-running both detectors."""
    from .queries import QUERY_REGISTRY as _REGISTRY, build_concurrently

    # Independent detector builds from a driver thread pool (guide §2.6;
    # r11): the two eager signature-base barriers previously ran
    # back-to-back. Pair relations unchanged.
    mh, sh = build_concurrently(
        lambda: _REGISTRY["q24_minhash_lsh_dedup"]
        .fn(spark, sf_dir)
        .localCheckpoint(eager=True),
        lambda: _REGISTRY["q25_simhash_dedup"]
        .fn(spark, sf_dir)
        .localCheckpoint(eager=True),
    )
    return _detector_agreement(mh, sh)


# ── q278: embedding drift in cluster units (share shift + JS divergence) ─────


def _q278_sql() -> str:
    from .extras import _kmeans_prefix_sql

    prefix = _kmeans_prefix_sql(
        n_centroids=12, sample_size=1024, n_iter=10, seed=42, dim=64
    )
    return f"""
    WITH {prefix},
    halves AS (
      SELECT cluster, neighbor_id % 2 AS half FROM cb
    ),
    cnts AS (
      SELECT cluster, half, CAST(COUNT(*) AS BIGINT) AS c
      FROM halves GROUP BY cluster, half
    ),
    tot AS (
      SELECT half, CAST(SUM(c) AS BIGINT) AS t FROM cnts GROUP BY half
    ),
    spine AS (SELECT DISTINCT cluster FROM cnts),
    m AS (
      SELECT s.cluster,
             COALESCE(a.c, 0) * 1.0 / ta.t AS p,
             COALESCE(b.c, 0) * 1.0 / tb.t AS q
      FROM spine s
      LEFT JOIN cnts a ON a.cluster = s.cluster AND a.half = 0
      LEFT JOIN cnts b ON b.cluster = s.cluster AND b.half = 1
      CROSS JOIN (SELECT t FROM tot WHERE half = 0) ta
      CROSS JOIN (SELECT t FROM tot WHERE half = 1) tb
    )
    SELECT CAST(cluster AS INTEGER) AS cluster,
           FLOOR(p * 1000000 + 0.5) / 1000000 AS share_a,
           FLOOR(q * 1000000 + 0.5) / 1000000 AS share_b,
           FLOOR(ABS(p - q) * 1000000 + 0.5) / 1000000 AS abs_shift,
           FLOOR((0.5 * (CASE WHEN p > 0
                    THEN p * log2(p / ((p + q) / 2)) ELSE 0 END)
                  + 0.5 * (CASE WHEN q > 0
                    THEN q * log2(q / ((p + q) / 2)) ELSE 0 END))
                 * 1000000 + 0.5) / 1000000 AS js_term
    FROM m ORDER BY cluster
    """


@register(
    "q278_cluster_share_drift",
    _q278_sql(),
    doc="Embedding-distribution drift in INTERPRETABLE units: assign the "
    "corpus to the q203 k-means clusters, split into even/odd halves, "
    "and compare per-cluster population shares — absolute shift plus "
    "per-cluster Jensen-Shannon contributions (q198's JS idiom over "
    "clusters instead of vocabulary). Where q213 says 'dimension 17 "
    "moved', this says 'cluster 4 doubled' — the form a human debugs.",
)
def q278_cluster_share_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one quantizer train + one map-side assignment (q47's
    machinery); everything after is a |clusters| x 2 rollup. The same
    query monitors ingest increments against a FROZEN quantizer —
    centroids ride the closure, so no retrain per check."""
    from ..operators.similarity import _centroid_matrix, ivf_assign

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = _centroid_matrix(emb, "vec_id", "embedding", 12)
    cb = ivf_assign(emb, cents, "vec_id", "embedding", n_probe=1).select(
        "cluster", (F.col("vec_id") % 2).alias("half")
    )
    cnts = cb.groupBy("cluster", "half").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    tot = cnts.groupBy("half").agg(F.sum("c").cast("long").alias("t"))
    spine = cnts.select("cluster").distinct()
    a = cnts.filter(F.col("half") == 0).select("cluster", F.col("c").alias("ca"))
    b = cnts.filter(F.col("half") == 1).select("cluster", F.col("c").alias("cb"))
    ta = tot.filter(F.col("half") == 0).select(F.col("t").alias("ta"))
    tb = tot.filter(F.col("half") == 1).select(F.col("t").alias("tb"))
    m = (
        spine.join(a, "cluster", "left")
        .join(b, "cluster", "left")
        .crossJoin(F.broadcast(ta))
        .crossJoin(F.broadcast(tb))
        .select(
            "cluster",
            (F.coalesce(F.col("ca"), F.lit(0)) * 1.0 / F.col("ta")).alias("p"),
            (F.coalesce(F.col("cb"), F.lit(0)) * 1.0 / F.col("tb")).alias("q"),
        )
    )
    js = 0.5 * F.when(
        F.col("p") > 0,
        F.col("p") * F.log2(F.col("p") / ((F.col("p") + F.col("q")) / 2)),
    ).otherwise(0.0) + 0.5 * F.when(
        F.col("q") > 0,
        F.col("q") * F.log2(F.col("q") / ((F.col("p") + F.col("q")) / 2)),
    ).otherwise(0.0)
    return m.select(
        F.col("cluster").cast("int").alias("cluster"),
        round_half_up(F.col("p"), 6).alias("share_a"),
        round_half_up(F.col("q"), 6).alias("share_b"),
        round_half_up(F.abs(F.col("p") - F.col("q")), 6).alias("abs_shift"),
        round_half_up(js, 6).alias("js_term"),
    ).orderBy("cluster")


# ── q279: supplier concentration (Herfindahl index per nation) ───────────────


@register(
    "q279_supplier_hhi",
    """
    WITH rev AS (
      SELECT n.n_name AS nation, s.s_suppkey,
             CAST(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100
                                 + 0.5) AS BIGINT)) AS BIGINT) AS cents
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      GROUP BY n.n_name, s.s_suppkey
    ),
    tot AS (
      SELECT nation, CAST(SUM(cents) AS BIGINT) AS tc,
             CAST(COUNT(*) AS BIGINT) AS n_suppliers
      FROM rev GROUP BY nation
    ),
    terms AS (
      SELECT r.nation, t.n_suppliers,
             CAST(FLOOR((r.cents * 1.0 / t.tc) * (r.cents * 1.0 / t.tc)
                        * 1000000000 + 0.5) AS BIGINT) AS h_u
      FROM rev r JOIN tot t ON t.nation = r.nation
    )
    SELECT nation, MAX(n_suppliers) AS n_suppliers,
           FLOOR(SUM(h_u) / 1000000000.0 * 1000000 + 0.5) / 1000000 AS hhi,
           FLOOR(1.0 / MAX(n_suppliers) * 1000000 + 0.5) / 1000000
             AS hhi_floor
    FROM terms GROUP BY nation ORDER BY nation
    """,
    doc="Supply-concentration risk: the Herfindahl-Hirschman index of "
    "supplier revenue shares within each nation (per-supplier share "
    "squared, quantized to integer nano-units BEFORE the order-free "
    "sum), alongside the theoretical floor 1/n — HHI near the floor "
    "means healthy diversification, near 1 means one supplier owns "
    "the nation's supply (the concentration sibling of q180's Gini).",
)
def q279_supplier_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one fact rollup to (nation, supplier) cells, one
    nation-level rollup — the squared-share terms never touch fact
    rows. Dims broadcast."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sup = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    cents = F.floor(
        F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5
    ).cast("long")
    rev = (
        li.join(F.broadcast(sup), F.col("s_suppkey") == F.col("l_suppkey"))
        .join(F.broadcast(nat), F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(F.col("n_name").alias("nation"), "s_suppkey")
        .agg(F.sum(cents).cast("long").alias("cents"))
    )
    tot = rev.groupBy("nation").agg(
        F.sum("cents").cast("long").alias("tc"),
        F.count(F.lit(1)).cast("long").alias("n_suppliers"),
    )
    share = F.col("cents") * 1.0 / F.col("tc")
    terms = rev.join(F.broadcast(tot), "nation").select(
        "nation",
        "n_suppliers",
        F.floor(share * share * 1000000000 + 0.5).cast("long").alias("h_u"),
    )
    return (
        terms.groupBy("nation")
        .agg(
            F.max("n_suppliers").alias("n_suppliers"),
            round_half_up(F.sum("h_u") / 1000000000.0, 6).alias("hhi"),
            round_half_up(1.0 / F.max("n_suppliers"), 6).alias("hhi_floor"),
        )
        .orderBy("nation")
    )


# ── q280: corpus-funnel dashboard (the curation pipeline, certified) ─────────


def _q280_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    dedup = _REGISTRY["q22_dedup_exact"].sql
    model = _REGISTRY["q173_quality_logreg"].sql
    contam = _REGISTRY["q72_contamination_check"].sql
    return f"""
    WITH dd AS ({dedup}),
    m AS ({model}),
    ct AS ({contam}),
    keeps AS (SELECT keep_id AS doc_id FROM dd),
    passes AS (SELECT doc_id FROM m WHERE quality_pass),
    dirty AS (SELECT DISTINCT doc_id FROM ct),
    docs AS (SELECT doc_id FROM documents),
    flags AS (
      SELECT d.doc_id,
             CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS kept,
             CASE WHEN p.doc_id IS NOT NULL THEN 1 ELSE 0 END AS passed,
             CASE WHEN x.doc_id IS NOT NULL THEN 1 ELSE 0 END AS contaminated
      FROM docs d
      LEFT JOIN keeps k ON k.doc_id = d.doc_id
      LEFT JOIN passes p ON p.doc_id = d.doc_id
      LEFT JOIN dirty x ON x.doc_id = d.doc_id
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept) AS BIGINT) AS n_after_exact_dedup,
           CAST(SUM(kept * passed) AS BIGINT) AS n_after_quality,
           CAST(SUM(kept * passed * (1 - contaminated)) AS BIGINT) AS n_final,
           FLOOR((1 - SUM(kept * passed * (1 - contaminated)) * 1.0
                  / COUNT(*)) * 1000000 + 0.5) / 1000000 AS drop_fraction
    FROM flags
    """


@register(
    "q280_corpus_funnel",
    _q280_sql(),
    doc="The curation funnel as ONE certified row: corpus size, "
    "survivors of exact dedup (q22 canonical keeps), of the q173 "
    "quality gate, and of q72 benchmark decontamination, with the "
    "total drop fraction — the hash-checked twin of the funnel counts "
    "`pipelines/corpus.py:curate_corpus` reports, so the pipeline's "
    "bookkeeping is itself under the oracle gate.",
)
def q280_corpus_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: three already-audited map/join stages feeding three
    semi-join flags on doc_id (co-partitioned: zero extra shuffles on a
    bucketed lake) and one global fold."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keeps = (
        _REGISTRY["q22_dedup_exact"].fn(spark, sf_dir)
        .select(F.col("keep_id").alias("doc_id"))
        .withColumn("kept", F.lit(1))
    )
    passes = (
        _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir)
        .filter(F.col("quality_pass"))
        .select("doc_id")
        .withColumn("passed", F.lit(1))
    )
    dirty = (
        _REGISTRY["q72_contamination_check"].fn(spark, sf_dir)
        .select("doc_id")
        .distinct()
        .withColumn("contaminated", F.lit(1))
    )
    flags = (
        docs.join(keeps, "doc_id", "left")
        .join(passes, "doc_id", "left")
        .join(dirty, "doc_id", "left")
        .select(
            F.coalesce(F.col("kept"), F.lit(0)).alias("kept"),
            F.coalesce(F.col("passed"), F.lit(0)).alias("passed"),
            F.coalesce(F.col("contaminated"), F.lit(0)).alias("contaminated"),
        )
    )
    final = F.col("kept") * F.col("passed") * (1 - F.col("contaminated"))
    return flags.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("kept").cast("long").alias("n_after_exact_dedup"),
        F.sum(F.col("kept") * F.col("passed"))
        .cast("long")
        .alias("n_after_quality"),
        F.sum(final).cast("long").alias("n_final"),
        round_half_up(
            1 - F.sum(final) * 1.0 / F.count(F.lit(1)), 6
        ).alias("drop_fraction"),
    )


# ── q281: stratified-sample audit (achieved vs target mix, binomial z) ───────


def _q281_sql() -> str:
    from .advanced import _MIX
    from .queries import QUERY_REGISTRY as _REGISTRY

    sample = _REGISTRY["q88_stratified_sample"].sql
    cases = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(_MIX.items())
    )
    return f"""
    WITH s AS ({sample}),
    pop AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pop FROM documents
      GROUP BY lang
    ),
    got AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_got FROM s GROUP BY lang),
    j AS (
      SELECT p.lang, p.n_pop, COALESCE(g.n_got, 0) AS n_got,
             CASE p.lang {cases} ELSE 0.0 END AS target_rate
      FROM pop p LEFT JOIN got g ON g.lang = p.lang
    )
    SELECT lang, n_pop, n_got,
           FLOOR(target_rate * 1000000 + 0.5) / 1000000 AS target_rate,
           FLOOR(n_got * 1.0 / n_pop * 1000000 + 0.5) / 1000000
             AS achieved_rate,
           FLOOR(CASE WHEN target_rate IN (0.0, 1.0)
                      THEN 0.0
                      ELSE (n_got * 1.0 / n_pop - target_rate)
                           / SQRT(target_rate * (1 - target_rate) / n_pop)
                      END * 10000 + 0.5) / 10000 AS binomial_z,
           CASE WHEN target_rate IN (0.0, 1.0)
                THEN n_got = CAST(FLOOR(target_rate * n_pop + 0.5) AS BIGINT)
                ELSE ABS((n_got * 1.0 / n_pop - target_rate)
                     / SQRT(target_rate * (1 - target_rate) / n_pop)) <= 4.0
                END AS within_4_sigma
    FROM j ORDER BY lang
    """


@register(
    "q281_sample_mix_audit",
    _q281_sql(),
    doc="Sampling QA closing the loop on q88: per stratum, the achieved "
    "sampling rate against the declared mix with a binomial z-score "
    "and a 4-sigma acceptance flag (deterministic-hash sampling is "
    "binomial in the doc population, so a violated band means the "
    "sampler or the spec is broken, not bad luck); degenerate strata "
    "(keep-all / drop-all) must match exactly. The audit every "
    "mixture-sampled training run should log next to its config.",
)
def q281_sample_mix_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two |strata|-key rollups (one over the corpus, one over
    the sample) and scalar math — the audit costs two partial
    aggregates regardless of corpus size."""
    from .advanced import _MIX
    from .queries import QUERY_REGISTRY as _REGISTRY

    pop = (
        load_table(spark, sf_dir, "documents")
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pop"))
    )
    got = (
        _REGISTRY["q88_stratified_sample"].fn(spark, sf_dir)
        .groupBy("lang")
        .agg(F.count(F.lit(1)).cast("long").alias("n_got"))
    )
    target = F.lit(0.0)
    for lang, rate in sorted(_MIX.items()):
        target = F.when(F.col("lang") == lang, F.lit(float(rate))).otherwise(
            target
        )
    j = (
        pop.join(got, "lang", "left")
        .select(
            "lang",
            "n_pop",
            F.coalesce(F.col("n_got"), F.lit(0)).alias("n_got"),
            target.alias("target_rate"),
        )
    )
    degen = F.col("target_rate").isin(0.0, 1.0)
    z = (F.col("n_got") * 1.0 / F.col("n_pop") - F.col("target_rate")) / F.sqrt(
        F.col("target_rate") * (1 - F.col("target_rate")) / F.col("n_pop")
    )
    return j.select(
        "lang",
        "n_pop",
        "n_got",
        round_half_up(F.col("target_rate"), 6).alias("target_rate"),
        round_half_up(F.col("n_got") * 1.0 / F.col("n_pop"), 6).alias(
            "achieved_rate"
        ),
        round_half_up(F.when(degen, F.lit(0.0)).otherwise(z), 4).alias(
            "binomial_z"
        ),
        F.when(
            degen,
            F.col("n_got")
            == F.floor(F.col("target_rate") * F.col("n_pop") + 0.5).cast("long"),
        )
        .otherwise(F.abs(z) <= 4.0)
        .alias("within_4_sigma"),
    ).orderBy("lang")


# ── q282: bootstrap confidence interval on the ROC AUC ───────────────────────

_Q282_B = 64


def _q282_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q173_quality_logreg"].sql
    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    ladder = " ".join(
        f"WHEN u < {c} THEN {k}" for k, c in enumerate(_Q247_CDF)
    )
    return f"""
    WITH m AS ({model}),
    g AS ({gate}),
    j AS MATERIALIZED (
      SELECT m.doc_id,
             CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT) AS score_u,
             CASE WHEN g.passes THEN 1 ELSE 0 END AS label
      FROM m JOIN g ON m.doc_id = g.doc_id
    ),
    point AS (
      SELECT CAST(SUM(pos * (2 * cum_before + cnt + 1)) AS BIGINT) AS s2,
             CAST(SUM(pos) AS BIGINT) AS np, CAST(SUM(cnt - pos) AS BIGINT) AS nn
      FROM (
        SELECT pos, cnt,
               COALESCE(SUM(cnt) OVER (ORDER BY score_u
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM (SELECT score_u, CAST(COUNT(*) AS BIGINT) AS cnt,
                     CAST(SUM(label) AS BIGINT) AS pos
              FROM j GROUP BY score_u))
    ),
    w AS (
      SELECT b, score_u, label, CASE {ladder} ELSE 8 END AS wt
      FROM (
        SELECT s.b, j.score_u, j.label,
               (CAST(('0x' || substr(md5('ab|' || CAST(s.b AS VARCHAR) || '|'
                  || CAST(j.doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
                 / 1152921504606846976.0 AS u
        FROM j CROSS JOIN (SELECT unnest(range({_Q282_B})) AS b) s)
    ),
    hist AS (
      SELECT b, score_u, CAST(SUM(wt) AS BIGINT) AS cnt,
             CAST(SUM(wt * label) AS BIGINT) AS pos
      FROM w GROUP BY b, score_u
    ),
    r AS (
      SELECT b, pos, cnt,
             COALESCE(SUM(cnt) OVER (PARTITION BY b ORDER BY score_u
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cum_before
      FROM hist
    ),
    reps AS (
      SELECT b,
             (SUM(pos * (2 * cum_before + cnt + 1)) / 2.0
              - SUM(pos) * (SUM(pos) + 1) / 2.0)
             / (SUM(pos) * SUM(cnt - pos)) AS auc_b
      FROM r GROUP BY b
    ),
    ranked AS (
      SELECT auc_b, ROW_NUMBER() OVER (ORDER BY auc_b, b) AS rn FROM reps
    )
    SELECT p.np + p.nn AS n_docs,
           CAST({_Q282_B} AS BIGINT) AS n_resamples,
           FLOOR((p.s2 / 2.0 - p.np * (p.np + 1) / 2.0) / (p.np * p.nn)
                 * 1000000 + 0.5) / 1000000 AS auc,
           FLOOR(MAX(CASE WHEN rn = 2 THEN auc_b END) * 1000000 + 0.5)
             / 1000000 AS ci_lo,
           FLOOR(MAX(CASE WHEN rn = {_Q282_B - 1} THEN auc_b END) * 1000000
                 + 0.5) / 1000000 AS ci_hi
    FROM ranked CROSS JOIN point p
    GROUP BY p.s2, p.np, p.nn
    """


@register(
    "q282_auc_bootstrap_ci",
    _q282_sql(),
    doc="Uncertainty on a model metric: a ~95% bootstrap CI for q240's "
    "ROC AUC from B=64 seeded-Poisson replicates — each replicate "
    "reweights the SCORE HISTOGRAM (integer Poisson weights fold into "
    "the midrank rank-sum exactly as counts do), so the whole "
    "resampling study is 64 histogram windows, never 64 corpus "
    "passes. The number that belongs next to any AUC before a "
    "model-gate decision (q247's machinery applied to a metric "
    "instead of a mean).",
)
def q282_auc_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE corpus join builds (score_u, label); the replicate
    spine multiplies map work by B into a (B x distinct-scores)
    histogram — bounded by score resolution; every window runs on that
    relation. CI order statistics over 64 rows."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("score_u"),
    )
    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("label")
    )
    j = m.join(g, "doc_id")
    # point estimate (q240's shape)
    h0 = j.groupBy("score_u").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("label").cast("long").alias("pos"),
    )
    w0 = Window.orderBy("score_u").rowsBetween(Window.unboundedPreceding, -1)
    point = (
        h0.select(
            "pos",
            "cnt",
            F.coalesce(F.sum("cnt").over(w0), F.lit(0)).alias("cum_before"),
        )
        .agg(
            F.sum(F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1))
            .cast("long")
            .alias("s2"),
            F.sum("pos").cast("long").alias("np"),
            F.sum(F.col("cnt") - F.col("pos")).cast("long").alias("nn"),
        )
    )
    spine = spark.range(_Q282_B).select(F.col("id").cast("int").alias("b"))
    u = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("ab|"),
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("doc_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1
    ) / F.lit(1152921504606846976.0)
    wt = F.lit(8)
    for k in range(len(_Q247_CDF) - 1, -1, -1):
        wt = F.when(F.col("u") < F.lit(float(_Q247_CDF[k])), F.lit(k)).otherwise(wt)
    hist = (
        j.crossJoin(F.broadcast(spine))
        .select("b", "score_u", "label", u.alias("u"))
        .select("b", "score_u", "label", wt.alias("wt"))
        .groupBy("b", "score_u")
        .agg(
            F.sum("wt").cast("long").alias("cnt"),
            F.sum(F.col("wt") * F.col("label")).cast("long").alias("pos"),
        )
    )
    wb = (
        Window.partitionBy("b")
        .orderBy("score_u")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = hist.select(
        "b",
        "pos",
        "cnt",
        F.coalesce(F.sum("cnt").over(wb), F.lit(0)).alias("cum_before"),
    )
    # try_divide: a single-class corpus (or a replicate whose Poisson
    # weights zero out one class) has np*nn = 0 -> that AUC is
    # undefined (NULL, matching DuckDB); asc_nulls_last mirrors
    # DuckDB's default NULLS LAST rank order over the defined AUCs
    reps = r.groupBy("b").agg(
        F.try_divide(
            F.sum(F.col("pos") * (2 * F.col("cum_before") + F.col("cnt") + 1))
            / 2.0
            - F.sum("pos") * (F.sum("pos") + 1) / 2.0,
            F.sum("pos") * F.sum(F.col("cnt") - F.col("pos")),
        ).alias("auc_b")
    )
    ranked = reps.select(
        "auc_b",
        F.row_number()
        .over(Window.orderBy(F.col("auc_b").asc_nulls_last(), F.col("b")))
        .alias("rn"),
    )
    auc_point = F.try_divide(
        F.col("s2") / 2.0 - F.col("np") * (F.col("np") + 1) / 2.0,
        F.col("np") * F.col("nn"),
    )
    return (
        ranked.crossJoin(F.broadcast(point))
        .groupBy("s2", "np", "nn")
        .agg(
            round_half_up(
                F.max(F.when(F.col("rn") == 2, F.col("auc_b"))), 6
            ).alias("ci_lo"),
            round_half_up(
                F.max(F.when(F.col("rn") == _Q282_B - 1, F.col("auc_b"))), 6
            ).alias("ci_hi"),
        )
        .select(
            (F.col("np") + F.col("nn")).cast("long").alias("n_docs"),
            F.lit(_Q282_B).cast("long").alias("n_resamples"),
            round_half_up(auc_point, 6).alias("auc"),
            "ci_lo",
            "ci_hi",
        )
    )


# ── q283: volume-anomaly days (residuals against the q272 model) ─────────────


@register(
    "q283_volume_anomalies",
    """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    idx AS (
      SELECT d, n,
             CAST(date_diff('day', (SELECT MIN(d) FROM daily), d) AS BIGINT)
               AS t,
             CAST(dayofweek(d) AS INTEGER) % 7 AS dow
      FROM daily
    ),
    fit AS (
      SELECT regr_slope(n, t) AS b, regr_intercept(n, t) AS a, AVG(n) AS mean_n
      FROM idx
    ),
    dowf AS (SELECT dow, AVG(n) AS dow_mean FROM idx GROUP BY dow),
    resid AS (
      SELECT i.d, i.n,
             CAST(FLOOR((i.n - (f.a + f.b * i.t) * (w.dow_mean / f.mean_n))
                        * 100 + 0.5) AS BIGINT) AS r_u
      FROM idx i JOIN dowf w ON w.dow = i.dow CROSS JOIN fit f
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nd,
             CAST(SUM(r_u) AS BIGINT) AS s1,
             CAST(SUM(r_u * r_u) AS BIGINT) AS s2
      FROM resid
    )
    SELECT r.d AS day, r.n AS n_events,
           FLOOR(r.r_u / 100.0 * 100 + 0.5) / 100 AS residual,
           FLOOR(ABS(r.r_u - s.s1 * 1.0 / s.nd)
                 / SQRT((s.s2 * 1.0 / s.nd)
                        - (s.s1 * 1.0 / s.nd) * (s.s1 * 1.0 / s.nd))
                 * 10000 + 0.5) / 10000 AS abs_z
    FROM resid r CROSS JOIN stats s
    ORDER BY ABS(r.r_u - s.s1 * 1.0 / s.nd)
             / SQRT((s.s2 * 1.0 / s.nd)
                    - (s.s1 * 1.0 / s.nd) * (s.s1 * 1.0 / s.nd)) DESC, r.d
    LIMIT 10
    """,
    doc="Anomalous traffic days: in-sample residuals of daily event "
    "volume against q272's trend x day-of-week model, standardized by "
    "the residual moment statistics (residuals quantized to integer "
    "centi-events BEFORE the moment sums, so mean and variance are "
    "order-free exact), top-10 days by |z| — which days broke the "
    "capacity model: incidents, launches, or holidays.",
)
def q283_volume_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one daily rollup; fit, factors, residuals, and moments all
    live on the |days| relation. Shares every intermediate with q272 —
    a combined report would compute them once."""
    ev = load_table(spark, sf_dir, "events").select(
        F.col("ts").cast("date").alias("d")
    )
    daily = ev.groupBy("d").agg(F.count(F.lit(1)).cast("long").alias("n"))
    dmin = daily.agg(F.min("d").alias("d0"))
    idx = daily.crossJoin(F.broadcast(dmin)).select(
        "d",
        "n",
        F.datediff("d", "d0").cast("long").alias("t"),
        (F.dayofweek("d") % 7).cast("int").alias("dow"),
    )
    fit = idx.agg(
        F.regr_slope(F.col("n").cast("double"), F.col("t").cast("double")).alias("b"),
        F.regr_intercept(F.col("n").cast("double"), F.col("t").cast("double")).alias("a"),
        F.avg("n").alias("mean_n"),
    )
    dowf = idx.groupBy("dow").agg(F.avg("n").alias("dow_mean"))
    fitted = (F.col("a") + F.col("b") * F.col("t")) * (
        F.col("dow_mean") / F.col("mean_n")
    )
    resid = (
        idx.join(F.broadcast(dowf), "dow")
        .crossJoin(F.broadcast(fit))
        .select(
            "d",
            "n",
            F.floor((F.col("n") - fitted) * 100 + 0.5).cast("long").alias("r_u"),
        )
    )
    stats = resid.agg(
        F.count(F.lit(1)).cast("long").alias("nd"),
        F.sum("r_u").cast("long").alias("s1"),
        F.sum(F.col("r_u") * F.col("r_u")).cast("long").alias("s2"),
    )
    mean = F.col("s1") * 1.0 / F.col("nd")
    var = (F.col("s2") * 1.0 / F.col("nd")) - mean * mean
    z = F.abs(F.col("r_u") - mean) / F.sqrt(var)
    return (
        resid.crossJoin(F.broadcast(stats))
        .select(
            F.col("d").alias("day"),
            F.col("n").alias("n_events"),
            round_half_up(F.col("r_u") / 100.0, 2).alias("residual"),
            round_half_up(z, 4).alias("abs_z"),
            z.alias("__o"),
        )
        .orderBy(F.col("__o").desc(), "day")
        .drop("__o")
        .limit(10)
    )


# ── q284: growth accounting (new / retained / resurrected / churned) ─────────


@register(
    "q284_growth_accounting",
    """
    WITH wu AS (
      SELECT DISTINCT CAST(date_trunc('week', CAST(ts AS DATE)) AS DATE) AS w,
             user_id
      FROM events
    ),
    firsts AS (SELECT user_id, MIN(w) AS first_w FROM wu GROUP BY user_id),
    lagged AS (
      SELECT wu.w, wu.user_id, f.first_w,
             LAG(wu.w) OVER (PARTITION BY wu.user_id ORDER BY wu.w) AS prev_w
      FROM wu JOIN firsts f ON f.user_id = wu.user_id
    ),
    flags AS (
      SELECT w, user_id,
             CASE WHEN w = first_w THEN 1 ELSE 0 END AS is_new,
             CASE WHEN prev_w = w - 7 THEN 1 ELSE 0 END AS is_retained,
             CASE WHEN w <> first_w AND (prev_w IS NULL OR prev_w < w - 7)
                  THEN 1 ELSE 0 END AS is_resurrected
      FROM lagged
    ),
    active AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS active,
             CAST(SUM(is_new) AS BIGINT) AS new_users,
             CAST(SUM(is_retained) AS BIGINT) AS retained,
             CAST(SUM(is_resurrected) AS BIGINT) AS resurrected
      FROM flags GROUP BY w
    ),
    churn AS (
      SELECT w + 7 AS w, CAST(COUNT(*) AS BIGINT) AS churned
      FROM (
        SELECT w, user_id,
               LEAD(w) OVER (PARTITION BY user_id ORDER BY w) AS next_w
        FROM wu) t
      WHERE next_w IS NULL OR next_w > w + 7
      GROUP BY w + 7
    )
    SELECT a.w AS week, a.active, a.new_users, a.retained, a.resurrected,
           CAST(COALESCE(c.churned, 0) AS BIGINT) AS churned_from_prev,
           FLOOR(a.retained * 1.0 / NULLIF(a.active, 0) * 1000000 + 0.5)
             / 1000000 AS retained_share
    FROM active a LEFT JOIN churn c ON c.w = a.w
    ORDER BY week
    """,
    doc="Growth accounting: weekly actives decomposed into NEW (first "
    "week ever), RETAINED (also active the prior week), and "
    "RESURRECTED (returned after a gap), plus users CHURNED out of "
    "the previous week — the new+retained+resurrected = active "
    "identity every growth team reconciles. One (week,user) dedup, "
    "one per-user lag/lead pass.",
)
def q284_growth_accounting(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the (week,user) distinct is the only corpus-sized step;
    lag/lead shuffle once on user_id (the shared sequence
    partitioning) and the rollup is |weeks| rows."""
    ev = load_table(spark, sf_dir, "events").select(
        F.date_trunc("week", F.col("ts").cast("date")).cast("date").alias("w"),
        "user_id",
    )
    wu = ev.distinct()
    firsts = wu.groupBy("user_id").agg(F.min("w").alias("first_w"))
    lw = Window.partitionBy("user_id").orderBy("w")
    lagged = wu.join(firsts, "user_id").select(
        "w",
        "user_id",
        "first_w",
        F.lag("w").over(lw).alias("prev_w"),
        F.lead("w").over(lw).alias("next_w"),
    )
    flags = lagged.select(
        "w",
        F.when(F.col("w") == F.col("first_w"), 1).otherwise(0).alias("is_new"),
        F.when(F.col("prev_w") == F.date_sub(F.col("w"), 7), 1)
        .otherwise(0)
        .alias("is_retained"),
        F.when(
            (F.col("w") != F.col("first_w"))
            & (
                F.col("prev_w").isNull()
                | (F.col("prev_w") < F.date_sub(F.col("w"), 7))
            ),
            1,
        )
        .otherwise(0)
        .alias("is_resurrected"),
    )
    active = flags.groupBy("w").agg(
        F.count(F.lit(1)).cast("long").alias("active"),
        F.sum("is_new").cast("long").alias("new_users"),
        F.sum("is_retained").cast("long").alias("retained"),
        F.sum("is_resurrected").cast("long").alias("resurrected"),
    )
    churn = (
        lagged.filter(
            F.col("next_w").isNull()
            | (F.col("next_w") > F.date_add(F.col("w"), 7))
        )
        .groupBy(F.date_add(F.col("w"), 7).alias("w"))
        .agg(F.count(F.lit(1)).cast("long").alias("churned"))
    )
    return (
        active.join(churn, "w", "left")
        .select(
            F.col("w").alias("week"),
            "active",
            "new_users",
            "retained",
            "resurrected",
            F.coalesce(F.col("churned"), F.lit(0))
            .cast("long")
            .alias("churned_from_prev"),
            round_half_up(
                F.col("retained") * 1.0 / F.nullif(F.col("active"), F.lit(0)),
                6,
            ).alias("retained_share"),
        )
        .orderBy("week")
    )


# ── q285: expected calibration error (the q239 summary scalar) ───────────────


def _q285_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    cal = _REGISTRY["q239_calibration_brier"].sql
    return f"""
    WITH c AS ({cal}),
    t AS (SELECT CAST(SUM(n_docs) AS BIGINT) AS n FROM c)
    SELECT t.n AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_buckets,
           FLOOR(SUM(c.n_docs * c.calib_gap) / t.n * 1000000 + 0.5) / 1000000
             AS ece,
           FLOOR(MAX(c.calib_gap) * 1000000 + 0.5) / 1000000 AS mce,
           FLOOR(SUM(c.n_docs * c.brier) / t.n * 1000000 + 0.5) / 1000000
             AS brier
    FROM c CROSS JOIN t
    GROUP BY t.n
    """


@register(
    "q285_expected_calibration_error",
    _q285_sql(),
    doc="Expected Calibration Error: the doc-weighted mean of q239's "
    "per-decile |predicted - observed| gaps, plus the Maximum "
    "Calibration Error and the pooled Brier score — the three scalars "
    "a model gate thresholds on (q239 shows WHERE miscalibration "
    "lives; this is the number that goes in the SLO). Weighted sums "
    "run over the 10-row bucket relation with already-quantized "
    "inputs.",
)
def q285_expected_calibration_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: composes the q239 bucket relation (10 rows after its one
    corpus pass) — the summary costs nothing beyond its input."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    c = _REGISTRY["q239_calibration_brier"].fn(spark, sf_dir)
    t = c.agg(F.sum("n_docs").cast("long").alias("n"))
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("n")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            round_half_up(
                F.sum(F.col("n_docs") * F.col("calib_gap")) / F.col("n"), 6
            ).alias("ece"),
            round_half_up(F.max("calib_gap"), 6).alias("mce"),
            round_half_up(
                F.sum(F.col("n_docs") * F.col("brier")) / F.col("n"), 6
            ).alias("brier"),
        )
        .select(
            F.col("n").alias("n_docs"), "n_buckets", "ece", "mce", "brier"
        )
    )


# ── q286: context-length planner (truncation loss vs slot count sweep) ───────

_Q286_LENGTHS = [64, 128, 256, 512, 1024]


def _q286_sql() -> str:
    lens = ", ".join(f"({L})" for L in _Q286_LENGTHS)
    return rf"""
    WITH dt AS (
      SELECT doc_id,
             CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT)
               AS n_tok
      FROM documents WHERE len(trim(text)) > 0
    ),
    cfg AS (SELECT * FROM (VALUES {lens}) AS t(ctx)),
    per AS (
      SELECT c.ctx,
             CAST(SUM(dt.n_tok) AS BIGINT) AS total_tokens,
             CAST(SUM(LEAST(dt.n_tok, c.ctx)) AS BIGINT) AS kept_tokens,
             CAST(SUM(CASE WHEN dt.n_tok > c.ctx THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_truncated,
             CAST(SUM((dt.n_tok + c.ctx - 1) // c.ctx) AS BIGINT)
               AS n_chunks,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM cfg c CROSS JOIN dt
      GROUP BY c.ctx
    )
    SELECT CAST(ctx AS INTEGER) AS context_len, n_docs, n_truncated,
           FLOOR((total_tokens - kept_tokens) * 1.0 / total_tokens
                 * 1000000 + 0.5) / 1000000 AS truncation_loss,
           n_chunks,
           FLOOR(total_tokens * 1.0 / (n_chunks * ctx) * 1000000 + 0.5)
             / 1000000 AS chunk_utilization
    FROM per ORDER BY context_len
    """


@register(
    "q286_context_length_plan",
    _q286_sql(),
    doc="Context-length planner: for each candidate window size, what "
    "one-doc-per-sequence TRUNCATION would discard (docs cut, token "
    "loss fraction) versus what CHUNKING costs (chunk count and mean "
    "utilization of ceil(n/L) windows) — the two baseline strategies "
    "bracketing q114's sequence packing; read next to q206's length "
    "buckets before fixing the training context. A 5-row config spine "
    "against one token-count pass.",
)
def q286_context_length_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE map pass computes per-doc token counts; the config
    sweep multiplies only the tiny per-(cfg) aggregate, never re-scans
    text. All integer arithmetic until the two display divisions."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    dt = docs.select(
        F.size(F.split(F.trim(F.col("text")), r"\s+"))
        .cast("long")
        .alias("n_tok")
    )
    cfg = spark.createDataFrame([(L,) for L in _Q286_LENGTHS], "ctx INT")
    per = (
        dt.crossJoin(F.broadcast(cfg))
        .groupBy("ctx")
        .agg(
            F.sum("n_tok").cast("long").alias("total_tokens"),
            F.sum(F.least(F.col("n_tok"), F.col("ctx")))
            .cast("long")
            .alias("kept_tokens"),
            F.sum(F.when(F.col("n_tok") > F.col("ctx"), 1).otherwise(0))
            .cast("long")
            .alias("n_truncated"),
            F.sum(
                F.expr("(n_tok + ctx - 1) div ctx")
            )
            .cast("long")
            .alias("n_chunks"),
            F.count(F.lit(1)).cast("long").alias("n_docs"),
        )
    )
    return per.select(
        F.col("ctx").cast("int").alias("context_len"),
        "n_docs",
        "n_truncated",
        round_half_up(
            (F.col("total_tokens") - F.col("kept_tokens"))
            * 1.0
            / F.col("total_tokens"),
            6,
        ).alias("truncation_loss"),
        "n_chunks",
        round_half_up(
            F.col("total_tokens") * 1.0 / (F.col("n_chunks") * F.col("ctx")), 6
        ).alias("chunk_utilization"),
    ).orderBy("context_len")


# ── q287: PMI term associations (query expansion table) ──────────────────────

_Q287_SEEDS = ("table", "join", "query")
_Q287_TOP = 5
_Q287_MIN_CO = 3


def _q287_sql() -> str:
    seeds = ", ".join(f"'{t}'" for t in _Q287_SEEDS)
    return rf"""
    WITH dterm AS (
      SELECT DISTINCT doc_id, unnest(string_split_regex(trim(lower(text)),
               '\s+')) AS term
      FROM documents WHERE len(trim(text)) > 0
    ),
    n AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n FROM dterm),
    df AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM dterm GROUP BY term),
    seeds AS (SELECT doc_id, term AS seed FROM dterm WHERE term IN ({seeds})),
    co AS (
      SELECT s.seed, d.term, CAST(COUNT(*) AS BIGINT) AS c_co
      FROM seeds s JOIN dterm d ON d.doc_id = s.doc_id
      WHERE d.term <> s.seed AND d.term NOT IN ({seeds})
      GROUP BY s.seed, d.term
      HAVING COUNT(*) >= {_Q287_MIN_CO}
    ),
    scored AS (
      SELECT co.seed, co.term, co.c_co,
             LN(co.c_co * n.n * 1.0 / (ds.df * dt.df)) AS pmi_raw
      FROM co
      JOIN df ds ON ds.term = co.seed
      JOIN df dt ON dt.term = co.term
      CROSS JOIN n
    )
    SELECT seed, term, c_co AS n_docs_together,
           FLOOR(pmi_raw * 10000 + 0.5) / 10000 AS pmi,
           CAST(rk AS INTEGER) AS assoc_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY seed
            ORDER BY pmi_raw DESC, term) AS rk FROM scored) t
    WHERE rk <= {_Q287_TOP}
    ORDER BY seed, assoc_rank
    """


@register(
    "q287_pmi_associations",
    _q287_sql(),
    doc=f"Query-expansion table: for each seed term {_Q287_SEEDS}, the "
    f"top-{_Q287_TOP} associated terms by document-level PMI "
    "ln(c_co*N/(df_s*df_t)) with a minimum co-occurrence floor — the "
    "statistically grounded synonyms the `search` CLI can OR into its "
    "BM25 shortlist stage. Doc-level distinct terms keep the counts "
    "binary-occurrence (PMI over documents, not token windows).",
)
def q287_pmi_associations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the co-occurrence join is keyed on doc_id and one side is
    SEED postings only (tiny); document frequencies are one term
    aggregate; per-seed ranks run over the co-occurrence relation."""
    seeds = list(_Q287_SEEDS)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    dterm = docs.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias("term"),
    ).distinct()
    n = dterm.agg(F.countDistinct("doc_id").cast("long").alias("n"))
    df = dterm.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    sd = dterm.filter(F.col("term").isin(seeds)).select(
        "doc_id", F.col("term").alias("seed")
    )
    co = (
        sd.join(dterm, "doc_id")
        .filter((F.col("term") != F.col("seed")) & ~F.col("term").isin(seeds))
        .groupBy("seed", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("c_co"))
        .filter(F.col("c_co") >= _Q287_MIN_CO)
    )
    ds = df.select(F.col("term").alias("seed"), F.col("df").alias("df_s"))
    dt = df.select("term", F.col("df").alias("df_t"))
    scored = (
        co.join(F.broadcast(ds), "seed")
        .join(dt, "term")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "pmi_raw",
            F.log(
                F.col("c_co") * F.col("n") * 1.0
                / (F.col("df_s") * F.col("df_t"))
            ),
        )
    )
    return (
        scored.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("seed").orderBy(
                    F.col("pmi_raw").desc(), "term"
                )
            ),
        )
        .filter(F.col("rk") <= _Q287_TOP)
        .select(
            "seed",
            "term",
            F.col("c_co").alias("n_docs_together"),
            round_half_up(F.col("pmi_raw"), 4).alias("pmi"),
            F.col("rk").cast("int").alias("assoc_rank"),
        )
        .orderBy("seed", "assoc_rank")
    )


# ── q288: duplication-rate trend over ingest order ───────────────────────────


def _q288_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    dedup = _REGISTRY["q22_dedup_exact"].sql
    return f"""
    WITH dd AS ({dedup}),
    keeps AS (SELECT keep_id AS doc_id FROM dd),
    bounds AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS lo, CAST(MAX(doc_id) AS BIGINT)
               AS hi
      FROM documents
    ),
    flagged AS (
      SELECT d.doc_id,
             LEAST(CAST(FLOOR((d.doc_id - b.lo) * 10.0
                   / GREATEST(b.hi - b.lo + 1, 1)) AS INT), 9) AS decile,
             CASE WHEN k.doc_id IS NOT NULL THEN 0 ELSE 1 END AS is_dup
      FROM documents d CROSS JOIN bounds b
      LEFT JOIN keeps k ON k.doc_id = d.doc_id
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(is_dup) AS BIGINT) AS n_duplicates,
           FLOOR(SUM(is_dup) * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000
             AS dup_rate
    FROM flagged GROUP BY decile ORDER BY decile
    """


@register(
    "q288_dup_rate_trend",
    _q288_sql(),
    doc="Duplication trend over ingest order: the share of non-canonical "
    "documents (q22's exact-dup losers) per doc-id decile of the "
    "corpus — a RISING curve means later ingest batches increasingly "
    "re-deliver known content (crawler loops, feed replays) and the "
    "incremental dedup index (q191) is earning its keep; flat/noisy "
    "means duplication is endemic, not temporal.",
)
def q288_dup_rate_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the q22 keep set is one fingerprint aggregate; bucketing
    is pure arithmetic off broadcast min/max scalars (q251's idiom);
    the rollup is 10 cells."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    keeps = (
        _REGISTRY["q22_dedup_exact"].fn(spark, sf_dir)
        .select(F.col("keep_id").alias("doc_id"))
        .withColumn("kept", F.lit(1))
    )
    bounds = docs.agg(
        F.min("doc_id").cast("long").alias("lo"),
        F.max("doc_id").cast("long").alias("hi"),
    )
    flagged = (
        docs.crossJoin(F.broadcast(bounds))
        .join(keeps, "doc_id", "left")
        .select(
            F.least(
                F.floor(
                    (F.col("doc_id") - F.col("lo"))
                    * 10.0
                    / F.greatest(F.col("hi") - F.col("lo") + 1, F.lit(1))
                ).cast("int"),
                F.lit(9),
            ).alias("decile"),
            F.when(F.col("kept").isNotNull(), 0).otherwise(1).alias("is_dup"),
        )
    )
    return (
        flagged.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("is_dup").cast("long").alias("n_duplicates"),
            round_half_up(F.sum("is_dup") * 1.0 / F.count(F.lit(1)), 6).alias(
                "dup_rate"
            ),
        )
        .orderBy("decile")
    )


# ── q289: vocabulary-novelty curve over ingest order ─────────────────────────


@register(
    "q289_novelty_curve",
    r"""
    WITH bounds AS (
      SELECT CAST(MIN(doc_id) AS BIGINT) AS lo, CAST(MAX(doc_id) AS BIGINT)
               AS hi
      FROM documents
    ),
    tok AS (
      SELECT d.doc_id,
             LEAST(CAST(FLOOR((d.doc_id - b.lo) * 10.0
                   / GREATEST(b.hi - b.lo + 1, 1)) AS INT), 9) AS decile,
             unnest(list_transform(range(1,
               len(string_split_regex(trim(lower(d.text)), '\s+')) - 1),
               i -> array_to_string(string_split_regex(trim(lower(d.text)),
                 '\s+')[i:i+2], ' '))) AS term
      FROM documents d CROSS JOIN bounds b
      WHERE len(trim(d.text)) > 0
        AND len(string_split_regex(trim(lower(d.text)), '\s+')) >= 3
    ),
    per AS (
      SELECT term, decile, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok GROUP BY term, decile
    ),
    firsts AS (
      SELECT term, MIN(decile) AS first_decile FROM per GROUP BY term
    )
    SELECT p.decile,
           CAST(SUM(p.c) AS BIGINT) AS n_gram_occurrences,
           CAST(COUNT(*) AS BIGINT) AS n_distinct_grams,
           CAST(SUM(CASE WHEN f.first_decile = p.decile THEN 1 ELSE 0 END)
                AS BIGINT) AS n_new_grams,
           FLOOR(SUM(CASE WHEN f.first_decile = p.decile THEN 1 ELSE 0 END)
                 * 1.0 / COUNT(*) * 1000000 + 0.5) / 1000000 AS novelty_rate
    FROM per p JOIN firsts f ON f.term = p.term
    GROUP BY p.decile ORDER BY p.decile
    """,
    doc="Vocabulary-novelty curve: per ingest decile, the share of its "
    "distinct word-trigrams appearing there FIRST — q288's complement "
    "(that one asks 'are docs repeats?', this asks 'is the LANGUAGE "
    "still new?'). A collapsing novelty rate is the data-driven signal "
    "that additional ingest buys tokens but not information — the "
    "curve behind Heaps'-law (q251) read as a per-batch decision "
    "metric.",
)
def q289_novelty_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one gram aggregate keyed (term, decile) — map-side
    combinable — and a min-agg for first occurrence; the rollup is 10
    cells. Nothing rescans text per decile."""
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    bounds = docs.agg(
        F.min("doc_id").cast("long").alias("lo"),
        F.max("doc_id").cast("long").alias("hi"),
    )
    tok = (
        docs.crossJoin(F.broadcast(bounds))
        .select(
            F.least(
                F.floor(
                    (F.col("doc_id") - F.col("lo"))
                    * 10.0
                    / F.greatest(F.col("hi") - F.col("lo") + 1, F.lit(1))
                ).cast("int"),
                F.lit(9),
            ).alias("decile"),
            F.split(F.trim(F.lower(F.col("text"))), r"\s+").alias("t"),
        )
        .filter(F.size("t") >= 3)
        .select(
            "decile",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("term"),
        )
    )
    per = tok.groupBy("term", "decile").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    firsts = per.groupBy("term").agg(F.min("decile").alias("first_decile"))
    return (
        per.join(firsts, "term")
        .groupBy("decile")
        .agg(
            F.sum("c").cast("long").alias("n_gram_occurrences"),
            F.count(F.lit(1)).cast("long").alias("n_distinct_grams"),
            F.sum(
                F.when(F.col("first_decile") == F.col("decile"), 1).otherwise(0)
            )
            .cast("long")
            .alias("n_new_grams"),
            round_half_up(
                F.sum(
                    F.when(
                        F.col("first_decile") == F.col("decile"), 1
                    ).otherwise(0)
                )
                * 1.0
                / F.count(F.lit(1)),
                6,
            ).alias("novelty_rate"),
        )
        .orderBy("decile")
    )


# ── q290: Horvitz-Thompson estimator audit over the stratified sample ────────


def _q290_sql() -> str:
    from .advanced import _MIX
    from .queries import QUERY_REGISTRY as _REGISTRY

    sample = _REGISTRY["q88_stratified_sample"].sql
    cases = " ".join(
        f"WHEN '{lang}' THEN {rate}" for lang, rate in sorted(_MIX.items())
    )
    return f"""
    WITH s AS ({sample}),
    sw AS (
      SELECT s.doc_id, d.n_chars,
             1.0 / (CASE s.lang {cases} ELSE 1.0 END) AS w
      FROM s JOIN documents d ON d.doc_id = s.doc_id
    ),
    est AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_sampled,
             CAST(SUM(CAST(FLOOR(w * 1000000 + 0.5) AS BIGINT)) AS BIGINT)
               AS wsum_u,
             CAST(SUM(CAST(FLOOR(w * 1000000 + 0.5) AS BIGINT) * n_chars)
                  AS BIGINT) AS wx_u
      FROM sw
    ),
    truth AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pop,
             CAST(SUM(n_chars) AS BIGINT) AS sx
      FROM documents WHERE lang <> 'zh'
    )
    SELECT e.n_sampled, t.n_pop,
           FLOOR(e.wsum_u / 1000000.0 * 100 + 0.5) / 100 AS ht_n_est,
           FLOOR(e.wx_u * 1.0 / e.wsum_u * 1000000 + 0.5) / 1000000
             AS ht_mean_chars,
           FLOOR(t.sx * 1.0 / t.n_pop * 1000000 + 0.5) / 1000000
             AS true_mean_chars,
           FLOOR(ABS(e.wx_u * 1.0 / e.wsum_u - t.sx * 1.0 / t.n_pop)
                 / (t.sx * 1.0 / t.n_pop) * 1000000 + 0.5) / 1000000
             AS rel_err
    FROM est e CROSS JOIN truth t
    """


@register(
    "q290_horvitz_thompson",
    _q290_sql(),
    doc="Horvitz-Thompson estimation audit: reconstruct the SAMPLED-OUT "
    "population's size and mean document length from q88's stratified "
    "sample using inverse inclusion probabilities (weights quantized "
    "to integer micro-units before the sums, so both estimators are "
    "order-free exact), compared against the true values over the "
    "sampleable strata — the proof that the engine's deterministic "
    "mixture samples remain STATISTICALLY usable, not just "
    "reproducible. (zh has inclusion probability 0 and is excluded "
    "from the estimand, as HT requires.)",
)
def q290_horvitz_thompson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one pass over the sample with constant-per-stratum
    weights, one truth aggregate over the population — both map-side
    combinable folds."""
    from .advanced import _MIX
    from .queries import QUERY_REGISTRY as _REGISTRY

    s = _REGISTRY["q88_stratified_sample"].fn(spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "n_chars", "lang")
    w = F.lit(1.0)
    for lang, rate in sorted(_MIX.items()):
        w = F.when(F.col("s_lang") == lang, F.lit(1.0 / float(rate))).otherwise(w)
    sw = (
        s.select("doc_id", F.col("lang").alias("s_lang"))
        .join(d.select("doc_id", "n_chars"), "doc_id")
        .select(F.floor(w * 1000000 + 0.5).cast("long").alias("wu"), "n_chars")
    )
    est = sw.agg(
        F.count(F.lit(1)).cast("long").alias("n_sampled"),
        F.sum("wu").cast("long").alias("wsum_u"),
        F.sum(F.col("wu") * F.col("n_chars")).cast("long").alias("wx_u"),
    )
    truth = d.filter(F.col("lang") != "zh").agg(
        F.count(F.lit(1)).cast("long").alias("n_pop"),
        F.sum("n_chars").cast("long").alias("sx"),
    )
    ht_mean = F.col("wx_u") * 1.0 / F.col("wsum_u")
    true_mean = F.col("sx") * 1.0 / F.col("n_pop")
    return (
        est.crossJoin(F.broadcast(truth))
        .select(
            "n_sampled",
            "n_pop",
            round_half_up(F.col("wsum_u") / 1000000.0, 2).alias("ht_n_est"),
            round_half_up(ht_mean, 6).alias("ht_mean_chars"),
            round_half_up(true_mean, 6).alias("true_mean_chars"),
            round_half_up(F.abs(ht_mean - true_mean) / true_mean, 6).alias(
                "rel_err"
            ),
        )
    )


# ── q291: cumulative gain chart for the quality model ────────────────────────


def _q291_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q173_quality_logreg"].sql
    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    return f"""
    WITH m AS ({model}),
    g AS ({gate}),
    j AS (
      SELECT CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT) AS score_u,
             CASE WHEN g.passes THEN 1 ELSE 0 END AS label
      FROM m JOIN g ON m.doc_id = g.doc_id
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(label) AS BIGINT) AS np
      FROM j
    ),
    ranked AS (
      SELECT label,
             NTILE(10) OVER (ORDER BY score_u DESC, label DESC) AS tile
      FROM j
    ),
    per AS (
      SELECT tile, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(label) AS BIGINT) AS n_pos
      FROM ranked GROUP BY tile
    ),
    cum AS (
      SELECT tile, n_docs, n_pos,
             CAST(SUM(n_docs) OVER (ORDER BY tile) AS BIGINT) AS cum_docs,
             CAST(SUM(n_pos) OVER (ORDER BY tile) AS BIGINT) AS cum_pos
      FROM per
    )
    SELECT CAST(c.tile AS INTEGER) AS score_decile, c.n_docs, c.n_pos,
           FLOOR(c.cum_pos * 1.0 / t.np * 1000000 + 0.5) / 1000000
             AS cum_capture,
           FLOOR((c.cum_pos * 1.0 / t.np) / (c.cum_docs * 1.0 / t.n)
                 * 10000 + 0.5) / 10000 AS lift
    FROM cum c CROSS JOIN tot t
    ORDER BY score_decile
    """


@register(
    "q291_gain_chart",
    _q291_sql(),
    doc="Cumulative gain/lift chart: documents ranked by the q173 score "
    "into deciles (ties broken toward positives deterministically), "
    "with the cumulative share of q192 passes captured and the lift "
    "over random skimming — the 'read only the top 30%' planning view "
    "that q240's AUC summarizes into one number. Decile 1 lift near "
    "1/base-rate means the model front-loads almost pure passes.",
)
def q291_gain_chart(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the NTILE orders the (score, label) relation — at corpus
    scale swap for score-histogram quantile boundaries (q240's shape);
    the chart itself is a 10-row cumulative window."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("score_u"),
    )
    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("label")
    )
    j = m.join(g, "doc_id").select("score_u", "label")
    tot = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("label").cast("long").alias("np"),
    )
    ranked = j.select(
        "label",
        F.ntile(10)
        .over(Window.orderBy(F.col("score_u").desc(), F.col("label").desc()))
        .alias("tile"),
    )
    per = ranked.groupBy("tile").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("label").cast("long").alias("n_pos"),
    )
    wc = Window.orderBy("tile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "tile",
        "n_docs",
        "n_pos",
        F.sum("n_docs").over(wc).cast("long").alias("cum_docs"),
        F.sum("n_pos").over(wc).cast("long").alias("cum_pos"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            F.col("tile").cast("int").alias("score_decile"),
            "n_docs",
            "n_pos",
            # try_divide: a lake with zero positives has no capture/lift
            round_half_up(
                F.try_divide(F.col("cum_pos") * 1.0, F.col("np")), 6
            ).alias("cum_capture"),
            round_half_up(
                F.try_divide(F.col("cum_pos") * 1.0, F.col("np"))
                / (F.col("cum_docs") * 1.0 / F.col("n")),
                4,
            ).alias("lift"),
        )
        .orderBy("score_decile")
    )


# ── q292: Bloom-filter sizing planner for the q97 join prefilter ─────────────

_Q292_BITS_PER_KEY = [4, 8, 12, 16, 20]
_Q292_LN2 = "0.6931471805599453"


def _q292_sql() -> str:
    cfgs = ", ".join(f"({b})" for b in _Q292_BITS_PER_KEY)
    ln2 = _Q292_LN2
    return f"""
    WITH keys AS (
      SELECT CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_keys FROM orders
    ),
    probes AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_probes FROM lineitem),
    cfg AS (SELECT * FROM (VALUES {cfgs}) AS t(bpk))
    SELECT cfg.bpk AS bits_per_key,
           k.n_keys,
           CAST(FLOOR(cfg.bpk * {ln2} + 0.5) AS BIGINT) AS n_hashes,
           CAST(FLOOR(cfg.bpk * k.n_keys / 8.0 + 0.5) AS BIGINT)
             AS filter_bytes,
           FLOOR(EXP(CAST(FLOOR(cfg.bpk * {ln2} + 0.5) AS BIGINT)
                 * LN(1 - EXP(0 - (CAST(FLOOR(cfg.bpk * {ln2} + 0.5)
                   AS BIGINT) * 1.0 / cfg.bpk))))
                 * 1000000 + 0.5) / 1000000 AS fpp,
           CAST(FLOOR(EXP(CAST(FLOOR(cfg.bpk * {ln2} + 0.5) AS BIGINT)
                 * LN(1 - EXP(0 - (CAST(FLOOR(cfg.bpk * {ln2} + 0.5)
                   AS BIGINT) * 1.0 / cfg.bpk)))) * p.n_probes + 0.5)
                 AS BIGINT) AS expected_false_probes
    FROM cfg CROSS JOIN keys k CROSS JOIN probes p
    ORDER BY bits_per_key
    """


@register(
    "q292_bloom_sizing_plan",
    _q292_sql(),
    doc="Bloom-filter sizing table for the q97 join prefilter: for each "
    "bits-per-key budget, the optimal hash count round(b*ln2), the "
    "filter's byte size at the MEASURED key cardinality, the "
    "false-positive probability (1-e^(-k/b))^k, and the expected "
    "number of fact rows that would falsely survive the prefilter at "
    "the measured probe count — the memory-vs-shuffle-savings "
    "trade-off read before sizing spark.sql bloom hints or a manual "
    "q97-style prefilter. EXP/LN chains with the ln2 constant as a "
    "full-precision repr literal (the q236 planner pattern).",
)
def q292_bloom_sizing_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two count aggregates (build-side distinct keys, probe-side
    rows) and a 5-row config spine — the planner costs two scans once,
    then re-runs free on cached counts."""
    ln2 = float(_Q292_LN2)
    keys = load_table(spark, sf_dir, "orders").agg(
        F.countDistinct("o_custkey").cast("long").alias("n_keys")
    )
    probes = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast("long").alias("n_probes")
    )
    cfg = spark.createDataFrame(
        [(b,) for b in _Q292_BITS_PER_KEY], "bpk INT"
    )
    k = F.floor(F.col("bpk") * F.lit(ln2) + 0.5).cast("long")
    fpp_raw = F.exp(
        k * F.log(1 - F.exp(F.lit(0) - (k * 1.0 / F.col("bpk"))))
    )
    return (
        cfg.crossJoin(F.broadcast(keys))
        .crossJoin(F.broadcast(probes))
        .select(
            F.col("bpk").alias("bits_per_key"),
            "n_keys",
            k.alias("n_hashes"),
            F.floor(F.col("bpk") * F.col("n_keys") / 8.0 + 0.5)
            .cast("long")
            .alias("filter_bytes"),
            round_half_up(fpp_raw, 6).alias("fpp"),
            F.floor(fpp_raw * F.col("n_probes") + 0.5)
            .cast("long")
            .alias("expected_false_probes"),
        )
        .orderBy("bits_per_key")
    )


# ── q293: mixture diversity (entropy / effective source count) ───────────────


@register(
    "q293_mixture_diversity",
    """
    WITH per AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS sz FROM documents
      GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS t FROM per),
    terms AS (
      SELECT p.source, p.sz, t.t,
             CAST(FLOOR((0 - (p.sz * 1.0 / t.t) * LN(p.sz * 1.0 / t.t)
                         / LN(2.0)) * 1000000 + 0.5) AS BIGINT) AS h_u
      FROM per p CROSS JOIN tot t
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sources,
           FLOOR(SUM(h_u) / 1000000.0 * 1000000 + 0.5) / 1000000
             AS share_entropy_bits,
           FLOOR(EXP(SUM(h_u) / 1000000.0 * LN(2.0)) * 10000 + 0.5) / 10000
             AS effective_sources,
           FLOOR(EXP(SUM(h_u) / 1000000.0 * LN(2.0)) / COUNT(*) * 1000000
                 + 0.5) / 1000000 AS uniformity
    FROM terms
    """,
    doc="Mixture diversity index: Shannon entropy of per-source "
    "character shares and its exponential — the EFFECTIVE number of "
    "sources (perplexity of the mixture) — plus uniformity "
    "effective/actual. The one-glance number for 'is this corpus "
    "really 20 sources or 3 big ones wearing 20 names'; plogp terms "
    "integer-quantized before the sum (q241's idiom). Belongs on the "
    "q200 dataset card.",
)
def q293_mixture_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one |sources|-key rollup and scalar math."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("sz"))
    )
    tot = per.agg(F.sum("sz").cast("long").alias("t"))
    p = F.col("sz") * 1.0 / F.col("t")
    terms = per.crossJoin(F.broadcast(tot)).select(
        F.floor(
            (F.lit(0) - p * F.log(p) / F.log(F.lit(2.0))) * 1000000 + 0.5
        )
        .cast("long")
        .alias("h_u")
    )
    h = F.sum("h_u") / 1000000.0
    return terms.agg(
        F.count(F.lit(1)).cast("long").alias("n_sources"),
        round_half_up(h, 6).alias("share_entropy_bits"),
        round_half_up(F.exp(h * F.log(F.lit(2.0))), 4).alias(
            "effective_sources"
        ),
        round_half_up(
            F.exp(h * F.log(F.lit(2.0))) / F.count(F.lit(1)), 6
        ).alias("uniformity"),
    )


# ── q294: sampling-temperature sweep (mixture flattening planner) ────────────

_Q294_TEMPS = ["0.3", "0.5", "0.7", "1.0"]


def _q294_sql() -> str:
    temps = ", ".join(f"({t})" for t in _Q294_TEMPS)
    return f"""
    WITH per AS (
      SELECT source, CAST(SUM(n_chars) AS BIGINT) AS sz FROM documents
      GROUP BY source
    ),
    tot AS (SELECT CAST(SUM(sz) AS BIGINT) AS t FROM per),
    cfg AS (SELECT * FROM (VALUES {temps}) AS x(temp)),
    pw AS (
      SELECT c.temp, p.source,
             CAST(FLOOR(EXP(c.temp * LN(p.sz * 1.0 / t.t)) * 1000000000 + 0.5)
                  AS BIGINT) AS pu
      FROM per p CROSS JOIN tot t CROSS JOIN cfg c
    ),
    norm AS (
      SELECT temp, CAST(SUM(pu) AS BIGINT) AS z FROM pw GROUP BY temp
    ),
    w AS (
      SELECT pw.temp, pw.source, pw.pu * 1.0 / n.z AS w
      FROM pw JOIN norm n ON n.temp = pw.temp
    ),
    terms AS (
      SELECT temp, w,
             CAST(FLOOR((0 - w * LN(w) / LN(2.0)) * 1000000 + 0.5) AS BIGINT)
               AS h_u
      FROM w
    )
    SELECT CAST(temp AS DOUBLE) AS temperature,
           FLOOR(MAX(w) * 1000000 + 0.5) / 1000000 AS max_weight,
           FLOOR(MIN(w) * 1000000 + 0.5) / 1000000 AS min_weight,
           FLOOR(EXP(SUM(h_u) / 1000000.0 * LN(2.0)) * 10000 + 0.5) / 10000
             AS effective_sources
    FROM terms GROUP BY temp
    ORDER BY temperature
    """


@register(
    "q294_temperature_sweep",
    _q294_sql(),
    doc="Sampling-temperature planner: per candidate T, the "
    "share^T-normalized mixture's heaviest and lightest source weights "
    "and its effective source count — the table a team reads before "
    "fixing the q193 temperature (T->0 flattens toward uniform, T=1 "
    "reproduces natural shares; the standard multilingual/multi-source "
    "rebalancing knob). Powers are EXP/LN chains; weights quantize to "
    "integer nano-units before normalization so Z is order-free.",
)
def q294_temperature_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one |sources|-key rollup; the sweep multiplies a 20-row
    relation by |temps|. Reuses q293's entropy idiom per configuration."""
    per = (
        load_table(spark, sf_dir, "documents")
        .groupBy("source")
        .agg(F.sum("n_chars").cast("long").alias("sz"))
    )
    tot = per.agg(F.sum("sz").cast("long").alias("t"))
    cfg = spark.createDataFrame(
        [(float(t),) for t in _Q294_TEMPS], "temp DOUBLE"
    )
    pw = (
        per.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(cfg))
        .select(
            "temp",
            "source",
            F.floor(
                F.exp(F.col("temp") * F.log(F.col("sz") * 1.0 / F.col("t")))
                * 1000000000
                + 0.5
            )
            .cast("long")
            .alias("pu"),
        )
    )
    norm = pw.groupBy("temp").agg(F.sum("pu").cast("long").alias("z"))
    w = pw.join(norm, "temp").select(
        "temp", (F.col("pu") * 1.0 / F.col("z")).alias("w")
    )
    terms = w.select(
        "temp",
        "w",
        F.floor(
            (F.lit(0) - F.col("w") * F.log("w") / F.log(F.lit(2.0))) * 1000000
            + 0.5
        )
        .cast("long")
        .alias("h_u"),
    )
    return (
        terms.groupBy("temp")
        .agg(
            round_half_up(F.max("w"), 6).alias("max_weight"),
            round_half_up(F.min("w"), 6).alias("min_weight"),
            round_half_up(
                F.exp(F.sum("h_u") / 1000000.0 * F.log(F.lit(2.0))), 4
            ).alias("effective_sources"),
        )
        .select(
            F.col("temp").cast("double").alias("temperature"),
            "max_weight",
            "min_weight",
            "effective_sources",
        )
        .orderBy("temperature")
    )


# ── q295: MRR / success@k for the BM25 ranker ────────────────────────────────


def _q295_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    bm25 = _REGISTRY["q197_bm25_scoring"].sql
    return f"""
    WITH r AS ({bm25}),
    lab AS (
      SELECT term, doc_id, rank,
             CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS rel
      FROM r
    ),
    per AS (
      SELECT term,
             MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
             CAST(SUM(CASE WHEN rel = 1 AND rank <= 5 THEN 1 ELSE 0 END)
                  AS BIGINT) AS rel_at5
      FROM lab GROUP BY term
    )
    SELECT term,
           CAST(COALESCE(first_rel, 0) AS INTEGER) AS first_relevant_rank,
           FLOOR(COALESCE(1.0 / first_rel, 0.0) * 1000000 + 0.5) / 1000000
             AS reciprocal_rank,
           first_rel IS NOT NULL AND first_rel <= 5 AS success_at5,
           rel_at5 AS n_relevant_at5
    FROM per ORDER BY term
    """


@register(
    "q295_mrr_success_at_k",
    _q295_sql(),
    doc="Per-query MRR ingredients and success@5 for the q197 BM25 "
    "ranker under the same deterministic pseudo-relevance labeling the "
    "nDCG eval uses (doc_id % 3 = 0 => relevant): first relevant rank, "
    "its reciprocal, the binary success flag, and relevant-in-top-5 "
    "counts — the two retrieval metrics (one graded: q235; two "
    "binary: here) every ranker change is judged on. Averaging "
    "reciprocal_rank over terms gives MRR.",
)
def q295_mrr_success_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: consumes q197's per-term top-10 (already postings-
    bounded); the metric rollup is |terms| rows."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    r = _REGISTRY["q197_bm25_scoring"].fn(spark, sf_dir)
    lab = r.select(
        "term",
        "rank",
        F.when(F.col("doc_id") % 3 == 0, 1).otherwise(0).alias("rel"),
    )
    per = lab.groupBy("term").agg(
        F.min(F.when(F.col("rel") == 1, F.col("rank"))).alias("first_rel"),
        F.sum(F.when((F.col("rel") == 1) & (F.col("rank") <= 5), 1).otherwise(0))
        .cast("long")
        .alias("rel_at5"),
    )
    return per.select(
        "term",
        F.coalesce(F.col("first_rel"), F.lit(0)).cast("int").alias(
            "first_relevant_rank"
        ),
        round_half_up(
            F.coalesce(1.0 / F.col("first_rel"), F.lit(0.0)), 6
        ).alias("reciprocal_rank"),
        (F.col("first_rel").isNotNull() & (F.col("first_rel") <= 5)).alias(
            "success_at5"
        ),
        F.col("rel_at5").alias("n_relevant_at5"),
    ).orderBy("term")


# ── q296: duplicate-quality interaction (point-biserial correlation) ─────────


def _q296_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    pairs = _REGISTRY["q23_ngram_jaccard_dedup"].sql
    model = _REGISTRY["q173_quality_logreg"].sql
    return f"""
    WITH nd AS ({pairs}),
    m AS ({model}),
    losers AS (SELECT DISTINCT doc_b AS doc_id FROM nd),
    j AS (
      SELECT CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT) AS su,
             CASE WHEN k.doc_id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM m LEFT JOIN losers k ON k.doc_id = m.doc_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(is_dup) AS BIGINT) AS n1,
             CAST(SUM(su) AS BIGINT) AS sx,
             CAST(SUM(su * su) AS BIGINT) AS sxx,
             CAST(SUM(is_dup * su) AS BIGINT) AS sx1
      FROM j
    )
    SELECT n AS n_docs, n1 AS n_duplicates,
           FLOOR(sx1 * 1.0 / NULLIF(n1, 0) / 10000.0 * 1000000 + 0.5)
             / 1000000 AS mean_quality_dups,
           FLOOR((sx - sx1) * 1.0 / (n - n1) / 10000.0 * 1000000 + 0.5)
             / 1000000 AS mean_quality_uniques,
           FLOOR((n * sx1 - n1 * sx) * 1.0
                 / SQRT((n * sxx - sx * sx) * 1.0 * (n * n1 - n1 * n1))
                 * 1000000 + 0.5) / 1000000 AS point_biserial_r
    FROM s
    """


@register(
    "q296_dup_quality_correlation",
    _q296_sql(),
    doc="Does duplication correlate with quality? Point-biserial "
    "correlation between the near-dup flag (q23 pair losers) and the q173 "
    "quality score, computed entirely from five exact integer sums "
    "(the Pearson identity with a binary variable) plus group means — "
    "negative r says dups skew low-quality (dedup doubles as a "
    "quality filter), r near 0 says the two filters are independent "
    "and both earn their pass.",
)
def q296_dup_quality_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one anti-flag join on doc_id and one 5-sum fold — the
    whole statistic is a map-side-combinable aggregate."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    losers = (
        _REGISTRY["q23_ngram_jaccard_dedup"].fn(spark, sf_dir)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
        .withColumn("loser", F.lit(1))
    )
    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("su"),
    )
    j = m.join(losers, "doc_id", "left").select(
        "su", F.when(F.col("loser").isNotNull(), 1).otherwise(0).alias("is_dup")
    )
    s = j.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("is_dup").cast("long").alias("n1"),
        F.sum("su").cast("long").alias("sx"),
        F.sum(F.col("su") * F.col("su")).cast("long").alias("sxx"),
        F.sum(F.col("is_dup") * F.col("su")).cast("long").alias("sx1"),
    )
    # try_divide: an all-dup or all-unique (e.g. 1-doc) corpus has zero
    # variance in one factor -> correlation undefined
    r = F.try_divide(
        (F.col("n") * F.col("sx1") - F.col("n1") * F.col("sx")) * 1.0,
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 1.0
            * (F.col("n") * F.col("n1") - F.col("n1") * F.col("n1"))
        ),
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.col("n1").alias("n_duplicates"),
        round_half_up(
            F.col("sx1") * 1.0 / F.nullif(F.col("n1"), F.lit(0)) / 10000.0, 6
        ).alias("mean_quality_dups"),
        round_half_up(
            F.try_divide(
                (F.col("sx") - F.col("sx1")) * 1.0,
                F.col("n") - F.col("n1"),
            )
            / 10000.0,
            6,
        ).alias("mean_quality_uniques"),
        round_half_up(r, 6).alias("point_biserial_r"),
    )


# ── q297: Tukey-fence outliers per event type ────────────────────────────────


@register(
    "q297_tukey_fences",
    """
    WITH v AS (
      SELECT event_type, value FROM events WHERE value IS NOT NULL
    ),
    n AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n FROM v GROUP BY 1),
    ranked AS (
      SELECT v.event_type, v.value, n.n,
             ROW_NUMBER() OVER (PARTITION BY v.event_type
               ORDER BY v.value) AS rn
      FROM v JOIN n ON n.event_type = v.event_type
    ),
    q AS (
      SELECT event_type, MAX(n) AS n,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.25) AS BIGINT)
                      THEN value END) AS q1,
             MAX(CASE WHEN rn = CAST(CEIL(n * 0.75) AS BIGINT)
                      THEN value END) AS q3
      FROM ranked GROUP BY event_type
    ),
    fences AS (
      SELECT event_type, n, q1, q3,
             q1 - 1.5 * (q3 - q1) AS lo,
             q3 + 1.5 * (q3 - q1) AS hi
      FROM q
    )
    SELECT f.event_type, f.n AS n_values,
           FLOOR(f.q1 * 10000 + 0.5) / 10000 AS q1,
           FLOOR(f.q3 * 10000 + 0.5) / 10000 AS q3,
           FLOOR(f.lo * 10000 + 0.5) / 10000 AS fence_lo,
           FLOOR(f.hi * 10000 + 0.5) / 10000 AS fence_hi,
           CAST(SUM(CASE WHEN v.value < f.lo OR v.value > f.hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM fences f JOIN v ON v.event_type = f.event_type
    GROUP BY f.event_type, f.n, f.q1, f.q3, f.lo, f.hi
    ORDER BY f.event_type
    """,
    doc="Tukey-fence outlier screen: per event type, exact Q1/Q3 order "
    "statistics (rank = ceil(q*n); rank ties share the value, so the "
    "statistic is order-free), the 1.5-IQR fences, and the count of "
    "values outside them — the box-plot EDA readout that needs no "
    "distributional assumption, complementing the z-based (q224) and "
    "MAD-based (q132) screens.",
)
def q297_tukey_fences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per-type grouped rank (five partitions, one shuffle) plus
    one fence-count re-scan with broadcast fences; GK quantiles replace
    the exact ranks at extreme row counts (q80's knob)."""
    v = load_table(spark, sf_dir, "events").select("event_type", "value").filter(
        F.col("value").isNotNull()
    )
    n = v.groupBy("event_type").agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = v.join(F.broadcast(n), "event_type").withColumn(
        "rn", F.row_number().over(Window.partitionBy("event_type").orderBy("value"))
    )
    q = ranked.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.25).cast("long"), F.col("value"))
        ).alias("q1"),
        F.max(
            F.when(F.col("rn") == F.ceil(F.col("n") * 0.75).cast("long"), F.col("value"))
        ).alias("q3"),
    )
    fences = q.select(
        "event_type",
        "n",
        "q1",
        "q3",
        (F.col("q1") - 1.5 * (F.col("q3") - F.col("q1"))).alias("lo"),
        (F.col("q3") + 1.5 * (F.col("q3") - F.col("q1"))).alias("hi"),
    )
    return (
        v.join(F.broadcast(fences), "event_type")
        .groupBy("event_type", "n", "q1", "q3", "lo", "hi")
        .agg(
            F.sum(
                F.when(
                    (F.col("value") < F.col("lo"))
                    | (F.col("value") > F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_outliers")
        )
        .select(
            "event_type",
            F.col("n").alias("n_values"),
            round_half_up(F.col("q1"), 4).alias("q1"),
            round_half_up(F.col("q3"), 4).alias("q3"),
            round_half_up(F.col("lo"), 4).alias("fence_lo"),
            round_half_up(F.col("hi"), 4).alias("fence_hi"),
            "n_outliers",
        )
        .orderBy("event_type")
    )


# ── q298: cross-table freshness audit ────────────────────────────────────────


@register(
    "q298_freshness_audit",
    """
    WITH per AS (
      SELECT 'events' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(MAX(ts) AS DATE) AS newest FROM events
      UNION ALL
      SELECT 'orders', CAST(COUNT(*) AS BIGINT),
             CAST(MAX(o_orderdate) AS DATE) FROM orders
      UNION ALL
      SELECT 'lineitem', CAST(COUNT(*) AS BIGINT),
             CAST(MAX(l_shipdate) AS DATE) FROM lineitem
    ),
    ref AS (SELECT MAX(newest) AS now FROM per)
    SELECT p.table_name, p.n_rows, p.newest,
           CAST(date_diff('day', p.newest, r.now) AS BIGINT) AS age_days,
           date_diff('day', p.newest, r.now) > 30 AS is_stale
    FROM per p CROSS JOIN ref r
    ORDER BY p.table_name
    """,
    doc="Cross-table freshness audit: newest timestamp per time-bearing "
    "table against the lake-wide newest as the reference clock, with a "
    "30-day staleness flag — the runbook's 'is raw/ current?' check "
    "(docs/runbook.md freshness step) as one query over the catalog "
    "instead of three manual ones.",
)
def q298_freshness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one max/count aggregate per table (metadata-cheap; parquet
    footers could answer max() without a scan) unioned into a 3-row
    relation."""
    ev = load_table(spark, sf_dir, "events").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max(F.col("ts").cast("date")).alias("newest"),
    ).select(F.lit("events").alias("table_name"), "n_rows", "newest")
    o = load_table(spark, sf_dir, "orders").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max(F.col("o_orderdate").cast("date")).alias("newest"),
    ).select(F.lit("orders").alias("table_name"), "n_rows", "newest")
    li = load_table(spark, sf_dir, "lineitem").agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.max(F.col("l_shipdate").cast("date")).alias("newest"),
    ).select(F.lit("lineitem").alias("table_name"), "n_rows", "newest")
    per = ev.unionByName(o).unionByName(li)
    ref = per.agg(F.max("newest").alias("now"))
    return (
        per.crossJoin(F.broadcast(ref))
        .select(
            "table_name",
            "n_rows",
            "newest",
            F.datediff("now", "newest").cast("long").alias("age_days"),
            (F.datediff("now", "newest") > 30).alias("is_stale"),
        )
        .orderBy("table_name")
    )


# ── q299: Spearman rank agreement between the two quality scorers ────────────


def _q299_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q173_quality_logreg"].sql
    lm = _REGISTRY["q92_unigram_logprob"].sql
    return f"""
    WITH m AS ({model}),
    l AS ({lm}),
    j AS MATERIALIZED (
      SELECT m.doc_id,
             CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT) AS s1,
             CAST(FLOOR(l.avg_logprob * 10000 + 0.5) AS BIGINT) AS s2
      FROM m JOIN l ON l.doc_id = m.doc_id
    ),
    h1 AS (
      SELECT s1, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(2 * COALESCE(SUM(COUNT(*)) OVER (ORDER BY s1
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + COUNT(*) + 1 AS BIGINT) AS r2x
      FROM j GROUP BY s1
    ),
    h2 AS (
      SELECT s2, CAST(COUNT(*) AS BIGINT) AS c,
             CAST(2 * COALESCE(SUM(COUNT(*)) OVER (ORDER BY s2
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + COUNT(*) + 1 AS BIGINT) AS r2x
      FROM j GROUP BY s2
    ),
    rr AS (
      SELECT h1.r2x AS x, h2.r2x AS y
      FROM j JOIN h1 ON h1.s1 = j.s1 JOIN h2 ON h2.s2 = j.s2
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM rr
    )
    SELECT n AS n_docs,
           FLOOR((n * sxy - sx * sy) * 1.0
                 / SQRT((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000 AS spearman_rho
    FROM s
    """


@register(
    "q299_scorer_rank_agreement",
    _q299_sql(),
    doc="Spearman rank correlation between the engine's two quality "
    "scorers (q173 logistic features vs q92 unigram-LM logprob), "
    "computed from HISTOGRAM MIDRANKS (doubled to stay integer, the "
    "q240 tie rule) broadcast back onto docs — so the rank transform "
    "never globally sorts the corpus — then the exact-integer Pearson "
    "identity. The monotone-agreement complement to q231's "
    "threshold-level kappa: high rho + low kappa means the scorers "
    "agree on ORDER but the thresholds are mis-aligned.",
)
def q299_scorer_rank_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two score histograms (bounded by score resolution), two
    broadcast joins to attach midranks, one 6-sum fold. No corpus-wide
    rank window anywhere."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("s1"),
    )
    l = _REGISTRY["q92_unigram_logprob"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("avg_logprob") * 10000 + 0.5).cast("long").alias("s2"),
    )
    j = m.join(l, "doc_id").select("s1", "s2")

    def midranks(col):
        h = j.groupBy(col).agg(F.count(F.lit(1)).cast("long").alias("c"))
        w = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        return h.select(
            col,
            (
                2 * F.coalesce(F.sum("c").over(w), F.lit(0))
                + F.col("c")
                + 1
            )
            .cast("long")
            .alias(f"r_{col}"),
        )
    rr = (
        j.join(F.broadcast(midranks("s1")), "s1")
        .join(F.broadcast(midranks("s2")), "s2")
        .select(F.col("r_s1").alias("x"), F.col("r_s2").alias("y"))
    )
    s = rr.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    # try_divide: a 1-doc lake has zero rank variance on both scorers
    rho = F.try_divide(
        (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) * 1.0,
        F.sqrt(
            (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
            * 1.0
            * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
        ),
    )
    return s.select(
        F.col("n").alias("n_docs"), round_half_up(rho, 6).alias("spearman_rho")
    )


# ── q300: corpus health scorecard (the one-row executive summary) ────────────


def _q300_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    pairs = _REGISTRY["q23_ngram_jaccard_dedup"].sql
    model = _REGISTRY["q173_quality_logreg"].sql
    div = _REGISTRY["q293_mixture_diversity"].sql
    return f"""
    WITH nd AS ({pairs}),
    m AS ({model}),
    dv AS ({div}),
    base AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS total_chars
      FROM documents
    ),
    dup AS (SELECT CAST(COUNT(DISTINCT doc_b) AS BIGINT) AS n_dup FROM nd),
    q AS (
      SELECT CAST(SUM(CASE WHEN quality_pass THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pass,
             CAST(COUNT(*) AS BIGINT) AS n_scored
      FROM m
    )
    SELECT b.n_docs, b.total_chars,
           FLOOR(d.n_dup * 1.0 / b.n_docs * 1000000 + 0.5) / 1000000
             AS near_dup_rate,
           FLOOR(q.n_pass * 1.0 / q.n_scored * 1000000 + 0.5) / 1000000
             AS quality_pass_rate,
           v.effective_sources,
           FLOOR(b.total_chars * 1.0 / b.n_docs * 100 + 0.5) / 100
             AS mean_chars
    FROM base b CROSS JOIN dup d CROSS JOIN q CROSS JOIN dv v
    """


def _corpus_scorecard(
    spark: SparkSession, sf_dir: str, ngram_pairs: DataFrame
) -> DataFrame:
    """Shared aggregation for q300 and its from-index twin: the
    corpus-level scorecard given the n-gram Jaccard dup-pair relation
    (fresh from q23, or read from the materialized dedup index)."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    base = load_table(spark, sf_dir, "documents").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    dup = ngram_pairs.agg(F.countDistinct("doc_b").cast("long").alias("n_dup"))
    q = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).agg(
        F.sum(F.when(F.col("quality_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.count(F.lit(1)).cast("long").alias("n_scored"),
    )
    dv = _REGISTRY["q293_mixture_diversity"].fn(spark, sf_dir).select(
        "effective_sources"
    )
    return (
        base.crossJoin(F.broadcast(dup))
        .crossJoin(F.broadcast(q))
        .crossJoin(F.broadcast(dv))
        .select(
            "n_docs",
            "total_chars",
            # try_divide: NULL rates on an empty lake (matches DuckDB
            # x/0 -> NULL) instead of an ANSI divide-by-zero error
            round_half_up(
                F.try_divide(F.col("n_dup") * 1.0, F.col("n_docs")), 6
            ).alias("near_dup_rate"),
            round_half_up(
                F.try_divide(F.col("n_pass") * 1.0, F.col("n_scored")), 6
            ).alias("quality_pass_rate"),
            "effective_sources",
            round_half_up(
                F.try_divide(F.col("total_chars") * 1.0, F.col("n_docs")), 2
            ).alias("mean_chars"),
        )
    )


@register(
    "q300_corpus_scorecard",
    _q300_sql(),
    doc="The corpus health scorecard: size, near-duplicate rate (q23 "
    "losers), quality pass rate (q173), effective source count (q293) "
    "and mean document length in ONE certified row — the executive "
    "summary line a q200 dataset card leads with, every number "
    "backed by an already-audited component query.",
)
def q300_corpus_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each component is its audited query; the scorecard adds
    four scalar folds and broadcast cross joins. The from-index twin
    (pipelines/audit_index.py) reads the MATERIALIZED n-gram dup-pair
    relation instead of re-running the q23 shingle join."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    return _corpus_scorecard(
        spark, sf_dir, _REGISTRY["q23_ngram_jaccard_dedup"].fn(spark, sf_dir)
    )


# ── q301: distinctive vocabulary per source (log-odds, Dirichlet prior) ──────

_Q301_ALPHA = "0.01"  # per-word Dirichlet pseudo-count
_Q301_TOP = 3


def _q301_sql() -> str:
    a = _Q301_ALPHA
    return rf"""
    WITH tok AS (
      SELECT source, unnest(string_split_regex(trim(lower(text)), '\s+'))
               AS term
      FROM documents WHERE len(trim(text)) > 0
    ),
    cnt AS (
      SELECT source, term, CAST(COUNT(*) AS BIGINT) AS y
      FROM tok GROUP BY source, term
    ),
    vocab AS (SELECT CAST(COUNT(DISTINCT term) AS BIGINT) AS v FROM cnt),
    totals AS (SELECT source, CAST(SUM(y) AS BIGINT) AS n FROM cnt GROUP BY source),
    grand AS (
      SELECT term, CAST(SUM(y) AS BIGINT) AS yt FROM cnt GROUP BY term
    ),
    alln AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM totals),
    z AS (
      SELECT c.source, c.term, c.y,
             (LN((c.y + {a}) / (t.n + {a} * v.v - c.y - {a}))
              - LN((g.yt - c.y + {a})
                   / (an.nt - t.n + {a} * v.v - (g.yt - c.y) - {a})))
             / SQRT(1.0 / (c.y + {a}) + 1.0 / (g.yt - c.y + {a})) AS zscore
      FROM cnt c
      JOIN totals t ON t.source = c.source
      JOIN grand g ON g.term = c.term
      CROSS JOIN vocab v CROSS JOIN alln an
    )
    SELECT source, term, y AS n_occurrences,
           FLOOR(zscore * 10000 + 0.5) / 10000 AS log_odds_z,
           CAST(rk AS INTEGER) AS distinct_rank
    FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY source
            ORDER BY zscore DESC, term) AS rk FROM z) t
    WHERE rk <= {_Q301_TOP}
    ORDER BY source, distinct_rank
    """


@register(
    "q301_fightin_words",
    _q301_sql(),
    doc="Distinctive vocabulary per source via the Monroe et al. "
    "'Fightin' Words' log-odds ratio with an informative Dirichlet "
    "prior: each (source, term) scored against the REST of the corpus "
    "with variance-standardized log-odds, top-3 per source — the "
    "corpus-comparison readout that beats raw TF-IDF for 'what makes "
    "this slice different' because the prior shrinks rare-word noise. "
    "Counts are exact integers feeding EXP/LN chains (q159 parity "
    "class).",
)
def q301_fightin_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one (source, term) aggregate (map-side combinable), a
    term-marginal join keyed on term (vocabulary-bounded), and tiny
    broadcast scalars; the per-source rank runs over the count
    relation."""
    a = float(_Q301_ALPHA)
    docs = load_table(spark, sf_dir, "documents").filter(
        F.length(F.trim(F.col("text"))) > 0
    )
    cnt = (
        docs.select(
            "source",
            F.explode(F.split(F.trim(F.lower(F.col("text"))), r"\s+")).alias(
                "term"
            ),
        )
        .groupBy("source", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("y"))
    )
    vocab = cnt.agg(F.countDistinct("term").cast("long").alias("v"))
    totals = cnt.groupBy("source").agg(F.sum("y").cast("long").alias("n"))
    grand = cnt.groupBy("term").agg(F.sum("y").cast("long").alias("yt"))
    alln = totals.agg(F.sum("n").cast("long").alias("nt"))
    num1 = (F.col("y") + a) / (
        F.col("n") + a * F.col("v") - F.col("y") - F.lit(a)
    )
    num2 = (F.col("yt") - F.col("y") + a) / (
        F.col("nt")
        - F.col("n")
        + a * F.col("v")
        - (F.col("yt") - F.col("y"))
        - F.lit(a)
    )
    zscore = (F.log(num1) - F.log(num2)) / F.sqrt(
        1.0 / (F.col("y") + a) + 1.0 / (F.col("yt") - F.col("y") + a)
    )
    z = (
        cnt.join(F.broadcast(totals), "source")
        .join(grand, "term")
        .crossJoin(F.broadcast(vocab))
        .crossJoin(F.broadcast(alln))
        .withColumn("zscore", zscore)
    )
    return (
        z.withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("source").orderBy(
                    F.col("zscore").desc(), "term"
                )
            ),
        )
        .filter(F.col("rk") <= _Q301_TOP)
        .select(
            "source",
            "term",
            F.col("y").alias("n_occurrences"),
            round_half_up(F.col("zscore"), 4).alias("log_odds_z"),
            F.col("rk").cast("int").alias("distinct_rank"),
        )
        .orderBy("source", "distinct_rank")
    )


# ── q302: Lorenz curve of customer revenue concentration ─────────────────────


@register(
    "q302_lorenz_curve",
    """
    WITH rev AS (
      SELECT o_custkey,
             CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS cents
      FROM orders GROUP BY o_custkey
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(cents) AS BIGINT) AS tc FROM rev),
    ranked AS (
      SELECT cents,
             NTILE(10) OVER (ORDER BY cents, o_custkey) AS decile
      FROM rev
    ),
    per AS (
      SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(cents) AS BIGINT) AS cents
      FROM ranked GROUP BY decile
    )
    SELECT CAST(p.decile AS INTEGER) AS decile, p.n_customers,
           FLOOR(SUM(p.n_customers) OVER (ORDER BY p.decile) * 1.0 / n.n
                 * 1000000 + 0.5) / 1000000 AS cum_customer_share,
           FLOOR(SUM(p.cents) OVER (ORDER BY p.decile) * 1.0 / n.tc
                 * 1000000 + 0.5) / 1000000 AS cum_revenue_share
    FROM per p CROSS JOIN n
    ORDER BY decile
    """,
    doc="Lorenz curve of customer revenue: customers ranked poorest-"
    "first into deciles, cumulative customer share vs cumulative "
    "revenue share — the curve whose area doubles into q180's Gini, "
    "kept as points because 'the top decile holds X% of revenue' is "
    "what the business actually asks. Exact integer cents; windows "
    "run over customer-level then 10-row relations.",
)
def q302_lorenz_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one customer rollup; the NTILE orders the customer
    relation (dimension-scale; histogram boundaries at extreme counts
    — q240's note); the curve is a 10-row cumulative window."""
    rev = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long"))
            .cast("long")
            .alias("cents")
        )
    )
    n = rev.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("tc"),
    )
    ranked = rev.select(
        "cents",
        F.ntile(10).over(Window.orderBy("cents", "o_custkey")).alias("decile"),
    )
    per = ranked.groupBy("decile").agg(
        F.count(F.lit(1)).cast("long").alias("n_customers"),
        F.sum("cents").cast("long").alias("cents"),
    )
    wc = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    return (
        per.crossJoin(F.broadcast(n))
        .select(
            F.col("decile").cast("int").alias("decile"),
            "n_customers",
            round_half_up(
                F.sum("n_customers").over(wc) * 1.0 / F.col("n"), 6
            ).alias("cum_customer_share"),
            round_half_up(
                F.sum("cents").over(wc) * 1.0 / F.col("tc"), 6
            ).alias("cum_revenue_share"),
        )
        .orderBy("decile")
    )


# ── q303: basket-size cap planner (hot-basket skew hardening) ───────────────

_Q303_CAPS = (2, 4, 8, 16, 32, 64)


def _q303_sql() -> str:
    caps = ", ".join(str(c) for c in _Q303_CAPS)
    return f"""
    WITH basket AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    sz AS (
      SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS sz
      FROM basket GROUP BY 1
    ),
    hist AS (SELECT sz, CAST(COUNT(*) AS BIGINT) AS n FROM sz GROUP BY 1),
    caps AS (SELECT unnest([{caps}]) AS cap),
    tot AS (
      SELECT CAST(SUM(n * sz * (sz - 1)) AS BIGINT) AS pairs_total
      FROM hist
    )
    SELECT CAST(cap AS INTEGER) AS cap,
           CAST(COALESCE(SUM(CASE WHEN sz > cap THEN n END), 0) AS BIGINT)
             AS n_baskets_dropped,
           CAST(COALESCE(SUM(CASE WHEN sz > cap THEN n * sz * (sz - 1) END),
                         0) AS BIGINT) AS n_pairs_dropped,
           t.pairs_total,
           FLOOR(COALESCE(SUM(CASE WHEN sz > cap THEN n * sz * (sz - 1) END),
                          0) * 1.0 / t.pairs_total * 1000000 + 0.5) / 1000000
             AS pair_drop_frac
    FROM caps CROSS JOIN hist CROSS JOIN tot t
    GROUP BY cap, t.pairs_total
    ORDER BY cap
    """


@register(
    "q303_basket_cap_plan",
    _q303_sql(),
    doc="Basket-size cap planner for the co-occurrence family "
    "(q262/q271): for each candidate max-basket-size cap, how many "
    "baskets the cap would drop and how many directed pairs "
    "(sz·(sz−1) each) that removes from the pair join — the "
    "q236/q292-style parameter sweep that prices the hot-basket skew "
    "remedy from ONE basket-size histogram, before any pair join "
    "runs. operators/baskets.py:capped_baskets enforces the chosen "
    "cap with the same dropped-pairs accounting (no silent caps).",
)
def q303_basket_cap_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable size aggregate over the basket
    relation, then every sweep row computes on the (tiny) size
    HISTOGRAM crossed with the candidate-cap spine — the pair join
    itself never runs. The q240-histogram / q236-sweep shape."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    sizes = (
        li.distinct()
        .groupBy("l_orderkey")
        .agg(F.count(F.lit(1)).alias("sz"))
    )
    hist = sizes.groupBy("sz").agg(F.count(F.lit(1)).cast("long").alias("n"))
    caps = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in _Q303_CAPS])).alias("cap")
    )
    # every cap group sees ALL histogram rows (cross join), so the grand
    # pairs_total folds inside the SAME aggregate — one lineitem scan,
    # no duplicated histogram subtree (pinned in tests/test_baskets.py)
    all_pairs = F.col("n") * F.col("sz") * (F.col("sz") - 1)
    dropped = F.when(F.col("sz") > F.col("cap"), all_pairs).otherwise(0)
    return (
        caps.crossJoin(F.broadcast(hist))
        .groupBy("cap")
        .agg(
            F.sum(F.when(F.col("sz") > F.col("cap"), F.col("n")).otherwise(0))
            .cast("long")
            .alias("n_baskets_dropped"),
            F.sum(dropped).cast("long").alias("n_pairs_dropped"),
            F.sum(all_pairs).cast("long").alias("pairs_total"),
            # try_divide: all-singleton baskets have zero pair work
            round_half_up(
                F.try_divide(F.sum(dropped) * 1.0, F.sum(all_pairs)), 6
            ).alias("pair_drop_frac"),
        )
        .select(
            F.col("cap").cast("int").alias("cap"),
            "n_baskets_dropped",
            "n_pairs_dropped",
            "pairs_total",
            "pair_drop_frac",
        )
        .orderBy("cap")
    )


# ── q304: Kaplan-Meier repurchase survival curve ─────────────────────────────


def _q304_sql() -> str:
    return """
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    seq AS (
      SELECT o_custkey, o_orderdate,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nxt
      FROM orders
    ),
    subj AS (
      SELECT CAST(FLOOR(date_diff('day', o_orderdate,
               COALESCE(nxt, m.mxd)) / 7) AS BIGINT) AS t_weeks,
             CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev
      FROM seq CROSS JOIN mx m
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM subj),
    grid AS (
      SELECT t_weeks,
             CAST(SUM(ev) AS BIGINT) AS d,
             CAST(SUM(1 - ev) AS BIGINT) AS c
      FROM subj GROUP BY t_weeks
    ),
    risk AS (
      SELECT t_weeks, d, c,
             CAST(n.total - COALESCE(SUM(d + c) OVER (ORDER BY t_weeks
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n_at_risk
      FROM grid CROSS JOIN n
    ),
    km AS (
      SELECT t_weeks, d, c, n_at_risk,
             SUM(CASE WHEN d > 0 THEN CAST(ROUND(LN(GREATEST(
                   1 - d * 1.0 / n_at_risk, 1e-12)) * 1000000) AS BIGINT)
                 ELSE 0 END)
               OVER (ORDER BY t_weeks) AS lsum
      FROM risk
    )
    SELECT CAST(t_weeks AS INTEGER) AS t_weeks,
           n_at_risk,
           d AS n_events,
           c AS n_censored,
           FLOOR(EXP(lsum / 1000000.0) * 1000000 + 0.5) / 1000000 AS survival
    FROM km
    ORDER BY t_weeks
    """


@register(
    "q304_kaplan_meier",
    _q304_sql(),
    doc="Kaplan-Meier survival curve of time-to-repurchase: every order "
    "is a subject whose time is the gap (weeks) to the customer's next "
    "order, right-censored at the lake's newest order date when no next "
    "order exists. Product-limit estimator replayed exactly in SQL via "
    "the q232 idiom — per-time ln(1-d/n) quantized to a 1e-6 integer, "
    "EXACT integer cumulative sum, one exp at the end — so the curve "
    "is hash-checked, not rows-only. The churn-analysis classic.",
)
def q304_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one LEAD window per customer (re-shards on o_custkey),
    then every KM window runs over the (tiny) distinct-gap GRID — the
    q240-histogram shape; nothing corpus-sized is windowed or sorted
    globally."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate"
    )
    mx = o.agg(F.max("o_orderdate").alias("mxd"))
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    subj = (
        o.withColumn("nxt", F.lead("o_orderdate").over(w))
        .crossJoin(F.broadcast(mx))
        .select(
            F.floor(
                F.datediff(F.coalesce("nxt", "mxd"), F.col("o_orderdate")) / 7
            ).alias("t_weeks"),
            F.when(F.col("nxt").isNotNull(), 1).otherwise(0).alias("ev"),
        )
    )
    n = subj.agg(F.count(F.lit(1)).cast("long").alias("total"))
    grid = subj.groupBy("t_weeks").agg(
        F.sum("ev").cast("long").alias("d"),
        F.sum(1 - F.col("ev")).cast("long").alias("c"),
    )
    wt = Window.orderBy("t_weeks")
    risk = (
        grid.crossJoin(F.broadcast(n))
        .withColumn(
            "n_at_risk",
            F.col("total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("c")).over(
                    wt.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ),
        )
    )
    term = F.when(
        F.col("d") > 0,
        F.round(
            F.log(
                F.greatest(
                    1 - F.col("d") * 1.0 / F.col("n_at_risk"), F.lit(1e-12)
                )
            )
            * 1_000_000
        ).cast("long"),
    ).otherwise(F.lit(0).cast("long"))
    km = risk.withColumn("lsum", F.sum(term).over(wt))
    return km.select(
        F.col("t_weeks").cast("int").alias("t_weeks"),
        "n_at_risk",
        F.col("d").alias("n_events"),
        F.col("c").alias("n_censored"),
        round_half_up(F.exp(F.col("lsum") / 1_000_000.0), 6).alias("survival"),
    ).orderBy("t_weeks")


# ── q305: CUSUM changepoint scan over daily event volume ────────────────────


def _q305_sql() -> str:
    return """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS s
      FROM daily
    ),
    cusum AS (
      SELECT d, n,
             CAST(SUM(n * t.k - t.s) OVER (ORDER BY d) AS BIGINT) AS num,
             t.k AS k
      FROM daily CROSS JOIN tot t
    ),
    peaked AS (
      SELECT d, n, num, k, MAX(ABS(num)) OVER () AS mx FROM cusum
    ),
    flagged AS (
      SELECT d, n, num, k,
             MIN(CASE WHEN ABS(num) = mx THEN d END) OVER () AS first_peak
      FROM peaked
    )
    SELECT d, n AS daily_n,
           FLOOR(num * 1.0 / k * 100 + 0.5) / 100 AS cusum,
           CASE WHEN d = first_peak THEN TRUE ELSE FALSE END
             AS is_changepoint
    FROM flagged
    ORDER BY d
    """


@register(
    "q305_cusum_changepoint",
    _q305_sql(),
    doc="CUSUM changepoint scan over daily event volume: cumulative sum "
    "of (count - grand mean) per day, peak |CUSUM| day flagged as the "
    "level-shift candidate (earliest day on ties). The whole statistic "
    "runs in EXACT INTEGER arithmetic — CUSUM·k = Σ(n·k − s) with k "
    "days and total s — so the argmax is bit-deterministic in both "
    "engines; only the reported cusum column divides at the end. The "
    "volume-monitoring sibling of q283's per-day z-score anomalies "
    "(which flag outlier DAYS; CUSUM localizes a persistent SHIFT).",
)
def q305_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable daily count; every window runs
    over the (tiny) day spine. The q240-histogram discipline — nothing
    corpus-sized is windowed."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
    )
    wd = Window.orderBy("d")
    cus = (
        daily.crossJoin(F.broadcast(tot))
        .withColumn(
            "num",
            F.sum(F.col("n") * F.col("k") - F.col("s")).over(wd).cast("long"),
        )
    )
    wall = Window.partitionBy()
    flagged = cus.withColumn(
        "mx", F.max(F.abs(F.col("num"))).over(wall)
    ).withColumn(
        "first_peak",
        F.min(
            F.when(F.abs(F.col("num")) == F.col("mx"), F.col("d"))
        ).over(wall),
    )
    return flagged.select(
        "d",
        F.col("n").alias("daily_n"),
        round_half_up(F.col("num") * 1.0 / F.col("k"), 2).alias("cusum"),
        (F.col("d") == F.col("first_peak")).alias("is_changepoint"),
    ).orderBy("d")


# ── q306: Mann-Whitney U test between the two largest sources ───────────────


def _q306_sql() -> str:
    return """
    WITH top2 AS (
      SELECT source,
             ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, source) AS gk
      FROM documents GROUP BY source
      QUALIFY gk <= 2
    ),
    vals AS (
      SELECT t.gk, d.n_chars AS v
      FROM documents d JOIN top2 t USING (source)
    ),
    hist AS (
      SELECT v,
             CAST(SUM(CASE WHEN gk = 1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
             CAST(SUM(CASE WHEN gk = 2 THEN 1 ELSE 0 END) AS BIGINT) AS c2
      FROM vals GROUP BY v
    ),
    mid AS (
      SELECT v, c1, c2, c1 + c2 AS t,
             CAST(2 * COALESCE(SUM(c1 + c2) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + (c1 + c2) + 1 AS BIGINT) AS midrank2
      FROM hist
    ),
    agg AS (
      SELECT CAST(SUM(c1) AS BIGINT) AS n1,
             CAST(SUM(c2) AS BIGINT) AS n2,
             CAST(SUM(c1 * midrank2) AS BIGINT) AS r1x2,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
      FROM mid
    ),
    names AS (
      SELECT MIN(CASE WHEN gk = 1 THEN source END) AS source_a,
             MIN(CASE WHEN gk = 2 THEN source END) AS source_b
      FROM top2
    )
    SELECT n.source_a, n.source_b, a.n1 AS n_a, a.n2 AS n_b,
           CAST((a.r1x2 - a.n1 * (a.n1 + 1)) / 2 AS BIGINT) AS u_stat,
           FLOOR(a.n1 * a.n2 / 2.0 * 100 + 0.5) / 100 AS u_mean,
           FLOOR(((a.r1x2 - a.n1 * (a.n1 + 1)) / 2.0 - a.n1 * a.n2 / 2.0)
                 / SQRT(a.n1 * 1.0 * a.n2 / 12.0
                        * ((a.n1 + a.n2 + 1)
                           - a.tie3 * 1.0 / ((a.n1 + a.n2)
                                             * (a.n1 + a.n2 - 1))))
                 * 10000 + 0.5) / 10000 AS z,
           FLOOR((1 - 2.0 * ((a.r1x2 - a.n1 * (a.n1 + 1)) / 2.0)
                      / (a.n1 * a.n2)) * 1000000 + 0.5) / 1000000
             AS rank_biserial
    FROM agg a CROSS JOIN names n
    """


@register(
    "q306_mann_whitney",
    _q306_sql(),
    doc="Mann-Whitney U test of document length between the two largest "
    "sources: tie-corrected normal approximation and the rank-biserial "
    "effect size. Midranks come from the VALUE HISTOGRAM in doubled "
    "integer units (midrank·2 = 2·cum_before + count + 1), so the rank "
    "sum, the U statistic and the tie term Σ(t³−t) are all EXACT "
    "integers in both engines — only z and the effect size divide at "
    "the end. The two-sample nonparametric sibling of q299's Spearman "
    "(same histogram-midrank machinery, different question: are two "
    "sources' length distributions stochastically ordered?).",
)
def q306_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one source-keyed count to pick the groups, one value
    histogram (map-side combinable), then every window runs over the
    DISTINCT-value spine — corpus rows are never ranked directly."""
    docs = load_table(spark, sf_dir, "documents")
    top2 = (
        docs.groupBy("source")
        .agg(F.count(F.lit(1)).alias("nd"))
        .withColumn(
            "gk",
            F.row_number().over(Window.orderBy(F.desc("nd"), "source")),
        )
        .filter(F.col("gk") <= 2)
        .select("source", "gk")
    )
    vals = docs.join(F.broadcast(top2), "source").select(
        "gk", F.col("n_chars").alias("v")
    )
    hist = vals.groupBy("v").agg(
        F.sum(F.when(F.col("gk") == 1, 1).otherwise(0)).cast("long").alias("c1"),
        F.sum(F.when(F.col("gk") == 2, 1).otherwise(0)).cast("long").alias("c2"),
    )
    wv = Window.orderBy("v")
    mid = hist.select(
        "v",
        "c1",
        "c2",
        (F.col("c1") + F.col("c2")).alias("t"),
        (
            2
            * F.coalesce(
                F.sum(F.col("c1") + F.col("c2")).over(
                    wv.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            )
            + (F.col("c1") + F.col("c2"))
            + 1
        )
        .cast("long")
        .alias("midrank2"),
    )
    agg = mid.agg(
        F.sum("c1").cast("long").alias("n1"),
        F.sum("c2").cast("long").alias("n2"),
        F.sum(F.col("c1") * F.col("midrank2")).cast("long").alias("r1x2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3"),
    )
    names = top2.groupBy().agg(
        F.min(F.when(F.col("gk") == 1, F.col("source"))).alias("source_a"),
        F.min(F.when(F.col("gk") == 2, F.col("source"))).alias("source_b"),
    )
    u = (F.col("r1x2") - F.col("n1") * (F.col("n1") + 1)) / 2.0
    nn = F.col("n1") + F.col("n2")
    # try_divide: a single-row (or single-source) lake degenerates the
    # tie correction (nn <= 1) and sigma -> 0; U moments undefined
    sigma = F.sqrt(
        F.col("n1") * 1.0 * F.col("n2") / 12.0
        * ((nn + 1) - F.try_divide(F.col("tie3") * 1.0, nn * (nn - 1)))
    )
    return agg.crossJoin(F.broadcast(names)).select(
        "source_a",
        "source_b",
        F.col("n1").alias("n_a"),
        F.col("n2").alias("n_b"),
        u.cast("long").alias("u_stat"),
        round_half_up(F.col("n1") * F.col("n2") / 2.0, 2).alias("u_mean"),
        round_half_up(
            F.try_divide(u - F.col("n1") * F.col("n2") / 2.0, sigma), 4
        ).alias("z"),
        round_half_up(
            1 - F.try_divide(2.0 * u, F.col("n1") * F.col("n2")), 6
        ).alias("rank_biserial"),
    )


# ── q307: discount dispersion per part (pricing-consistency audit) ──────────

_Q307_TOP = 10


def _q307_sql() -> str:
    return f"""
    WITH c AS (
      SELECT l_partkey,
             CAST(ROUND(l_discount * 100) AS BIGINT) AS cents
      FROM lineitem
    ),
    agg AS (
      SELECT l_partkey,
             CAST(COUNT(*) AS BIGINT) AS n_sales,
             CAST(COUNT(DISTINCT cents) AS BIGINT) AS n_discount_levels,
             CAST(SUM(cents) AS BIGINT) AS s,
             CAST(SUM(cents * cents) AS BIGINT) AS ss
      FROM c GROUP BY l_partkey
    ),
    scored AS (
      SELECT l_partkey, n_sales, n_discount_levels,
             s, n_sales * ss - s * s AS var_num,
             ROW_NUMBER() OVER (
               ORDER BY (n_sales * ss - s * s) * 1.0
                          / (n_sales * n_sales) DESC, l_partkey) AS rk
      FROM agg
    )
    SELECT l_partkey, n_sales, n_discount_levels,
           FLOOR(s * 1.0 / n_sales / 100 * 10000 + 0.5) / 10000
             AS mean_discount,
           FLOOR(var_num * 1.0 / (n_sales * n_sales) / 10000 * 100000000
                 + 0.5) / 100000000 AS var_discount,
           CAST(rk AS INTEGER) AS dispersion_rank
    FROM scored
    WHERE rk <= {_Q307_TOP}
    ORDER BY dispersion_rank
    """


@register(
    "q307_discount_dispersion",
    _q307_sql(),
    doc="Pricing-consistency audit: the top-10 parts whose line-item "
    "discounts vary most (population variance), with level counts and "
    "means. Discounts are quantized to EXACT integer cents, so the "
    "variance numerator n·Σc²−(Σc)² is exact integer arithmetic in "
    "both engines and the dispersion ranking is bit-deterministic — "
    "division happens only in the two reported columns. The audit "
    "that catches a channel applying ad-hoc discounts to one SKU.",
)
def q307_discount_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one part-keyed partial aggregate over lineitem (map-side
    combinable sums); the rank window runs over the PART aggregate,
    WindowGroupLimit-eligible via the rk filter."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", F.round(F.col("l_discount") * 100).cast("long").alias("cents")
    )
    agg = li.groupBy("l_partkey").agg(
        F.count(F.lit(1)).cast("long").alias("n_sales"),
        F.countDistinct("cents").cast("long").alias("n_discount_levels"),
        F.sum("cents").cast("long").alias("s"),
        F.sum(F.col("cents") * F.col("cents")).cast("long").alias("ss"),
    )
    var_num = F.col("n_sales") * F.col("ss") - F.col("s") * F.col("s")
    scored = agg.withColumn(
        "rk",
        F.row_number().over(
            Window.orderBy(
                (var_num * 1.0 / (F.col("n_sales") * F.col("n_sales"))).desc(),
                "l_partkey",
            )
        ),
    )
    return (
        scored.filter(F.col("rk") <= _Q307_TOP)
        .select(
            "l_partkey",
            "n_sales",
            "n_discount_levels",
            round_half_up(F.col("s") * 1.0 / F.col("n_sales") / 100, 4).alias(
                "mean_discount"
            ),
            round_half_up(
                var_num * 1.0 / (F.col("n_sales") * F.col("n_sales")) / 10000,
                8,
            ).alias("var_discount"),
            F.col("rk").cast("int").alias("dispersion_rank"),
        )
        .orderBy("dispersion_rank")
    )


# ── q308: matryoshka prefix-dimension fidelity audit ─────────────────────────

_Q308_DIMS = (8, 16, 32, 64)
_Q308_PAIRS = 256  # deterministic (2i, 2i+1) pairs from the smallest ids


def _q308_sql() -> str:
    rows = []
    for d in _Q308_DIMS:
        # prefix-d cosine: the fold the Spark side's F.slice + cosine() performs
        cos_p = _cos_sql("a.embedding", "b.embedding", d)
        rows.append(f"""
    SELECT {d} AS prefix_dim,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(SUM(CAST(ROUND(ABS(({cos_p}) - cf.cos_full) * 1000000)
                     AS BIGINT)) * 1.0 / COUNT(*) / 1000000 * 1000000 + 0.5)
             / 1000000 AS mean_abs_err,
           FLOOR(SUM(CASE WHEN (({cos_p}) >= 0) = (cf.cos_full >= 0)
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*) * 1000000
                 + 0.5) / 1000000 AS sign_agreement
    FROM pairs p
    JOIN embeddings a ON a.vec_id = p.ia
    JOIN embeddings b ON b.vec_id = p.ib
    JOIN cosf cf ON cf.ia = p.ia""")
    cos_full = _cos_sql("a.embedding", "b.embedding", 64)
    union = "\n    UNION ALL\n".join(rows)
    return f"""
    WITH ids AS (
      SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT {2 * _Q308_PAIRS}
    ),
    pairs AS (
      SELECT a.vec_id AS ia, b.vec_id AS ib
      FROM ids a JOIN ids b ON b.vec_id = a.vec_id + 1
      WHERE a.vec_id % 2 = 0
    ),
    cosf AS (
      SELECT p.ia, ({cos_full}) AS cos_full
      FROM pairs p
      JOIN embeddings a ON a.vec_id = p.ia
      JOIN embeddings b ON b.vec_id = p.ib
    )
    {union}
    ORDER BY prefix_dim
    """


@register(
    "q308_matryoshka_audit",
    _q308_sql(),
    doc="Matryoshka / truncated-embedding fidelity audit: cosine at "
    "prefix dimensions 8/16/32/64 vs the full 64-dim cosine over a "
    "deterministic set of 256 (even, even+1) id pairs — mean absolute "
    "cosine error and sign agreement per prefix. The measurement that "
    "decides how far an ANN index can truncate stored vectors before "
    "re-ranking must recover the damage (the q115 PQ and q47 IVF "
    "trade-off, priced per dimension). Cosines use the same "
    "sequential-fold arithmetic as every other hash-checked "
    "embedding query.",
)
def q308_matryoshka_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair set is a bounded deterministic sample (id-join,
    no shuffle of the corpus); per pair the work is 4 prefix dots —
    map-side column math after one broadcastable self-join."""
    from ..operators.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    ids = emb.orderBy("vec_id").limit(2 * _Q308_PAIRS).select("vec_id")
    pairs = (
        ids.alias("x")
        .join(
            ids.alias("y"),
            F.col("y.vec_id") == F.col("x.vec_id") + 1,
        )
        .filter(F.col("x.vec_id") % 2 == 0)
        .select(F.col("x.vec_id").alias("ia"), F.col("y.vec_id").alias("ib"))
    )
    j = (
        pairs.join(
            emb.select(
                F.col("vec_id").alias("ia"), F.col("embedding").alias("ea")
            ),
            "ia",
        )
        .join(
            emb.select(
                F.col("vec_id").alias("ib"), F.col("embedding").alias("eb")
            ),
            "ib",
        )
        .withColumn("cos_full", cosine(F.col("ea"), F.col("eb")))
    )
    outs = []
    for d in _Q308_DIMS:
        cp = cosine(F.slice("ea", 1, d), F.slice("eb", 1, d))
        outs.append(
            j.agg(
                F.lit(d).cast("int").alias("prefix_dim"),
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                round_half_up(
                    F.sum(
                        F.round(F.abs(cp - F.col("cos_full")) * 1_000_000)
                        .cast("long")
                    )
                    * 1.0
                    / F.count(F.lit(1))
                    / 1_000_000,
                    6,
                ).alias("mean_abs_err"),
                round_half_up(
                    F.sum(
                        F.when(
                            (cp >= 0) == (F.col("cos_full") >= 0), 1
                        ).otherwise(0)
                    )
                    * 1.0
                    / F.count(F.lit(1)),
                    6,
                ).alias("sign_agreement"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.orderBy("prefix_dim")


# ── q309: burstiness (Fano factor) of hourly event volume per type ──────────


def _q309_sql() -> str:
    return """
    WITH hourly AS (
      SELECT event_type, date_trunc('hour', ts) AS h,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    agg AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(n * n) AS BIGINT) AS ss
      FROM hourly GROUP BY event_type
    )
    SELECT event_type,
           k AS n_hours,
           s AS n_events,
           FLOOR(s * 1.0 / k * 10000 + 0.5) / 10000 AS mean_per_hour,
           FLOOR((k * ss - s * s) * 1.0 / (k * s) * 10000 + 0.5) / 10000
             AS fano,
           CASE WHEN (k * ss - s * s) * 1.0 / (k * s) > 1.5
                THEN TRUE ELSE FALSE END AS is_bursty
    FROM agg
    ORDER BY event_type
    """


@register(
    "q309_burstiness_fano",
    _q309_sql(),
    doc="Burstiness audit per event type: the Fano factor "
    "(variance-to-mean ratio) of HOURLY arrival counts — 1 for a "
    "Poisson process, >1 for bursty arrivals (a crawler loop, a retry "
    "storm), <1 for throttled/regular traffic. The variance numerator "
    "k·Σn²−S² and the denominator k·S are EXACT integers in both "
    "engines, so the bursty flag is bit-deterministic; division "
    "happens only in the reported ratio columns. Complements q283's "
    "per-day outliers and q305's CUSUM shift with a dispersion-shape "
    "readout.",
)
def q309_burstiness_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one (type, hour) map-side-combinable count, then a
    per-type fold over the hourly HISTOGRAM — the corpus is scanned
    once, nothing is windowed."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    agg = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    var_num = F.col("k") * F.col("ss") - F.col("s") * F.col("s")
    return agg.select(
        "event_type",
        F.col("k").alias("n_hours"),
        F.col("s").alias("n_events"),
        round_half_up(F.col("s") * 1.0 / F.col("k"), 4).alias("mean_per_hour"),
        round_half_up(var_num * 1.0 / (F.col("k") * F.col("s")), 4).alias(
            "fano"
        ),
        (var_num * 1.0 / (F.col("k") * F.col("s")) > 1.5).alias("is_bursty"),
    ).orderBy("event_type")


# ── q310: Wilcoxon signed-rank test of per-user value shift ──────────────────


def _q310_sql() -> str:
    return """
    WITH span AS (
      SELECT (MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS mid
      FROM events
    ),
    per_user AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN epoch_ms(ts) <= s.mid
                  THEN CAST(ROUND(value * 10000) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN epoch_ms(ts) > s.mid
                  THEN CAST(ROUND(value * 10000) AS BIGINT)
                  ELSE 0 END) AS BIGINT) AS v2
      FROM events CROSS JOIN span s
      GROUP BY user_id
    ),
    diffs AS (
      SELECT user_id, v2 - v1 AS d, ABS(v2 - v1) AS ad
      FROM per_user WHERE v2 - v1 <> 0
    ),
    hist AS (
      SELECT ad, CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS tpos
      FROM diffs GROUP BY ad
    ),
    mid2 AS (
      SELECT ad, t, tpos,
             CAST(2 * COALESCE(SUM(t) OVER (ORDER BY ad
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + t + 1 AS BIGINT) AS midrank2
      FROM hist
    ),
    s AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(tpos * midrank2) AS BIGINT) AS wplus2,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
      FROM mid2
    ),
    z AS (
      SELECT n, wplus2, tie3,
             (wplus2 / 2.0 - n * (n + 1) / 4.0)
               / SQRT(n * (n + 1.0) * (2 * n + 1) / 24.0 - tie3 / 48.0)
               AS zval
      FROM s
    )
    SELECT n AS n_shifted_users,
           FLOOR(wplus2 / 2.0 * 10 + 0.5) / 10 AS w_plus,
           FLOOR(n * (n + 1) / 4.0 * 10 + 0.5) / 10 AS w_mean,
           FLOOR(zval * 10000 + 0.5) / 10000 AS z,
           CASE WHEN zval > 1.959964 THEN 'increased'
                WHEN zval < -1.959964 THEN 'decreased'
                ELSE 'no_shift' END AS verdict
    FROM z
    """


@register(
    "q310_wilcoxon_value_shift",
    _q310_sql(),
    doc="Wilcoxon signed-rank test of per-user engagement value between "
    "the first and second half of the observation window (exact epoch-"
    "millisecond midpoint): paired per-user value sums quantized to "
    "1e-4 integers, zero-differences dropped per the classic test, "
    "|difference| midranks from the HISTOGRAM in doubled-integer units, "
    "tie-corrected normal approximation. W+ and the tie term are exact "
    "integers in both engines; only z divides. The paired counterpart "
    "of q306's two-independent-sample Mann-Whitney.",
)
def q310_wilcoxon_value_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user-keyed partial aggregate over events, then every
    window runs over the |difference| HISTOGRAM (bounded by distinct
    shift magnitudes) — users are never globally ranked row-by-row."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    span = ev.agg(
        (
            (F.min(F.unix_millis("ts")) + F.max(F.unix_millis("ts"))) / 2
        ).cast("long").alias("mid")
    )
    q = F.round(F.col("value") * 10_000).cast("long")
    per_user = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.unix_millis("ts") <= F.col("mid"), q).otherwise(0))
            .cast("long")
            .alias("v1"),
            F.sum(F.when(F.unix_millis("ts") > F.col("mid"), q).otherwise(0))
            .cast("long")
            .alias("v2"),
        )
    )
    diffs = per_user.select(
        (F.col("v2") - F.col("v1")).alias("d"),
        F.abs(F.col("v2") - F.col("v1")).alias("ad"),
    ).filter(F.col("d") != 0)
    hist = diffs.groupBy("ad").agg(
        F.count(F.lit(1)).cast("long").alias("t"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("long").alias("tpos"),
    )
    wv = Window.orderBy("ad")
    mid2 = hist.withColumn(
        "midrank2",
        (
            2
            * F.coalesce(
                F.sum("t").over(wv.rowsBetween(Window.unboundedPreceding, -1)),
                F.lit(0),
            )
            + F.col("t")
            + 1
        ).cast("long"),
    )
    s = mid2.agg(
        F.sum("t").cast("long").alias("n"),
        F.sum(F.col("tpos") * F.col("midrank2")).cast("long").alias("wplus2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("long")
        .alias("tie3"),
    )
    n = F.col("n")
    zval = (F.col("wplus2") / 2.0 - n * (n + 1) / 4.0) / F.sqrt(
        n * (n + 1.0) * (2 * n + 1) / 24.0 - F.col("tie3") / 48.0
    )
    return s.select(
        n.alias("n_shifted_users"),
        round_half_up(F.col("wplus2") / 2.0, 1).alias("w_plus"),
        round_half_up(n * (n + 1) / 4.0, 1).alias("w_mean"),
        round_half_up(zval, 4).alias("z"),
        F.when(zval > 1.959964, "increased")
        .when(zval < -1.959964, "decreased")
        .otherwise("no_shift")
        .alias("verdict"),
    )


# ── q311: Hill tail-index estimator for the term-frequency distribution ─────

_Q311_K = 100


def _q311_sql() -> str:
    k = _Q311_K
    return rf"""
    WITH tk AS (
      SELECT string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    tok AS (
      SELECT unnest(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS term
      FROM tk WHERE len(t) >= 3
    ),
    freq AS (
      SELECT term, CAST(COUNT(*) AS BIGINT) AS f FROM tok GROUP BY term
    ),
    ranked AS (
      SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, term) AS rn FROM freq
    ),
    cut AS (
      SELECT MAX(CASE WHEN rn = {k} + 1 THEN f END) AS fk1 FROM ranked
    ),
    s AS (
      SELECT CAST(SUM(CASE WHEN rn <= {k}
               THEN CAST(ROUND(LN(f * 1.0 / c.fk1) * 1000000) AS BIGINT)
               ELSE 0 END) AS BIGINT) AS lsum,
             MAX(c.fk1) AS fk1
      FROM ranked CROSS JOIN cut c
    )
    SELECT {k} AS k_top,
           fk1 AS freq_cutoff,
           FLOOR({k} * 1000000.0 / lsum * 10000 + 0.5) / 10000 AS hill_alpha,
           FLOOR((1 + lsum / ({k} * 1000000.0)) * 10000 + 0.5) / 10000
             AS implied_zipf_s
    FROM s
    """


@register(
    "q311_hill_tail_index",
    _q311_sql(),
    doc="Hill estimator of the TRIGRAM-frequency tail index over the "
    "top-100 order statistics: alpha = k / SUM ln(f_i/f_(k+1)), with "
    "the ln terms quantized to 1e-6 integers so the sum is exact in "
    "both engines (the q232 idiom). The maximum-likelihood complement "
    "of q252's OLS Zipf fit — Hill reads ONLY the tail, so the two "
    "disagreeing is the diagnostic that the head and tail follow "
    "different power laws (common in crawled corpora).",
)
def q311_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one token scan into a term-frequency aggregate (map-side
    combinable, |vocab|-bounded); the rank window runs over the vocab
    relation and everything after the k+1 cut is scalar."""
    k = _Q311_K
    docs = load_table(spark, sf_dir, "documents")
    tok = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(F.split(F.trim(F.lower("text")), r"\s+").alias("t"))
        .filter(F.size("t") >= 3)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("term")
        )
    )
    freq = tok.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("f"))
    ranked = freq.withColumn(
        "rn", F.row_number().over(Window.orderBy(F.desc("f"), "term"))
    )
    cut = ranked.agg(
        F.max(F.when(F.col("rn") == k + 1, F.col("f"))).alias("fk1")
    )
    s = ranked.crossJoin(F.broadcast(cut)).agg(
        F.sum(
            F.when(
                F.col("rn") <= k,
                F.round(F.log(F.col("f") * 1.0 / F.col("fk1")) * 1_000_000)
                .cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("lsum"),
        F.max("fk1").alias("fk1"),
    )
    return s.select(
        F.lit(k).cast("int").alias("k_top"),
        F.col("fk1").alias("freq_cutoff"),
        round_half_up(k * 1_000_000.0 / F.col("lsum"), 4).alias("hill_alpha"),
        round_half_up(1 + F.col("lsum") / (k * 1_000_000.0), 4).alias(
            "implied_zipf_s"
        ),
    )


# ── q312: A/B sample-ratio-mismatch (SRM) check on a hash split ─────────────

_Q312_SEED = "srm42"
_Q312_CRIT = "3.841458820694124"  # chi-square 0.95 critical value, 1 dof


def _q312_sql() -> str:
    return f"""
    WITH users AS (SELECT DISTINCT user_id FROM events),
    assign AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(concat('{_Q312_SEED}',
               CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 AS arm
      FROM users
    ),
    counts AS (
      SELECT CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
             CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
      FROM assign
    )
    SELECT n_a, n_b,
           CAST(n_a + n_b AS BIGINT) AS n_total,
           FLOOR((n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b) * 10000
                 + 0.5) / 10000 AS chi2,
           CASE WHEN (n_a - n_b) * (n_a - n_b) * 1.0 / (n_a + n_b)
                     > {_Q312_CRIT} THEN TRUE ELSE FALSE END AS srm_detected
    FROM counts
    """


@register(
    "q312_srm_check",
    _q312_sql(),
    doc="Sample-ratio-mismatch check for a 50/50 hash-split experiment: "
    "users assigned by seeded md5 parity (the deterministic split q88/"
    "q227 use), observed arm counts tested against the expected even "
    "split with a 1-dof chi-square. SRM is the first gate of any A/B "
    "readout — a biased assignment invalidates q250's power math and "
    "q268's sequential looks before any metric is computed. The "
    "chi-square numerator (n_a-n_b)^2 is exact integer arithmetic.",
)
def q312_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one distinct on the user key and one map-side parity
    aggregate — no joins, no windows."""
    ev = load_table(spark, sf_dir, "events")
    assign = ev.select("user_id").distinct().select(
        (
            F.conv(
                F.substring(
                    F.md5(
                        F.concat(
                            F.lit(_Q312_SEED), F.col("user_id").cast("string")
                        )
                    ),
                    1,
                    13,
                ),
                16,
                10,
            ).cast("long")
            % 2
        ).alias("arm")
    )
    counts = assign.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0))
        .cast("long")
        .alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0))
        .cast("long")
        .alias("n_b"),
    )
    diff2 = (F.col("n_a") - F.col("n_b")) * (F.col("n_a") - F.col("n_b"))
    chi2 = diff2 * 1.0 / (F.col("n_a") + F.col("n_b"))
    return counts.select(
        "n_a",
        "n_b",
        (F.col("n_a") + F.col("n_b")).cast("long").alias("n_total"),
        round_half_up(chi2, 4).alias("chi2"),
        # coalesce: empty lake -> chi2 NULL -> "no SRM detected" (FALSE),
        # matching the oracle's CASE ... ELSE FALSE
        F.coalesce(chi2 > float(_Q312_CRIT), F.lit(False)).alias(
            "srm_detected"
        ),
    )


# ── q313: Benford first-digit audit of order totals ──────────────────────────

# log10(1 + 1/d) at full double precision (repr), d = 1..9
_Q313_P = {
    1: "0.3010299956639812",
    2: "0.17609125905568124",
    3: "0.12493873660829993",
    4: "0.09691001300805642",
    5: "0.07918124604762482",
    6: "0.06694678963061322",
    7: "0.05799194697768673",
    8: "0.05115252244738129",
    9: "0.04575749056067514",
}


def _q313_sql() -> str:
    # ::DOUBLE — DuckDB parses a bare 16-digit literal as DECIMAL(18),
    # which overflows when the chi2 expression multiplies it up
    cases = " ".join(
        f"WHEN {d} THEN {p}::DOUBLE" for d, p in _Q313_P.items()
    )
    return f"""
    WITH digits AS (
      SELECT CAST(substr(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
               AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM digits),
    obs AS (
      SELECT digit, CAST(COUNT(*) AS BIGINT) AS n_obs
      FROM digits GROUP BY digit
    ),
    spine AS (SELECT unnest(range(1, 10)) AS digit)
    SELECT CAST(s.digit AS INTEGER) AS digit,
           CAST(COALESCE(o.n_obs, 0) AS BIGINT) AS n_obs,
           FLOOR(CASE s.digit {cases} END * 1000000 + 0.5) / 1000000
             AS expected_frac,
           FLOOR(COALESCE(o.n_obs, 0) * 1.0 / n.n * 1000000 + 0.5)
             / 1000000 AS observed_frac,
           FLOOR(POW(COALESCE(o.n_obs, 0) - n.n * CASE s.digit {cases} END, 2)
                 / (n.n * CASE s.digit {cases} END) * 10000 + 0.5) / 10000
             AS chi2_component
    FROM spine s LEFT JOIN obs o ON o.digit = s.digit CROSS JOIN n
    ORDER BY digit
    """


@register(
    "q313_benford_audit",
    _q313_sql(),
    doc="Benford first-digit audit of order totals: observed leading-"
    "digit distribution vs log10(1+1/d), with per-digit chi-square "
    "components — the forensic-accounting screen for fabricated or "
    "systematically rounded monetary data. Expected probabilities are "
    "full-precision double literals shared by both engines (the "
    "Poisson-ladder idiom); TPC-H totals are sums of uniform prices, "
    "so this corpus SHOULD deviate — the per-digit components show "
    "exactly where.",
)
def q313_benford_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side digit projection + a 9-group aggregate; the
    spine join is a 9-row broadcast."""
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digits = o.select(
        F.substring(
            F.floor("o_totalprice").cast("long").cast("string"), 1, 1
        )
        .cast("int")
        .alias("digit")
    )
    n = digits.agg(F.count(F.lit(1)).cast("long").alias("n"))
    obs = digits.groupBy("digit").agg(
        F.count(F.lit(1)).cast("long").alias("n_obs")
    )
    spine = spark.range(1, 10).select(F.col("id").cast("int").alias("digit"))
    p = F.create_map(
        *[x for d, prob in _Q313_P.items() for x in (F.lit(d), F.lit(float(prob)))]
    )[F.col("digit")]
    j = (
        spine.join(obs, "digit", "left")
        .crossJoin(F.broadcast(n))
        .select(
            "digit",
            F.coalesce("n_obs", F.lit(0)).cast("long").alias("n_obs"),
            p.alias("p"),
            F.col("n"),
        )
    )
    return j.select(
        "digit",
        "n_obs",
        round_half_up(F.col("p"), 6).alias("expected_frac"),
        # try_divide: NULL fractions on an empty orders table (matches
        # DuckDB x/0 -> NULL) instead of an ANSI divide-by-zero error
        round_half_up(
            F.try_divide(F.col("n_obs") * 1.0, F.col("n")), 6
        ).alias("observed_frac"),
        round_half_up(
            F.try_divide(
                F.pow(F.col("n_obs") - F.col("n") * F.col("p"), 2),
                F.col("n") * F.col("p"),
            ),
            4,
        ).alias("chi2_component"),
    ).orderBy("digit")


# ── q314: autocorrelation of daily event volume (lags 1..7) ──────────────────

_Q314_MAX_LAG = 7


def _q314_sql() -> str:
    return f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1
    ),
    lags AS (SELECT unnest(range(1, {_Q314_MAX_LAG} + 1)) AS lag),
    pairs AS (
      SELECT l.lag, a.n AS x, b.n AS y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.d = a.d + l.lag * INTERVAL 1 DAY
    ),
    s AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pairs GROUP BY lag
    )
    SELECT CAST(lag AS INTEGER) AS lag,
           np AS n_pairs,
           FLOOR((np * sxy - sx * sy) * 1.0
                 / (SQRT(np * sxx - sx * sx) * SQRT(np * syy - sy * sy))
                 * 1000000 + 0.5) / 1000000 AS acf
    FROM s
    ORDER BY lag
    """


@register(
    "q314_volume_autocorrelation",
    _q314_sql(),
    doc="Autocorrelation of daily event volume at lags 1-7: Pearson "
    "correlation of (day t, day t+k) count pairs, all five moment "
    "sums EXACT integers (the q296 Pearson-identity discipline), "
    "division only in the final ratio. Lag-7 is the weekly-"
    "seasonality detector that justifies q272's day-of-week factor; "
    "lag-1 is the trend-persistence readout q305's CUSUM assumes.",
)
def q314_volume_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one daily count aggregate; the lag join runs on the
    (tiny) day spine crossed with a 7-row lag spine — corpus rows are
    touched once."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.col("ts").cast("date").alias("d")).agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    lags = spark.range(1, _Q314_MAX_LAG + 1).select(
        F.col("id").cast("int").alias("lag")
    )
    a = daily.select(F.col("d").alias("da"), F.col("n").alias("x"))
    b = daily.select(F.col("d").alias("db"), F.col("n").alias("y"))
    pairs = (
        F.broadcast(lags)
        .crossJoin(a)
        .join(b, F.col("db") == F.date_add(F.col("da"), F.col("lag")))
    )
    s = pairs.groupBy("lag").agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
    )
    num = s["np"] * s["sxy"] - s["sx"] * s["sy"]
    den = F.sqrt(s["np"] * s["sxx"] - s["sx"] * s["sx"]) * F.sqrt(
        s["np"] * s["syy"] - s["sy"] * s["sy"]
    )
    return s.select(
        F.col("lag").cast("int").alias("lag"),
        F.col("np").alias("n_pairs"),
        round_half_up(num * 1.0 / den, 6).alias("acf"),
    ).orderBy("lag")


# ── q315: MinHash signature-budget planner over measured pairs ───────────────

_Q315_HASHES = (8, 16, 32, 64, 128)


def _q315_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    hashes = ", ".join(str(h) for h in _Q315_HASHES)
    q24 = _REGISTRY["q24_minhash_lsh_dedup"].sql
    return f"""
    WITH pairs AS ({q24}),
    hs AS (SELECT unnest([{hashes}]) AS num_hashes)
    SELECT CAST(h.num_hashes AS INTEGER) AS num_hashes,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(AVG(SQRT(p.jaccard * (1 - p.jaccard) / h.num_hashes))
                 * 1000000 + 0.5) / 1000000 AS mean_estimator_std,
           FLOOR(AVG(1 - POW(1 - POW(p.jaccard, 4), h.num_hashes / 4.0))
                 * 1000000 + 0.5) / 1000000 AS mean_detect_prob
    FROM pairs p CROSS JOIN hs h
    GROUP BY h.num_hashes
    ORDER BY num_hashes
    """


@register(
    "q315_minhash_budget_plan",
    _q315_sql(),
    doc="MinHash signature-budget planner priced on MEASURED pairs: for "
    "each candidate signature size (8-128 hashes), the mean Jaccard-"
    "estimator standard error sqrt(J(1-J)/h) and the mean banded-LSH "
    "detection probability 1-(1-J^4)^(h/4) over q24's verified "
    "near-dup pairs (bands of 4 rows, the production shape). The "
    "q236/q238/q292-family sweep that answers 'how many hashes does "
    "THIS corpus need' from ONE detector run — no re-hashing per "
    "configuration.",
)
def q315_minhash_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one q24 run (already bucketed/capped) + a 5-row broadcast
    sweep over its pair relation; per-row work is closed-form algebra."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    pairs = _REGISTRY["q24_minhash_lsh_dedup"].fn(spark, sf_dir)
    hs = spark.createDataFrame(
        [(h,) for h in _Q315_HASHES], "num_hashes int"
    )
    j = pairs.crossJoin(F.broadcast(hs))
    return (
        j.groupBy("num_hashes")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            round_half_up(
                F.avg(
                    F.sqrt(
                        F.col("jaccard")
                        * (1 - F.col("jaccard"))
                        / F.col("num_hashes")
                    )
                ),
                6,
            ).alias("mean_estimator_std"),
            round_half_up(
                F.avg(
                    1
                    - F.pow(
                        1 - F.pow(F.col("jaccard"), 4),
                        F.col("num_hashes") / 4.0,
                    )
                ),
                6,
            ).alias("mean_detect_prob"),
        )
        .select(
            F.col("num_hashes").cast("int").alias("num_hashes"),
            "n_pairs",
            "mean_estimator_std",
            "mean_detect_prob",
        )
        .orderBy("num_hashes")
    )


# ── q316: A/A difference-in-differences readout (experiment calibration) ─────

_Q316_SEED = "aa42"


def _q316_sql() -> str:
    return f"""
    WITH span AS (
      SELECT (MIN(epoch_ms(ts)) + MAX(epoch_ms(ts))) // 2 AS mid FROM events
    ),
    cells AS (
      SELECT user_id,
             CAST(('0x' || substr(md5(concat('{_Q316_SEED}',
               CAST(user_id AS VARCHAR))), 1, 13)) AS BIGINT) % 2 AS arm,
             CAST(SUM(CASE WHEN epoch_ms(ts) <= s.mid
               THEN CAST(ROUND(value * 10000) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS v1,
             CAST(SUM(CASE WHEN epoch_ms(ts) > s.mid
               THEN CAST(ROUND(value * 10000) AS BIGINT) ELSE 0 END)
               AS BIGINT) AS v2
      FROM events CROSS JOIN span s
      GROUP BY user_id
    ),
    g AS (
      SELECT arm,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(v2 - v1) AS BIGINT) AS sd,
             CAST(SUM((v2 - v1) * (v2 - v1)) AS BIGINT) AS sdd
      FROM cells GROUP BY arm
    ),
    w AS (
      SELECT MAX(CASE WHEN arm = 0 THEN n END) AS n_c,
             MAX(CASE WHEN arm = 1 THEN n END) AS n_t,
             MAX(CASE WHEN arm = 0 THEN sd END) AS sd_c,
             MAX(CASE WHEN arm = 1 THEN sd END) AS sd_t,
             MAX(CASE WHEN arm = 0 THEN sdd END) AS sdd_c,
             MAX(CASE WHEN arm = 1 THEN sdd END) AS sdd_t
      FROM g
    )
    SELECT n_t AS n_treat, n_c AS n_control,
           FLOOR(sd_t * 1.0 / n_t / 10000 * 10000 + 0.5) / 10000
             AS mean_shift_treat,
           FLOOR(sd_c * 1.0 / n_c / 10000 * 10000 + 0.5) / 10000
             AS mean_shift_control,
           FLOOR((sd_t * 1.0 / n_t - sd_c * 1.0 / n_c) / 10000 * 10000
                 + 0.5) / 10000 AS did,
           FLOOR((sd_t * 1.0 / n_t - sd_c * 1.0 / n_c)
                 / SQRT((n_t * sdd_t - sd_t * sd_t) * 1.0
                          / (n_t * n_t * (n_t - 1))
                        + (n_c * sdd_c - sd_c * sd_c) * 1.0
                          / (n_c * n_c * (n_c - 1)))
                 * 10000 + 0.5) / 10000 AS did_z,
           CASE WHEN ABS((sd_t * 1.0 / n_t - sd_c * 1.0 / n_c)
                 / SQRT((n_t * sdd_t - sd_t * sd_t) * 1.0
                          / (n_t * n_t * (n_t - 1))
                        + (n_c * sdd_c - sd_c * sd_c) * 1.0
                          / (n_c * n_c * (n_c - 1)))) > 1.959964
                THEN TRUE ELSE FALSE END AS false_positive
    FROM w
    """


@register(
    "q316_aa_test_readout",
    _q316_sql(),
    doc="A/A test calibration readout: users split by seeded md5 parity "
    "(no real treatment), the metric is each user's value shift "
    "between the exact epoch-millisecond window halves (q310's "
    "pairing), and the difference-in-differences between arms is "
    "tested with a Welch z. Because the split is random, a "
    "significant DiD here is by construction a FALSE POSITIVE — the "
    "standing calibration check an experimentation platform runs "
    "before trusting q250's power math on real A/B readouts. All "
    "sums exact integers; division only at the end.",
)
def q316_aa_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user-keyed partial aggregate over events, then a
    2-group rollup — no windows, no joins beyond the broadcast span."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "value")
    span = ev.agg(
        ((F.min(F.unix_millis("ts")) + F.max(F.unix_millis("ts"))) / 2)
        .cast("long")
        .alias("mid")
    )
    q = F.round(F.col("value") * 10_000).cast("long")
    cells = (
        ev.crossJoin(F.broadcast(span))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.unix_millis("ts") <= F.col("mid"), q).otherwise(0))
            .cast("long")
            .alias("v1"),
            F.sum(F.when(F.unix_millis("ts") > F.col("mid"), q).otherwise(0))
            .cast("long")
            .alias("v2"),
        )
        .select(
            (
                F.conv(
                    F.substring(
                        F.md5(
                            F.concat(
                                F.lit(_Q316_SEED),
                                F.col("user_id").cast("string"),
                            )
                        ),
                        1,
                        13,
                    ),
                    16,
                    10,
                ).cast("long")
                % 2
            ).alias("arm"),
            (F.col("v2") - F.col("v1")).alias("d"),
        )
    )
    g = cells.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
    )
    w = g.agg(
        F.max(F.when(F.col("arm") == 0, F.col("n"))).alias("n_c"),
        F.max(F.when(F.col("arm") == 1, F.col("n"))).alias("n_t"),
        F.max(F.when(F.col("arm") == 0, F.col("sd"))).alias("sd_c"),
        F.max(F.when(F.col("arm") == 1, F.col("sd"))).alias("sd_t"),
        F.max(F.when(F.col("arm") == 0, F.col("sdd"))).alias("sdd_c"),
        F.max(F.when(F.col("arm") == 1, F.col("sdd"))).alias("sdd_t"),
    )
    mt = F.col("sd_t") * 1.0 / F.col("n_t")
    mc = F.col("sd_c") * 1.0 / F.col("n_c")
    # try_divide: a 1-cell arm (n=1) has no within-arm variance (the
    # n-1 dof is zero) and an all-tied arm gives se = 0 -> z undefined
    # (NULL, matching DuckDB; the coalesce keeps false_positive FALSE)
    se = F.sqrt(
        F.try_divide(
            (F.col("n_t") * F.col("sdd_t") - F.col("sd_t") * F.col("sd_t"))
            * 1.0,
            F.col("n_t") * F.col("n_t") * (F.col("n_t") - 1),
        )
        + F.try_divide(
            (F.col("n_c") * F.col("sdd_c") - F.col("sd_c") * F.col("sd_c"))
            * 1.0,
            F.col("n_c") * F.col("n_c") * (F.col("n_c") - 1),
        )
    )
    return w.select(
        F.col("n_t").alias("n_treat"),
        F.col("n_c").alias("n_control"),
        round_half_up(mt / 10_000, 4).alias("mean_shift_treat"),
        round_half_up(mc / 10_000, 4).alias("mean_shift_control"),
        round_half_up((mt - mc) / 10_000, 4).alias("did"),
        round_half_up(F.try_divide(mt - mc, se), 4).alias("did_z"),
        # coalesce: empty lake -> z NULL -> "no false positive" (FALSE),
        # matching the oracle's CASE ... ELSE FALSE
        F.coalesce(
            F.abs(F.try_divide(mt - mc, se)) > 1.959964, F.lit(False)
        ).alias("false_positive"),
    )


# ── q317: weekly-seasonality strength of daily volume (one-way eta²) ────────


def _q317_sql() -> str:
    return """
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS d, dayofweek(CAST(ts AS DATE)) AS dow,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM events GROUP BY 1, 2
    ),
    per_dow AS (
      SELECT dow, CAST(COUNT(*) AS BIGINT) AS kg,
             CAST(SUM(n) AS BIGINT) AS sg
      FROM daily GROUP BY dow
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(n) AS BIGINT) AS s,
             CAST(SUM(n * n) AS BIGINT) AS ss
      FROM daily
    ),
    parts AS (
      -- sg^2 // kg: EXACT integer floor division per group, so the
      -- between-groups sum is order-free in both engines (a float
      -- sum of sg^2/kg terms would be addition-order dependent); the
      -- < 1-per-group floor bias is shared by both sides identically
      SELECT t.k, t.s, t.ss,
             CAST(COUNT(*) AS BIGINT) AS n_groups,
             CAST(SUM(p.sg * p.sg // p.kg) AS BIGINT) AS between_raw
      FROM per_dow p CROSS JOIN tot t
      GROUP BY t.k, t.s, t.ss
    )
    SELECT k AS n_days,
           CAST(n_groups AS INTEGER) AS n_dow_groups,
           FLOOR((between_raw - s * s * 1.0 / k)
                 / (ss - s * s * 1.0 / k) * 1000000 + 0.5) / 1000000
             AS eta2_dow,
           FLOOR(((between_raw - s * s * 1.0 / k) / (n_groups - 1))
                 / ((ss - between_raw) / (k - n_groups)) * 10000 + 0.5)
             / 10000 AS f_stat
    FROM parts
    """


@register(
    "q317_seasonality_strength",
    _q317_sql(),
    doc="Weekly-seasonality strength of daily event volume: one-way "
    "eta-squared (share of daily-count variance explained by "
    "day-of-week) and the corresponding F statistic. All sums of "
    "squares reduce to exact integer aggregates (S, Sum n^2, per-DOW "
    "group sums); the only non-exact terms are the final rational "
    "divisions. The quantitative justification for q272's day-of-week "
    "forecast factor — eta^2 near 0 says the factor is noise.",
)
def q317_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one daily count, one 7-group rollup; everything after the
    first aggregate is constant-size."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("ts").cast("date").alias("d"),
        F.dayofweek(F.col("ts").cast("date")).alias("dow"),
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    per_dow = daily.groupBy("dow").agg(
        F.count(F.lit(1)).cast("long").alias("kg"),
        F.sum("n").cast("long").alias("sg"),
    )
    tot = daily.agg(
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("n").cast("long").alias("s"),
        F.sum(F.col("n") * F.col("n")).cast("long").alias("ss"),
    )
    parts = per_dow.crossJoin(F.broadcast(tot)).groupBy("k", "s", "ss").agg(
        F.count(F.lit(1)).cast("long").alias("n_groups"),
        F.sum(F.expr("sg * sg div kg")).cast("long").alias("between_raw"),
    )
    cm = F.col("s") * F.col("s") * 1.0 / F.col("k")
    ssb = F.col("between_raw") - cm
    sst = F.col("ss") - cm
    ssw = F.col("ss") - F.col("between_raw")
    return parts.select(
        F.col("k").alias("n_days"),
        F.col("n_groups").cast("int").alias("n_dow_groups"),
        # try_divide: a 1-day lake has zero total/within variance and
        # zero dof — eta2/F undefined (NULL, matching DuckDB x/0)
        round_half_up(F.try_divide(ssb, sst), 6).alias("eta2_dow"),
        round_half_up(
            F.try_divide(
                F.try_divide(ssb, F.col("n_groups") - 1),
                F.try_divide(ssw, F.col("k") - F.col("n_groups")),
            ),
            4,
        ).alias("f_stat"),
    )


# ── q318: recommendation coverage curve (serving-readiness of q271) ──────────


def _q318_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    q271 = _REGISTRY["q271_copurchase_recs"].sql
    return f"""
    WITH recs AS ({q271}),
    per_part AS (
      SELECT part, CAST(COUNT(*) AS BIGINT) AS n_recs FROM recs GROUP BY part
    ),
    np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_parts FROM part),
    ks AS (SELECT unnest(range(1, 4)) AS k)
    SELECT CAST(ks.k AS INTEGER) AS k,
           CAST(COALESCE(SUM(CASE WHEN p.n_recs >= ks.k THEN 1 END), 0)
                AS BIGINT) AS n_parts_covered,
           FLOOR(COALESCE(SUM(CASE WHEN p.n_recs >= ks.k THEN 1 END), 0)
                 * 1.0 / n.n_parts * 1000000 + 0.5) / 1000000
             AS coverage_frac
    FROM ks CROSS JOIN np n LEFT JOIN per_part p ON TRUE
    GROUP BY ks.k, n.n_parts
    ORDER BY k
    """


@register(
    "q318_rec_coverage",
    _q318_sql(),
    doc="Recommendation coverage curve: for k = 1..3, the share of the "
    "part catalog that has at least k co-purchase recommendations in "
    "q271's serving table — the cold-start readiness metric a "
    "recommender dashboard leads with (coverage at k=1 is 'how many "
    "shelves are non-empty'). One re-aggregation of the q271 "
    "relation against the catalog count.",
)
def q318_rec_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: q271 is the bounded serving relation (<= 3 rows per
    part); this adds one count per part and a 3-row broadcast sweep."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    recs = _REGISTRY["q271_copurchase_recs"].fn(spark, sf_dir)
    per_part = recs.groupBy("part").agg(
        F.count(F.lit(1)).cast("long").alias("n_recs")
    )
    n_parts = load_table(spark, sf_dir, "part").agg(
        F.count(F.lit(1)).cast("long").alias("n_parts")
    )
    # ONE conditional aggregate over per_part (no k-spine join at all:
    # a spine LEFT JOIN ON TRUE would fan every per-part row out 3x and
    # need a catalog-sized broadcast at scale), then a 3-row unpivot.
    # coalesce keeps the 3-row spine alive on an empty lake.
    counts = per_part.agg(
        *[
            F.coalesce(F.sum(F.when(F.col("n_recs") >= k, 1)), F.lit(0))
            .cast("long")
            .alias(f"c{k}")
            for k in (1, 2, 3)
        ]
    )
    return (
        counts.crossJoin(F.broadcast(n_parts))
        .select(
            F.expr(
                "stack(3, 1, c1, 2, c2, 3, c3) AS (k, n_parts_covered)"
            ),
            "n_parts",
        )
        .select(
            F.col("k").cast("int").alias("k"),
            "n_parts_covered",
            # try_divide: NULL coverage over an empty part catalog
            round_half_up(
                F.try_divide(
                    F.col("n_parts_covered") * 1.0, F.col("n_parts")
                ),
                6,
            ).alias("coverage_frac"),
        )
        .orderBy("k")
    )


# ── q319: stop-shingle (max_df) planner for exact n-gram dedup ───────────────

_Q319_CAPS = (4, 16, 64, 256, 1024)


def _q319_sql() -> str:
    caps = ", ".join(str(c) for c in _Q319_CAPS)
    return rf"""
    WITH tk AS (
      SELECT doc_id, string_split_regex(trim(lower(text)), '\s+') AS t
      FROM documents WHERE len(trim(text)) > 0
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             unnest(list_transform(range(1, len(t) - 1),
               i -> array_to_string(t[i:i+2], ' '))) AS s
      FROM tk WHERE len(t) >= 3
    ),
    dfh AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS df FROM sh GROUP BY s
    ),
    hist AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS n FROM dfh GROUP BY df),
    caps AS (SELECT unnest([{caps}]) AS cap)
    SELECT CAST(cap AS INTEGER) AS max_df,
           CAST(COALESCE(SUM(CASE WHEN df > cap THEN n END), 0) AS BIGINT)
             AS n_stop_shingles,
           CAST(COALESCE(SUM(CASE WHEN df <= cap THEN n * df * (df - 1) END),
                0) AS BIGINT) AS kept_pair_work,
           CAST(SUM(n * df * (df - 1)) AS BIGINT) AS total_pair_work,
           FLOOR(COALESCE(SUM(CASE WHEN df > cap THEN n * df * (df - 1) END),
                 0) * 1.0 / SUM(n * df * (df - 1)) * 1000000 + 0.5)
             / 1000000 AS work_pruned_frac
    FROM caps CROSS JOIN hist
    GROUP BY cap
    ORDER BY max_df
    """


@register(
    "q319_stop_shingle_plan",
    _q319_sql(),
    doc="Stop-shingle (max_df) planner for the exact n-gram dedup path: "
    "for each candidate document-frequency cap, how many shingles the "
    "guard removes and how much shared-shingle JOIN WORK (Σ df·(df−1) "
    "over kept shingles — the self-join's exact fan-out) survives, "
    "priced from ONE df histogram. q23/q199/q221 all lean on the "
    "max_df knob; this is the sweep that picks its value before the "
    "pair join runs — the q303 cap-planner shape applied to the "
    "dedup family's hottest guard.",
)
def q319_stop_shingle_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shingle scan into a distinct (doc, shingle) relation,
    one df aggregate, then the sweep runs on the df HISTOGRAM crossed
    with a 5-row cap spine — the pair join itself never runs."""
    docs = load_table(spark, sf_dir, "documents")
    sh = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("t")
        )
        .filter(F.size("t") >= 3)
        .select(
            "doc_id",
            F.explode(
                F.expr(
                    "transform(sequence(1, size(t) - 2), "
                    "i -> concat_ws(' ', slice(t, i, 3)))"
                )
            ).alias("s"),
        )
        .distinct()
    )
    dfh = sh.groupBy("s").agg(F.count(F.lit(1)).cast("long").alias("df"))
    hist = dfh.groupBy("df").agg(F.count(F.lit(1)).cast("long").alias("n"))
    caps = spark.range(1).select(
        F.explode(F.array(*[F.lit(c) for c in _Q319_CAPS])).alias("cap")
    )
    work = F.col("n") * F.col("df") * (F.col("df") - 1)
    hot = F.when(F.col("df") > F.col("cap"), work)
    return (
        caps.crossJoin(F.broadcast(hist))
        .groupBy("cap")
        .agg(
            F.coalesce(
                F.sum(F.when(F.col("df") > F.col("cap"), F.col("n"))),
                F.lit(0),
            )
            .cast("long")
            .alias("n_stop_shingles"),
            F.coalesce(
                F.sum(F.when(F.col("df") <= F.col("cap"), work)), F.lit(0)
            )
            .cast("long")
            .alias("kept_pair_work"),
            F.sum(work).cast("long").alias("total_pair_work"),
            # try_divide: a single-doc lake has df=1 everywhere, so
            # total pair work is 0 — pruned fraction undefined (NULL)
            round_half_up(
                F.try_divide(
                    F.coalesce(F.sum(hot), F.lit(0)) * 1.0, F.sum(work)
                ),
                6,
            ).alias("work_pruned_frac"),
        )
        .select(
            F.col("cap").cast("int").alias("max_df"),
            "n_stop_shingles",
            "kept_pair_work",
            "total_pair_work",
            "work_pruned_frac",
        )
        .orderBy("max_df")
    )


# ── q320: winsorization impact on order-value statistics ─────────────────────


def _q320_sql() -> str:
    return """
    WITH cents AS (
      SELECT o_orderkey, CAST(ROUND(o_totalprice * 100) AS BIGINT) AS c
      FROM orders
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM cents),
    ranked AS (
      SELECT c, ROW_NUMBER() OVER (ORDER BY c, o_orderkey) AS rn,
             (SELECT n FROM n) AS n
      FROM cents
    ),
    cut AS (
      SELECT MAX(CASE WHEN rn = CAST(CEIL(n * 0.99) AS BIGINT) THEN c END)
        AS p99c
      FROM ranked
    ),
    agg AS (
      SELECT MAX(r.n) AS n,
             CAST(SUM(c) AS BIGINT) AS s_raw,
             CAST(SUM(LEAST(c, t.p99c)) AS BIGINT) AS s_wins,
             CAST(MAX(c) AS BIGINT) AS max_raw,
             CAST(SUM(CASE WHEN c > t.p99c THEN 1 ELSE 0 END) AS BIGINT)
               AS n_clamped,
             MAX(t.p99c) AS p99c
      FROM ranked r CROSS JOIN cut t
    )
    SELECT n AS n_orders,
           FLOOR(p99c * 1.0 / 100 * 100 + 0.5) / 100 AS p99_value,
           n_clamped,
           FLOOR(s_raw * 1.0 / n / 100 * 10000 + 0.5) / 10000 AS mean_raw,
           FLOOR(s_wins * 1.0 / n / 100 * 10000 + 0.5) / 10000
             AS mean_winsorized,
           FLOOR((s_raw - s_wins) * 1.0 / s_raw * 1000000 + 0.5) / 1000000
             AS mass_clamped_frac
    FROM agg
    """


@register(
    "q320_winsorize_impact",
    _q320_sql(),
    doc="Winsorization impact audit: order values clamped at the EXACT "
    "p99 order statistic (rank = ceil(0.99·n), orderkey tie-break — "
    "the q249/q266 discipline, no percentile function), reporting the "
    "clamp point, how many orders it touches, and how much of the "
    "revenue mass the tail carried — the robustness check run before "
    "trusting a mean-based KPI. All sums in exact integer cents.",
)
def q320_winsorize_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one rank window over the value column (at audit scale;
    the GK/histogram route replaces it at extreme n, q80's note) and
    one scalar rollup."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("c"),
    )
    n = o.agg(F.count(F.lit(1)).cast("long").alias("n"))
    ranked = o.crossJoin(F.broadcast(n)).withColumn(
        "rn", F.row_number().over(Window.orderBy("c", "o_orderkey"))
    )
    cut = ranked.agg(
        F.max(
            F.when(
                F.col("rn") == F.ceil(F.col("n") * 0.99).cast("long"),
                F.col("c"),
            )
        ).alias("p99c")
    )
    agg = ranked.crossJoin(F.broadcast(cut)).agg(
        F.max("n").alias("n"),
        F.sum("c").cast("long").alias("s_raw"),
        F.sum(F.least(F.col("c"), F.col("p99c"))).cast("long").alias("s_wins"),
        F.max("c").cast("long").alias("max_raw"),
        F.sum(F.when(F.col("c") > F.col("p99c"), 1).otherwise(0))
        .cast("long")
        .alias("n_clamped"),
        F.max("p99c").alias("p99c"),
    )
    return agg.select(
        F.col("n").alias("n_orders"),
        round_half_up(F.col("p99c") * 1.0 / 100, 2).alias("p99_value"),
        "n_clamped",
        round_half_up(F.col("s_raw") * 1.0 / F.col("n") / 100, 4).alias(
            "mean_raw"
        ),
        round_half_up(F.col("s_wins") * 1.0 / F.col("n") / 100, 4).alias(
            "mean_winsorized"
        ),
        round_half_up(
            (F.col("s_raw") - F.col("s_wins")) * 1.0 / F.col("s_raw"), 6
        ).alias("mass_clamped_frac"),
    )


# ── q321: hash-partition balance planner ─────────────────────────────────────

_Q321_NS = (8, 32, 128)
_Q321_SEED = "part42"


def _q321_sql() -> str:
    ns = ", ".join(str(n) for n in _Q321_NS)
    return f"""
    WITH keyed AS (
      SELECT CAST(('0x' || substr(md5(concat('{_Q321_SEED}',
               CAST(l_orderkey AS VARCHAR))), 1, 13)) AS BIGINT) AS h
      FROM lineitem
    ),
    ns AS (SELECT unnest([{ns}]) AS n_buckets),
    per AS (
      SELECT n.n_buckets, k.h % n.n_buckets AS bucket,
             CAST(COUNT(*) AS BIGINT) AS rows_in
      FROM keyed k CROSS JOIN ns n
      GROUP BY 1, 2
    )
    SELECT CAST(n_buckets AS INTEGER) AS n_buckets,
           CAST(MAX(rows_in) AS BIGINT) AS max_bucket_rows,
           CAST(SUM(rows_in) AS BIGINT) AS total_rows,
           FLOOR(MAX(rows_in) * 1.0
                 / (SUM(rows_in) * 1.0 / n_buckets) * 10000 + 0.5) / 10000
             AS skew_factor
    FROM per
    GROUP BY n_buckets
    ORDER BY n_buckets
    """


@register(
    "q321_partition_balance_plan",
    _q321_sql(),
    doc="Hash-partition balance planner: lineitem keyed by a seeded "
    "md5 hash of l_orderkey (a replayable stand-in for the engine "
    "partitioner) bucketed at 8/32/128 reducers — max bucket size vs "
    "the ideal even share (skew_factor 1.0 = perfectly balanced). "
    "The straggler-task forecast for sizing "
    "spark.sql.shuffle.partitions on a NEW key before running the "
    "shuffle; complements q222's per-key skew profile (which finds "
    "hot KEYS, while this prices hot REDUCERS after hashing).",
)
def q321_partition_balance_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side hash projection, one (n_buckets, bucket)
    count (map-side combinable, <= Σ n_buckets groups), one 3-group
    rollup."""
    li = load_table(spark, sf_dir, "lineitem").select(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit(_Q321_SEED), F.col("l_orderkey").cast("string")
                    )
                ),
                1,
                13,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    )
    ns = spark.createDataFrame([(n,) for n in _Q321_NS], "n_buckets int")
    per = (
        li.crossJoin(F.broadcast(ns))
        .groupBy("n_buckets", (F.col("h") % F.col("n_buckets")).alias("bucket"))
        .agg(F.count(F.lit(1)).cast("long").alias("rows_in"))
    )
    return (
        per.groupBy("n_buckets")
        .agg(
            F.max("rows_in").cast("long").alias("max_bucket_rows"),
            F.sum("rows_in").cast("long").alias("total_rows"),
            round_half_up(
                F.max("rows_in")
                * 1.0
                / (F.sum("rows_in") * 1.0 / F.col("n_buckets")),
                4,
            ).alias("skew_factor"),
        )
        .select(
            F.col("n_buckets").cast("int").alias("n_buckets"),
            "max_bucket_rows",
            "total_rows",
            "skew_factor",
        )
        .orderBy("n_buckets")
    )


# ── q322: curation filter-cascade order planner (reject-first greedy) ───────

_Q322_RULES = (
    "rule_word_count",
    "rule_mean_word_len",
    "rule_symbol_ratio",
    "rule_alpha_words",
    "rule_stopwords",
)


def _q322_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    q192 = _REGISTRY["q192_gopher_quality_rules"].sql
    unpivot = "\n      UNION ALL\n".join(
        f"      SELECT doc_id, '{r}' AS rule, {r} AS ok FROM g" for r in _Q322_RULES
    )
    return f"""
    WITH g AS ({q192}),
    flags AS (
{unpivot}
    ),
    rates AS (
      SELECT rule,
             CAST(SUM(CASE WHEN ok THEN 0 ELSE 1 END) AS BIGINT) AS n_reject
      FROM flags GROUP BY rule
    ),
    ord AS (
      SELECT rule, n_reject,
             ROW_NUMBER() OVER (ORDER BY n_reject DESC, rule) AS eval_order
      FROM rates
    ),
    firstrej AS (
      SELECT f.doc_id, MIN(o.eval_order) AS fr
      FROM flags f JOIN ord o ON o.rule = f.rule
      WHERE NOT f.ok GROUP BY f.doc_id
    ),
    frh AS (SELECT fr, CAST(COUNT(*) AS BIGINT) AS c FROM firstrej GROUP BY fr),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM g),
    cum AS (
      SELECT o.eval_order, o.rule, o.n_reject,
             CAST(COALESCE(SUM(h.c), 0) AS BIGINT) AS rejected_before
      FROM ord o LEFT JOIN frh h ON h.fr < o.eval_order
      GROUP BY o.eval_order, o.rule, o.n_reject
    )
    SELECT rule,
           CAST(eval_order AS INTEGER) AS eval_order,
           n_reject AS n_reject_solo,
           FLOOR(n_reject * 1.0 / n.n_docs * 1000000 + 0.5) / 1000000
             AS reject_frac,
           CAST(n.n_docs - rejected_before AS BIGINT) AS docs_evaluated
    FROM cum CROSS JOIN n
    ORDER BY eval_order
    """


@register(
    "q322_filter_order_plan",
    _q322_sql(),
    doc="Curation filter-cascade order planner: rank q192's five Gopher "
    "rules by solo rejection rate (greedy reject-most-first, the "
    "optimal order under unit per-rule cost) and price the cascade — "
    "docs_evaluated at each stage is the corpus minus everything an "
    "earlier rule already rejected (first-rejecting-rule attribution, "
    "exact integer counts). The plan that decides WHICH filter runs "
    "first in a 100 TB curation pass, where a cheap early reject is "
    "the difference between scanning the corpus five times and ~once.",
)
def q322_filter_order_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one q192 pass (map-only), an unpivot to (doc, rule, ok),
    two small aggregates and a 5x5 spine join — no corpus-sized
    windows or joins beyond the flag relation."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir)
    stack = ", ".join(f"'{r}', {r}" for r in _Q322_RULES)
    flags = g.select(
        "doc_id",
        F.expr(f"stack({len(_Q322_RULES)}, {stack}) as (rule, ok)"),
    )
    rates = flags.groupBy("rule").agg(
        F.sum(F.when(F.col("ok"), 0).otherwise(1)).cast("long").alias("n_reject")
    )
    ordr = rates.withColumn(
        "eval_order",
        F.row_number().over(Window.orderBy(F.desc("n_reject"), "rule")),
    )
    firstrej = (
        flags.filter(~F.col("ok"))
        .join(F.broadcast(ordr.select("rule", "eval_order")), "rule")
        .groupBy("doc_id")
        .agg(F.min("eval_order").alias("fr"))
    )
    frh = firstrej.groupBy("fr").agg(F.count(F.lit(1)).cast("long").alias("c"))
    n = g.agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
    cum = (
        ordr.join(F.broadcast(frh), F.col("fr") < F.col("eval_order"), "left")
        .groupBy("eval_order", "rule", "n_reject")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("long").alias("rejected_before"))
    )
    return (
        cum.crossJoin(F.broadcast(n))
        .select(
            "rule",
            F.col("eval_order").cast("int").alias("eval_order"),
            F.col("n_reject").alias("n_reject_solo"),
            round_half_up(F.col("n_reject") * 1.0 / F.col("n_docs"), 6).alias(
                "reject_frac"
            ),
            (F.col("n_docs") - F.col("rejected_before"))
            .cast("long")
            .alias("docs_evaluated"),
        )
        .orderBy("eval_order")
    )
