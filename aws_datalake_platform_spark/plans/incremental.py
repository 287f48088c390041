"""Incremental-maintenance queries: dedup a new ingest batch against an
existing curated corpus using its STORED dedup index (fingerprints +
MinHash metadata) — the daily-pipeline pattern where yesterday's corpus
text is never re-read.

Registered LAST (plans/__init__ import order) so these new entries queue
behind the existing never-driver-checked block in the gate rotation.

Oracle story: the md5 hash family is the same one q24's oracle already
replays relationally (plans/llm_ops.py), so the full incremental flow —
fingerprint anti-join, signature build, banded bucket join with the
corpus-side hot-bucket star cap, hash-set Jaccard verify — is
hash-checkable end to end.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..operators.dedup import build_dedup_index, incremental_dedup_verdicts
from .llm_ops import _MH_SEEDS_VALUES
from .queries import register

# Corpus = documents with doc_id % 10 != 0 (the "already curated" 90%);
# new batch = doc_id % 10 == 0 (today's ingest) PLUS deterministic
# re-ingestions — corpus docs with doc_id % 100 == 1 re-appear verbatim
# under id + 1,000,000. The testdata has NO natural exact dup straddling
# the split at any SF (checked r4), so without the planted re-ingestions
# the exact_dup verdict would be vacuous; near-dups occur naturally.
_Q191_SQL = rf"""
    WITH all_docs AS (
      SELECT doc_id, text, FALSE AS is_new FROM documents WHERE doc_id % 10 != 0
      UNION ALL
      SELECT doc_id, text, TRUE AS is_new FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 1000000, text, TRUE AS is_new FROM documents
      WHERE doc_id % 10 != 0 AND doc_id % 100 = 1
    ),
    fp AS (
      SELECT doc_id, is_new,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                     ' +', ' ', 'g'))) AS fp
      FROM all_docs
    ),
    sh AS (
      SELECT doc_id, unnest(list_distinct(
        CASE WHEN len(toks) >= 3
             THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
             ELSE []::VARCHAR[] END)) AS s
      FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM all_docs)
    ),
    hh AS (SELECT DISTINCT doc_id, ('0x' || substr(md5(s), 1, 15))::BIGINT AS h FROM sh),
    hsz AS (SELECT doc_id, count(*) AS sz FROM hh GROUP BY doc_id),
    seeds AS (SELECT * FROM (VALUES {_MH_SEEDS_VALUES}) t(seed, a, b)),
    mh AS (
      SELECT doc_id, seed, min((a * (h % 2147483647) + b) % 2147483647) AS mh
      FROM hh CROSS JOIN seeds GROUP BY doc_id, seed
    ),
    buckets AS (
      SELECT doc_id, CAST(seed // 4 AS INT) AS band,
             md5(string_agg(mh::VARCHAR, ',' ORDER BY seed)) AS bucket
      FROM mh GROUP BY doc_id, seed // 4
    ),
    corpus_ids AS (SELECT doc_id FROM all_docs WHERE NOT is_new),
    new_ids AS (SELECT doc_id FROM all_docs WHERE is_new),
    cstat AS (
      -- hot-bucket stats over the CORPUS side only (mirrors the
      -- corpus-index window in incremental_dedup_verdicts)
      SELECT band, bucket, count(*) AS cnt, min(doc_id) AS mn
      FROM buckets JOIN corpus_ids USING (doc_id) GROUP BY band, bucket
    ),
    nb AS (SELECT buckets.* FROM buckets JOIN new_ids USING (doc_id)),
    cand AS (
      SELECT nb.doc_id AS nid, cb.doc_id AS cid
      FROM nb
      JOIN (SELECT buckets.* FROM buckets JOIN corpus_ids USING (doc_id)) cb
        ON cb.band = nb.band AND cb.bucket = nb.bucket
      JOIN cstat s ON s.band = nb.band AND s.bucket = nb.bucket
      WHERE s.cnt <= 512
      UNION
      SELECT nb.doc_id AS nid, s.mn AS cid
      FROM nb JOIN cstat s ON s.band = nb.band AND s.bucket = nb.bucket
      WHERE s.cnt > 512
    ),
    inter AS (
      SELECT nid, cid, count(*) AS i
      FROM cand
      JOIN hh a ON a.doc_id = nid
      JOIN hh b ON b.doc_id = cid AND a.h = b.h
      GROUP BY nid, cid
    ),
    near AS (
      SELECT nid, CAST(min(cid) AS BIGINT) AS near_of
      FROM inter
      JOIN hsz sa ON sa.doc_id = nid
      JOIN hsz sb ON sb.doc_id = cid
      WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
      GROUP BY nid
    ),
    exact AS (
      SELECT n.doc_id AS nid, CAST(min(c.doc_id) AS BIGINT) AS exact_of
      FROM fp n JOIN fp c ON c.fp = n.fp AND NOT c.is_new
      WHERE n.is_new GROUP BY n.doc_id
    )
    SELECT f.doc_id,
           CASE WHEN e.exact_of IS NOT NULL THEN 'exact_dup'
                WHEN nr.near_of IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS verdict,
           COALESCE(e.exact_of, nr.near_of) AS dup_of
    FROM fp f
    LEFT JOIN exact e ON e.nid = f.doc_id
    LEFT JOIN near nr ON nr.nid = f.doc_id
    WHERE f.is_new
"""


@register(
    "q191_incremental_dedup",
    _Q191_SQL,
    doc="Incremental dedup verdicts: today's ingest batch (doc_id%10==0 "
    "plus deterministic re-ingestions of 1%% of the corpus under shifted "
    "ids) judged against the stored dedup index of the existing corpus — "
    "exact_dup on fingerprint match, near_dup on LSH candidate with "
    "hash-set Jaccard >= 0.5, else unique; dup_of = smallest matching "
    "corpus id. The production daily-dedup pattern: corpus TEXT is "
    "never re-read, only its per-doc index metadata (operators/"
    "dedup.py:build_dedup_index), and corpus-side hot buckets degrade "
    "to a star representative exactly as in q24.",
)
def q191_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: index build is a once-per-corpus Arrow pass (amortized to
    zero across daily batches); per batch the work is one fingerprint
    equi-join + one banded bucket join + verification on candidates only
    — all sized by the BATCH, not the corpus. The 512 cap bounds any
    boilerplate bucket's fan-out to one star candidate per new doc."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    reingested = corpus.filter(F.col("doc_id") % 100 == 1).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"), "text"
    )
    batch = docs.filter(F.col("doc_id") % 10 == 0).unionByName(reingested)
    index = build_dedup_index(corpus, "doc_id", "text")
    return incremental_dedup_verdicts(batch, index, "doc_id", "text", threshold=0.5)


# ── q201: SemDeDup — semantic dedup via cluster-bounded cosine pairs ────────

_SEMDEDUP_K = 8  # deterministic seed centroids (K smallest vec_ids) for oracle replay
_SEMDEDUP_T = 0.4  # cosine threshold on round(sim, 6), q31's proven setting


def _semdedup_sql() -> str:
    from .llm_ops import _COS

    cos_assign = _COS.format(a="e.embedding", b="c.ce")
    cos_pair = _COS.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH cent AS (
      -- mirror semdedup's default centroid pick (orderBy(vec_id).limit(K))
      -- rather than WHERE vec_id < K, so both sides agree even if ids
      -- have gaps below K or start above 0 (ADVICE r5)
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY vec_id LIMIT {_SEMDEDUP_K}
    ),
    sims AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROUND({cos_assign}, 6) AS csim
      FROM embeddings e CROSS JOIN cent c
    ),
    assign AS (
      SELECT vec_id, embedding, cid AS cluster FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                                     ORDER BY csim DESC, cid) AS rk
        FROM sims) t
      WHERE rk = 1
    ),
    dup AS (
      SELECT a.vec_id, CAST(MIN(b.vec_id) AS BIGINT) AS dup_of
      FROM assign a JOIN assign b
        ON a.cluster = b.cluster AND b.vec_id < a.vec_id
      WHERE ROUND({cos_pair}, 6) >= {_SEMDEDUP_T}
      GROUP BY a.vec_id
    )
    SELECT a.vec_id, CAST(a.cluster AS BIGINT) AS cluster,
           CAST(COALESCE(d.dup_of, -1) AS BIGINT) AS dup_of,
           d.dup_of IS NULL AS kept
    FROM assign a LEFT JOIN dup d USING (vec_id)
    """


@register(
    "q201_semdedup",
    _semdedup_sql(),
    doc="SemDeDup (arXiv:2303.09540): semantic dedup that bounds the "
    "quadratic pair search to CLUSTERS — assign every embedding to its "
    "nearest centroid by cosine, then drop any vector with a lower-id "
    "same-cluster neighbor above the similarity threshold (dup_of = "
    "that smallest keeper id, -1 for keepers; the null is coalesced so "
    "neither engine emits a nullable-int column the pandas layer would "
    "render differently). Centroids are the K smallest vec_ids — "
    "deterministic, so the DuckDB oracle replays assignment and pair "
    "cosines with the q30/q31 sequential-double idiom; learned k-means "
    "centroids (the production path) are exactly what q47 IVF provides, "
    "rows-only by nature.",
)
def q201_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: assignment is one Arrow UDF pass against the K collected
    centroid rows — map-side, no shuffle of the corpus; the pair search
    shuffles once on the cluster key and is quadratic only within a
    cluster. K is the scale knob (SemDeDup runs tens of thousands of
    clusters at web scale); a skewed mega-cluster means K is too small
    for the corpus.
    Reference tie-in: the embedding-dedup twin of text near-dup K1-K3.
    The deterministic seed centroids (the K smallest vec_ids, mirrored
    as ORDER BY vec_id LIMIT K in the oracle) are what keep the oracle
    replayable; the operator accepts learned centroids for the
    production path."""
    from ..operators.similarity import semdedup

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return semdedup(emb, n_centroids=_SEMDEDUP_K, threshold=_SEMDEDUP_T)


# ── q202: MMR diversified re-rank of ANN candidates ─────────────────────────

_MMR_NQ = 5  # queries: vec_id < 5
_MMR_N = 20  # ANN candidate pool per query
_MMR_K = 5  # picks per query
_MMR_LAM = 0.7


def _mmr_sql() -> str:
    """Unrolled greedy MMR as _MMR_K chained CTEs — no recursion, so the
    oracle is plain ANSI SQL. Literals for lambda and (1 - lambda) are
    repr()'d Python doubles: 1.0 - 0.7 is 0.30000000000000004, and the
    Spark side computes exactly that, so a hand-written 0.3 would flip
    the hash."""
    from .llm_ops import _COS

    lam, one_minus = repr(_MMR_LAM), repr(1.0 - _MMR_LAM)
    cos_rel = _COS.format(a="qe", b="c.embedding")
    cos_pair = _COS.format(a="ea.embedding", b="eb.embedding")
    steps = []
    for t in range(1, _MMR_K + 1):
        if t == 1:
            score = f"floor(({lam} * rel) * 1000000 + 0.5) / 1000000"
            steps.append(f"""
    p1 AS (
      SELECT query_id, neighbor_id, rel, score FROM (
        SELECT query_id, neighbor_id, rel, {score} AS score,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY {score} DESC, neighbor_id) AS rn
        FROM cand) t WHERE rn = 1),
    picked1 AS (SELECT query_id, neighbor_id FROM p1)""")
        else:
            score = (
                f"floor(({lam} * c.rel - {one_minus} * COALESCE(pen.mx, 0.0))"
                " * 1000000 + 0.5) / 1000000"
            )
            steps.append(f"""
    p{t} AS (
      SELECT query_id, neighbor_id, rel, score FROM (
        SELECT c.query_id, c.neighbor_id, c.rel, {score} AS score,
               ROW_NUMBER() OVER (PARTITION BY c.query_id
                 ORDER BY {score} DESC, c.neighbor_id) AS rn
        FROM cand c
        LEFT JOIN (
          SELECT pr.query_id, pr.a_id, MAX(pr.sim) AS mx
          FROM pairs pr
          JOIN picked{t - 1} pk ON pk.query_id = pr.query_id
                               AND pk.neighbor_id = pr.b_id
          GROUP BY pr.query_id, pr.a_id) pen
          ON pen.query_id = c.query_id AND pen.a_id = c.neighbor_id
        WHERE NOT EXISTS (SELECT 1 FROM picked{t - 1} pk
                          WHERE pk.query_id = c.query_id
                            AND pk.neighbor_id = c.neighbor_id)) t
      WHERE rn = 1),
    picked{t} AS (SELECT query_id, neighbor_id FROM picked{t - 1}
                  UNION ALL SELECT query_id, neighbor_id FROM p{t})""")
    finals = "\n    UNION ALL ".join(
        f"SELECT query_id, CAST({t} AS BIGINT) AS pick_rank, neighbor_id, rel,"
        f" score AS mmr_score FROM p{t}"
        for t in range(1, _MMR_K + 1)
    )
    return f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings
               WHERE vec_id < {_MMR_NQ}),
    rel0 AS (
      SELECT query_id, c.vec_id AS neighbor_id, ROUND({cos_rel}, 6) AS rel
      FROM q JOIN embeddings c ON c.vec_id <> query_id
    ),
    cand AS (
      SELECT query_id, neighbor_id, rel FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY rel DESC, neighbor_id) AS rk
        FROM rel0) t
      WHERE rk <= {_MMR_N}
    ),
    pairs AS (
      SELECT a.query_id, a.neighbor_id AS a_id, b.neighbor_id AS b_id,
             ROUND({cos_pair}, 6) AS sim
      FROM cand a
      JOIN cand b ON b.query_id = a.query_id AND b.neighbor_id <> a.neighbor_id
      JOIN embeddings ea ON ea.vec_id = a.neighbor_id
      JOIN embeddings eb ON eb.vec_id = b.neighbor_id
    ),{",".join(steps)}
    {finals}
    """


@register(
    "q202_mmr_rerank",
    _mmr_sql(),
    doc="Maximal Marginal Relevance re-rank (Carbonell & Goldstein, "
    "SIGIR'98): after exact/ANN retrieval of each query's top candidates "
    "(q30/q32), greedily pick k diversified results maximizing "
    "lambda*relevance - (1-lambda)*max-similarity-to-already-picked — "
    "the stage that keeps near-duplicate passages from crowding a RAG "
    "context window. Completes the retrieval story: inverted index "
    "(q196) -> BM25 (q197) -> ANN (q30/q32/q47/q115) -> MMR (q202).",
)
def q202_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the greedy loop is unrolled into k static join+window
    steps, all equi-joins on query_id over the ANN-bounded candidate set
    (n^2 pairs per query is a CONSTANT, never corpus-sized) — so the
    plan distributes by query key for any number of concurrent queries
    and contains no UDF, no collect, no recursion. See
    operators/similarity.mmr_rerank for the cache rationale."""
    from ..operators.similarity import mmr_rerank

    emb = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return mmr_rerank(
        emb.filter(F.col("vec_id") < _MMR_NQ),
        emb,
        n_candidates=_MMR_N,
        k=_MMR_K,
        lam=_MMR_LAM,
    )
