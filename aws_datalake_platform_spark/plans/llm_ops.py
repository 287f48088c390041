"""LLM-data-pipeline queries: dedup, text analysis, similarity search.

Registered into QUERY_REGISTRY next to the SQL surface. The dedup/text
oracles replicate the exact md5-based math in DuckDB SQL, so even the
LSH pipelines are hash-match checkable: same hash family -> same
buckets -> same candidates -> same verified pairs on both engines.

DuckDB shingle idiom: range(1, len(toks)-1) yields indices 1..n-2 and
toks[i:i+2] is the inclusive 3-token slice — equivalent to Spark's
sequence(1, size-2) + slice(toks, i, 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..catalog import load_table, load_table_pk
from ..operators.dedup import (
    exact_dedup_groups,
    minhash_coeffs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_near_dup_pairs,
)

# affine minhash coefficients, mirrored verbatim into the oracle SQL
_MH_A, _MH_B = minhash_coeffs(32)
_MH_SEEDS_VALUES = ", ".join(f"({i}, {_MH_A[i]}, {_MH_B[i]})" for i in range(32))
from .queries import register

# shared DuckDB CTE: distinct word-3-shingles per document
_SH_CTE = r"""
sh AS (
  SELECT doc_id, unnest(list_distinct(
    CASE WHEN len(toks) >= 3
         THEN list_transform(range(1, len(toks)-1), i -> array_to_string(toks[i:i+2], ' '))
         ELSE []::VARCHAR[] END)) AS s
  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents)
),
sz AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id)
"""


@register(
    "q22_dedup_exact",
    """
    SELECT md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                   ' +', ' ', 'g'))) AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup: hash-groupBy on normalized text, min-id canonical "
    "representative. One shuffle on the fingerprint.",
)
def q22_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup_groups(load_table(spark, sf_dir, "documents"), "doc_id", "text")


@register(
    "q23_ngram_jaccard_dedup",
    f"""
    WITH {_SH_CTE},
    inter AS (
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
      FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN sz sa ON sa.doc_id = doc_a
    JOIN sz sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
    """,
    doc="n-gram Jaccard near-dup pairs via shared-shingle join (exact).",
)
def q23_ngram_jaccard_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ngram_jaccard_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text", k=3, threshold=0.5
    )


@register(
    "q24_minhash_lsh_dedup",
    f"""
    WITH {_SH_CTE},
    -- 60-bit md5 shingle hashes: the signature pass computes these once and
    -- the verify step measures Jaccard over the hash SETS (mirrors
    -- _minhash_features emitting mh alongside the band buckets)
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
    bstats AS (
      SELECT band, bucket, count(*) AS cnt, min(doc_id) AS mn
      FROM buckets GROUP BY band, bucket
    ),
    cand AS (
      -- mirrors capped_candidate_pairs: full pair expansion for buckets at
      -- or under the cap, star (min-id, member) pairs above it
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM buckets a
      JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
      JOIN bstats s ON s.band = a.band AND s.bucket = a.bucket
      WHERE s.cnt <= 512
      UNION
      SELECT s.mn AS doc_a, m.doc_id AS doc_b
      FROM buckets m
      JOIN bstats s ON s.band = m.band AND s.bucket = m.bucket
      WHERE s.cnt > 512 AND m.doc_id <> s.mn
    ),
    inter AS (
      SELECT doc_a, doc_b, count(*) AS i
      FROM cand
      JOIN hh a ON a.doc_id = doc_a
      JOIN hh b ON b.doc_id = doc_b AND a.h = b.h
      GROUP BY doc_a, doc_b
    )
    SELECT doc_a, doc_b, ROUND(i * 1.0 / (sa.sz + sb.sz - i), 4) AS jaccard
    FROM inter
    JOIN hsz sa ON sa.doc_id = doc_a
    JOIN hsz sb ON sb.doc_id = doc_b
    WHERE i * 1.0 / (sa.sz + sb.sz - i) >= 0.5
    """,
    doc="MinHash (32 hashes) + banded LSH (8 bands x 4) near-dup pairs, "
    "Jaccard-verified over the 60-bit md5 shingle-hash sets the signature "
    "pass computes. Deterministic md5 hash family makes the whole LSH "
    "pipeline oracle-checkable.",
)
def q24_minhash_lsh_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        load_table(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        k=3,
        num_hashes=32,
        bands=8,
        threshold=0.5,
    )


@register(
    "q25_simhash_dedup",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS t
      FROM documents WHERE length(trim(text)) > 0
    ),
    h AS (
      SELECT doc_id, CAST(('0x' || substr(md5(t), 1, 16)) AS UBIGINT) AS h FROM tok
    ),
    votes AS (
      SELECT doc_id, i.i AS i,
             SUM(CASE WHEN (h >> i.i) & 1 = 1 THEN 1 ELSE -1 END) AS v
      FROM h CROSS JOIN (SELECT unnest(range(0, 64)) AS i) i
      GROUP BY 1, 2
    ),
    usig AS (
      SELECT doc_id,
             bit_or(CASE WHEN v > 0 THEN CAST(1 AS UBIGINT) << i
                         ELSE CAST(0 AS UBIGINT) END) AS us
      FROM votes GROUP BY 1
    ),
    sigs AS (
      SELECT d.doc_id, COALESCE(u.us, CAST(0 AS UBIGINT)) AS us
      FROM documents d LEFT JOIN usig u USING (doc_id)
    ),
    bands AS (
      SELECT doc_id, us, i.i AS band, (us >> (i.i * 16)) & 65535 AS val
      FROM sigs CROSS JOIN (SELECT unnest(range(0, 4)) AS i) i
    ),
    bstats AS (SELECT band, val, count(*) AS cnt, min(doc_id) AS mn
               FROM bands GROUP BY band, val),
    cand AS (
      SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN bands b ON a.band = b.band AND a.val = b.val AND a.doc_id < b.doc_id
        JOIN bstats s ON s.band = a.band AND s.val = a.val
        WHERE s.cnt <= 512
        UNION ALL
        SELECT s.mn AS doc_a, m.doc_id AS doc_b
        FROM bands m JOIN bstats s ON s.band = m.band AND s.val = m.val
        WHERE s.cnt > 512 AND m.doc_id <> s.mn
      )
    )
    SELECT doc_a, doc_b, CAST(bit_count(xor(a.us, b.us)) AS INT) AS hamming
    FROM cand
    JOIN sigs a ON a.doc_id = doc_a
    JOIN sigs b ON b.doc_id = doc_b
    WHERE bit_count(xor(a.us, b.us)) <= 3
    """,
    doc="SimHash near-dup pairs: vectorized 64-bit signatures, pigeonhole "
    "banding for candidates (hot-bucket cap with star degradation, same "
    "scheme as the MinHash path), bit_count Hamming verify. The oracle "
    "mirrors the ENTIRE bit pipeline (md5 token hash -> per-bit +-1 "
    "votes -> bit_or signature assembly -> 16-bit pigeonhole bands -> "
    "cap -> bit_count(xor) Hamming) in DuckDB integer SQL, so even this "
    "signature-based op is hash-checked, not rows-only.",
)
def q25_simhash_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash_near_dup_pairs(
        load_table(spark, sf_dir, "documents"), "doc_id", "text",
        max_hamming=3, max_bucket_size=512,
    )


# ─────────────────────────────────────────────────────────────────────────────
# Text analysis
# ─────────────────────────────────────────────────────────────────────────────

# DuckDB token CTE matching operators.textops.tokens()
_TOKS_CTE = r"""
toks AS (
  SELECT doc_id, text, n_chars,
         string_split_regex(trim(lower(text)), '\s+') AS t
  FROM documents
)
"""


@register(
    "q26_text_stats",
    f"""
    WITH {_TOKS_CTE}
    SELECT doc_id,
           CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len(t) END AS n_tokens,
           len(regexp_extract_all(lower(text), '[a-z0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens,
           ROUND(CAST(list_sum(list_transform(t, x -> length(x))) AS BIGINT) * 1.0 / len(t), 4)
             AS avg_token_len,
           ROUND(length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
                 / NULLIF(length(text), 0), 6) AS punct_ratio,
           ROUND((length(text) - length(regexp_replace(text, '[0-9]', '', 'g'))) * 1.0
                 / NULLIF(length(text), 0), 6) AS digit_ratio,
           ROUND(len(list_filter(t, x -> list_contains(
                 ['the','a','of','and','to','in','is','that','it','for'], x))) * 1.0
                 / len(t), 6) AS stopword_ratio_en
    FROM toks
    """,
    doc="Per-document token counting (whitespace + BPE-ish regex) and "
    "quality-signal ratios; all JVM-side column expressions.",
)
def q26_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators import textops as tx

    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        tx.token_count("text").cast("long").alias("n_tokens"),
        tx.bpe_token_count("text").cast("long").alias("n_bpe_tokens"),
        F.round(tx.avg_token_len("text"), 4).alias("avg_token_len"),
        F.round(tx.punct_ratio("text"), 6).alias("punct_ratio"),
        F.round(tx.digit_ratio("text"), 6).alias("digit_ratio"),
        F.round(tx.stopword_ratio("text", "en"), 6).alias("stopword_ratio_en"),
    )


@register(
    "q27_language_id",
    f"""
    WITH {_TOKS_CTE},
    hits AS (
      SELECT doc_id,
        len(list_filter(t, x -> list_contains(['the','a','of','and','to','in','is','that','it','for'], x))) AS s_en,
        len(list_filter(t, x -> list_contains(['der','die','das','und','ist','nicht','mit','ein','zu','den'], x))) AS s_de,
        len(list_filter(t, x -> list_contains(['el','la','que','y','en','un','es','se','no','los'], x))) AS s_es,
        len(list_filter(t, x -> list_contains(['le','la','et','un','est','que','pour','dans','ce','les'], x))) AS s_fr
      FROM toks
    )
    SELECT doc_id,
           CASE WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
                WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
                WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
                WHEN s_fr > 0 THEN 'fr'
                ELSE 'und' END AS lang_pred
    FROM hits
    """,
    doc="Stopword-vote language ID heuristic (en/de/es/fr/und).",
)
def q27_language_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import language_id

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", language_id("text").alias("lang_pred"))


@register(
    "q28_quality_class",
    """
    SELECT doc_id,
           CASE WHEN n_chars >= 300
                     AND (CASE WHEN length(trim(text)) = 0 THEN 0
                          ELSE len(string_split_regex(trim(lower(text)), '\\s+')) END) >= 50
                     AND length(regexp_replace(text, '[a-zA-Z0-9\\s]', '', 'g')) * 1.0
                         / NULLIF(length(text), 0) < 0.1 THEN 'HIGH'
                WHEN n_chars >= 150 THEN 'MED'
                ELSE 'LOW' END AS quality
    FROM documents
    """,
    doc="Corpus quality classification (length + structure CASE) — the "
    "text analogue of the reference's quality_score (transform.py:238-251).",
)
def q28_quality_class(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.textops import quality_class

    docs = load_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_class("text", "n_chars").alias("quality"))


@register(
    "q29_bag_fingerprint",
    """
    SELECT md5(array_to_string(list_sort(list_distinct(
             string_split(trim(regexp_replace(regexp_replace(lower(text),
               '[^a-z0-9]+', ' ', 'g'), ' +', ' ', 'g')), ' '))), ' ')) AS fingerprint,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_docs
    FROM documents GROUP BY 1
    """,
    doc="Order-invariant bag-of-words fingerprint dedup: word-shuffled "
    "duplicates collide without any pairwise comparison.",
)
def q29_bag_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.textops import bag_fingerprint

    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", bag_fingerprint("text").alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


# ─────────────────────────────────────────────────────────────────────────────
# Similarity search over embeddings
# ─────────────────────────────────────────────────────────────────────────────

def _dot_sql(a: str, b: str, dim: int = 64) -> str:
    """Dot product of the first ``dim`` positions of two lists as a
    sequential left-to-right sum of DOUBLE products: the rounding
    sequence of operators.similarity.dot(). Every oracle's dot, norm and
    cosine over embedding vectors is built from this one fold."""
    return f"list_sum(list_transform(range(1,{dim + 1}), i -> {a}[i]::DOUBLE * {b}[i]::DOUBLE))"


def _norm_sql(v: str, dim: int = 64) -> str:
    return f"sqrt({_dot_sql(v, v, dim)})"


def _cos_sql(a: str, b: str, dim: int = 64) -> str:
    """Unrounded cosine, bit-identical to similarity._pair_cosine; a zero
    norm gives NULL (the oracle session runs with IEEE float ops off)."""
    return f"{_dot_sql(a, b, dim)} / ({_norm_sql(a, dim)} * {_norm_sql(b, dim)})"


# the 64-dim cosine as a .format template over {a} and {b}
_COS = _cos_sql("{a}", "{b}")


@register(
    "q30_ann_bruteforce_topk",
    f"""
    WITH q AS (SELECT vec_id AS query_id, embedding AS qe FROM embeddings WHERE vec_id < 10),
    sims AS (
      SELECT query_id, c.vec_id AS neighbor_id,
             ROUND({_COS.format(a="qe", b="c.embedding")}, 6) AS sim
      FROM q JOIN embeddings c ON c.vec_id <> query_id
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM sims) t
    WHERE rank <= 5
    """,
    doc="Exact k-NN baseline: broadcast 10 query vectors x corpus scan, "
    "sequential-double cosine, stable (sim, id) ranking.",
)
def q30_ann_bruteforce_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.similarity import brute_force_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return brute_force_topk(emb.filter(F.col("vec_id") < 10), emb, k=5)


@register(
    "q31_embedding_near_dup",
    f"""
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
           ROUND({_COS.format(a="a.embedding", b="b.embedding")}, 6) AS sim
    FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
    WHERE ROUND({_COS.format(a="a.embedding", b="b.embedding")}, 6) >= 0.4
    """,
    doc="Embedding-cosine near-dup pairs — exact all-pairs CORRECTNESS "
    "BASELINE ONLY (O(N^2) broadcast nested loop); q59 is the scale path.",
)
def q31_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_dup_pairs

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(emb, threshold=0.4)


def _ndl_planes_values() -> str:
    """The q59 hyperplane matrix as DuckDB VALUES rows (p, w) — the SAME
    md5-derived doubles the Spark UDF uses, so both engines bucket
    identically (projections are sequential-double sums on the DuckDB side
    and a numpy matmul on the Spark side; signs agree unless a projection
    lands within float ulp of zero, which is measure-zero for md5 planes)."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(16 * 4, 64, 42)
    return ",\n      ".join(
        f"({p}, [{', '.join(repr(float(v)) for v in planes[p])}])" for p in range(16 * 4)
    )


@register(
    "q59_embedding_near_dup_lsh",
    f"""
    WITH planes AS (SELECT * FROM (VALUES {_ndl_planes_values()}) pl(p, w)),
    proj AS (
      SELECT e.vec_id AS doc, pl.p AS p,
             {_dot_sql("e.embedding", "pl.w")} AS pr
      FROM embeddings e CROSS JOIN planes pl
    ),
    bits AS (
      SELECT doc, CAST(p // 4 AS INT) AS band,
             CAST(SUM(CASE WHEN pr > 0 THEN (1 << (p % 4)) ELSE 0 END) AS INT) AS bucket
      FROM proj GROUP BY doc, p // 4
    ),
    bstats AS (SELECT band, bucket, count(*) AS cnt, min(doc) AS mn
               FROM bits GROUP BY band, bucket),
    cand AS (
      SELECT a.doc AS vec_a, b.doc AS vec_b
      FROM bits a
      JOIN bits b ON a.band = b.band AND a.bucket = b.bucket AND a.doc < b.doc
      JOIN bstats s ON s.band = a.band AND s.bucket = a.bucket
      WHERE s.cnt <= 512
      UNION
      SELECT s.mn AS vec_a, m.doc AS vec_b
      FROM bits m JOIN bstats s ON s.band = m.band AND s.bucket = m.bucket
      WHERE s.cnt > 512 AND m.doc <> s.mn
    )
    SELECT vec_a, vec_b, ROUND({_COS.format(a="a.embedding", b="b.embedding")}, 6) AS sim
    FROM cand
    JOIN embeddings a ON a.vec_id = vec_a
    JOIN embeddings b ON b.vec_id = vec_b
    WHERE ROUND({_COS.format(a="a.embedding", b="b.embedding")}, 6) >= 0.4
    """,
    doc="Bucketed embedding near-dup pairs (banded hyperplane LSH + "
    "hot-bucket cap + exact-cosine verify) — the scale path replacing "
    "q31's O(N^2) all-pairs join. The oracle mirrors the ENTIRE pipeline "
    "(same md5-derived planes, bucket packing, cap, verify), so even this "
    "approximate operator is hash-checkable, not rows-only.",
)
def q59_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.similarity import embedding_near_dup_pairs_lsh

    emb = load_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs_lsh(
        emb, threshold=0.4, bands=16, planes_per_band=4, seed=42, dim=64, max_bucket_size=512
    )


def _ann_planes_values() -> str:
    """q32's 8-plane hyperplane matrix as DuckDB VALUES rows (p, w) —
    same md5-derived doubles as the Spark UDF (seed 42, dim 64), so both
    engines compute identical sign-bit bucket ids. Same replay scheme the
    q59/q25 oracles use."""
    from ..operators.similarity import _hyperplanes

    planes = _hyperplanes(8, 64, 42)
    return ",\n      ".join(
        f"({p}, [{', '.join(repr(float(v)) for v in planes[p])}])" for p in range(8)
    )


@register(
    "q32_ann_lsh_topk",
    f"""
    WITH planes AS (SELECT * FROM (VALUES {_ann_planes_values()}) pl(p, w)),
    buckets AS (
      SELECT e.vec_id, e.embedding,
             CAST(SUM(CASE WHEN {_dot_sql("e.embedding", "pl.w")} > 0
                       THEN (1 << pl.p) ELSE 0 END) AS INT) AS bucket
      FROM embeddings e CROSS JOIN planes pl
      GROUP BY e.vec_id, e.embedding
    ),
    sims AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             ROUND({_COS.format(a="q.embedding", b="c.embedding")}, 6) AS sim
      FROM buckets q JOIN buckets c ON q.bucket = c.bucket AND c.vec_id <> q.vec_id
      WHERE q.vec_id < 10
    )
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                                     ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM sims) t
    WHERE rank <= 5
    """,
    doc="Approximate k-NN: deterministic random-hyperplane LSH buckets "
    "(Arrow-vectorized) restrict candidates before exact cosine rank. "
    "The oracle replays the identical md5-derived planes, sign-bit bucket "
    "packing, bucket equi-join, and (sim, id) ranking in DuckDB — the "
    "whole approximate pipeline is hash-checkable (VERDICT r2 item 1).",
)
def q32_ann_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.similarity import lsh_ann_topk

    emb = load_table(spark, sf_dir, "embeddings")
    return lsh_ann_topk(emb.filter(F.col("vec_id") < 10), emb, k=5, n_planes=8)


# ─────────────────────────────────────────────────────────────────────────────
# Multimodal columns
# ─────────────────────────────────────────────────────────────────────────────


@register(
    "q33_multimodal_meta",
    """
    SELECT doc_id,
           'txt' AS format,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS checksum
    FROM documents
    """,
    doc="Multimodal column plumbing: binary payload + typed metadata struct "
    "(format/n_bytes/checksum); decode itself is stubbed per environment.",
)
def q33_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import attach_binary_payload

    docs = load_table(spark, sf_dir, "documents")
    media = attach_binary_payload(docs)
    return media.select(
        "doc_id",
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.n_bytes").alias("n_bytes"),
        F.col("media_meta.checksum").alias("checksum"),
    )


@register(
    "q56_multimodal_resize",
    """
    SELECT doc_id,
           4 AS height,
           4 AS width,
           16 AS n_pixel_bytes
    FROM documents
    """,
    doc="Multimodal resize plumbing (mapInPandas fan-through): every doc's "
    "payload is decoded (stub) and nearest-neighbor-resampled to 4x4 "
    "grayscale. The oracle hash-checks the distributed shape contract "
    "(one row per doc, fixed dims/byte-count); pixel values are covered "
    "exactly by tests/test_text_similarity.py::test_multimodal_resize.",
)
def q56_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import attach_binary_payload, resize_images

    docs = load_table(spark, sf_dir, "documents")
    out = resize_images(attach_binary_payload(docs), height=4, width=4)
    return out.select(
        "doc_id", "height", "width", F.octet_length("pixels").alias("n_pixel_bytes")
    )


@register(
    "q57_frame_sampling",
    """
    SELECT doc_id,
           CAST(UNNEST(range(0, GREATEST(octet_length(encode(text)) // 64, 1), 2)) AS INT)
             AS frame_idx,
           CAST(LEAST(octet_length(encode(text)), 64) AS INT) AS frame_bytes
    FROM documents
    """,
    doc="Video-style frame sampling (mapInPandas fan-OUT: one row -> many): "
    "each payload is chunked into 64-byte frames and every 2nd frame is "
    "emitted as its own row. Oracle replicates the chunk/stride math with "
    "DuckDB UNNEST(range(...)).",
)
def q57_frame_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import functions as F

    from ..operators.multimodal import attach_binary_payload, sample_frames

    docs = load_table(spark, sf_dir, "documents")
    frames = sample_frames(attach_binary_payload(docs), frame_bytes=64, every_n=2)
    return frames.select(
        "doc_id", "frame_idx", F.octet_length("frame").alias("frame_bytes")
    )


@register(
    "q64_winnow_fingerprints",
    r"""
    WITH ph AS (
      SELECT doc_id, pos,
             ('0x' || substr(md5(s), 1, 15))::BIGINT AS h,
             count(*) OVER (PARTITION BY doc_id) AS n_grams
      FROM (
        SELECT doc_id,
               unnest(list_transform(range(1, len(toks)-1),
                                     i -> array_to_string(toks[i:i+2], ' '))) AS s,
               unnest(range(1, len(toks)-1)) AS pos
        FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks
              FROM documents)
      )
    ),
    wm AS (
      SELECT doc_id, pos, n_grams,
             min(h) OVER (PARTITION BY doc_id ORDER BY pos
                          ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp
      FROM ph
    )
    SELECT DISTINCT doc_id, fp
    FROM wm
    WHERE pos <= n_grams - 3
    """,
    doc="Winnowing document fingerprints (MOSS): positional 3-gram 60-bit "
    "md5 hashes, window-4 sliding minimum, distinct kept hashes. Same "
    "hash encoding as the MinHash pipeline, fully oracle-checkable.",
)
def q64_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import winnow_fingerprints

    return winnow_fingerprints(
        load_table_pk(spark, sf_dir, "documents"), "doc_id", "text", k=3, window=4
    )


_SAMPLE_T10 = int(0.1 * (1 << 60))


@register(
    "q66_deterministic_sample",
    f"""
    SELECT doc_id, lang, source FROM documents
    WHERE ('0x' || substr(md5('42|' || CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT
          < {_SAMPLE_T10}
    """,
    doc="Deterministic 10% sample: membership is a pure row-content hash "
    "(md5 60-bit threshold) — stable across runs, engines, partitionings; "
    "map-side filter, no extra pass (operators/sampling.py).",
)
def q66_deterministic_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import deterministic_sample

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "source")
    return deterministic_sample(docs, "doc_id", 0.1, seed=42)


@register(
    "q67_cap_per_group",
    """
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source ORDER BY doc_id) AS rn
      FROM documents
    ) WHERE rn <= 10
    """,
    doc="Boilerplate-domain guard: at most 10 docs per source under a "
    "deterministic order (window row_number; Spark inserts "
    "WindowGroupLimit below the shuffle so oversized groups truncate "
    "early — operators/sampling.py:cap_per_group).",
)
def q67_cap_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.sampling import cap_per_group

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    return cap_per_group(docs, ["source"], ["doc_id"], 10)


from .queries import QUERY_REGISTRY as _REGISTRY

_Q24_PAIRS_SQL = _REGISTRY["q24_minhash_lsh_dedup"].sql


@register(
    "q68_dup_clusters",
    f"""
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
    )
    SELECT doc_id, cluster_id,
           CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size
    FROM lab
    """,
    doc="Near-dup PAIRS -> dedup GROUPS: connected components over the "
    "MinHash-LSH verified pairs via iterative min-label propagation "
    "(operators/dedup.py:connected_components); oracle is a recursive-CTE "
    "transitive closure. Keep min-id per cluster to dedup.",
)
def q68_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.dedup import dup_clusters

    return dup_clusters(_REGISTRY["q24_minhash_lsh_dedup"].fn(spark, sf_dir))


@register(
    "q69_tfidf_top_terms",
    r"""
    WITH tok AS (
      SELECT doc_id, unnest(string_split_regex(trim(lower(text)), '\s+')) AS term
      FROM documents WHERE length(trim(text)) > 0
    ),
    n AS (SELECT count(DISTINCT doc_id) AS n_docs FROM tok),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM tok GROUP BY 1, 2),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
    scored AS (
      SELECT tf.doc_id, tf.term,
             ROUND(tf.tf * ln(n.n_docs * 1.0 / df.df), 4) AS tfidf
      FROM tf JOIN df USING (term) CROSS JOIN n
    ),
    ranked AS (
      SELECT doc_id, term, tfidf,
             row_number() OVER (PARTITION BY doc_id
                                ORDER BY tfidf DESC, term) AS rn
      FROM scored
    )
    SELECT doc_id, term, tfidf FROM ranked WHERE rn <= 3
    """,
    doc="TF-IDF top-3 terms per document: term-frequency aggregate, "
    "document-frequency join, window top-k. The relational core of "
    "keyword extraction / sparse retrieval.",
)
def q69_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two hash aggregates (doc x term, term) + a term-keyed join —
    df per term is tiny relative to the corpus so AQE broadcasts it; the
    per-doc top-3 window gets WindowGroupLimit pushdown. No Python."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ..operators.textops import tokens

    docs = (
        load_table(spark, sf_dir, "documents")
        .filter(F.length(F.trim("text")) > 0)
        .select("doc_id", F.explode(tokens("text")).alias("term"))
    )
    n_docs = docs.select("doc_id").distinct().count()
    tf = docs.groupBy("doc_id", "term").agg(F.count(F.lit(1)).alias("tf"))
    df = docs.groupBy("term").agg(F.count_distinct("doc_id").alias("df"))
    scored = tf.join(df, "term").select(
        "doc_id",
        "term",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), F.col("term"))
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select("doc_id", "term", "tfidf")
    )
