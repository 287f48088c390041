"""Round-7 session-5 additions: the remaining training-data-pipeline
capability classes — data selection (DSIR hashed importance
resampling), in-engine supervised model TRAINING (logistic regression
via exact-replay IRLS, completing the GLM family q402 opened), and
density-based outlier scoring (HBOS) — plus the graph/eval queries
registered after them.

Reference tie-in: the reference delegates all analytics to Athena
(README.md:128-132); these extend the engine's analytics surface the
same way q203-q413 did (SURVEY.md north-star ops).

Every query keeps the exact-replay discipline: float terms are
micro-quantized inside bounded relations, corpus-wide sums run over
integers, so the DuckDB oracle hash-matches bit-for-bit.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table
from ..functions.core import fits_on_driver, round_half_up
from .queries import register

# ── q414: DSIR hashed-unigram importance weights (data selection) ───────────

_Q414_B = 256  # hashed feature buckets
_Q414_TOP = 25
_Q414_SCALE = 1_000_000

# portable seeded hash (q363 idiom): md5 hex -> 60-bit int -> % B
_Q414_H = (
    "CAST(('0x' || substr(md5('dsir|' || w), 1, 15)) AS BIGINT) % " + str(_Q414_B)
)


def _q414_sql() -> str:
    b = _Q414_B
    sc = _Q414_SCALE
    return rf"""
    WITH toks AS (
      SELECT doc_id, lang, w FROM (
        SELECT doc_id, lang,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
      ) WHERE length(w) > 0
    ),
    feat AS (
      SELECT doc_id, lang, {_Q414_H} AS bucket FROM toks
    ),
    counts AS (
      SELECT bucket,
             CAST(COUNT(*) AS BIGINT) AS c_raw,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS c_tgt
      FROM feat GROUP BY bucket
    ),
    tot AS (
      SELECT CAST(SUM(c_raw) AS BIGINT) AS n_raw,
             CAST(SUM(c_tgt) AS BIGINT) AS n_tgt
      FROM counts
    ),
    llr AS (
      SELECT bucket,
             CAST(FLOOR((LN((c_tgt + 1.0) / (t.n_tgt + {b}))
                         - LN((c_raw + 1.0) / (t.n_raw + {b}))) * {sc} + 0.5)
                  AS BIGINT) AS llr_q
      FROM counts CROSS JOIN tot t
    ),
    scored AS (
      SELECT f.doc_id,
             CAST(COUNT(*) AS BIGINT) AS n_tokens,
             CAST(SUM(l.llr_q) AS BIGINT) AS lw_q
      FROM feat f JOIN llr l USING (bucket)
      GROUP BY f.doc_id
    ),
    top AS (
      SELECT doc_id, n_tokens, lw_q
      FROM scored
      ORDER BY lw_q DESC, doc_id
      LIMIT {_Q414_TOP}
    )
    SELECT doc_id, n_tokens,
           FLOOR(lw_q * 1.0 / n_tokens + 0.5) / {sc}.0 AS avg_token_llr,
           FLOOR(lw_q / 1000.0 + 0.5) / 1000.0 AS log_weight_milli,
           CAST(ROW_NUMBER() OVER (ORDER BY lw_q DESC, doc_id) AS INTEGER)
             AS rank
    FROM top
    """


@register(
    "q414_dsir_importance_weights",
    _q414_sql(),
    doc="DSIR data selection (Xie et al., NeurIPS'23): importance "
    "weights from hashed-unigram bag-of-words distributions. Target "
    "distribution = English documents, raw distribution = whole "
    "corpus; each token hashes (seeded md5, the q363 portable idiom) "
    "into one of 256 buckets; per-bucket log-likelihood ratio "
    "ln p_tgt(b) - ln p_raw(b) with add-one smoothing is "
    "micro-quantized in the BOUNDED bucket relation, and a document's "
    "log importance weight is the integer sum of its tokens' "
    "quantized LLRs — so corpus-wide accumulation is exact on both "
    "engines. Returns the top-25 resampling candidates: the documents "
    "whose hashed n-gram profile looks most like the target domain.",
)
def q414_dsir_importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the token explode is map-side; the bucket histogram is a
    256-row relation (broadcast back); the per-doc score is one
    map-side-combinable integer sum keyed by doc_id; top-k is a
    TakeOrdered (sort+limit), never a global row_number. Nothing in
    the plan grows faster than the token count, and the only
    float->int quantization happens on 256 rows."""
    b = _Q414_B
    sc = _Q414_SCALE
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    toks = (
        docs.select(
            "doc_id",
            "lang",
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"),
        )
        .filter(F.length("w") > 0)
    )
    feat = toks.select(
        "doc_id",
        "lang",
        (
            F.conv(F.substring(F.md5(F.concat(F.lit("dsir|"), F.col("w"))), 1, 15), 16, 10)
            .cast("long")
            % b
        ).alias("bucket"),
    )
    counts = feat.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("c_raw"),
        F.sum(F.when(F.col("lang") == "en", 1).otherwise(0)).cast("long").alias("c_tgt"),
    )
    tot = counts.agg(
        F.sum("c_raw").cast("long").alias("n_raw"),
        F.sum("c_tgt").cast("long").alias("n_tgt"),
    )
    llr = counts.crossJoin(F.broadcast(tot)).select(
        "bucket",
        F.floor(
            (
                F.log((F.col("c_tgt") + 1.0) / (F.col("n_tgt") + b))
                - F.log((F.col("c_raw") + 1.0) / (F.col("n_raw") + b))
            )
            * sc
            + 0.5
        )
        .cast("long")
        .alias("llr_q"),
    )
    scored = (
        feat.join(F.broadcast(llr), "bucket")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.sum("llr_q").cast("long").alias("lw_q"),
        )
    )
    top = scored.orderBy(F.desc("lw_q"), F.asc("doc_id")).limit(_Q414_TOP)
    w = Window.orderBy(F.desc("lw_q"), F.asc("doc_id"))
    return top.select(
        "doc_id",
        "n_tokens",
        (F.floor(F.col("lw_q") * 1.0 / F.col("n_tokens") + 0.5) / float(sc)).alias(
            "avg_token_llr"
        ),
        (F.floor(F.col("lw_q") / 1000.0 + 0.5) / 1000.0).alias("log_weight_milli"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# ── q415: logistic-regression training via exact-replay IRLS ────────────────

_Q415_ITERS = 8
_Q415_SCALE = 1_000_000
_Q415_MIN_WORDS = 50  # the Gopher word-count gate (operators/quality.py)
_Q415_XW = 32  # n_chars bucket width
_Q415_XMAX = 19
# L2 (ridge) strength: the gate verdict is a near-deterministic function
# of length, so the unpenalized MLE sits at infinity whenever only one
# bucket is mixed (quasi-separation); the lambda=1 MAP estimate always
# exists and keeps the Newton iterates bounded at every SF.
_Q415_LAMBDA = 1


def _q415_subjects_sql() -> str:
    return rf"""
    subj AS (
      SELECT doc_id,
             CASE WHEN len(string_split_regex(trim(lower(text)), '\s+'))
                       >= {_Q415_MIN_WORDS} THEN 1 ELSE 0 END AS y,
             LEAST(n_chars // {_Q415_XW}, {_Q415_XMAX}) AS x
      FROM documents
    ),
    grid AS MATERIALIZED (
      SELECT x, CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(y) AS BIGINT) AS k
      FROM subj GROUP BY x
    )"""


def _q415_sql() -> str:
    sc = _Q415_SCALE
    lam = _Q415_LAMBDA
    head = "WITH " + _q415_subjects_sql() + f""",
    b0 AS (SELECT CAST(0 AS BIGINT) AS b0q, CAST(0 AS BIGINT) AS b1q)"""
    steps = []
    for i in range(1, _Q415_ITERS + 1):
        steps.append(f"""
    p{i} AS (
      SELECT g.x, g.n, g.k,
             1.0 / (1.0 + EXP(-(b.b0q / {sc}.0 + b.b1q / {sc}.0 * g.x))) AS p
      FROM grid g CROSS JOIN b{i - 1} b
    ),
    s{i} AS (
      SELECT CAST(SUM(CAST(FLOOR((k - n * p) * {sc} + 0.5) AS BIGINT))
                  AS BIGINT) AS g0,
             CAST(SUM(CAST(FLOOR(x * (k - n * p) * {sc} + 0.5) AS BIGINT))
                  AS BIGINT) AS g1,
             CAST(SUM(CAST(FLOOR(n * p * (1 - p) * {sc} + 0.5) AS BIGINT))
                  AS BIGINT) AS h00,
             CAST(SUM(CAST(FLOOR(x * n * p * (1 - p) * {sc} + 0.5) AS BIGINT))
                  AS BIGINT) AS h01,
             CAST(SUM(CAST(FLOOR(x * x * n * p * (1 - p) * {sc} + 0.5)
                           AS BIGINT)) AS BIGINT) AS h11
      FROM p{i}
    ),
    b{i} AS (
      SELECT CAST(b.b0q + CAST(FLOOR(((s.h11 + {lam} * {sc}) * 1.0
                         * (s.g0 - {lam} * b.b0q)
                       - s.h01 * 1.0 * (s.g1 - {lam} * b.b1q))
                     / ((s.h00 + {lam} * {sc}) * 1.0 * (s.h11 + {lam} * {sc})
                        - s.h01 * 1.0 * s.h01) * {sc} + 0.5)
                     AS BIGINT) AS BIGINT) AS b0q,
             CAST(b.b1q + CAST(FLOOR(((s.h00 + {lam} * {sc}) * 1.0
                         * (s.g1 - {lam} * b.b1q)
                       - s.h01 * 1.0 * (s.g0 - {lam} * b.b0q))
                     / ((s.h00 + {lam} * {sc}) * 1.0 * (s.h11 + {lam} * {sc})
                        - s.h01 * 1.0 * s.h01) * {sc} + 0.5)
                     AS BIGINT) AS BIGINT) AS b1q
      FROM s{i} s CROSS JOIN b{i - 1} b
    )""")
    last = _Q415_ITERS
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT (SELECT CAST(SUM(n) AS BIGINT) FROM grid) AS n_docs,
           (SELECT CAST(SUM(k) AS BIGINT) FROM grid) AS n_positive,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM grid) AS n_buckets,
           FLOOR(b.b0q / {sc}.0 * 1000000 + 0.5) / 1000000 AS beta0,
           FLOOR(b.b1q / {sc}.0 * 1000000 + 0.5) / 1000000 AS beta1,
           FLOOR(EXP(b.b1q / {sc}.0) * 1000000 + 0.5) / 1000000
             AS odds_ratio_per_bucket,
           FLOOR(SQRT((s.h00 + {lam} * {sc}) * 1.0
                      / ((s.h00 + {lam} * {sc}) * 1.0 * (s.h11 + {lam} * {sc})
                         - s.h01 * 1.0 * s.h01)
                      * {sc}.0) * 1000000 + 0.5) / 1000000 AS se_beta1,
           FLOOR((b.b1q / {sc}.0)
                 / SQRT((s.h00 + {lam} * {sc}) * 1.0
                        / ((s.h00 + {lam} * {sc}) * 1.0
                           * (s.h11 + {lam} * {sc})
                           - s.h01 * 1.0 * s.h01) * {sc}.0)
                 * 1000000 + 0.5) / 1000000 AS z_beta1,
           FLOOR(ABS((s.g0 - {lam} * bp.b0q) / {sc}.0) * 1000000 + 0.5)
             / 1000000 AS score_residual0,
           FLOOR(ABS((s.g1 - {lam} * bp.b1q) / {sc}.0) * 1000000 + 0.5)
             / 1000000 AS score_residual1
    FROM b{last} b CROSS JOIN s{last} s CROSS JOIN b{last - 1} bp
    WHERE (SELECT COUNT(*) FROM grid) > 0
    """
    )  # WHERE guard: on an empty lake the Spark fn returns 0 rows; without
    # it the SUMs over the empty grid would emit one all-NULL row (ADVICE r7)


@register(
    "q415_logistic_quality_irls",
    _q415_sql(),
    doc="In-engine logistic-regression TRAINING via IRLS/Newton — the "
    "binomial GLM completing the family q402's Poisson GLM opened. "
    "The classic filter-distillation setup: the EXPENSIVE label "
    "(y = the Gopher word-count gate, which needs tokenization) is "
    "distilled into a model over the CHEAP stored-metadata feature "
    "(x = n_chars/32 bucket, capped at 19) so new documents can be "
    "pre-screened without re-tokenizing. Ridge (lambda=1) MAP fit: "
    "the gate is near-deterministic in length, so the unpenalized "
    "MLE diverges under quasi-separation; the L2 prior pins a finite "
    "optimum at every corpus size. The sufficient statistic is the "
    "20-bucket (n, k) histogram, so the optimizer runs over a "
    "BOUNDED grid: 8 Newton steps with the closed-form 2x2 Hessian "
    "solve, beta held as integer micros, per-bucket gradient/Hessian "
    "terms micro-quantized before the sum (the q379 idiom), the "
    "ridge terms exact integers — the whole fit is hash-exact on "
    "both engines. Reports coefficients, the per-bucket odds ratio, "
    "the posterior-curvature SE/z for the slope, and the final "
    "score residuals (~0: the convergence certificate).",
)
def q415_logistic_quality_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: labeling is a map-only stage (one split+size per doc, no
    shuffle), the histogram is a 20-row aggregate, and the Newton loop
    runs on a driver-side copy of that bounded grid (q379/q402
    bounded-collect pattern) in arithmetic identical to the oracle's
    unrolled CTEs. Corpus-width work happens exactly once — and the
    FITTED model then screens future documents for free (a metadata
    filter, no tokenization), which is the point of distillation."""
    sc = _Q415_SCALE
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "n_chars")
    subj = docs.select(
        "doc_id",
        F.when(
            F.size(F.split(F.trim(F.lower("text")), r"\s+")) >= _Q415_MIN_WORDS, 1
        )
        .otherwise(0)
        .alias("y"),
        F.least(
            F.floor(F.col("n_chars") / _Q415_XW).cast("long"),
            F.lit(_Q415_XMAX).cast("long"),
        ).alias("x"),
    )
    grid = (
        subj.groupBy("x")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("k"))
        .collect()  # bounded: <= 20 n_chars buckets
    )
    rows = [(r["x"], r["n"], r["k"]) for r in grid]
    if not rows:  # empty lake: schema-stable empty result
        return spark.createDataFrame(
            [],
            "n_docs long, n_positive long, n_buckets long, beta0 double, "
            "beta1 double, odds_ratio_per_bucket double, se_beta1 double, "
            "z_beta1 double, score_residual0 double, score_residual1 double",
        )
    n_docs = sum(n for _, n, _ in rows)
    n_pos = sum(k for _, _, k in rows)
    lam = _Q415_LAMBDA
    b0q = b1q = 0
    g0 = g1 = h00 = h01 = h11 = 0
    for _ in range(_Q415_ITERS):
        g0 = g1 = h00 = h01 = h11 = 0
        for x, n, k in rows:
            p = 1.0 / (1.0 + math.exp(-(b0q / float(sc) + b1q / float(sc) * x)))
            g0 += math.floor((k - n * p) * sc + 0.5)
            g1 += math.floor(x * (k - n * p) * sc + 0.5)
            h00 += math.floor(n * p * (1 - p) * sc + 0.5)
            h01 += math.floor(x * n * p * (1 - p) * sc + 0.5)
            h11 += math.floor(x * x * n * p * (1 - p) * sc + 0.5)
        g0 -= lam * b0q
        g1 -= lam * b1q
        h00 += lam * sc
        h11 += lam * sc
        det = h00 * 1.0 * h11 - h01 * 1.0 * h01
        b0q += math.floor((h11 * 1.0 * g0 - h01 * 1.0 * g1) / det * sc + 0.5)
        b1q += math.floor((h00 * 1.0 * g1 - h01 * 1.0 * g0) / det * sc + 0.5)
    out = spark.createDataFrame(
        [(n_docs, n_pos, len(rows), b0q, b1q, g0, g1, h00, h01, h11)],
        "n_docs long, n_pos long, n_buckets long, b0q long, b1q long, "
        "g0 long, g1 long, h00 long, h01 long, h11 long",
    )
    scf = float(sc)
    det = F.col("h00") * 1.0 * F.col("h11") - F.col("h01") * 1.0 * F.col("h01")
    se1 = F.sqrt(F.col("h00") * 1.0 / det * scf)
    return out.select(
        F.col("n_docs"),
        F.col("n_pos").alias("n_positive"),
        F.col("n_buckets").cast("long").alias("n_buckets"),
        round_half_up(F.col("b0q") / scf, 6).alias("beta0"),
        round_half_up(F.col("b1q") / scf, 6).alias("beta1"),
        round_half_up(F.exp(F.col("b1q") / scf), 6).alias("odds_ratio_per_bucket"),
        round_half_up(se1, 6).alias("se_beta1"),
        round_half_up((F.col("b1q") / scf) / se1, 6).alias("z_beta1"),
        round_half_up(F.abs(F.col("g0") / scf), 6).alias("score_residual0"),
        round_half_up(F.abs(F.col("g1") / scf), 6).alias("score_residual1"),
    )


# ── q416: HBOS histogram-based outlier scores ────────────────────────────────

_Q416_BINS = 16
_Q416_TOP = 20
_Q416_SCALE = 1_000_000


def _q416_sql() -> str:
    b = _Q416_BINS
    sc = _Q416_SCALE
    return f"""
    WITH feat AS (
      SELECT o.o_orderkey,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CAST(COUNT(l.l_orderkey) AS BIGINT) AS n_items
      FROM orders o LEFT JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_totalprice
    ),
    rng AS (
      SELECT MIN(cents) AS c_lo, MAX(cents) AS c_hi,
             MIN(n_items) AS i_lo, MAX(n_items) AS i_hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM feat
    ),
    binned AS (
      SELECT f.o_orderkey, f.cents, f.n_items,
             LEAST(CAST(FLOOR((f.cents - r.c_lo) * {b} * 1.0
                        / GREATEST(r.c_hi - r.c_lo + 1, 1)) AS BIGINT),
                   {b - 1}) AS cb,
             LEAST(CAST(FLOOR((f.n_items - r.i_lo) * {b} * 1.0
                        / GREATEST(r.i_hi - r.i_lo + 1, 1)) AS BIGINT),
                   {b - 1}) AS ib
      FROM feat f CROSS JOIN rng r
    ),
    chist AS (
      SELECT cb, CAST(FLOOR(-LN(COUNT(*) * 1.0 / r.n) * {sc} + 0.5) AS BIGINT)
               AS sc_q
      FROM binned CROSS JOIN rng r GROUP BY cb, r.n
    ),
    ihist AS (
      SELECT ib, CAST(FLOOR(-LN(COUNT(*) * 1.0 / r.n) * {sc} + 0.5) AS BIGINT)
               AS si_q
      FROM binned CROSS JOIN rng r GROUP BY ib, r.n
    ),
    scored AS (
      SELECT b.o_orderkey, b.cents, b.n_items,
             c.sc_q + i.si_q AS hbos_q
      FROM binned b JOIN chist c USING (cb) JOIN ihist i USING (ib)
    ),
    top AS (
      SELECT * FROM scored ORDER BY hbos_q DESC, o_orderkey LIMIT {_Q416_TOP}
    )
    SELECT o_orderkey,
           FLOOR(cents) / 100.0 AS total_price,
           n_items,
           FLOOR(hbos_q / 1000.0 + 0.5) / 1000.0 AS hbos_score_milli,
           CAST(ROW_NUMBER() OVER (ORDER BY hbos_q DESC, o_orderkey)
                AS INTEGER) AS rank
    FROM top
    """


@register(
    "q416_hbos_outliers",
    _q416_sql(),
    doc="HBOS histogram-based outlier scoring (Goldstein & Dengel, "
    "KI'12): per-order features (total price in integer cents, "
    "lineitem count) bin into 16 equal-width bins with PURE INTEGER "
    "bin assignment ((x-lo)*B / (hi-lo+1) — no float boundary risk); "
    "each bin's negative log density is micro-quantized in the "
    "bounded 16-row histogram, and an order's HBOS score is the "
    "integer sum of its bins' scores. Top-20 outliers: the orders in "
    "the rarest (price x size) density cells.",
)
def q416_hbos_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one join+agg builds the feature relation (shuffle keyed
    by orderkey); min/max is a scalar agg broadcast back; both
    histograms are 16-row relations broadcast into a map-side score
    join; top-k is a TakeOrdered. The density model is two O(B)
    relations regardless of corpus size — HBOS is exactly the outlier
    detector that survives 100 TB, which is why it beats kNN-based
    scoring (q273) as the default screen."""
    b = _Q416_BINS
    sc = _Q416_SCALE
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey")
    feat = (
        o.join(li, o.o_orderkey == li.l_orderkey, "left")
        .groupBy("o_orderkey", "o_totalprice")
        .agg(F.count("l_orderkey").alias("n_items"))
        .select(
            "o_orderkey",
            F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
            F.col("n_items").cast("long"),
        )
    )
    rng = feat.agg(
        F.min("cents").alias("c_lo"),
        F.max("cents").alias("c_hi"),
        F.min("n_items").alias("i_lo"),
        F.max("n_items").alias("i_hi"),
        F.count(F.lit(1)).alias("n"),
    )
    binned = feat.crossJoin(F.broadcast(rng)).select(
        "o_orderkey",
        "cents",
        "n_items",
        F.least(
            F.floor(
                (F.col("cents") - F.col("c_lo"))
                * b
                * 1.0
                / F.greatest(F.col("c_hi") - F.col("c_lo") + 1, F.lit(1))
            ).cast("long"),
            F.lit(b - 1).cast("long"),
        ).alias("cb"),
        F.least(
            F.floor(
                (F.col("n_items") - F.col("i_lo"))
                * b
                * 1.0
                / F.greatest(F.col("i_hi") - F.col("i_lo") + 1, F.lit(1))
            ).cast("long"),
            F.lit(b - 1).cast("long"),
        ).alias("ib"),
        F.col("n"),
    )
    chist = binned.groupBy("cb", "n").agg(
        F.floor(-F.log(F.count(F.lit(1)) * 1.0 / F.col("n")) * sc + 0.5)
        .cast("long")
        .alias("sc_q")
    ).select("cb", "sc_q")
    ihist = binned.groupBy("ib", "n").agg(
        F.floor(-F.log(F.count(F.lit(1)) * 1.0 / F.col("n")) * sc + 0.5)
        .cast("long")
        .alias("si_q")
    ).select("ib", "si_q")
    scored = (
        binned.join(F.broadcast(chist), "cb")
        .join(F.broadcast(ihist), "ib")
        .select(
            "o_orderkey",
            "cents",
            "n_items",
            (F.col("sc_q") + F.col("si_q")).alias("hbos_q"),
        )
    )
    top = scored.orderBy(F.desc("hbos_q"), F.asc("o_orderkey")).limit(_Q416_TOP)
    w = Window.orderBy(F.desc("hbos_q"), F.asc("o_orderkey"))
    return top.select(
        "o_orderkey",
        (F.floor(F.col("cents")) / 100.0).alias("total_price"),
        "n_items",
        (F.floor(F.col("hbos_q") / 1000.0 + 0.5) / 1000.0).alias("hbos_score_milli"),
        F.row_number().over(w).cast("int").alias("rank"),
    )


# ── q417: leakage-safe split audit (group split vs doc split) ────────────────

_Q417_EVAL_T = int(0.1 * (1 << 60))  # deterministic 10% eval (q66 idiom)


def _q417_split_case(key_expr: str) -> str:
    return (
        f"CASE WHEN CAST(('0x' || substr(md5('split|' || "
        f"CAST({key_expr} AS VARCHAR)), 1, 15)) AS BIGINT) "
        f"< {_Q417_EVAL_T} THEN 1 ELSE 0 END"
    )


def _q417_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    clusters = _REGISTRY["q68_dup_clusters"].sql
    pairs = _REGISTRY["q24_minhash_lsh_dedup"].sql
    return f"""
    WITH cl AS ({clusters}),
    pairs AS ({pairs}),
    splits AS MATERIALIZED (
      SELECT d.doc_id,
             {_q417_split_case("d.doc_id")} AS ev_doc,
             {_q417_split_case("COALESCE(c.cluster_id, d.doc_id)")} AS ev_grp
      FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id
    ),
    flags AS (
      SELECT a.ev_doc AS ea_d, b.ev_doc AS eb_d,
             a.ev_grp AS ea_g, b.ev_grp AS eb_g
      FROM pairs p
      JOIN splits a ON a.doc_id = p.doc_a
      JOIN splits b ON b.doc_id = p.doc_b
    ),
    pair_stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
             CAST(SUM(CASE WHEN ea_d <> eb_d THEN 1 ELSE 0 END) AS BIGINT)
               AS cross_doc,
             CAST(SUM(CASE WHEN ea_g <> eb_g THEN 1 ELSE 0 END) AS BIGINT)
               AS cross_grp
      FROM flags
    ),
    doc_stats AS (
      SELECT CAST(SUM(ev_doc) AS BIGINT) AS eval_doc,
             CAST(SUM(ev_grp) AS BIGINT) AS eval_grp,
             CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM splits
    )
    SELECT s.scheme, d.n_docs,
           CASE s.scheme WHEN 'by_doc' THEN d.eval_doc ELSE d.eval_grp END
             AS n_eval_docs,
           p.n_pairs AS n_dup_pairs,
           CASE s.scheme WHEN 'by_doc' THEN p.cross_doc ELSE p.cross_grp END
             AS n_cross_pairs,
           FLOOR(CASE s.scheme WHEN 'by_doc' THEN p.cross_doc
                               ELSE p.cross_grp END
                 * 100.0 / GREATEST(p.n_pairs, 1) * 10000 + 0.5) / 10000
             AS leak_rate_pct
    FROM (SELECT 'by_doc' AS scheme UNION ALL SELECT 'by_cluster') s
    CROSS JOIN pair_stats p CROSS JOIN doc_stats d
    ORDER BY scheme
    """


@register(
    "q417_split_leakage_audit",
    _q417_sql(),
    doc="Leakage-safe train/eval splitting, the audit: a deterministic "
    "10% eval split keyed by doc_id leaks near-duplicate pairs across "
    "the boundary (a trained model is then evaluated on near-copies "
    "of its training documents — the classic inflated-eval bug), "
    "while the SAME hash split keyed by the q68 dedup CLUSTER id "
    "keeps every near-dup clique on one side by construction. "
    "Reports, per scheme: eval-doc count, the MinHash-verified dup "
    "pair count, pairs crossing the boundary, and the leak rate — "
    "by_cluster is structurally 0.",
)
def q417_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair relation and cluster labels are the q24/q68
    bucketed shapes (never all-pairs); splits are a map-side hash per
    doc; the audit joins pairs to the two split flags and folds to one
    row per scheme. In a deployment the cluster relation comes from
    the materialized audit index (split_leakage_from_index in
    pipelines/audit_index.py) and this query drops to a sub-second
    re-aggregation; the fresh-compute registry entry IS the
    full-recompute twin (q214/q277 precedent)."""
    from ..operators.dedup import dup_clusters
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    # materialize the pair relation ONCE: it feeds both the CC loop and
    # the flags join, and persist() is not honored under the
    # nondeterministic Arrow-UDF lineage (the q191 localCheckpoint
    # lesson, SURVEY round-7 #4)
    pairs = _REGISTRY["q24_minhash_lsh_dedup"].fn(spark, sf_dir).localCheckpoint(eager=True)
    comp = dup_clusters(pairs).select("doc_id", "cluster_id")
    return _split_leakage(docs, pairs, comp)


def _split_leakage(
    docs: DataFrame, pairs: DataFrame, clusters: DataFrame
) -> DataFrame:
    """Shared core for q417 and its from-index twin."""

    def split_flag(key) -> F.Column:
        return F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit("split|"), key.cast("string"))), 1, 15
                ),
                16,
                10,
            ).cast("long")
            < _Q417_EVAL_T,
            1,
        ).otherwise(0)

    splits = (
        docs.select("doc_id")
        .join(clusters, "doc_id", "left")
        .select(
            "doc_id",
            split_flag(F.col("doc_id")).alias("ev_doc"),
            split_flag(F.coalesce("cluster_id", "doc_id")).alias("ev_grp"),
        )
    )
    a = splits.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ev_doc").alias("ea_d"),
        F.col("ev_grp").alias("ea_g"),
    )
    b = splits.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ev_doc").alias("eb_d"),
        F.col("ev_grp").alias("eb_g"),
    )
    pair_stats = (
        pairs.select("doc_a", "doc_b")
        .join(a, "doc_a")
        .join(b, "doc_b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum(F.when(F.col("ea_d") != F.col("eb_d"), 1).otherwise(0))
            .cast("long")
            .alias("cross_doc"),
            F.sum(F.when(F.col("ea_g") != F.col("eb_g"), 1).otherwise(0))
            .cast("long")
            .alias("cross_grp"),
        )
    )
    doc_stats = splits.agg(
        F.sum("ev_doc").cast("long").alias("eval_doc"),
        F.sum("ev_grp").cast("long").alias("eval_grp"),
        F.count(F.lit(1)).cast("long").alias("n_docs"),
    )
    spark = docs.sparkSession
    schemes = spark.createDataFrame(
        [("by_cluster",), ("by_doc",)], "scheme string"
    )
    joined = schemes.crossJoin(F.broadcast(pair_stats)).crossJoin(
        F.broadcast(doc_stats)
    )
    is_doc = F.col("scheme") == "by_doc"
    n_cross = F.when(is_doc, F.col("cross_doc")).otherwise(F.col("cross_grp"))
    return joined.select(
        "scheme",
        "n_docs",
        F.when(is_doc, F.col("eval_doc"))
        .otherwise(F.col("eval_grp"))
        .alias("n_eval_docs"),
        F.col("n_pairs").alias("n_dup_pairs"),
        n_cross.alias("n_cross_pairs"),
        (
            F.floor(
                n_cross * 100.0 / F.greatest(F.col("n_pairs"), F.lit(1)) * 10000
                + 0.5
            )
            / 10000
        ).alias("leak_rate_pct"),
    ).orderBy("scheme")


# ── q418: ChiMerge supervised binning plan ───────────────────────────────────

_Q418_BASE = 16  # initial equal-width bins
_Q418_MERGES = 8  # bottom-up merge rounds -> 8 final bins
_Q418_SCALE = 1_000_000


def _q418_sql() -> str:
    nb = _Q418_BASE
    sc = _Q418_SCALE
    head = f"""
    WITH feat AS (
      SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS y
      FROM orders
    ),
    rng AS (SELECT MIN(cents) AS lo, MAX(cents) AS hi FROM feat),
    hist0 AS MATERIALIZED (
      SELECT LEAST(CAST(FLOOR((f.cents - r.lo) * {nb} * 1.0
                   / GREATEST(r.hi - r.lo + 1, 1)) AS BIGINT), {nb - 1})
               AS base_bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(f.y) AS BIGINT) AS k
      FROM feat f CROSS JOIN rng r
      GROUP BY 1
    ),
    m0 AS (SELECT base_bin, base_bin AS mb FROM hist0)"""
    steps = []
    # m{i} uses LEFT JOIN ON TRUE (not CROSS JOIN): when a round finds
    # no adjacent pair (one bin left, e.g. near-constant o_totalprice),
    # best{i} is empty and a CROSS JOIN would collapse the whole chain
    # to zero rows, while the Spark loop break-s and keeps the
    # survivors — the LEFT JOIN makes the exhausted round a no-op on
    # both sides (ADVICE r7).
    for i in range(1, _Q418_MERGES + 1):
        steps.append(f"""
    h{i} AS (
      SELECT m.mb, CAST(SUM(h.n) AS BIGINT) AS n, CAST(SUM(h.k) AS BIGINT) AS k
      FROM hist0 h JOIN m{i - 1} m USING (base_bin) GROUP BY m.mb
    ),
    adj{i} AS (
      SELECT mb AS b1, LEAD(mb) OVER (ORDER BY mb) AS b2,
             k AS a, n - k AS b,
             LEAD(k) OVER (ORDER BY mb) AS c,
             LEAD(n - k) OVER (ORDER BY mb) AS d
      FROM h{i}
    ),
    best{i} AS (
      SELECT b1, b2,
             CASE WHEN a + c = 0 OR b + d = 0 THEN CAST(0 AS BIGINT)
                  ELSE CAST(FLOOR((a + b + c + d) * 1.0
                         * (a * d - b * c) * (a * d - b * c)
                         / ((a + c) * 1.0 * (b + d) * (a + b) * (c + d))
                         * {sc} + 0.5) AS BIGINT) END AS chi2_q
      FROM adj{i} WHERE b2 IS NOT NULL
      ORDER BY chi2_q, b1 LIMIT 1
    ),
    m{i} AS (
      SELECT m.base_bin,
             CASE WHEN m.mb = b.b2 THEN b.b1 ELSE m.mb END AS mb
      FROM m{i - 1} m LEFT JOIN best{i} b ON TRUE
    )""")
    last = _Q418_MERGES
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY t.mb) AS INTEGER) AS bin_rank,
           CAST(COUNT(*) OVER () AS INTEGER) AS n_final_bins,
           t.n_base_bins, t.first_base_bin, t.last_base_bin,
           t.n_orders, t.n_high_priority,
           FLOOR(t.n_high_priority * 100.0 / t.n_orders * 10000 + 0.5) / 10000
             AS high_rate_pct
    FROM (
      SELECT m.mb,
             CAST(COUNT(*) AS BIGINT) AS n_base_bins,
             CAST(MIN(m.base_bin) AS BIGINT) AS first_base_bin,
             CAST(MAX(m.base_bin) AS BIGINT) AS last_base_bin,
             CAST(SUM(h.n) AS BIGINT) AS n_orders,
             CAST(SUM(h.k) AS BIGINT) AS n_high_priority
      FROM hist0 h JOIN m{last} m USING (base_bin)
      GROUP BY m.mb
    ) t
    ORDER BY bin_rank
    """
    )


@register(
    "q418_chimerge_binning_plan",
    _q418_sql(),
    doc="ChiMerge supervised discretization (Kerber, AAAI'92): start "
    "from 16 equal-width order-value bins and bottom-up merge the "
    "adjacent pair with the LOWEST chi-squared against the label "
    "(order priority URGENT/HIGH) for 8 rounds — the pairs the label "
    "cannot distinguish collapse first, leaving bin edges that track "
    "real signal. The 2x2 chi-squared per adjacent pair is computed "
    "on the bounded histogram with the integer cross-product exact "
    "and one micro-quantized double division; degenerate pairs "
    "(either class absent in both bins) merge first, the standard "
    "zero-expected rule. Returns the 8 surviving bins with base-bin "
    "ranges and positive rates — the binning plan a WOE/IV encoder "
    "(q211) or a scorecard model consumes.",
)
def q418_chimerge_binning_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE scan builds the 16-bin (n, k) histogram (map-side
    combinable agg on integer bin ids); the merge loop runs on the
    driver-side copy of that bounded histogram (q379/q415 bounded-
    collect pattern) in arithmetic identical to the oracle's unrolled
    CTE rounds. Corpus-width work is one pass regardless of rounds."""
    nb = _Q418_BASE
    sc = _Q418_SCALE
    o = load_table(spark, sf_dir, "orders").select(
        "o_totalprice", "o_orderpriority"
    )
    feat = o.select(
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
        F.when(
            F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
        ).otherwise(0).alias("y"),
    )
    rng = feat.agg(F.min("cents").alias("lo"), F.max("cents").alias("hi"))
    hist = (
        feat.crossJoin(F.broadcast(rng))
        .select(
            F.least(
                F.floor(
                    (F.col("cents") - F.col("lo"))
                    * nb
                    * 1.0
                    / F.greatest(F.col("hi") - F.col("lo") + 1, F.lit(1))
                ).cast("long"),
                F.lit(nb - 1).cast("long"),
            ).alias("base_bin"),
            "y",
        )
        .groupBy("base_bin")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("y").cast("long").alias("k"))
        .collect()  # bounded: <= 16 base bins
    )
    if not hist:
        return spark.createDataFrame(
            [],
            "bin_rank int, n_final_bins int, n_base_bins long, "
            "first_base_bin long, last_base_bin long, n_orders long, "
            "n_high_priority long, high_rate_pct double",
        )
    base = {r["base_bin"]: (r["n"], r["k"]) for r in hist}
    mb = {bb: bb for bb in base}  # base_bin -> merged bin label
    for _ in range(_Q418_MERGES):
        merged: dict[int, list[int]] = {}
        for bb, lab in mb.items():
            merged.setdefault(lab, []).append(bb)
        labs = sorted(merged)
        if len(labs) < 2:
            break
        cand = []
        for j in range(len(labs) - 1):
            n1 = sum(base[bb][0] for bb in merged[labs[j]])
            k1 = sum(base[bb][1] for bb in merged[labs[j]])
            n2 = sum(base[bb][0] for bb in merged[labs[j + 1]])
            k2 = sum(base[bb][1] for bb in merged[labs[j + 1]])
            a, b, c, d = k1, n1 - k1, k2, n2 - k2
            if a + c == 0 or b + d == 0:
                q = 0
            else:
                adbc = a * d - b * c
                q = math.floor(
                    (a + b + c + d) * 1.0 * adbc * adbc
                    / ((a + c) * 1.0 * (b + d) * (a + b) * (c + d))
                    * sc
                    + 0.5
                )
            cand.append((q, labs[j], labs[j + 1]))
        _, b1, b2 = min(cand)
        for bb, lab in mb.items():
            if lab == b2:
                mb[bb] = b1
    final: dict[int, list[int]] = {}
    for bb, lab in mb.items():
        final.setdefault(lab, []).append(bb)
    rows = []
    for lab in sorted(final):
        bins = final[lab]
        rows.append(
            (
                len(bins),
                min(bins),
                max(bins),
                sum(base[bb][0] for bb in bins),
                sum(base[bb][1] for bb in bins),
            )
        )
    out = spark.createDataFrame(
        [
            (i + 1, len(rows), nbb, fb, lb, n, k)
            for i, (nbb, fb, lb, n, k) in enumerate(rows)
        ],
        "bin_rank int, n_final_bins int, n_base_bins long, first_base_bin "
        "long, last_base_bin long, n_orders long, n_high_priority long",
    )
    return out.select(
        "bin_rank",
        "n_final_bins",
        "n_base_bins",
        "first_base_bin",
        "last_base_bin",
        "n_orders",
        "n_high_priority",
        (
            F.floor(
                F.col("n_high_priority") * 100.0 / F.col("n_orders") * 10000
                + 0.5
            )
            / 10000
        ).alias("high_rate_pct"),
    ).orderBy("bin_rank")


# ── q419: DoReMi-style domain mixture plan ───────────────────────────────────

_Q419_TAU = 0.01  # reweighting temperature over per-token excess nats
_Q419_ALPHA = 0.5  # smoothing toward the natural token distribution
_Q419_SCALE = 1_000_000


def _q419_sql() -> str:
    sc = _Q419_SCALE
    return rf"""
    WITH toks AS (
      SELECT source, w FROM (
        SELECT source,
               unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
      ) WHERE length(w) > 0
    ),
    vocab AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS c FROM toks GROUP BY w
    ),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS t FROM vocab),
    nll AS MATERIALIZED (
      SELECT w, c,
             CAST(FLOOR(-LN(c * 1.0 / t.t) * {sc} + 0.5) AS BIGINT) AS nll_q
      FROM vocab CROSS JOIN tot t
    ),
    src AS (
      SELECT s.source,
             CAST(COUNT(*) AS BIGINT) AS t_s,
             CAST(SUM(n.nll_q) AS BIGINT) AS nll_sum
      FROM toks s JOIN nll n USING (w)
      GROUP BY s.source
    ),
    base AS (
      SELECT CAST(FLOOR(SUM(c * 1.0 * nll_q) / SUM(c) + 0.5) AS BIGINT)
               AS ce_all_q
      FROM nll
    ),
    ce AS MATERIALIZED (
      SELECT source, t_s,
             CAST(FLOOR(nll_sum * 1.0 / t_s + 0.5) AS BIGINT) AS ce_q,
             CAST(FLOOR(nll_sum * 1.0 / t_s + 0.5) AS BIGINT) - b.ce_all_q
               AS excess_q
      FROM src CROSS JOIN base b
    ),
    soft AS MATERIALIZED (
      SELECT source, t_s, ce_q, excess_q,
             CAST(FLOOR(EXP(excess_q / {sc}.0 / {_Q419_TAU}) * {sc} + 0.5)
                  AS BIGINT) AS e_q
      FROM ce
    ),
    z AS (
      SELECT CAST(SUM(e_q) AS BIGINT) AS z_e, CAST(SUM(t_s) AS BIGINT) AS z_t
      FROM soft
    )
    SELECT s.source,
           s.t_s AS n_tokens,
           FLOOR(s.t_s * 100.0 / z.z_t * 10000 + 0.5) / 10000
             AS natural_share_pct,
           FLOOR(s.ce_q / 1000.0 + 0.5) AS ce_milli_nats,
           FLOOR(s.excess_q / 1000.0 + 0.5) AS excess_milli_nats,
           FLOOR(s.e_q * 100.0 / z.z_e * 10000 + 0.5) / 10000
             AS doremi_share_pct,
           FLOOR(({_Q419_ALPHA} * s.e_q * 1.0 / z.z_e
                  + (1 - {_Q419_ALPHA}) * s.t_s * 1.0 / z.z_t)
                 * 100 * 10000 + 0.5) / 10000 AS mixture_share_pct
    FROM soft s CROSS JOIN z
    ORDER BY mixture_share_pct DESC, source
    """


@register(
    "q419_domain_mixture_plan",
    _q419_sql(),
    doc="Training-mixture reweighting in the DoReMi spirit (Xie et "
    "al., NeurIPS'23): per-source unigram cross-entropy against the "
    "corpus-wide LM is the excess-loss signal; sources whose text the "
    "reference model fits WORST get upweighted via an exponential "
    "tilt exp(excess/tau), then smoothed halfway back toward the "
    "natural token distribution (the standard guard against starving "
    "any domain). Per-token NLL terms are micro-quantized on the "
    "UNIQUE-vocabulary relation, per-source sums are exact integers, "
    "and the 20-row softmax is micro-quantized — hash-exact end to "
    "end. Output: one row per source with natural share, "
    "cross-entropy, excess, the DoReMi tilt, and the final mixture "
    "share a training-data sampler consumes.",
)
def q419_domain_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the vocab aggregate shuffles UNIQUE words (zipf-bounded);
    the NLL table broadcasts back onto the token stream for one
    map-side-combinable per-source integer sum; everything after is a
    20-row relation. One corpus pass, one vocab pass — the same
    two-shuffle shape as q405, but emitting an actionable sampling
    plan instead of a diagnostic matrix."""
    sc = _Q419_SCALE
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    toks = docs.select(
        "source",
        F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w"),
    ).filter(F.length("w") > 0)
    vocab = toks.groupBy("w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = vocab.agg(F.sum("c").cast("long").alias("t"))
    nll = vocab.crossJoin(F.broadcast(tot)).select(
        "w",
        "c",
        F.floor(-F.log(F.col("c") * 1.0 / F.col("t")) * sc + 0.5)
        .cast("long")
        .alias("nll_q"),
    )
    src = (
        toks.join(F.broadcast(nll.select("w", "nll_q")), "w")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("t_s"),
            F.sum("nll_q").cast("long").alias("nll_sum"),
        )
    )
    base = nll.agg(
        F.floor(
            F.sum(F.col("c") * 1.0 * F.col("nll_q")) / F.sum("c") + 0.5
        )
        .cast("long")
        .alias("ce_all_q")
    )
    ce_q = F.floor(F.col("nll_sum") * 1.0 / F.col("t_s") + 0.5).cast("long")
    ce = src.crossJoin(F.broadcast(base)).select(
        "source",
        "t_s",
        ce_q.alias("ce_q"),
        (ce_q - F.col("ce_all_q")).alias("excess_q"),
    )
    soft = ce.select(
        "source",
        "t_s",
        "ce_q",
        "excess_q",
        F.floor(F.exp(F.col("excess_q") / float(sc) / _Q419_TAU) * sc + 0.5)
        .cast("long")
        .alias("e_q"),
    )
    z = soft.agg(
        F.sum("e_q").cast("long").alias("z_e"),
        F.sum("t_s").cast("long").alias("z_t"),
    )
    joined = soft.crossJoin(F.broadcast(z))
    return joined.select(
        "source",
        F.col("t_s").alias("n_tokens"),
        (
            F.floor(F.col("t_s") * 100.0 / F.col("z_t") * 10000 + 0.5) / 10000
        ).alias("natural_share_pct"),
        F.floor(F.col("ce_q") / 1000.0 + 0.5).cast("double").alias(
            "ce_milli_nats"
        ),  # true milli-nats — one /1000 from micro-nats (q429 convention)
        F.floor(F.col("excess_q") / 1000.0 + 0.5).cast("double").alias(
            "excess_milli_nats"
        ),
        (
            F.floor(F.col("e_q") * 100.0 / F.col("z_e") * 10000 + 0.5) / 10000
        ).alias("doremi_share_pct"),
        (
            F.floor(
                (
                    _Q419_ALPHA * F.col("e_q") * 1.0 / F.col("z_e")
                    + (1 - _Q419_ALPHA) * F.col("t_s") * 1.0 / F.col("z_t")
                )
                * 100
                * 10000
                + 0.5
            )
            / 10000
        ).alias("mixture_share_pct"),
    ).orderBy(F.desc("mixture_share_pct"), F.asc("source"))


# ── q420: BPE tokenizer merge training (exact-replay, pure integers) ─────────

_Q420_MERGES = 6


def _q420_sql() -> str:
    head = r"""
    WITH words AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
        SELECT unnest(string_split_regex(trim(lower(text)), '\s+')) AS w
        FROM documents
      ) WHERE length(w) >= 2 GROUP BY w
    ),
    w0 AS MATERIALIZED (
      SELECT w AS word, cnt,
             CAST(unnest(range(1, length(w) + 1)) AS BIGINT) AS pos,
             unnest(list_transform(range(1, length(w) + 1),
                                   i -> substr(w, i, 1))) AS sym
      FROM words
    )"""
    steps = []
    for k in range(1, _Q420_MERGES + 1):
        steps.append(f"""
    pr{k} AS MATERIALIZED (
      SELECT word, cnt, pos, sym,
             LEAD(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
      FROM w{k - 1}
    ),
    best{k} AS MATERIALIZED (
      SELECT sym AS s1, nxt AS s2, CAST(SUM(cnt) AS BIGINT) AS c
      FROM pr{k} WHERE nxt IS NOT NULL
      GROUP BY sym, nxt
      ORDER BY c DESC, s1, s2 LIMIT 1
    ),
    mt{k} AS (
      SELECT p.word, p.cnt, p.pos, p.sym, b.s2,
             (p.sym = b.s1 AND p.nxt IS NOT NULL AND p.nxt = b.s2) AS m
      FROM pr{k} p CROSS JOIN best{k} b
    ),
    km{k} AS (
      SELECT *, CASE WHEN m THEN pos - ROW_NUMBER() OVER
               (PARTITION BY word, m ORDER BY pos) END AS isl
      FROM mt{k}
    ),
    kp{k} AS (
      SELECT *, m AND (ROW_NUMBER() OVER (PARTITION BY word, isl ORDER BY pos)
                       % 2 = 1) AS keep
      FROM km{k}
    ),
    dp{k} AS (
      SELECT *, COALESCE(LAG(keep) OVER (PARTITION BY word ORDER BY pos),
                         FALSE) AS prev_keep
      FROM kp{k}
    ),
    w{k} AS MATERIALIZED (
      SELECT word, cnt,
             CAST(ROW_NUMBER() OVER (PARTITION BY word ORDER BY pos)
                  AS BIGINT) AS pos,
             CASE WHEN keep THEN sym || s2 ELSE sym END AS sym
      FROM dp{k} WHERE keep OR NOT prev_keep
    )""")
    union = "\n    UNION ALL\n".join(
        f"    SELECT {k} AS merge_round, s1 AS left_sym, s2 AS right_sym, "
        f"s1 || s2 AS merged_sym, c AS pair_occurrences FROM best{k}"
        for k in range(1, _Q420_MERGES + 1)
    )
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT CAST(merge_round AS INTEGER) AS merge_round, left_sym, right_sym,
           merged_sym, pair_occurrences
    FROM (
{union}
    ) ORDER BY merge_round
    """
    )


@register(
    "q420_bpe_merge_train",
    _q420_sql(),
    doc="BPE tokenizer TRAINING in-engine (Sennrich et al., ACL'16) — "
    "the full merge loop, not just q205's first-step statistics: six "
    "greedy merge rounds over the corpus-frequency-weighted word "
    "table, each round counting adjacent symbol pairs (overlaps "
    "counted naively, the reference implementation's statistic), "
    "picking the most frequent pair (count desc, then lexicographic "
    "tie-break), and applying the merge LEFT-TO-RIGHT non-overlapping "
    "— runs of a self-pair (aaa -> aa+a) resolve by keeping odd "
    "positions within each consecutive-match island, exactly the "
    "greedy scan semantics. Pure integer counts: hash-exact with no "
    "quantization at all. Returns the learned merge table — the "
    "artifact a tokenizer ships.",
)
def q420_bpe_merge_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: every relation is VOCABULARY-bounded (unique words x mean
    word length), never corpus-bounded — the corpus-width work is the
    one word-count aggregate, exactly q205's shape. Each round is two
    word-partitioned window passes plus one map-side-combinable pair
    aggregate; the argmax is a 1-row bounded collect broadcast into
    the merge application; localCheckpoint between rounds keeps the
    iterated-window lineage flat (the q191 idiom). Rounds extend to a
    production vocab (30k merges) without changing any per-round
    shape."""
    merges, _ = _bpe_train(spark, sf_dir, collect_totals=False)
    if not merges:
        return spark.createDataFrame(
            [],
            "merge_round int, left_sym string, right_sym string, "
            "merged_sym string, pair_occurrences long",
        )
    return spark.createDataFrame(
        merges,
        "merge_round int, left_sym string, right_sym string, "
        "merged_sym string, pair_occurrences long",
    ).orderBy("merge_round")


def _bpe_train(
    spark: SparkSession, sf_dir: str, collect_totals: bool
) -> tuple[list[tuple], list[tuple[int, int]]]:
    """Shared BPE merge loop for q420 (merge table) and q421
    (per-round compression curve). Returns (merges, totals) where
    totals is [(round, total_symbol_instances)] including round 0 —
    populated only when ``collect_totals``."""
    docs = load_table(spark, sf_dir, "documents").select("text")
    words = (
        docs.select(
            F.explode(F.split(F.trim(F.lower("text")), r"\s+")).alias("w")
        )
        .filter(F.length("w") >= 2)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    w_cur = words.select(
        F.col("w").alias("word"),
        "cnt",
        F.posexplode(
            F.expr("transform(sequence(1, length(w)), i -> substring(w, i, 1))")
        ).alias("pos0", "sym"),
    ).select(
        "word", "cnt", (F.col("pos0") + 1).cast("long").alias("pos"), "sym"
    ).localCheckpoint(eager=True)
    ww = Window.partitionBy("word").orderBy("pos")
    merges: list[tuple] = []
    totals: list[tuple[int, int]] = []

    def _total(df: DataFrame) -> int:
        row = df.agg(F.sum("cnt").cast("long").alias("t")).first()
        return int(row["t"]) if row and row["t"] is not None else 0

    if collect_totals:
        totals.append((0, _total(w_cur)))
    for k in range(1, _Q420_MERGES + 1):
        pr = w_cur.withColumn("nxt", F.lead("sym").over(ww))
        top = (
            pr.filter(F.col("nxt").isNotNull())
            .groupBy("sym", "nxt")
            .agg(F.sum("cnt").cast("long").alias("c"))
            .orderBy(F.desc("c"), F.asc("sym"), F.asc("nxt"))
            .first()  # bounded: ONE row (the argmax pair) per round
        )
        if top is None:
            break
        s1, s2, c = top["sym"], top["nxt"], top["c"]
        merges.append((k, s1, s2, s1 + s2, c))
        mt = pr.select(
            "word",
            "cnt",
            "pos",
            "sym",
            (
                (F.col("sym") == s1)
                & F.col("nxt").isNotNull()
                & (F.col("nxt") == s2)
            ).alias("m"),
        )
        km = mt.withColumn(
            "isl",
            F.when(
                F.col("m"),
                F.col("pos")
                - F.row_number().over(
                    Window.partitionBy("word", "m").orderBy("pos")
                ),
            ),
        )
        kp = km.withColumn(
            "keep",
            F.col("m")
            & (
                F.row_number().over(
                    Window.partitionBy("word", "isl").orderBy("pos")
                )
                % 2
                == 1
            ),
        )
        dp = kp.withColumn(
            "prev_keep", F.coalesce(F.lag("keep").over(ww), F.lit(False))
        )
        w_cur = (
            dp.filter(F.col("keep") | ~F.col("prev_keep"))
            .select(
                "word",
                "cnt",
                F.row_number().over(ww).cast("long").alias("pos"),
                F.when(F.col("keep"), F.concat("sym", F.lit(s2)))
                .otherwise(F.col("sym"))
                .alias("sym"),
            )
            .localCheckpoint(eager=True)
        )
        if collect_totals:
            totals.append((k, _total(w_cur)))
    return merges, totals


# ── q421: BPE compression curve (the trained merges, evaluated) ──────────────


def _q421_sql() -> str:
    # reuse q420's round chain, then aggregate each w{k}
    chain = _q420_sql().rsplit("SELECT CAST(merge_round AS INTEGER)", 1)[0]
    # chain ends with the last w{K} CTE followed by the final select we
    # stripped; rebuild the tail as per-round totals
    totals = "\n    UNION ALL\n".join(
        f"    SELECT {k} AS merge_round, CAST(SUM(cnt) AS BIGINT) AS t FROM w{k}"
        for k in range(0, _Q420_MERGES + 1)
    )
    return (
        chain
        + f""", t AS (
{totals}
    ),
    base AS (SELECT t AS t0 FROM t WHERE merge_round = 0)
    SELECT CAST(t.merge_round AS INTEGER) AS merge_round,
           t.t AS total_symbol_instances,
           FLOOR((1 - t.t * 1.0 / b.t0) * 100 * 10000 + 0.5) / 10000
             AS compression_pct
    FROM t CROSS JOIN base b
    WHERE b.t0 IS NOT NULL
    ORDER BY merge_round
    """
    # WHERE guard: on an empty/degenerate lake (no words >= 2 chars) the
    # Spark fn returns 0 rows; without it SUM over the empty w{{k}} CTEs
    # would emit 7 rows of NULL totals (ADVICE r7)
    )


@register(
    "q421_bpe_compression_curve",
    _q421_sql(),
    doc="The q420 merge table, EVALUATED: total corpus symbol "
    "instances after each of the six merge rounds (round 0 = raw "
    "characters), with the cumulative compression percentage — the "
    "curve a tokenizer team reads to pick the merge budget (the knob-"
    "pricing discipline of q236/q238/q315 applied to q420's "
    "vocabulary size). Pure integer counts; one pinned division per "
    "round.",
)
def q421_bpe_compression_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical per-round shape to q420 (vocabulary-bounded
    relations), plus one map-side-combinable SUM per round over the
    checkpointed symbol relation. The curve costs one small aggregate
    job per round on top of the training it evaluates."""
    _, totals = _bpe_train(spark, sf_dir, collect_totals=True)
    if not totals or totals[0][1] == 0:  # empty lake: schema-stable empty
        return spark.createDataFrame(
            [],
            "merge_round int, total_symbol_instances long, "
            "compression_pct double",
        )
    t0 = totals[0][1]
    out = spark.createDataFrame(
        totals, "merge_round int, total_symbol_instances long"
    )
    return out.select(
        "merge_round",
        "total_symbol_instances",
        (
            F.floor(
                (1 - F.col("total_symbol_instances") * 1.0 / t0) * 100 * 10000
                + 0.5
            )
            / 10000
        ).alias("compression_pct"),
    ).orderBy("merge_round")


# ── q422: embedding effective rank (Gram participation ratio) ────────────────

_Q422_DIM = 64
_Q422_SCALE = 1_000_000


def _q422_sql() -> str:
    d = _Q422_DIM
    sc = _Q422_SCALE
    return f"""
    WITH cells AS MATERIALIZED (
      SELECT t1.i, t2.j,
             CAST(SUM(CAST(FLOOR(CAST(embedding[t1.i] AS DOUBLE)
                                 * CAST(embedding[t2.j] AS DOUBLE)
                                 * {sc} + 0.5) AS BIGINT)) AS BIGINT) AS s
      FROM embeddings,
           unnest(range(1, {d + 1})) t1(i),
           unnest(range(1, {d + 1})) t2(j)
      GROUP BY t1.i, t2.j
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM embeddings),
    tr AS (SELECT CAST(SUM(s) AS BIGINT) AS tr_q FROM cells WHERE i = j),
    fr AS (
      SELECT CAST(SUM(CAST(FLOOR((s / {sc}.0) * (s / {sc}.0) * {sc} + 0.5)
                           AS BIGINT)) AS BIGINT) AS f_q
      FROM cells
    )
    SELECT n.nv AS n_vectors,
           {d} AS dim,
           FLOOR(tr.tr_q * 1.0 / n.nv / {sc}.0 * 10000 + 0.5) / 10000
             AS mean_sq_norm,
           FLOOR((tr.tr_q / {sc}.0) * (tr.tr_q / {sc}.0)
                 / (fr.f_q / {sc}.0) * 10000 + 0.5) / 10000
             AS participation_ratio,
           FLOOR((tr.tr_q / {sc}.0) * (tr.tr_q / {sc}.0)
                 / (fr.f_q / {sc}.0) / {d} * 100 * 10000 + 0.5) / 10000
             AS effective_dim_pct
    FROM n CROSS JOIN tr CROSS JOIN fr
    """


@register(
    "q422_embedding_effective_rank",
    _q422_sql(),
    doc="Embedding-space effective dimensionality WITHOUT an "
    "eigendecomposition: the participation ratio tr(S)^2 / tr(S^2) of "
    "the uncentered Gram/second-moment matrix (Gao et al.'s isotropy "
    "diagnostic applied to the retrieval-relevant RAW cosine "
    "geometry). tr(S^2) = ||S||_F^2 needs only the 64x64 moment "
    "matrix — per-vector dim-pair products are micro-quantized and "
    "integer-summed, the squares fold over the BOUNDED 4096-cell "
    "relation. Near-isotropic spaces score close to the full 64 "
    "(healthy for ANN); a collapsed space scores near 1 and tells "
    "you to whiten before indexing — the measured basis for q329's "
    "JL truncation and q308's matryoshka prefix choices.",
)
def q422_embedding_effective_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one Arrow pass over embeddings folds each batch's 64x64
    micro-quantized outer products into ONE partial Gram matrix per
    batch (numpy outer product + int64 sum — guide §4.2), so the
    shuffle carries <= partitions x 4096 integer cells no matter the
    corpus; everything after is bounded algebra. Replaced (this round)
    a flatten/transform/explode expansion that pushed corpus x 4096
    struct rows through the partial aggregate — per-cell integer sums
    are order-independent, so the partial-Gram regrouping is
    bit-identical (same per-element FLOOR((ei*ej)*sc + 0.5) doubles)."""
    import numpy as np
    import pyarrow as pa

    d = _Q422_DIM
    sc = _Q422_SCALE
    emb = load_table(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        acc = np.zeros((d, d), dtype=np.int64)
        seen = False
        for b in batches:
            col = b.column(0)
            n_rows = len(col)
            if n_rows == 0:
                continue
            # Dirty-data guard (ADVICE r10): list_flatten silently drops
            # NULL lists, so a blind reshape(n_rows, d) would raise (or
            # silently misalign rows). Rows that are NULL or not exactly
            # d elements take the cell-wise fallback below, which
            # reproduces the replaced explode form's semantics exactly
            # (absent cells contribute nothing to the integer sums).
            lens = pa.compute.list_value_length(col).to_numpy(zero_copy_only=False)
            clean = (
                col.null_count == 0
                and not pa.compute.any(
                    pa.compute.not_equal(
                        pa.compute.list_value_length(col), d
                    )
                ).as_py()
            )
            if not clean:
                for row in col:
                    vals = row.as_py() if row.is_valid else None
                    if not vals:
                        continue
                    # position-preserving: cell (i, j) contributes only
                    # when BOTH dims are present, exactly like the
                    # oracle's embedding[i] * embedding[j] NULL algebra
                    xr = np.full(d, np.nan)
                    for idx in range(min(len(vals), d)):
                        if vals[idx] is not None:
                            xr[idx] = vals[idx]
                    mask = ~np.isnan(xr)
                    if not mask.any():
                        continue
                    prod = xr[:, None] * xr[None, :]
                    cell = np.floor(prod * sc + 0.5)
                    ok = mask[:, None] & mask[None, :]
                    acc[ok] += cell[ok].astype(np.int64)
                    seen = True
                continue
            flat = pa.compute.list_flatten(col).to_numpy(zero_copy_only=False)
            x = flat.astype(np.float64).reshape(n_rows, d)
            # same IEEE sequence as the SQL cell: (ei*ej) * sc + 0.5,
            # floored, cast BIGINT — then order-independent int sums.
            # Chunked accumulation (ADVICE r10): the (rows, d, d) outer-
            # product temporary is rows x 4096 float64 (~335 MB x3 at the
            # default 10k-row Arrow batch); 1k-row slices bound executor
            # memory with identical per-element arithmetic.
            for s in range(0, n_rows, 1024):
                xs = x[s : s + 1024]
                prod = xs[:, :, None] * xs[:, None, :]
                acc += np.floor(prod * sc + 0.5).astype(np.int64).sum(axis=0)
            seen = True
        if seen:
            ii, jj = np.indices((d, d))
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array((ii + 1).ravel(), pa.int32()),
                    pa.array((jj + 1).ravel(), pa.int32()),
                    pa.array(acc.ravel(), pa.int64()),
                ],
                names=["i", "j", "p"],
            )

    cells = (
        emb.mapInArrow(gram, "i int, j int, p long")
        .groupBy("i", "j")
        .agg(F.sum("p").cast("long").alias("s"))
    )
    n = emb.agg(F.count(F.lit(1)).cast("long").alias("nv"))
    tr = cells.filter(F.col("i") == F.col("j")).agg(
        F.sum("s").cast("long").alias("tr_q")
    )
    fr = cells.agg(
        F.sum(
            F.floor((F.col("s") / sc) * (F.col("s") / sc) * sc + 0.5).cast(
                "long"
            )
        )
        .cast("long")
        .alias("f_q")
    )
    j = n.crossJoin(F.broadcast(tr)).crossJoin(F.broadcast(fr))
    trd = F.col("tr_q") / float(sc)
    pr = trd * trd / (F.col("f_q") / float(sc))
    return j.select(
        F.col("nv").alias("n_vectors"),
        F.lit(d).cast("int").alias("dim"),
        (F.floor(F.col("tr_q") * 1.0 / F.col("nv") / float(sc) * 10000 + 0.5) / 10000).alias(
            "mean_sq_norm"
        ),
        (F.floor(pr * 10000 + 0.5) / 10000).alias("participation_ratio"),
        (F.floor(pr / d * 100 * 10000 + 0.5) / 10000).alias("effective_dim_pct"),
    )


# ── q423: edit-distance verification of the MinHash pair detector ────────────

_Q423_BUCKETS = 10


def _q423_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    pairs = _REGISTRY["q24_minhash_lsh_dedup"].sql
    nb = _Q423_BUCKETS
    return f"""
    WITH pairs AS ({pairs}),
    ed AS (
      SELECT p.doc_a, p.doc_b,
             CAST(levenshtein(da.text, db.text) AS BIGINT) AS lev,
             CAST(GREATEST(length(da.text), length(db.text), 1) AS BIGINT)
               AS mx
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_a
      JOIN documents db ON db.doc_id = p.doc_b
    ),
    bucketed AS (
      SELECT LEAST(CAST(FLOOR(lev * {nb}.0 / mx) AS BIGINT), {nb - 1}) AS bucket
      FROM ed
    ),
    hist AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM bucketed GROUP BY bucket
    ),
    tot AS (SELECT CAST(SUM(n_pairs) AS BIGINT) AS t FROM hist)
    SELECT h.bucket,
           FLOOR(h.bucket * 100.0 / {nb} * 100 + 0.5) / 100 AS edit_pct_lo,
           h.n_pairs,
           FLOOR(h.n_pairs * 100.0 / t.t * 10000 + 0.5) / 10000 AS share_pct,
           FLOOR(SUM(h.n_pairs) OVER (ORDER BY h.bucket) * 100.0 / t.t
                 * 10000 + 0.5) / 10000 AS cum_share_pct
    FROM hist h CROSS JOIN tot t
    ORDER BY h.bucket
    """


@register(
    "q423_pair_edit_distance_audit",
    _q423_sql(),
    doc="Character-level verification of the MinHash near-dup detector: "
    "normalized Levenshtein distance (exact integer DP, available "
    "native on both engines) for every q24-verified pair, bucketed "
    "into 10% bands with cumulative shares. Token-shingle Jaccard "
    "(what q24 verifies) and character edit distance disagree exactly "
    "on reordered/boilerplate text, so the mass sitting in low-edit "
    "bands is the detector's character-level precision — the third "
    "independent lens on the pair relation after q277 (SimHash "
    "agreement) and q412 (graph transitivity).",
)
def q423_pair_edit_distance_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair relation is q24's bucketed output (never "
    "all-pairs); texts attach via two doc_id equi-joins (AQE broadcasts
    the small pair side); levenshtein is per-pair JVM work bounded by
    detector recall, and the histogram is 10 rows. The O(len^2) DP per
    pair is the audit's price — run it on the PAIRS, never the corpus."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    pairs = _REGISTRY["q24_minhash_lsh_dedup"].fn(spark, sf_dir).select("doc_a", "doc_b")
    da = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("ta"))
    db = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("tb"))
    nb = _Q423_BUCKETS
    ed = (
        pairs.join(da, "doc_a")
        .join(db, "doc_b")
        .select(
            F.levenshtein("ta", "tb").cast("long").alias("lev"),
            F.greatest(F.length("ta"), F.length("tb"), F.lit(1))
            .cast("long")
            .alias("mx"),
        )
    )
    hist = (
        ed.select(
            F.least(
                F.floor(F.col("lev") * float(nb) / F.col("mx")).cast("long"),
                F.lit(nb - 1).cast("long"),
            ).alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )
    tot = hist.agg(F.sum("n_pairs").cast("long").alias("t"))
    w = Window.orderBy("bucket")
    return (
        hist.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            (F.floor(F.col("bucket") * 100.0 / nb * 100 + 0.5) / 100).alias(
                "edit_pct_lo"
            ),
            "n_pairs",
            (F.floor(F.col("n_pairs") * 100.0 / F.col("t") * 10000 + 0.5) / 10000).alias(
                "share_pct"
            ),
            (
                F.floor(
                    F.sum("n_pairs").over(w) * 100.0 / F.col("t") * 10000 + 0.5
                )
                / 10000
            ).alias("cum_share_pct"),
        )
        .orderBy("bucket")
    )


# ── q424: mixture-plan realization (deterministic sampler + audit) ───────────

_Q424_HASH_SPACE = 1 << 60


def _q424_sql() -> str:
    mix = _q419_sql()
    return f"""
    WITH plan AS MATERIALIZED (
      SELECT source, n_tokens, mixture_share_pct FROM ({mix})
    ),
    rate0 AS (
      SELECT source, n_tokens,
             mixture_share_pct / 100.0
               / (n_tokens * 1.0 / (SELECT SUM(n_tokens) FROM plan)) AS tilt
      FROM plan
    ),
    rate AS MATERIALIZED (
      SELECT source, n_tokens,
             CAST(FLOOR(tilt / (SELECT MAX(tilt) FROM rate0)
                        * {_Q424_HASH_SPACE}) AS BIGINT) AS thr
      FROM rate0
    ),
    doc_tok AS (
      SELECT d.doc_id, d.source,
             CAST(len(string_split_regex(trim(lower(d.text)), '\\s+'))
                  AS BIGINT) AS toks,
             CAST(('0x' || substr(md5('mix|' || CAST(d.doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS h
      FROM documents d WHERE length(trim(d.text)) > 0
    ),
    kept AS (
      SELECT t.source,
             CAST(COUNT(*) AS BIGINT) AS docs_total,
             CAST(SUM(CASE WHEN t.h < r.thr THEN 1 ELSE 0 END) AS BIGINT)
               AS docs_kept,
             CAST(SUM(t.toks) AS BIGINT) AS tokens_total,
             CAST(SUM(CASE WHEN t.h < r.thr THEN t.toks ELSE 0 END)
                  AS BIGINT) AS tokens_kept
      FROM doc_tok t JOIN rate r USING (source)
      GROUP BY t.source
    ),
    z AS (SELECT CAST(SUM(tokens_kept) AS BIGINT) AS zk FROM kept)
    SELECT k.source,
           p.mixture_share_pct AS planned_share_pct,
           FLOOR(r.thr * 100.0 / {_Q424_HASH_SPACE} * 10000 + 0.5) / 10000
             AS keep_rate_pct,
           k.docs_kept, k.docs_total, k.tokens_kept,
           FLOOR(k.tokens_kept * 100.0 / GREATEST(z.zk, 1) * 10000 + 0.5)
             / 10000 AS realized_share_pct,
           FLOOR(ABS(k.tokens_kept * 100.0 / GREATEST(z.zk, 1)
                     - p.mixture_share_pct) * 10000 + 0.5) / 10000
             AS abs_err_pct
    FROM kept k
    JOIN plan p ON p.source = k.source
    JOIN rate r ON r.source = k.source
    CROSS JOIN z
    ORDER BY k.source
    """


@register(
    "q424_mixture_realization_audit",
    _q424_sql(),
    doc="The q419 mixture plan, REALIZED: per-source keep rates are the "
    "planned-over-natural tilt normalized so the most upweighted "
    "source keeps everything (downsample-only — no document is "
    "duplicated), membership is the deterministic md5 threshold (the "
    "q66 sampler), and the audit compares the realized token share of "
    "the kept corpus against the plan. abs_err is sampling noise — "
    "it shrinks as 1/sqrt(docs) and the audit is the evidence the "
    "sampler ships with.",
)
def q424_mixture_realization_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the plan is q419's 20-row relation; keep thresholds
    broadcast into one corpus pass (hash + token count per doc, map-
    side); the audit is a per-source aggregate. Downsample-only
    realization means the sampler never inflates the corpus."""
    plan = q419_domain_mixture_plan(spark, sf_dir).select(
        "source", "n_tokens", "mixture_share_pct"
    )
    ztok = plan.agg(F.sum("n_tokens").alias("zt"))
    rate0 = plan.crossJoin(F.broadcast(ztok)).select(
        "source",
        "n_tokens",
        "mixture_share_pct",
        (
            F.col("mixture_share_pct")
            / 100.0
            / (F.col("n_tokens") * 1.0 / F.col("zt"))
        ).alias("tilt"),
    )
    mx = rate0.agg(F.max("tilt").alias("mt"))
    rate = rate0.crossJoin(F.broadcast(mx)).select(
        "source",
        "mixture_share_pct",
        F.floor(F.col("tilt") / F.col("mt") * _Q424_HASH_SPACE)
        .cast("long")
        .alias("thr"),
    )
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    doc_tok = docs.filter(F.length(F.trim("text")) > 0).select(
        "source",
        F.size(F.split(F.trim(F.lower("text")), r"\s+")).cast("long").alias("toks"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("mix|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    kept = (
        doc_tok.join(F.broadcast(rate), "source")
        .groupBy("source", "mixture_share_pct", "thr")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum(F.when(F.col("h") < F.col("thr"), 1).otherwise(0))
            .cast("long")
            .alias("docs_kept"),
            F.sum("toks").cast("long").alias("tokens_total"),
            F.sum(F.when(F.col("h") < F.col("thr"), F.col("toks")).otherwise(0))
            .cast("long")
            .alias("tokens_kept"),
        )
    )
    z = kept.agg(F.sum("tokens_kept").cast("long").alias("zk"))
    j = kept.crossJoin(F.broadcast(z))
    realized = F.col("tokens_kept") * 100.0 / F.greatest(F.col("zk"), F.lit(1))
    return j.select(
        "source",
        F.col("mixture_share_pct").alias("planned_share_pct"),
        (
            F.floor(F.col("thr") * 100.0 / _Q424_HASH_SPACE * 10000 + 0.5)
            / 10000
        ).alias("keep_rate_pct"),
        "docs_kept",
        "docs_total",
        "tokens_kept",
        (F.floor(realized * 10000 + 0.5) / 10000).alias("realized_share_pct"),
        (
            F.floor(
                F.abs(realized - F.col("mixture_share_pct")) * 10000 + 0.5
            )
            / 10000
        ).alias("abs_err_pct"),
    ).orderBy("source")


# ── q425: dedup-adjusted token budget per source ─────────────────────────────


def _q425_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    clusters = _REGISTRY["q68_dup_clusters"].sql
    return f"""
    WITH cl AS ({clusters}),
    keepers AS (
      SELECT doc_id, cluster_id,
             CASE WHEN doc_id = cluster_id THEN 1 ELSE 0 END AS keep
      FROM cl
    ),
    doc_tok AS (
      SELECT d.doc_id, d.source,
             CAST(len(string_split_regex(trim(lower(d.text)), '\\s+'))
                  AS BIGINT) AS toks,
             COALESCE(k.keep, 1) AS keep
      FROM documents d LEFT JOIN keepers k ON k.doc_id = d.doc_id
      WHERE length(trim(d.text)) > 0
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS docs_total,
           CAST(SUM(1 - keep) AS BIGINT) AS docs_dropped,
           CAST(SUM(toks) AS BIGINT) AS tokens_total,
           CAST(SUM(keep * toks) AS BIGINT) AS tokens_after_dedup,
           FLOOR(SUM((1 - keep) * toks) * 100.0 / GREATEST(SUM(toks), 1)
                 * 10000 + 0.5) / 10000 AS savings_pct
    FROM doc_tok
    GROUP BY source
    ORDER BY source
    """


@register(
    "q425_dedup_token_budget",
    _q425_sql(),
    doc="Token budgeting NET OF DEDUPLICATION: the q68 cluster relation "
    "keeps the min-id representative per near-dup clique, and this "
    "rollup reports, per source, the raw token count, the post-dedup "
    "count, and the savings share — the number a 100 TB budget "
    "actually trains on (raw token counts, q260's input, overstate "
    "sources whose content is internally duplicated). Pure integer "
    "token sums over the pair-bounded cluster relation.",
)
def q425_dedup_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: clusters come from q68's bucketed LSH + CC (never
    all-pairs, relation bounded by actual dup pairs); token counting
    is one map-side pass; the rollup is a per-source aggregate. In a
    deployment the cluster relation reads from the materialized audit
    index and this drops to a re-aggregation (the q214 pattern)."""
    from ..operators.dedup import dup_clusters
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    pairs = _REGISTRY["q24_minhash_lsh_dedup"].fn(spark, sf_dir)
    comp = dup_clusters(pairs).select(
        "doc_id",
        F.when(F.col("doc_id") == F.col("cluster_id"), 1).otherwise(0).alias("keep"),
    )
    doc_tok = (
        docs.filter(F.length(F.trim("text")) > 0)
        .select(
            "doc_id",
            "source",
            F.size(F.split(F.trim(F.lower("text")), r"\s+"))
            .cast("long")
            .alias("toks"),
        )
        .join(comp, "doc_id", "left")
        .select(
            "source", "toks", F.coalesce("keep", F.lit(1)).alias("keep")
        )
    )
    return (
        doc_tok.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum(1 - F.col("keep")).cast("long").alias("docs_dropped"),
            F.sum("toks").cast("long").alias("tokens_total"),
            F.sum(F.col("keep") * F.col("toks"))
            .cast("long")
            .alias("tokens_after_dedup"),
            (
                F.floor(
                    F.sum((1 - F.col("keep")) * F.col("toks"))
                    * 100.0
                    / F.greatest(F.sum("toks"), F.lit(1))
                    * 10000
                    + 0.5
                )
                / 10000
            ).alias("savings_pct"),
        )
        .orderBy("source")
    )


# ── q426: facility-location greedy coreset (coverage-based selection) ────────

_Q426_K = 8
# Candidate shortlist is SIZE-bounded, not fraction-bounded (VERDICT r7
# item 3), and since r9 it is LEARNED, not hash-arbitrary (VERDICT r8
# item 5): train the q47 coarse quantizer with CAND_K centroids and
# take each non-empty cluster's representative (the member closest to
# its centroid) — so the sim matrix stays O(N*K) with K fixed, and the
# candidates actually SPAN the embedding space the greedy step then
# covers. The whole pipeline (md5 sample, farthest-point init, Lloyd,
# assignment, per-cluster argmax) replays bit-for-bit in the oracle —
# the q47 sequential-fold contract.
_Q426_CAND_K = 50
_Q426_KM_SAMPLE = 1024
_Q426_KM_ITER = 10
_Q426_KM_SEED = 42
_Q426_DIM = 64
_Q426_SCALE = 1_000_000


def _q426_sql() -> str:
    d = _Q426_DIM
    sc = _Q426_SCALE
    from .extras import _kmeans_prefix_sql
    from .llm_ops import _dot_sql, _norm_sql

    prefix = _kmeans_prefix_sql(
        n_centroids=_Q426_CAND_K,
        sample_size=_Q426_KM_SAMPLE,
        n_iter=_Q426_KM_ITER,
        seed=_Q426_KM_SEED,
        dim=d,
    )

    head = f"""
    WITH {prefix},
    pts AS MATERIALIZED (
      SELECT vec_id AS v, embedding, {_norm_sql("embedding", d)} AS nm FROM embeddings
    ),
    rep AS MATERIALIZED (
      SELECT v AS c FROM (
        SELECT p.v, b.cluster,
               ROW_NUMBER() OVER (PARTITION BY b.cluster
                 ORDER BY {_dot_sql("p.embedding", "ct.cv", d)} / p.nm DESC, p.v)
                 AS rn
        FROM pts p
        JOIN cb b ON b.neighbor_id = p.v
        JOIN cents{_Q426_KM_ITER} ct ON ct.cid = b.cluster) z
      WHERE rn = 1
    ),
    cand AS MATERIALIZED (
      SELECT p.v AS c, p.embedding, p.nm FROM pts p JOIN rep r ON r.c = p.v
    ),
    sim AS MATERIALIZED (
      SELECT p.v, c.c,
             CAST(FLOOR({_dot_sql("p.embedding", "c.embedding", d)}
                        / (p.nm * c.nm) * {sc} + 0.5) AS BIGINT) AS sq
      FROM pts p CROSS JOIN cand c
    ),
    cover0 AS (SELECT v, CAST(0 AS BIGINT) AS cq FROM pts)"""
    steps = []
    for t in range(1, _Q426_K + 1):
        excl = (
            "AND s.c NOT IN ("
            + " UNION ALL ".join(f"SELECT c FROM best{j}" for j in range(1, t))
            + ")"
            if t > 1
            else ""
        )
        steps.append(f"""
    gain{t} AS (
      SELECT s.c, CAST(SUM(GREATEST(s.sq - cv.cq, 0)) AS BIGINT) AS g
      FROM sim s JOIN cover{t - 1} cv USING (v)
      WHERE TRUE {excl}
      GROUP BY s.c
    ),
    best{t} AS MATERIALIZED (
      SELECT c, g FROM gain{t} ORDER BY g DESC, c LIMIT 1
    ),
    cover{t} AS MATERIALIZED (
      SELECT cv.v, GREATEST(cv.cq, COALESCE(bs.sq, 0)) AS cq
      FROM cover{t - 1} cv
      LEFT JOIN (SELECT s.v, s.sq FROM sim s JOIN best{t} b ON s.c = b.c) bs
        ON bs.v = cv.v
    )""")
    union = "\n    UNION ALL\n".join(
        f"    SELECT {t} AS step, b.c AS vec_id, b.g AS gain_q FROM best{t} b"
        for t in range(1, _Q426_K + 1)
    )
    # coverage IS the running sum of marginal gains (each gain is
    # exactly sum_v (new_cover - old_cover)) — no per-step cover scan
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT CAST(step AS INTEGER) AS step, vec_id,
           FLOOR(gain_q / 1000.0 + 0.5) / 1000.0 AS marginal_gain_milli,
           FLOOR(SUM(gain_q) OVER (ORDER BY step) * 1.0
                 / (SELECT COUNT(*) FROM pts) / {sc}.0
                 * 10000 + 0.5) / 10000 AS avg_coverage
    FROM (
{union}
    ) ORDER BY step
    """
    )


@register(
    "q426_facility_location_coreset",
    _q426_sql(),
    doc="Facility-location greedy coreset selection (the lazy-greedy "
    "coverage objective of Wei et al., ICML'15 coreset literature): "
    f"pick 8 representatives from a fixed-size <= {_Q426_CAND_K}-"
    "candidate shortlist of LEARNED cluster representatives — the q47 "
    f"coarse quantizer trained with {_Q426_CAND_K} centroids, each "
    "non-empty cluster contributing its member closest to the "
    "centroid (VERDICT r8 item 5: actual space-spanning "
    "representatives instead of hash-arbitrary points; sim matrix "
    "stays O(N*K)) — each step maximizing the marginal coverage gain "
    "sum_v max(0, cos(v,c) - cover(v)). The third member of the "
    "data-selection family — DSIR (q414) matches a target "
    "distribution, SemDeDup (q201) removes redundancy, facility "
    "location maximizes COVERAGE of the embedding space. The oracle "
    "replays the ENTIRE quantizer (md5 sample, farthest-point init, "
    "Lloyd, assignment — the q47 sequential-fold contract) plus the "
    "per-cluster representative argmax; per-pair cosines are "
    "sequential-fold doubles micro-quantized ONCE in the materialized "
    "candidate-sim matrix; all greedy state (cover vector, gains) is "
    "exact integer algebra, so the whole 8-step optimizer is "
    "hash-exact. Returns the selection order with marginal gains and "
    "the coverage curve — diminishing gains certify submodularity.",
)
def q426_facility_location_coreset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the quantizer trains on a bounded driver sample (one
    TakeOrdered scan — q47's cost profile) and assignment is one
    vectorized Arrow pass; the representative pick is a 50-group
    map-side-combinable struct-max aggregate. The sim matrix is then
    points x K with K FIXED, computed map-side against the <= K-row
    broadcast candidates and materialized once (localCheckpoint) —
    each greedy step is one integer join+aggregate over O(N*K) cells
    plus a 1-row argmax collect; the cover vector updates via
    equi-join. Per-candidate cost is flat in N."""
    import numpy as np
    import pyarrow as pa

    from ..operators.similarity import _centroid_matrix, dot, ivf_assign, norm

    sc = _Q426_SCALE
    raw = load_table(spark, sf_dir, "embeddings")
    emb = raw.select(
        F.col("vec_id").alias("v"), "embedding", norm(F.col("embedding")).alias("nm")
    )
    cents = _centroid_matrix(
        raw,
        "vec_id",
        "embedding",
        n_centroids=_Q426_CAND_K,
        sample_size=_Q426_KM_SAMPLE,
        n_iter=_Q426_KM_ITER,
        seed=_Q426_KM_SEED,
    )
    if cents.size == 0:  # empty lake: schema-stable empty
        return spark.createDataFrame(
            [],
            "step int, vec_id long, marginal_gain_milli double, "
            "avg_coverage double",
        )
    cdf = spark.createDataFrame(
        [(i, [float(x) for x in cents[i]]) for i in range(cents.shape[0])],
        "cluster int, cv array<double>",
    )
    # representative per non-empty cluster: member with max cosine to
    # its centroid (dot/|emb|; cv is unit), ties -> lowest vec_id. The
    # struct-max (score, -vec_id) is a map-side-combinable aggregate —
    # no corpus-wide window. Same rounding path as the oracle's
    # ROW_NUMBER ... ORDER BY dot/nm DESC, v; a zero vector scores NULL,
    # which the max ranks below every score, as the oracle ranks it last.
    rep = (
        ivf_assign(raw, cents)
        .join(F.broadcast(cdf), "cluster")
        .select(
            "cluster",
            "vec_id",
            F.try_divide(
                dot(F.col("embedding"), F.col("cv")), norm(F.col("embedding"))
            ).alias("score"),
        )
        .groupBy("cluster")
        .agg(
            F.max(
                F.struct(F.col("score"), (-F.col("vec_id")).alias("nv"))
            ).alias("m")
        )
        .select((-F.col("m.nv")).cast("long").alias("c"))
    )
    cand_rows = (
        emb.join(F.broadcast(rep), emb["v"] == F.col("c"))
        .select("c", F.col("embedding").alias("cemb"))
        .collect()
    )  # <= _Q426_CAND_K rows: the candidate matrix rides the UDF closure
    c_ids = np.array([int(r["c"]) for r in cand_rows], dtype=np.int64)
    cmat = (
        np.stack([np.asarray(r["cemb"], dtype=np.float64) for r in cand_rows])
        if cand_rows
        else np.zeros((0, 0))
    )
    # N x K sim matrix in ONE Arrow pass (r11; guide §4.2): the previous
    # crossJoin(broadcast(cand)) + per-pair pandas UDF shipped every
    # vector to Python K times (VERDICT r10: serialization amplification
    # with no measured win). One mapInArrow over emb computes all K
    # cosines per vector against the closure-resident candidate matrix —
    # each vector crosses the boundary once. Per-element arithmetic is
    # the same strict dim-order fold (_seq_dots/_seq_norms), hardware
    # sqrt, norms multiplied before the divide, then the identical
    # FLOOR(cos * sc + 0.5) — bit-identical sq cells by construction.
    # A cell whose norm product is zero is the oracle's NULL sq, which
    # its GREATEST/COALESCE algebra treats like an absent cell: not emitted.
    from ..operators.similarity import _seq_dots, _seq_norms

    d = cmat.shape[1] if cmat.size else 0
    k_cand = len(c_ids)

    def simk(batches):
        cn = _seq_norms(cmat) if k_cand else np.zeros(0)

        def emit(ids_arr, x):
            nn = _seq_norms(x)[:, None] * cn[None, :]
            ok = nn != 0
            cos = _seq_dots(x, cmat)[ok] / nn[ok]
            return pa.RecordBatch.from_arrays(
                [
                    pa.array(np.repeat(ids_arr, k_cand)[ok.ravel()], pa.int64()),
                    pa.array(np.tile(c_ids, len(ids_arr))[ok.ravel()], pa.int64()),
                    pa.array(np.floor(cos * sc + 0.5).astype(np.int64), pa.int64()),
                ],
                names=["v", "c", "sq"],
            )

        for b in batches:
            col = b.column(1)
            n_rows = len(col)
            if n_rows == 0 or k_cand == 0:
                continue
            ids = b.column(0).to_numpy(zero_copy_only=False).astype(np.int64)
            clean = col.null_count == 0 and not pa.compute.any(
                pa.compute.not_equal(pa.compute.list_value_length(col), d)
            ).as_py()
            if not clean:
                # dirty-data fallback: the pair UDF this replaces yields
                # NULL sim for a null/ragged/None-element vector, which
                # the greedy algebra treats exactly like an absent row —
                # so malformed rows are simply not emitted
                keep, rows = [], []
                for i, cell in enumerate(col):
                    vals = cell.as_py() if cell.is_valid else None
                    if vals is None or len(vals) != d or any(
                        e is None for e in vals
                    ):
                        continue
                    keep.append(ids[i])
                    rows.append(np.asarray(vals, dtype=np.float64))
                if rows:
                    yield emit(np.asarray(keep, dtype=np.int64), np.stack(rows))
                continue
            flat = pa.compute.list_flatten(col).to_numpy(zero_copy_only=False)
            yield emit(ids, flat.astype(np.float64).reshape(n_rows, d))

    sim_plan = emb.select("v", "embedding").mapInArrow(simk, "v long, c long, sq long")
    n_pts = emb.count()
    selected: list[int] = []
    out_rows: list[tuple] = []
    # Greedy facility-location selection on the DRIVER while the sim
    # relation fits the driver budget (r11; guide §8 — the
    # q398/union-find precedent): the whole 8-step optimizer reads
    # nothing but the N x K INTEGER sim matrix (v, c, sq) and the N-long
    # cover vector, so at that size the per-step
    # join+aggregate+argmax+checkpoint jobs (2 per pick) are pure
    # scheduling overhead (r10 scaling block: 8 cores beat 32 at 0.76).
    # Integer max/sum algebra is order-free, so gains and picks are
    # bit-identical; the output projection below is shared. Bigger
    # corpora keep the distributed loop — the 100 TB path.
    n_cells = n_pts * k_cand
    if 0 < n_cells and fits_on_driver("q426_facility_location_coreset", (n_cells, 3)):
        pdf = sim_plan.toPandas()
        if not len(pdf):  # no valid vectors at all: schema-stable empty
            return spark.createDataFrame(
                [],
                "step int, vec_id long, marginal_gain_milli double, "
                "avg_coverage double",
            )
        v_ids, v_idx = np.unique(pdf["v"].to_numpy(np.int64), return_inverse=True)
        # dense columns in ascending-candidate-id order, so argmax's
        # first-max rule reproduces the (g desc, c asc) tie-break
        cand_ids_sorted = np.sort(c_ids)
        col_idx = np.searchsorted(cand_ids_sorted, pdf["c"].to_numpy(np.int64))
        dense = np.zeros((len(v_ids), k_cand), dtype=np.int64)
        dense[v_idx, col_idx] = pdf["sq"].to_numpy(np.int64)
        cov = np.zeros(len(v_ids), dtype=np.int64)
        picked = np.zeros(k_cand, dtype=bool)
        for t in range(1, _Q426_K + 1):
            if picked.all():
                break
            gains = np.maximum(dense - cov[:, None], 0).sum(axis=0)
            gains[picked] = -1
            j = int(np.argmax(gains))  # first max = lowest c id on ties
            g = int(gains[j])
            picked[j] = True
            c_star = int(cand_ids_sorted[j])
            selected.append(c_star)
            out_rows.append(
                (t, c_star, g, (out_rows[-1][3] if out_rows else 0) + g)
            )
            if t == _Q426_K:
                break
            cov = np.maximum(cov, dense[:, j])
        if not out_rows:  # no sim rows at all (defensive)
            return spark.createDataFrame(
                [],
                "step int, vec_id long, marginal_gain_milli double, "
                "avg_coverage double",
            )
        out = spark.createDataFrame(
            out_rows, "step int, vec_id long, gain_q long, cov_q long"
        )
        return _q426_project(out, n_pts, sc)
    sim = sim_plan.localCheckpoint(eager=True)
    if not sim.take(1):  # empty lake: schema-stable empty
        return spark.createDataFrame(
            [],
            "step int, vec_id long, marginal_gain_milli double, "
            "avg_coverage double",
        )
    cover = emb.select("v", F.lit(0).cast("long").alias("cq")).localCheckpoint(
        eager=True
    )
    for t in range(1, _Q426_K + 1):
        gain = (
            sim.filter(~F.col("c").isin(selected) if selected else F.lit(True))
            .join(cover, "v")
            .groupBy("c")
            .agg(
                F.sum(F.greatest(F.col("sq") - F.col("cq"), F.lit(0)))
                .cast("long")
                .alias("g")
            )
        )
        best = gain.orderBy(F.desc("g"), F.asc("c")).first()
        if best is None:
            break
        c_star, g = int(best["c"]), int(best["g"])
        selected.append(c_star)
        # coverage = running sum of gains (each gain is exactly the
        # total cover increase), so no per-step cover scan is needed
        out_rows.append((t, c_star, g, (out_rows[-1][3] if out_rows else 0) + g))
        if t == _Q426_K:
            break  # the last cover update would be dead work
        bs = sim.filter(F.col("c") == c_star).select("v", "sq")
        cover = (
            cover.join(bs, "v", "left")
            .select(
                "v",
                F.greatest(F.col("cq"), F.coalesce(F.col("sq"), F.lit(0))).alias(
                    "cq"
                ),
            )
            .localCheckpoint(eager=True)
        )
    out = spark.createDataFrame(
        out_rows, "step int, vec_id long, gain_q long, cov_q long"
    )
    return _q426_project(out, n_pts, sc)


def _q426_project(out: DataFrame, n_pts: int, sc: int) -> DataFrame:
    """Final projection shared by the driver-side and distributed greedy
    paths — identical Spark float expressions over the exact integer
    (gain_q, cov_q) columns, so the two paths cannot diverge."""
    return out.select(
        "step",
        "vec_id",
        (F.floor(F.col("gain_q") / 1000.0 + 0.5) / 1000.0).alias(
            "marginal_gain_milli"
        ),
        (
            F.floor(F.col("cov_q") * 1.0 / n_pts / float(sc) * 10000 + 0.5)
            / 10000
        ).alias("avg_coverage"),
    ).orderBy("step")


# ── q427: earth-mover (1-D Wasserstein) source drift ─────────────────────────

_Q427_BW = 8  # token-count bucket width


def _q427_sql() -> str:
    bw = _Q427_BW
    return rf"""
    WITH doc_tok AS (
      SELECT source,
             CAST(len(string_split_regex(trim(lower(text)), '\s+')) // {bw}
                  AS BIGINT) AS bucket
      FROM documents WHERE length(trim(text)) > 0
    ),
    n_all AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM doc_tok),
    spine AS (SELECT DISTINCT bucket FROM doc_tok),
    src_tot AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS ns FROM doc_tok GROUP BY source
    ),
    all_hist AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS na FROM doc_tok GROUP BY bucket
    ),
    src_hist AS (
      SELECT source, bucket, CAST(COUNT(*) AS BIGINT) AS nsb
      FROM doc_tok GROUP BY source, bucket
    ),
    cums AS (
      SELECT t.source, s.bucket, t.ns,
             CAST(SUM(COALESCE(h.nsb, 0)) OVER (PARTITION BY t.source
                  ORDER BY s.bucket) AS BIGINT) AS cs,
             CAST(SUM(a.na) OVER (PARTITION BY t.source ORDER BY s.bucket)
                  AS BIGINT) AS ca
      FROM src_tot t
      CROSS JOIN spine s
      JOIN all_hist a ON a.bucket = s.bucket
      LEFT JOIN src_hist h ON h.source = t.source AND h.bucket = s.bucket
    )
    SELECT c.source,
           MAX(c.ns) AS n_docs,
           FLOOR(SUM(ABS(c.cs * x.n - c.ca * c.ns)) * {bw} * 1.0
                 / (MAX(c.ns) * 1.0 * x.n) * 10000 + 0.5) / 10000
             AS w1_tokens,
           CAST(RANK() OVER (ORDER BY FLOOR(SUM(ABS(c.cs * x.n - c.ca * c.ns))
                  * {bw} * 1.0 / (MAX(c.ns) * 1.0 * x.n) * 10000 + 0.5) DESC,
                  c.source) AS INTEGER) AS drift_rank
    FROM cums c CROSS JOIN n_all x
    GROUP BY c.source, x.n
    ORDER BY drift_rank
    """


@register(
    "q427_wasserstein_source_drift",
    _q427_sql(),
    doc="Earth-mover drift per source: the exact 1-D Wasserstein-1 "
    "distance between each source's document-length distribution "
    "(8-token buckets) and the corpus-wide one — W1 = bucket_width x "
    "sum_k |F_s(k) - F_all(k)|, reported in TOKEN units (how many "
    "tokens of probability mass must move), the interpretable "
    "complement of the PSI (q265) / energy-distance (q366) / "
    "Anderson-Darling (q378) drift family. Cross-multiplied integer "
    "cumulative counts make every |.| term exact — the ONLY division "
    "is the final pinned normalization.",
)
def q427_wasserstein_source_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side bucket per doc, three bounded aggregates
    (per-source totals, global histogram, per-source histogram), a
    source x bucket grid bounded by |sources| x |length buckets|, and
    windows partitioned by source over that grid. Nothing corpus-sized
    survives the first aggregate."""
    bw = _Q427_BW
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    doc_tok = docs.filter(F.length(F.trim("text")) > 0).select(
        "source",
        F.floor(
            F.size(F.split(F.trim(F.lower("text")), r"\s+")) / bw
        )
        .cast("long")
        .alias("bucket"),
    )
    n_all = doc_tok.agg(F.count(F.lit(1)).cast("long").alias("n"))
    spine = doc_tok.select("bucket").distinct()
    src_tot = doc_tok.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("ns")
    )
    all_hist = doc_tok.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("long").alias("na")
    )
    src_hist = doc_tok.groupBy("source", "bucket").agg(
        F.count(F.lit(1)).cast("long").alias("nsb")
    )
    grid = (
        src_tot.crossJoin(F.broadcast(spine))
        .join(F.broadcast(all_hist), "bucket")
        .join(F.broadcast(src_hist), ["source", "bucket"], "left")
        .select(
            "source",
            "bucket",
            "ns",
            F.coalesce("nsb", F.lit(0)).alias("nsb"),
            "na",
        )
    )
    ws = Window.partitionBy("source").orderBy("bucket")
    cums = grid.select(
        "source",
        "bucket",
        "ns",
        F.sum("nsb").over(ws).cast("long").alias("cs"),
        F.sum("na").over(ws).cast("long").alias("ca"),
    )
    w1q = F.floor(
        F.sum(F.abs(F.col("cs") * F.col("n") - F.col("ca") * F.col("ns")))
        * bw
        * 1.0
        / (F.max("ns") * 1.0 * F.col("n"))
        * 10000
        + 0.5
    )
    agg = (
        cums.crossJoin(F.broadcast(n_all))
        .groupBy("source", "n")
        .agg(F.max("ns").alias("n_docs"), w1q.alias("w1q"))
    )
    wr = Window.orderBy(F.desc("w1q"), F.asc("source"))
    return agg.select(
        "source",
        "n_docs",
        (F.col("w1q") / 10000).alias("w1_tokens"),
        F.rank().over(wr).cast("int").alias("drift_rank"),
    ).orderBy("drift_rank")


# ── q428: weighted sampling without replacement (Efraimidis-Spirakis) ────────

_Q428_K = 50
_Q428_SCALE = 1_000_000


def _q428_sql() -> str:
    sc = _Q428_SCALE
    return f"""
    WITH keyed AS (
      SELECT doc_id, source, n_chars,
             CAST(FLOOR(-LN((CAST(('0x' || substr(md5('esws|'
                      || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1.0)
                      / {(1 << 60)}.0)
                    / n_chars * {sc} * 1000 + 0.5) AS BIGINT) AS ekey_q
      FROM documents WHERE n_chars > 0
    ),
    top AS (
      SELECT doc_id, source, n_chars, ekey_q
      FROM keyed ORDER BY ekey_q, doc_id LIMIT {_Q428_K}
    )
    SELECT CAST(ROW_NUMBER() OVER (ORDER BY ekey_q, doc_id) AS INTEGER)
             AS draw_order,
           doc_id, source, n_chars,
           FLOOR(ekey_q / 1000.0 + 0.5) / {sc}.0 AS exp_key_milli
    FROM top
    """


@register(
    "q428_weighted_sample_without_replacement",
    _q428_sql(),
    doc="Weighted sampling WITHOUT replacement via exponential races "
    "(Efraimidis & Spirakis 2006): each document draws a deterministic "
    "uniform from the seeded md5 hash, its race key is -ln(u)/weight "
    "(weight = n_chars, size-proportional), and the k smallest keys "
    "ARE a weighted sample without replacement — the distributed "
    "one-pass answer to 'sample 50 documents proportional to length' "
    "that a sequential reservoir cannot give. Keys are nano-quantized "
    "before ranking (ulp-tie discipline, q95); membership is a pure "
    "row hash, stable across runs, engines and partitionings.",
)
def q428_weighted_sample_without_replacement(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Scale: the race key is map-side column math; the k-smallest is a
    TakeOrdered (per-partition top-k then a k-row merge — no global
    sort, no shuffle of the corpus). This is THE shape for weighted
    subsampling at 100 TB: one pass, k rows out."""
    sc = _Q428_SCALE
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    u = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("esws|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        + 1.0
    ) / float(1 << 60)
    keyed = docs.filter(F.col("n_chars") > 0).select(
        "doc_id",
        "source",
        "n_chars",
        F.floor(-F.log(u) / F.col("n_chars") * sc * 1000 + 0.5)
        .cast("long")
        .alias("ekey_q"),
    )
    top = keyed.orderBy(F.asc("ekey_q"), F.asc("doc_id")).limit(_Q428_K)
    w = Window.orderBy(F.asc("ekey_q"), F.asc("doc_id"))
    return top.select(
        F.row_number().over(w).cast("int").alias("draw_order"),
        "doc_id",
        "source",
        "n_chars",
        (F.floor(F.col("ekey_q") / 1000.0 + 0.5) / float(sc)).alias(
            "exp_key_milli"
        ),
    )


# ── q429: data scaling-law fit (held-out CE vs nested corpus fractions) ──────

_Q429_DENS = (16, 8, 4, 2, 1)  # nested train fractions 1/16 .. 1/1
_Q429_SCALE = 1_000_000
_Q429_SPACE = 1 << 60


def _q429_sql() -> str:
    sc = _Q429_SCALE
    sp = _Q429_SPACE
    fr_rows = ", ".join(
        f"({i + 1}, {d})" for i, d in enumerate(_Q429_DENS)
    )
    # tier t = index of the SMALLEST fraction containing the doc
    tier = " ".join(
        f"WHEN h < {sp // d} THEN {i + 1}"
        for i, d in enumerate(_Q429_DENS)
    )
    return rf"""
    WITH tok AS (
      SELECT doc_id,
             CAST(('0x' || substr(md5('slf|' || CAST(doc_id AS VARCHAR)),
                                  1, 15)) AS BIGINT) AS h,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                t -> t <> '')) AS w
      FROM documents
    ),
    train AS (
      SELECT CASE {tier} END AS tier, w
      FROM tok WHERE doc_id % 5 <> 0
    ),
    held AS MATERIALIZED (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS hw FROM tok
      WHERE doc_id % 5 = 0 GROUP BY w
    ),
    wt AS (
      SELECT tier, w, CAST(COUNT(*) AS BIGINT) AS c FROM train
      WHERE tier IS NOT NULL GROUP BY tier, w
    ),
    fr(fid, den) AS (VALUES {fr_rows}),
    cf AS MATERIALIZED (
      SELECT f.fid, t.w, CAST(SUM(t.c) AS BIGINT) AS c
      FROM wt t JOIN fr f ON t.tier <= f.fid
      GROUP BY f.fid, t.w
    ),
    nf AS MATERIALIZED (
      SELECT fid, CAST(SUM(c) AS BIGINT) AS n_tok,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM cf GROUP BY fid
    ),
    th AS (SELECT CAST(SUM(hw) AS BIGINT) AS t_h FROM held),
    scored AS (
      SELECT n.fid,
             CAST(SUM(h.hw * CAST(FLOOR(-LN((COALESCE(c.c, 0) + 1.0)
                          / (n.n_tok + n.v)) * {sc} + 0.5) AS BIGINT))
                  AS BIGINT) AS nll_sum
      FROM held h
      CROSS JOIN nf n
      LEFT JOIN cf c ON c.fid = n.fid AND c.w = h.w
      GROUP BY n.fid
    ),
    ce AS MATERIALIZED (
      SELECT s.fid, f.den, n.n_tok,
             CAST(FLOOR(s.nll_sum * 1.0 / t.t_h + 0.5) AS BIGINT) AS ce_q
      FROM scored s
      JOIN nf n ON n.fid = s.fid
      JOIN fr f ON f.fid = s.fid
      CROSS JOIN th t
    ),
    pts AS MATERIALIZED (
      SELECT fid, den, n_tok, ce_q,
             CAST(FLOOR(LN(n_tok * 1.0) * {sc} + 0.5) AS BIGINT) AS xq,
             CAST(FLOOR(LN(ce_q / {sc}.0) * {sc} + 0.5) AS BIGINT) AS yq
      FROM ce
    ),
    ols AS MATERIALIZED (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(xq) AS BIGINT) AS sx, CAST(SUM(yq) AS BIGINT) AS sy,
             CAST(SUM(xq * yq) AS BIGINT) AS sxy,
             CAST(SUM(xq * xq) AS BIGINT) AS sxx,
             CAST(MAX(n_tok) AS BIGINT) AS nmax
      FROM pts
    )
    SELECT p.fid AS point, p.den AS fraction_denom, p.n_tok AS train_tokens,
           FLOOR(p.ce_q / 1000.0 + 0.5) AS heldout_ce_milli,
           FLOOR((o.np * 1.0 * o.sxy - o.sx * 1.0 * o.sy)
                 / (o.np * 1.0 * o.sxx - o.sx * 1.0 * o.sx)
                 * {sc} + 0.5) / {sc}.0 AS scaling_exponent,
           FLOOR(EXP((o.sy * 1.0 / o.np
                      - (o.np * 1.0 * o.sxy - o.sx * 1.0 * o.sy)
                        / (o.np * 1.0 * o.sxx - o.sx * 1.0 * o.sx)
                        * o.sx / o.np) / {sc}.0
                     + (o.np * 1.0 * o.sxy - o.sx * 1.0 * o.sy)
                       / (o.np * 1.0 * o.sxx - o.sx * 1.0 * o.sx)
                       * LN(10.0 * o.nmax))
                 * 1000 * 1000 + 0.5) / 1000.0 AS pred_ce_milli_at_10x
    FROM pts p CROSS JOIN ols o
    ORDER BY point
    """


@register(
    "q429_scaling_law_fit",
    _q429_sql(),
    doc="Data scaling law measured IN-ENGINE: held-out unigram "
    "cross-entropy of the CCNet-style add-one LM (q208's tokenizer "
    "and held-out split) trained on NESTED corpus fractions "
    "1/16..1/1 (seeded md5 thresholds — each fraction contains the "
    "smaller ones, the Chinchilla-style design), then an exact OLS of "
    "ln(CE) on ln(train tokens) over the 5 points. The cumulative-"
    "tier trick computes all five models from ONE vocab aggregate: "
    "a word's count at fraction f is the window-sum of its per-tier "
    "counts. Reports per-point CE, the fitted scaling exponent "
    "(negative = more data still helps), and the extrapolated CE at "
    "10x the current corpus — the number that decides whether to go "
    "collect more data. Integer NLL sums; the OLS runs on integer "
    "micro-quantized log coordinates with one pinned division.",
)
def q429_scaling_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one token pass splits train/held; per-(tier, word) counts
    shuffle the UNIQUE vocabulary x 5 tiers; fraction counts are a
    5-way spine join over that bounded relation; the held-out scoring
    joins held VOCABULARY (not tokens) to the fraction counts. The
    5-point OLS is bounded algebra. Adding fractions or swapping in
    the bigram LM changes only the spine."""
    sc = _Q429_SCALE
    sp = _Q429_SPACE
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    tok = docs.select(
        "doc_id",
        F.conv(
            F.substring(
                F.md5(F.concat(F.lit("slf|"), F.col("doc_id").cast("string"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
        F.explode(
            F.filter(
                F.split(F.lower("text"), "[^a-z]+"), lambda t: t != F.lit("")
            )
        ).alias("w"),
    )
    tier_col = F.lit(None).cast("int")
    for i, d in reversed(list(enumerate(_Q429_DENS))):
        tier_col = F.when(F.col("h") < sp // d, F.lit(i + 1)).otherwise(tier_col)
    train = tok.filter(F.col("doc_id") % 5 != 0).select(
        tier_col.alias("tier"), "w"
    )
    held = (
        tok.filter(F.col("doc_id") % 5 == 0)
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("long").alias("hw"))
    )
    wt = (
        train.filter(F.col("tier").isNotNull())
        .groupBy("tier", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    fr = spark.createDataFrame(
        [(i + 1, d) for i, d in enumerate(_Q429_DENS)], "fid int, den int"
    )
    cf = (
        wt.join(F.broadcast(fr), wt.tier <= fr.fid)
        .groupBy("fid", "w")
        .agg(F.sum("c").cast("long").alias("c"))
    )
    nf = cf.groupBy("fid").agg(
        F.sum("c").cast("long").alias("n_tok"),
        F.count(F.lit(1)).cast("long").alias("v"),
    )
    th = held.agg(F.sum("hw").cast("long").alias("t_h"))
    scored = (
        held.crossJoin(F.broadcast(nf))
        .join(cf, ["fid", "w"], "left")
        .groupBy("fid")
        .agg(
            F.sum(
                F.col("hw")
                * F.floor(
                    -F.log(
                        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
                        / (F.col("n_tok") + F.col("v"))
                    )
                    * sc
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("nll_sum")
        )
    )
    ce = (
        scored.join(nf, "fid")
        .join(F.broadcast(fr), "fid")
        .crossJoin(F.broadcast(th))
        .select(
            "fid",
            "den",
            "n_tok",
            F.floor(F.col("nll_sum") * 1.0 / F.col("t_h") + 0.5)
            .cast("long")
            .alias("ce_q"),
        )
    )
    pts = ce.select(
        "fid",
        "den",
        "n_tok",
        "ce_q",
        F.floor(F.log(F.col("n_tok") * 1.0) * sc + 0.5).cast("long").alias("xq"),
        F.floor(F.log(F.col("ce_q") / float(sc)) * sc + 0.5)
        .cast("long")
        .alias("yq"),
    )
    ols = pts.agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum("xq").cast("long").alias("sx"),
        F.sum("yq").cast("long").alias("sy"),
        F.sum(F.col("xq") * F.col("yq")).cast("long").alias("sxy"),
        F.sum(F.col("xq") * F.col("xq")).cast("long").alias("sxx"),
        F.max("n_tok").cast("long").alias("nmax"),
    )
    j = pts.crossJoin(F.broadcast(ols))
    num = F.col("np") * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy")
    den = F.col("np") * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx")
    # try_divide: a tiny corpus can give every fraction point the same
    # token count -> zero x-variance -> the power-law slope (and its
    # 10x extrapolation) is undefined (NULL, matching DuckDB)
    slope = F.try_divide(num, den)
    ln_pred = (
        F.col("sy") * 1.0 / F.col("np") - slope * F.col("sx") / F.col("np")
    ) / float(sc) + slope * F.log(10.0 * F.col("nmax"))
    return j.select(
        F.col("fid").alias("point"),
        F.col("den").alias("fraction_denom"),
        F.col("n_tok").alias("train_tokens"),
        F.floor(F.col("ce_q") / 1000.0 + 0.5).cast("double").alias(
            "heldout_ce_milli"
        ),
        (F.floor(slope * sc + 0.5) / float(sc)).alias("scaling_exponent"),
        (F.floor(F.exp(ln_pred) * 1000 * 1000 + 0.5) / 1000.0).alias(
            "pred_ce_milli_at_10x"
        ),
    ).orderBy("point")


# ── q430: Murphy decomposition of the Brier score ────────────────────────────

_Q430_SCALE = 1_000_000


def _q430_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q173_quality_logreg"].sql
    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    sc = _Q430_SCALE
    return f"""
    WITH m AS ({model}),
    g AS ({gate}),
    j AS (
      SELECT CAST(FLOOR(m.quality_score * 10000 + 0.5) AS BIGINT) AS score_u,
             CASE WHEN g.passes THEN 1 ELSE 0 END AS label
      FROM m JOIN g ON m.doc_id = g.doc_id
    ),
    b AS MATERIALIZED (
      SELECT LEAST(CAST(FLOOR(score_u / 1000.0) AS INT), 9) AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_b,
             CAST(SUM(score_u) AS BIGINT) AS su,
             CAST(SUM(label) AS BIGINT) AS k_b,
             CAST(SUM((score_u - label * 10000) * (score_u - label * 10000))
                  AS BIGINT) AS sq
      FROM j GROUP BY 1
    ),
    tot AS MATERIALIZED (
      SELECT CAST(SUM(n_b) AS BIGINT) AS n, CAST(SUM(k_b) AS BIGINT) AS k,
             CAST(SUM(sq) AS BIGINT) AS sq_all
      FROM b
    ),
    terms AS (
      SELECT CAST(SUM(CAST(FLOOR((su / 10000.0 - k_b) * (su / 10000.0 - k_b)
                                 / n_b * {sc} + 0.5) AS BIGINT)) AS BIGINT)
               AS rel_q,
             CAST(SUM(CAST(FLOOR((k_b * 1.0 * t.n - t.k * 1.0 * n_b)
                                 * (k_b * 1.0 * t.n - t.k * 1.0 * n_b)
                                 / (n_b * 1.0 * t.n * t.n) * {sc} + 0.5)
                           AS BIGINT)) AS BIGINT) AS res_q
      FROM b CROSS JOIN tot t
      GROUP BY t.n, t.k
    )
    SELECT t.n AS n_docs,
           FLOOR(t.sq_all / (100000000.0 * t.n) * {sc} + 0.5) / {sc}.0
             AS brier,
           FLOOR(x.rel_q * 1.0 / t.n + 0.5) / {sc}.0 AS reliability,
           FLOOR(x.res_q * 1.0 / t.n + 0.5) / {sc}.0 AS resolution,
           FLOOR(t.k * 1.0 * (t.n - t.k) / (t.n * 1.0 * t.n) * {sc} + 0.5)
             / {sc}.0 AS uncertainty,
           FLOOR((t.sq_all / (100000000.0 * t.n)
                  - (FLOOR(x.rel_q * 1.0 / t.n + 0.5) / {sc}.0
                     - FLOOR(x.res_q * 1.0 / t.n + 0.5) / {sc}.0
                     + FLOOR(t.k * 1.0 * (t.n - t.k) / (t.n * 1.0 * t.n)
                             * {sc} + 0.5) / {sc}.0))
                 * {sc} + 0.5) / {sc}.0 AS within_bin_residual,
           FLOOR((1 - (t.sq_all / (100000000.0 * t.n))
                      / (t.k * 1.0 * (t.n - t.k) / (t.n * 1.0 * t.n)))
                 * {sc} + 0.5) / {sc}.0 AS brier_skill_score
    FROM tot t CROSS JOIN terms x
    """


@register(
    "q430_brier_decomposition",
    _q430_sql(),
    doc="Murphy decomposition (1973) of the q173 quality model's Brier "
    "score against the q192 Gopher gate: BS = reliability - "
    "resolution + uncertainty over score deciles, plus the "
    "within-bin residual (the part binning hides — near zero when "
    "decile binning is faithful) and the Brier SKILL score vs the "
    "base-rate forecast (positive = the model beats climatology). "
    "q239 shows the calibration CURVE and q285 the ECE; this is the "
    "single-row decomposition that says WHY the Brier is what it is "
    "— miscalibration you can recalibrate away (reliability) vs "
    "discrimination you cannot add post hoc (resolution). Per-bucket "
    "terms micro-quantized from exact integer sums; one pinned "
    "division per output.",
)
def q430_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: inherits q239's shape — two map-side score relations, one
    doc_id equi-join, a 10-bucket integer aggregate, then bounded
    algebra. The decile histogram is the sufficient statistic for the
    whole decomposition."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    sc = _Q430_SCALE
    m = _REGISTRY["q173_quality_logreg"].fn(spark, sf_dir).select(
        "doc_id", F.floor(F.col("quality_score") * 10000 + 0.5).cast("long").alias("score_u")
    )
    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("label")
    )
    j = m.join(g, "doc_id").select("score_u", "label")
    b = (
        j.select(
            F.least(
                F.floor(F.col("score_u") / 1000.0).cast("int"), F.lit(9)
            ).alias("bucket"),
            "score_u",
            "label",
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_b"),
            F.sum("score_u").cast("long").alias("su"),
            F.sum("label").cast("long").alias("k_b"),
            F.sum(
                (F.col("score_u") - F.col("label") * 10000)
                * (F.col("score_u") - F.col("label") * 10000)
            )
            .cast("long")
            .alias("sq"),
        )
    )
    tot = b.agg(
        F.sum("n_b").cast("long").alias("n"),
        F.sum("k_b").cast("long").alias("k"),
        F.sum("sq").cast("long").alias("sq_all"),
    )
    terms = (
        b.crossJoin(F.broadcast(tot))
        .groupBy("n", "k")
        .agg(
            F.sum(
                F.floor(
                    (F.col("su") / 10000.0 - F.col("k_b"))
                    * (F.col("su") / 10000.0 - F.col("k_b"))
                    / F.col("n_b")
                    * sc
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("rel_q"),
            F.sum(
                F.floor(
                    (F.col("k_b") * 1.0 * F.col("n") - F.col("k") * 1.0 * F.col("n_b"))
                    * (F.col("k_b") * 1.0 * F.col("n") - F.col("k") * 1.0 * F.col("n_b"))
                    / (F.col("n_b") * 1.0 * F.col("n") * F.col("n"))
                    * sc
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("res_q"),
        )
    )
    out = tot.crossJoin(F.broadcast(terms.select("rel_q", "res_q")))
    brier = F.col("sq_all") / (100000000.0 * F.col("n"))
    rel = F.floor(F.col("rel_q") * 1.0 / F.col("n") + 0.5) / float(sc)
    res = F.floor(F.col("res_q") * 1.0 / F.col("n") + 0.5) / float(sc)
    unc_q = F.floor(
        F.col("k") * 1.0 * (F.col("n") - F.col("k"))
        / (F.col("n") * 1.0 * F.col("n"))
        * sc
        + 0.5
    )
    unc = unc_q / float(sc)
    return out.select(
        F.col("n").alias("n_docs"),
        (F.floor(brier * sc + 0.5) / float(sc)).alias("brier"),
        rel.alias("reliability"),
        res.alias("resolution"),
        unc.alias("uncertainty"),
        (F.floor((brier - (rel - res + unc)) * sc + 0.5) / float(sc)).alias(
            "within_bin_residual"
        ),
        # try_divide: a single-label lake (k = 0 or k = n) has zero
        # climatology uncertainty -> skill score undefined
        (
            F.floor(
                (
                    1
                    - F.try_divide(
                        brier,
                        F.col("k")
                        * 1.0
                        * (F.col("n") - F.col("k"))
                        / (F.col("n") * 1.0 * F.col("n")),
                    )
                )
                * sc
                + 0.5
            )
            / float(sc)
        ).alias("brier_skill_score"),
    )
