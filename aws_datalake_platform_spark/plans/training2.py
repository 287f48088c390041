"""Round-7 additions: corpus-growth estimation, stronger privacy
audits, retrieval/eval completions, keyword extraction, Kneser-Ney LM
scoring, sorted-neighborhood linkage, a Johnson-Lindenstrauss
projection audit, an optimizer cardinality-estimate audit, and exact
Shapley channel attribution.

Reference tie-in: the reference delegates all analytics to Athena
(README.md:128-132); these extend the engine's LLM-pipeline and
analytics surface the same way q203-q322 did (SURVEY.md north-star
ops). Every query is DuckDB-oracle hash-checkable: float accumulation
is either an exact integer ratio, a fixed IEEE expression tree, or a
sequential left fold (the q47/q115 graduation discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import load_table, load_table_pk
from ..functions.core import fits_on_driver, round_half_up
from .purchase_graph import checkpointed_edges
from .queries import register

# ── q323: Chao1 / Good-Turing vocabulary-richness estimation ────────────────


@register(
    "q323_chao1_vocab_estimate",
    r"""
    WITH tok AS (
      SELECT lang,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                t -> t <> '')) AS w
      FROM documents
    ),
    tf AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY lang, w
    )
    SELECT lang,
           CAST(SUM(c) AS BIGINT) AS n_tokens,
           CAST(COUNT(*) AS BIGINT) AS vocab_obs,
           CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
           CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
           FLOOR((COUNT(*)
                  + CASE WHEN SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) > 0
                         THEN SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              * SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0
                              / (2 * SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END))
                         ELSE SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END)
                              * (SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1)
                              / 2.0 END) * 10000 + 0.5) / 10000 AS chao1_est,
           FLOOR(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) * 1.0 / SUM(c)
                 * 1000000 + 0.5) / 1000000 AS unseen_mass
    FROM tf GROUP BY lang ORDER BY lang
    """,
    doc="Vocabulary-richness estimation per language: Chao1 lower bound "
    "on TOTAL vocabulary (observed + f1^2/(2*f2), the bias-corrected "
    "f1*(f1-1)/2 form when no doubletons exist) and the Good-Turing "
    "unseen probability mass f1/N — 'how much vocabulary has this "
    "corpus slice NOT seen yet', the collect-more-data signal that "
    "complements q251's Heaps-law growth fit (which extrapolates the "
    "curve; Chao1 bounds its asymptote) and q289's empirical novelty "
    "curve. Estimators are exact integer ratios of singleton/doubleton "
    "counts, floor-half-up pinned.",
)
def q323_chao1_vocab_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one token explode, one (lang, word) count that is map-side
    combinable and vocabulary-bounded (zipf, ≪ corpus), then a
    |langs|-row rollup over frequency-of-frequencies. No windows, no
    joins — the estimator only ever sees the term-frequency relation."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "lang",
            F.explode(
                F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
            ).alias("w"),
        )
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    f1 = F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("long")
    f2 = F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("long")
    vobs = F.count(F.lit(1)).cast("long")
    chao1 = vobs + F.when(
        f2 > 0, f1 * f1 * 1.0 / (2 * f2)
    ).otherwise(f1 * (f1 - 1) / 2.0)
    return (
        tf.groupBy("lang")
        .agg(
            F.sum("c").cast("long").alias("n_tokens"),
            vobs.alias("vocab_obs"),
            f1.alias("f1"),
            f2.alias("f2"),
            round_half_up(chao1, 4).alias("chao1_est"),
            round_half_up(f1 * 1.0 / F.sum("c"), 6).alias("unseen_mass"),
        )
        .orderBy("lang")
    )


# ── q324: entropy / recursive (c,l)-diversity privacy audit ─────────────────

_Q324_L = 3  # diversity target
_Q324_C = 2.0  # recursive (c,l) dominance constant


@register(
    "q324_entropy_l_diversity",
    f"""
    WITH cls AS (
      SELECT c_mktsegment, CAST(FLOOR(c_acctbal / 2000) AS BIGINT) AS bal_bucket,
             c_nationkey, CAST(COUNT(*) AS BIGINT) AS c
      FROM customer GROUP BY 1, 2, 3
    ),
    clsw AS (
      SELECT c_mktsegment, bal_bucket, c,
             SUM(c) OVER (PARTITION BY c_mktsegment, bal_bucket) AS cs,
             ROW_NUMBER() OVER (PARTITION BY c_mktsegment, bal_bucket
                                ORDER BY c DESC, c_nationkey) AS rk
      FROM cls
    ),
    per AS (
      SELECT c_mktsegment, bal_bucket,
             CAST(SUM(c) AS BIGINT) AS class_size,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(MAX(c) AS BIGINT) AS top_count,
             CAST(SUM(CAST(FLOOR(-LN(c * 1.0 / cs) * c * 1000000 + 0.5)
                           AS BIGINT)) AS BIGINT) AS hq6_w,
             CAST(SUM(CASE WHEN rk >= {_Q324_L} THEN c ELSE 0 END)
                  AS BIGINT) AS tail_lminus1
      FROM clsw GROUP BY 1, 2
    )
    SELECT c_mktsegment, bal_bucket, class_size, n_distinct, top_count,
           FLOOR(EXP(hq6_w / (1000000.0 * class_size)) * 10000 + 0.5)
             / 10000 AS entropy_l,
           EXP(hq6_w / (1000000.0 * class_size)) >= {_Q324_L} AS entropy_l_ok,
           top_count < {_Q324_C} * tail_lminus1 AS recursive_cl_ok
    FROM per ORDER BY c_mktsegment, bal_bucket
    """,
    doc="Entropy and recursive (c,l)-diversity audit (Machanavajjhala et "
    "al., the criteria q194's distinct-count flag is too weak for): per "
    "quasi-identifier class, entropy l-diversity exp(H(sensitive)) and "
    "the recursive (2,3) test top_count < c * (sum of counts from the "
    "l-th most frequent down). A class where one nation holds 90% of "
    "rows passes distinct-l but fails both of these. Per-value -ln(p)*c "
    "terms are floor-half-up micro-quantized then integer-summed, so "
    "the entropy aggregate is order-free.",
)
def q324_entropy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the (class, sensitive-value) relation is bounded by
    |classes| x |values| (segments x buckets x 25 nations), far below
    table size after one map-side-combinable count; every window runs
    over that relation, never customer rows."""
    cust = load_table(spark, sf_dir, "customer")
    cls = (
        cust.select(
            "c_mktsegment",
            F.floor(F.col("c_acctbal") / 2000).cast("long").alias("bal_bucket"),
            "c_nationkey",
        )
        .groupBy("c_mktsegment", "bal_bucket", "c_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    wcls = Window.partitionBy("c_mktsegment", "bal_bucket")
    clsw = cls.select(
        "c_mktsegment",
        "bal_bucket",
        "c",
        F.sum("c").over(wcls).alias("cs"),
        F.row_number()
        .over(wcls.orderBy(F.desc("c"), "c_nationkey"))
        .alias("rk"),
    )
    hq6 = F.floor(
        -F.log(F.col("c") * 1.0 / F.col("cs")) * F.col("c") * 1_000_000 + 0.5
    ).cast("long")
    per = clsw.groupBy("c_mktsegment", "bal_bucket").agg(
        F.sum("c").cast("long").alias("class_size"),
        F.count(F.lit(1)).cast("long").alias("n_distinct"),
        F.max("c").cast("long").alias("top_count"),
        F.sum(hq6).cast("long").alias("hq6_w"),
        F.sum(F.when(F.col("rk") >= _Q324_L, F.col("c")).otherwise(0))
        .cast("long")
        .alias("tail_lminus1"),
    )
    ent = F.exp(F.col("hq6_w") / (1_000_000.0 * F.col("class_size")))
    return per.select(
        "c_mktsegment",
        "bal_bucket",
        "class_size",
        "n_distinct",
        "top_count",
        round_half_up(ent, 4).alias("entropy_l"),
        (ent >= _Q324_L).alias("entropy_l_ok"),
        (F.col("top_count") < _Q324_C * F.col("tail_lminus1")).alias(
            "recursive_cl_ok"
        ),
    ).orderBy("c_mktsegment", "bal_bucket")


# ── q325: average precision / PR curve of the quality model ─────────────────


def _q325_sql() -> str:
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
             SUM(cnt) OVER (ORDER BY score_u DESC) AS cum_cnt,
             SUM(pos) OVER (ORDER BY score_u DESC) AS cum_pos
      FROM h
    ),
    tot AS (SELECT CAST(SUM(pos) AS BIGINT) AS np,
                   CAST(SUM(cnt) AS BIGINT) AS n FROM h),
    terms AS (
      SELECT t.np, t.n,
             CAST(FLOOR(r.pos * 1.0 / t.np * (r.cum_pos * 1.0 / r.cum_cnt)
                        * 1000000000 + 0.5) AS BIGINT) AS term_q9
      FROM r CROSS JOIN tot t
    )
    SELECT np AS n_pos, CAST(n - np AS BIGINT) AS n_neg,
           FLOOR(np * 1.0 / n * 1000000 + 0.5) / 1000000 AS base_rate,
           FLOOR(SUM(term_q9) / 1000.0 + 0.5) / 1000000 AS average_precision
    FROM terms GROUP BY np, n
    """


@register(
    "q325_average_precision",
    _q325_sql(),
    doc="Average precision of the q173 quality score against the q192 "
    "rule gate: the step-function PR-curve area at score-histogram "
    "granularity — sum over tie buckets (descending score) of "
    "delta-recall x precision-at-bucket-end. Completes the eval family "
    "(q240 ROC AUC, q239 Brier, q291 gain): AP is the metric that "
    "ignores the true-negative flood, which is what matters when the "
    "positive class (keep-worthy docs) is rare at corpus scale. Each "
    "bucket term is a fixed IEEE expression over exact integer ratios, "
    "floor-half-up quantized to 1e-9 BEFORE the cross-bucket sum so the "
    "aggregate is an order-free integer sum; tie buckets are atomic so "
    "no per-row ordering is ever needed.",
)
def q325_average_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical shape to q240 — the histogram GROUP BY is
    map-side combinable down to <= 10001 quantized scores and the
    running window runs over THAT relation, never a corpus-wide sort."""
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
    wdesc = Window.orderBy(F.desc("score_u")).rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    r = h.select(
        "pos",
        "cnt",
        F.sum("cnt").over(wdesc).alias("cum_cnt"),
        F.sum("pos").over(wdesc).alias("cum_pos"),
    )
    tot = h.agg(
        F.sum("pos").cast("long").alias("np"), F.sum("cnt").cast("long").alias("n")
    )
    # try_divide: with zero positives (np=0, e.g. a 1-doc lake that
    # fails the gopher gate) AP is undefined -> NULL, matching DuckDB
    term_q9 = F.floor(
        F.try_divide(F.col("pos") * 1.0, F.col("np"))
        * (F.col("cum_pos") * 1.0 / F.col("cum_cnt"))
        * 1_000_000_000
        + 0.5
    ).cast("long")
    return (
        r.crossJoin(F.broadcast(tot))
        .groupBy("np", "n")
        .agg(F.sum(term_q9).cast("long").alias("sum_q9"))
        .select(
            F.col("np").alias("n_pos"),
            (F.col("n") - F.col("np")).cast("long").alias("n_neg"),
            round_half_up(F.col("np") * 1.0 / F.col("n"), 6).alias("base_rate"),
            (F.floor(F.col("sum_q9") / 1000.0 + 0.5) / 1_000_000).alias(
                "average_precision"
            ),
        )
    )


# ── q326: RAKE keyword extraction ────────────────────────────────────────────

_Q326_STOPS = ("the", "a", "of", "and", "to", "in", "is", "that", "it", "for")
_Q326_MAX_PHRASE = 4
_Q326_TOPK = 15


def _q326_sql() -> str:
    stops = ", ".join(f"'{s}'" for s in _Q326_STOPS)
    return f"""
    WITH tok AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                x -> x <> '')) AS w,
             unnest(range(1, len(list_filter(string_split_regex(lower(text),
                    '[^a-z]+'), x -> x <> '')) + 1)) AS pos
      FROM documents
    ),
    grp AS (
      SELECT doc_id, pos, w,
             CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END AS st,
             SUM(CASE WHEN w IN ({stops}) THEN 1 ELSE 0 END)
               OVER (PARTITION BY doc_id ORDER BY pos) AS g
      FROM tok
    ),
    ph AS (
      SELECT doc_id, g, list(w ORDER BY pos) AS words
      FROM grp WHERE st = 0 GROUP BY doc_id, g
      HAVING COUNT(*) BETWEEN 1 AND {_Q326_MAX_PHRASE}
    ),
    pw AS (
      SELECT doc_id, g, len(words) AS plen,
             array_to_string(words, ' ') AS phrase, unnest(words) AS w
      FROM ph
    ),
    wq AS (
      SELECT w,
             CAST(FLOOR((CAST(SUM(plen - 1) AS BIGINT) + COUNT(*)) * 1.0
                        / COUNT(*) * 1000000 + 0.5) AS BIGINT) AS q6
      FROM pw GROUP BY w
    ),
    inst AS (
      SELECT p.doc_id, p.g, p.phrase, CAST(p.plen AS INTEGER) AS n_words,
             CAST(SUM(wq.q6) AS BIGINT) AS score_q6
      FROM pw p JOIN wq ON wq.w = p.w
      GROUP BY p.doc_id, p.g, p.phrase, p.plen
    ),
    agg AS (
      SELECT phrase, MAX(n_words) AS n_words,
             CAST(COUNT(*) AS BIGINT) AS n_occurrences,
             MAX(score_q6) AS score_q6
      FROM inst GROUP BY phrase
    )
    SELECT phrase, n_words, n_occurrences,
           score_q6 / 1000000.0 AS rake_score
    FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY score_q6 DESC, phrase) AS rk
          FROM agg)
    WHERE rk <= {_Q326_TOPK}
    ORDER BY rake_score DESC, phrase
    """


@register(
    "q326_rake_keywords",
    _q326_sql(),
    doc="RAKE keyword extraction (Rose et al. 2010): candidate phrases "
    "are maximal stopword-free token runs (capped at 4 words for "
    "bounded fan-out), word score = (degree + freq) / freq where "
    "degree(w) sums (phrase_len - 1) over phrase instances containing "
    "w, phrase score = sum of its word scores; top-15 phrases. The "
    "corpus-level keyword surfacing step a curation pipeline runs for "
    "topic labeling — complements q69's TF-IDF single terms with "
    "multi-word phrases. Word scores are floor-half-up micro-quantized "
    "so phrase sums are order-free integer math.",
)
def q326_rake_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: token posexplode is a local fan-out; the islands window
    partitions BY DOC (never a global sort); word stats are
    vocabulary-bounded and broadcast back onto phrase instances; the
    final top-15 window runs over DISTINCT phrases (phrase-vocabulary
    bounded, WindowGroupLimit prunes per partition before the single
    merge)."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.posexplode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
        ).alias("pos0", "w"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "w")
    st = F.when(F.col("w").isin(*_Q326_STOPS), 1).otherwise(0)
    wdoc = Window.partitionBy("doc_id").orderBy("pos")
    grp = tok.select(
        "doc_id", "pos", "w", st.alias("st"), F.sum(st).over(wdoc).alias("g")
    )
    ph = (
        grp.filter(F.col("st") == 0)
        .groupBy("doc_id", "g")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
            ).alias("words")
        )
        .filter(F.size("words").between(1, _Q326_MAX_PHRASE))
    )
    pw = ph.select(
        "doc_id",
        "g",
        F.size("words").alias("plen"),
        F.concat_ws(" ", F.col("words")).alias("phrase"),
        F.explode("words").alias("w"),
    )
    wq = pw.groupBy("w").agg(
        F.floor(
            (F.sum(F.col("plen") - 1).cast("long") + F.count(F.lit(1))) * 1.0
            / F.count(F.lit(1))
            * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("q6")
    )
    inst = (
        pw.join(F.broadcast(wq), "w")
        .groupBy("doc_id", "g", "phrase", "plen")
        .agg(F.sum("q6").cast("long").alias("score_q6"))
    )
    agg = inst.groupBy("phrase").agg(
        F.max("plen").cast("int").alias("n_words"),
        F.count(F.lit(1)).cast("long").alias("n_occurrences"),
        F.max("score_q6").alias("score_q6"),
    )
    rk = F.row_number().over(Window.orderBy(F.desc("score_q6"), "phrase"))
    return (
        agg.withColumn("rk", rk)
        .filter(F.col("rk") <= _Q326_TOPK)
        .select(
            "phrase",
            "n_words",
            "n_occurrences",
            (F.col("score_q6") / 1_000_000.0).alias("rake_score"),
        )
        .orderBy(F.desc("rake_score"), "phrase")
    )


# ── q327: Kneser-Ney smoothed bigram held-out scoring ────────────────────────

_Q327_D = 0.75  # absolute discount


@register(
    "q327_kneser_ney_bigram",
    rf"""
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
    train AS (SELECT w1, w2 FROM big WHERE doc_id % 5 <> 0),
    tb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS cb FROM train GROUP BY w1, w2
    ),
    s1 AS (
      SELECT w1, CAST(SUM(cb) AS BIGINT) AS c1,
             CAST(COUNT(*) AS BIGINT) AS nf
      FROM tb GROUP BY w1
    ),
    cont AS (
      SELECT w2, CAST(COUNT(*) AS BIGINT) AS nb FROM tb GROUP BY w2
    ),
    consts AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM tb) AS n_types,
             (SELECT CAST(COUNT(DISTINCT tk) AS BIGINT) FROM (
                SELECT unnest(toks) AS tk FROM tok WHERE doc_id % 5 <> 0)) AS v
    ),
    held AS (SELECT doc_id, w1, w2 FROM big WHERE doc_id % 5 = 0),
    scored AS (
      SELECT h.doc_id,
             CAST(FLOOR(LN(
               CASE WHEN COALESCE(s.c1, 0) > 0
                 THEN GREATEST(COALESCE(t.cb, 0) - CAST({_Q327_D} AS DOUBLE),
                               CAST(0.0 AS DOUBLE)) / s.c1
                      + CAST({_Q327_D} AS DOUBLE) * s.nf / s.c1
                        * ((COALESCE(c.nb, 0) + 1) * 1.0 / (k.n_types + k.v))
                 ELSE (COALESCE(c.nb, 0) + 1) * 1.0 / (k.n_types + k.v)
               END) * 1000000 + 0.5) AS BIGINT) AS q6
      FROM held h
      LEFT JOIN tb t ON t.w1 = h.w1 AND t.w2 = h.w2
      LEFT JOIN s1 s ON s.w1 = h.w1
      LEFT JOIN cont c ON c.w2 = h.w2
      CROSS JOIN consts k
    )
    SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           FLOOR(SUM(q6)::DOUBLE / (COUNT(*) * 1000000.0) * 10000 + 0.5)
             / 10000 AS avg_logprob
    FROM scored GROUP BY doc_id
    """,
    doc="Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen "
    "& Goodman 1999 eq. 4.25) of held-out docs (doc_id %% 5 = 0) against "
    "a model trained on the rest: P(w2|w1) = max(c(w1,w2)-D,0)/c(w1) + "
    "D*N1+(w1,.)/c(w1) * Pcont(w2), with the continuation distribution "
    "Pcont(w2) = (N1+(.,w2)+1)/(n_bigram_types+V) add-one smoothed so "
    "unseen words stay scoreable, and pure-Pcont backoff for unseen "
    "history. The industry-standard upgrade of q208's add-one bigram "
    "model — KN scores re-occurring CONTEXTS, not raw frequency, which "
    "is exactly what separates boilerplate from fluent text. Per-bigram "
    "log-probs are fixed IEEE expression trees over integer counts, "
    "micro-quantized before the per-doc integer sum.",
)
def q327_kneser_ney_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical shape to q208 — all model relations are
    vocabulary-bounded (zipf) and broadcast; the held-out scan joins
    map-side and re-aggregates per doc on integers. At a vocabulary too
    large to broadcast the joins degrade to shuffle hash joins on the
    bigram key; nothing else changes."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "").alias(
            "toks"
        ),
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
    tb = (
        big.filter(F.col("doc_id") % 5 != 0)
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).cast("long").alias("cb"))
    )
    s1 = tb.groupBy("w1").agg(
        F.sum("cb").cast("long").alias("c1"),
        F.count(F.lit(1)).cast("long").alias("nf"),
    )
    cont = tb.groupBy("w2").agg(F.count(F.lit(1)).cast("long").alias("nb"))
    consts = tb.agg(F.count(F.lit(1)).cast("long").alias("n_types")).crossJoin(
        tok.filter(F.col("doc_id") % 5 != 0)
        .select(F.explode("toks").alias("tk"))
        .agg(F.countDistinct("tk").cast("long").alias("v"))
    )
    held = big.filter(F.col("doc_id") % 5 == 0)
    # try_divide: a lake whose only docs land in the held-out split has
    # an EMPTY train model (n_types = v = 0) -> NULL logprob, not ANSI
    pcont = F.try_divide(
        (F.coalesce(F.col("nb"), F.lit(0)) + 1) * 1.0,
        F.col("n_types") + F.col("v"),
    )
    p_seen = (
        F.greatest(F.coalesce(F.col("cb"), F.lit(0)) - F.lit(_Q327_D), F.lit(0.0))
        / F.col("c1")
        + F.lit(_Q327_D) * F.col("nf") / F.col("c1") * pcont
    )
    q6 = F.floor(
        F.log(
            F.when(F.coalesce(F.col("c1"), F.lit(0)) > 0, p_seen).otherwise(pcont)
        )
        * 1_000_000
        + 0.5
    ).cast("long")
    return (
        held.join(F.broadcast(tb), ["w1", "w2"], "left")
        .join(F.broadcast(s1), "w1", "left")
        .join(F.broadcast(cont), "w2", "left")
        .crossJoin(F.broadcast(consts))
        .select("doc_id", q6.alias("q6"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_bigrams"),
            (
                F.floor(
                    F.sum("q6").cast("double")
                    / (F.count(F.lit(1)) * 1_000_000.0)
                    * 10_000
                    + 0.5
                )
                / 10_000
            ).alias("avg_logprob"),
        )
    )


# ── q328: sorted-neighborhood entity linkage ─────────────────────────────────

_Q328_WINDOW = 4  # neighbors compared per row
_Q328_MAXDIST = 6


def _q328_sql() -> str:
    leads = "\n".join(
        f"             LEAD(name, {i}) OVER o AS n{i}, LEAD(typ, {i}) OVER o AS t{i},"
        for i in range(1, _Q328_WINDOW + 1)
    ).rstrip(",")
    pairs = "\n      UNION ALL\n".join(
        f"      SELECT name, typ, n{i} AS nb, t{i} AS tb FROM ws WHERE n{i} IS NOT NULL"
        for i in range(1, _Q328_WINDOW + 1)
    )
    return f"""
    WITH u AS (
      SELECT c_name AS name, 'C' AS typ,
             CAST(regexp_replace(c_name, '[^0-9]', '', 'g') AS BIGINT) AS k
      FROM customer
      UNION ALL
      SELECT s_name, 'S',
             CAST(regexp_replace(s_name, '[^0-9]', '', 'g') AS BIGINT)
      FROM supplier
    ),
    ws AS (
      SELECT name, typ,
{leads}
      FROM u WINDOW o AS (ORDER BY k, typ, name)
    ),
    pairs AS (
{pairs}
    )
    SELECT CASE WHEN typ = 'C' THEN name ELSE nb END AS customer_name,
           CASE WHEN typ = 'C' THEN nb ELSE name END AS supplier_name,
           CAST(levenshtein(name, nb) AS INTEGER) AS dist
    FROM pairs
    WHERE typ <> tb AND levenshtein(name, nb) <= {_Q328_MAXDIST}
    """


@register(
    "q328_sorted_neighborhood",
    _q328_sql(),
    doc="Sorted-neighborhood entity linkage (Hernandez & Stolfo 1995): "
    "union the customer and supplier catalogs, sort once on a cheap "
    "blocking key (the numeric id in the entity name), compare each "
    "row only against its next 4 neighbors via LEAD, keep cross-type "
    "pairs within Levenshtein 6. The complementary blocking strategy "
    "to q83's equi-key blocks: a sliding window over ONE global sort "
    "has no hot-block blowup when a key value is overloaded — at "
    "scale the sort is a range-partitioned exchange and the window is "
    "embarrassingly parallel (with a w-row partition-boundary overlap "
    "pass).",
)
def q328_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: entity catalogs, not corpus rows; the global window is
    bounded by |entities|. LEAD(i) for i=1..4 replaces the rn-range
    self-join — one sort, zero joins, output fan-out exactly w per row."""
    cust = load_table(spark, sf_dir, "customer").select(
        F.col("c_name").alias("name"), F.lit("C").alias("typ")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_name").alias("name"), F.lit("S").alias("typ")
    )
    u = cust.unionByName(supp).withColumn(
        "k", F.regexp_replace("name", "[^0-9]", "").cast("long")
    )
    o = Window.orderBy("k", "typ", "name")
    cols = ["name", "typ"]
    for i in range(1, _Q328_WINDOW + 1):
        u = u.withColumn(f"n{i}", F.lead("name", i).over(o)).withColumn(
            f"t{i}", F.lead("typ", i).over(o)
        )
    pairs = None
    for i in range(1, _Q328_WINDOW + 1):
        p = u.filter(F.col(f"n{i}").isNotNull()).select(
            *cols, F.col(f"n{i}").alias("nb"), F.col(f"t{i}").alias("tb")
        )
        pairs = p if pairs is None else pairs.unionByName(p)
    return (
        pairs.filter(
            (F.col("typ") != F.col("tb"))
            & (F.levenshtein("name", "nb") <= _Q328_MAXDIST)
        )
        .select(
            F.when(F.col("typ") == "C", F.col("name"))
            .otherwise(F.col("nb"))
            .alias("customer_name"),
            F.when(F.col("typ") == "C", F.col("nb"))
            .otherwise(F.col("name"))
            .alias("supplier_name"),
            F.levenshtein("name", "nb").cast("int").alias("dist"),
        )
    )


# ── q329: Johnson-Lindenstrauss projection distortion audit ─────────────────

_Q329_KS = (4, 8, 16, 32)
_Q329_DIM = 64
_Q329_MAXK = 32
# Knuth multiplicative hash of the flat (j, i) index -> one well-mixed
# middle bit decides the +-1 sign; identical integer expression both engines
_Q329_MULT = 2654435761


def _q329_sign_sql(j: str, i: str) -> str:
    return (
        f"(1 - 2 * (CAST(FLOOR(((({j} * {_Q329_DIM} + {i} + 1) * {_Q329_MULT}) "
        f"% 4294967296) / 65536.0) AS BIGINT) % 2))"
    )


def _q329_sql() -> str:
    ks = ", ".join(str(k) for k in _Q329_KS)
    sign = _q329_sign_sql("j", "i")
    return f"""
    WITH p AS (
      SELECT a.vec_id AS pair_id,
             list_transform(range(1, {_Q329_DIM} + 1),
               i -> a.embedding[i]::DOUBLE - b.embedding[i]::DOUBLE) AS d
      FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
    ),
    o AS (
      SELECT pair_id, d,
             list_sum(list_transform(d, x -> x * x)) AS orig
      FROM p
    ),
    pr AS (
      SELECT pair_id, orig,
             list_transform(range(0, {_Q329_MAXK}), j ->
               list_sum(list_transform(range(0, {_Q329_DIM}), i ->
                 {sign} * d[i + 1]))) AS proj
      FROM o WHERE orig > 0
    ),
    rat AS (
      SELECT k,
             CAST(FLOOR((list_sum(list_transform(proj[1:k], x -> x * x)) / k)
                        / orig * 1000000 + 0.5) AS BIGINT) AS rq6
      FROM pr, (SELECT unnest([{ks}]) AS k)
    )
    SELECT CAST(k AS INTEGER) AS proj_dim,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR(SUM(rq6) * 1.0 / COUNT(*) + 0.5) / 1000000 AS mean_ratio,
           MIN(rq6) / 1000000.0 AS min_ratio,
           MAX(rq6) / 1000000.0 AS max_ratio
    FROM rat GROUP BY k ORDER BY proj_dim
    """


@register(
    "q329_jl_projection_audit",
    _q329_sql(),
    doc="Johnson-Lindenstrauss projection distortion audit: project the "
    "difference vector of each consecutive embedding pair through a "
    "deterministic +-1 sign matrix (Achlioptas 2003 database-friendly "
    "JL; sign = one well-mixed bit of a Knuth multiplicative hash of "
    "the (row, dim) index) at k = 4/8/16/32 target dims, and report "
    "the distribution of ||proj||^2/k over ||orig||^2 — the ratio "
    "whose concentration around 1.0 decides how few dimensions ANN "
    "candidate generation can run in before exact re-rank. The "
    "planner for choosing an embedding-truncation dim with MEASURED "
    "distortion, complementing q308's matryoshka fidelity (which "
    "audits prefix dims of the trained embedding; this audits a "
    "random projection that needs no retraining). All folds are "
    "sequential index-order sums; per-pair ratios are micro-quantized "
    "before the per-k integer aggregate.",
)
def q329_jl_projection_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pair relation is linear in corpus size (consecutive-id
    self-join is an equi-join); projections are 32x64 fused multiply-
    adds per row of JVM whole-stage-codegen HOF math — no shuffle until
    the 4-group final aggregate, no UDF, no driver state."""
    emb = load_table(spark, sf_dir, "embeddings")
    a = emb.select(F.col("vec_id").alias("pair_id"), F.col("embedding").alias("ea"))
    b = emb.select((F.col("vec_id") - 1).alias("pair_id"), F.col("embedding").alias("eb"))
    d = F.zip_with("ea", "eb", lambda x, y: x.cast("double") - y.cast("double"))
    p = a.join(b, "pair_id").select("pair_id", d.alias("d"))
    sumsq = lambda arr: F.aggregate(  # noqa: E731
        F.transform(arr, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x
    )
    o = p.select("pair_id", "d", sumsq(F.col("d")).alias("orig"))

    def sign(j, i):
        idx = (j * _Q329_DIM + i + 1) * F.lit(_Q329_MULT)
        bit = (
            F.floor((idx % F.lit(4294967296)) / 65536.0).cast("long") % 2
        )
        return F.lit(1) - 2 * bit

    proj = F.transform(
        F.sequence(F.lit(0), F.lit(_Q329_MAXK - 1)),
        lambda j: F.aggregate(
            F.transform(
                F.sequence(F.lit(0), F.lit(_Q329_DIM - 1)),
                lambda i: sign(j, i) * F.element_at(F.col("d"), i + 1),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ),
    )
    pr = o.filter(F.col("orig") > 0).select("pair_id", "orig", proj.alias("proj"))
    ks = pr.sparkSession.createDataFrame([(k,) for k in _Q329_KS], "k int")
    rq6 = F.floor(
        (sumsq(F.slice("proj", 1, F.col("k"))) / F.col("k")) / F.col("orig")
        * 1_000_000
        + 0.5
    ).cast("long")
    return (
        pr.crossJoin(F.broadcast(ks))
        .select(F.col("k"), rq6.alias("rq6"))
        .groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            (F.floor(F.sum("rq6") * 1.0 / F.count(F.lit(1)) + 0.5) / 1_000_000).alias(
                "mean_ratio"
            ),
            (F.min("rq6") / 1_000_000.0).alias("min_ratio"),
            (F.max("rq6") / 1_000_000.0).alias("max_ratio"),
        )
        .select(
            F.col("k").cast("int").alias("proj_dim"),
            "n_pairs",
            "mean_ratio",
            "min_ratio",
            "max_ratio",
        )
        .orderBy("proj_dim")
    )


# ── q330: optimizer join-cardinality estimate audit ──────────────────────────

_Q330_EDGES = (
    ("orders_x_customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("lineitem_x_orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem_x_part", "lineitem", "l_partkey", "part", "p_partkey"),
)


def _q330_sql() -> str:
    parts = []
    for name, lt, lk, rt, rk in _Q330_EDGES:
        parts.append(f"""
      SELECT '{name}' AS join_edge, l.n_rows AS n_left, r.n_rows AS n_right,
             l.ndv AS ndv_left, r.ndv AS ndv_right,
             CAST(FLOOR(l.n_rows * 1.0 * r.n_rows
                        / GREATEST(l.ndv, r.ndv)) AS BIGINT) AS est_rows,
             x.exact_rows
      FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT {lk}) AS BIGINT) AS ndv FROM {lt}) l,
           (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
                   CAST(COUNT(DISTINCT {rk}) AS BIGINT) AS ndv FROM {rt}) r,
           (SELECT CAST(COALESCE(SUM(hl.c * hr.c), 0) AS BIGINT) AS exact_rows
            FROM (SELECT {lk} AS k, COUNT(*) AS c FROM {lt} GROUP BY 1) hl
            JOIN (SELECT {rk} AS k, COUNT(*) AS c FROM {rt} GROUP BY 1) hr
              ON hl.k = hr.k) x""")
    union = "\n      UNION ALL\n".join(parts)
    return f"""
    WITH edges AS (
{union}
    )
    SELECT join_edge, n_left, n_right, ndv_left, ndv_right, est_rows,
           exact_rows,
           FLOOR(est_rows * 1.0 / exact_rows * 10000 + 0.5) / 10000
             AS err_ratio,
           CAST(ROW_NUMBER() OVER (ORDER BY est_rows, join_edge)
                AS INTEGER) AS rank_by_est
    FROM edges ORDER BY rank_by_est
    """


@register(
    "q330_join_size_estimate",
    _q330_sql(),
    doc="Cost-based-optimizer cardinality audit over the three TPC-H FK "
    "join edges: the System R estimate |R||S|/max(ndv_R, ndv_S) "
    "(Selinger 1979) vs the EXACT join size computed from per-key "
    "count histograms (sum of count products — never materializing "
    "the join), the estimate/actual error ratio, and the cheapest-"
    "first join ordering the estimates imply. The readout that "
    "decides whether table stats are fresh enough to trust the join "
    "reorder; an err_ratio far from 1.0 on a production edge means "
    "ANALYZE before trusting AQE.",
)
def q330_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per-edge work is two count-distinct aggregates plus a
    histogram equi-join whose BOTH sides are key-cardinality bounded;
    the exact size is an integer sum — the join output itself is never
    produced. Three edges union to 3 rows."""
    edges = None
    for name, lt, lk, rt, rk in _Q330_EDGES:
        lta, rta = load_table(spark, sf_dir, lt), load_table(spark, sf_dir, rt)
        lstats = lta.agg(
            F.count(F.lit(1)).cast("long").alias("n_left"),
            F.countDistinct(lk).cast("long").alias("ndv_left"),
        )
        rstats = rta.agg(
            F.count(F.lit(1)).cast("long").alias("n_right"),
            F.countDistinct(rk).cast("long").alias("ndv_right"),
        )
        hl = lta.groupBy(F.col(lk).alias("k")).agg(F.count(F.lit(1)).alias("c"))
        hr = rta.groupBy(F.col(rk).alias("k")).agg(F.count(F.lit(1)).alias("c2"))
        exact = hl.join(hr, "k").agg(
            F.coalesce(F.sum(F.col("c") * F.col("c2")), F.lit(0))
            .cast("long")
            .alias("exact_rows")
        )
        e = (
            lstats.crossJoin(rstats)
            .crossJoin(exact)
            .select(
                F.lit(name).alias("join_edge"),
                "n_left",
                "n_right",
                "ndv_left",
                "ndv_right",
                # try_divide: NULL estimate on empty tables (ndv 0)
                # instead of an ANSI divide-by-zero error
                F.floor(
                    F.try_divide(
                        F.col("n_left") * 1.0 * F.col("n_right"),
                        F.greatest("ndv_left", "ndv_right"),
                    )
                )
                .cast("long")
                .alias("est_rows"),
                "exact_rows",
            )
        )
        edges = e if edges is None else edges.unionByName(e)
    return edges.select(
        "*",
        round_half_up(
            F.try_divide(F.col("est_rows") * 1.0, F.col("exact_rows")), 4
        ).alias("err_ratio"),
        F.row_number()
        .over(Window.orderBy("est_rows", "join_edge"))
        .cast("int")
        .alias("rank_by_est"),
    ).orderBy("rank_by_est")


# ── q331: exact Shapley-value channel attribution ────────────────────────────

# alphabetical channel -> bit position; purchase is the conversion event
_Q331_CHANNELS = ("click", "error", "signup", "view")
# |S|! * (n-|S|-1)! for n=4, indexed by |S| — Shapley weights scaled by 4!=24
_Q331_W24 = (6, 2, 2, 6)


def _q331_sql() -> str:
    chan_rows = ", ".join(
        f"('{c}', {b})" for b, c in enumerate(_Q331_CHANNELS)
    )
    w24 = " ".join(
        f"WHEN {k} THEN {w}" for k, w in enumerate(_Q331_W24[:-1])
    )
    return f"""
    WITH conv AS (
      SELECT user_id, MIN(ts) AS first_purchase
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    bits AS (SELECT * FROM (VALUES {chan_rows}) AS t(channel, bit)),
    touched AS (
      SELECT DISTINCT e.user_id, b.bit
      FROM events e
      JOIN conv c ON c.user_id = e.user_id AND e.ts < c.first_purchase
      JOIN bits b ON b.channel = e.event_type
    ),
    umask AS (
      SELECT c.user_id,
             COALESCE((SELECT SUM(1 << t.bit) FROM touched t
                       WHERE t.user_id = c.user_id), 0) AS mask
      FROM conv c
    ),
    mcnt AS (
      SELECT CAST(mask AS BIGINT) AS mask, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM umask GROUP BY mask
    ),
    subsets AS (SELECT unnest(range(0, 16)) AS s),
    v AS (
      SELECT s.s, CAST(COALESCE(SUM(m.cnt), 0) AS BIGINT) AS v
      FROM subsets s LEFT JOIN mcnt m ON (m.mask | s.s) = s.s
      GROUP BY s.s
    ),
    phi AS (
      SELECT b.channel,
             CAST(SUM((CASE ((s.s & 1) + ((s.s >> 1) & 1)
                             + ((s.s >> 2) & 1) + ((s.s >> 3) & 1))
                       {w24} ELSE {_Q331_W24[-1]} END)
                      * (vi.v - vs.v)) AS BIGINT) AS phi24,
             CAST(MAX(CASE WHEN s.s = 0 THEN vi.v END) AS BIGINT) AS solo_v
      FROM bits b
      JOIN subsets s ON (s.s & (1 << b.bit)) = 0
      JOIN v vs ON vs.s = s.s
      JOIN v vi ON vi.s = (s.s | (1 << b.bit))
      GROUP BY b.channel
    ),
    base AS (
      SELECT (SELECT v FROM v WHERE s = 0) AS v0,
             (SELECT v FROM v WHERE s = 15) AS vfull
    )
    SELECT p.channel,
           FLOOR(p.phi24 / 24.0 * 1000000 + 0.5) / 1000000
             AS shapley_conversions,
           CAST(p.solo_v - b.v0 AS BIGINT) AS solo_marginal,
           CASE WHEN b.vfull - b.v0 > 0
                THEN FLOOR(p.phi24 / 24.0 / (b.vfull - b.v0) * 1000000 + 0.5)
                     / 1000000 END AS shapley_share,
           b.v0 AS baseline_conversions,
           b.vfull AS attributable_conversions
    FROM phi p CROSS JOIN base b
    ORDER BY p.channel
    """


@register(
    "q331_shapley_attribution",
    _q331_sql(),
    doc="Exact Shapley-value multi-touch attribution (Shapley 1953 via "
    "the coalition framing of Zhao et al. 2018) over the four "
    "pre-purchase channels: v(S) = converted users whose pre-first-"
    "purchase touchpoint set is a subset of S, phi(channel) = the "
    "exact 16-coalition Shapley sum — the game-theoretic upgrade of "
    "q216's last-touch rule, which over-credits whatever fires "
    "closest to checkout. Shapley weights are |S|!(n-|S|-1)! kept as "
    "INTEGER 24ths end-to-end (one division at output), so "
    "efficiency (sum of phi = v(full) - v(empty)) holds exactly.",
)
def q331_shapley_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: corpus-size work is one purchase-min aggregate and one
    user-keyed join+distinct — both single user_id shuffles. Everything
    downstream (mask histogram, 16-subset lattice, the 4x8 Shapley sum)
    runs over <= 16-row broadcast relations. No per-user state leaves
    the executors."""
    ev = load_table(spark, sf_dir, "events")
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_purchase"))
    )
    bits = spark.createDataFrame(
        [(c, b) for b, c in enumerate(_Q331_CHANNELS)], "channel string, bit int"
    )
    touched = (
        ev.join(conv, "user_id")
        .filter(F.col("ts") < F.col("first_purchase"))
        .join(F.broadcast(bits), F.col("event_type") == F.col("channel"))
        .select("user_id", "bit")
        .distinct()
    )
    umask = conv.join(
        touched.groupBy("user_id").agg(
            F.sum(F.expr("shiftleft(1, bit)")).alias("m")
        ),
        "user_id",
        "left",
    ).select(F.coalesce(F.col("m"), F.lit(0)).cast("long").alias("mask"))
    mcnt = umask.groupBy("mask").agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    subsets = spark.createDataFrame([(s,) for s in range(16)], "s long")
    v = (
        subsets.join(
            mcnt, F.col("mask").bitwiseOR(F.col("s")) == F.col("s"), "left"
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("v"))
    )
    popcnt = sum(
        F.shiftright(F.col("s"), i).bitwiseAND(F.lit(1)) for i in range(4)
    )
    w24 = F.when(popcnt == 0, _Q331_W24[0])
    for k in range(1, 3):
        w24 = w24.when(popcnt == k, _Q331_W24[k])
    w24 = w24.otherwise(_Q331_W24[3])
    vs = v.select(F.col("s").alias("s_vs"), F.col("v").alias("v_s"))
    vi = v.select(F.col("s").alias("s_vi"), F.col("v").alias("v_si"))
    phi = (
        F.broadcast(bits)
        .join(subsets, F.col("s").bitwiseAND(F.expr("shiftleft(1, bit)")) == 0)
        .join(F.broadcast(vs), F.col("s_vs") == F.col("s"))
        .join(
            F.broadcast(vi),
            F.col("s_vi")
            == F.col("s").bitwiseOR(F.expr("shiftleft(1, bit)")),
        )
        .groupBy("channel")
        .agg(
            F.sum(w24 * (F.col("v_si") - F.col("v_s"))).cast("long").alias("phi24"),
            F.max(F.when(F.col("s") == 0, F.col("v_si")))
            .cast("long")
            .alias("solo_v"),
        )
    )
    base = (
        v.agg(
            F.max(F.when(F.col("s") == 0, F.col("v"))).cast("long").alias("v0"),
            F.max(F.when(F.col("s") == 15, F.col("v"))).cast("long").alias("vfull"),
        )
    )
    return (
        phi.crossJoin(F.broadcast(base))
        .select(
            "channel",
            (F.floor(F.col("phi24") / 24.0 * 1_000_000 + 0.5) / 1_000_000).alias(
                "shapley_conversions"
            ),
            (F.col("solo_v") - F.col("v0")).cast("long").alias("solo_marginal"),
            F.when(
                F.col("vfull") - F.col("v0") > 0,
                F.floor(
                    F.col("phi24") / 24.0 / (F.col("vfull") - F.col("v0"))
                    * 1_000_000
                    + 0.5
                )
                / 1_000_000,
            ).alias("shapley_share"),
            F.col("v0").alias("baseline_conversions"),
            F.col("vfull").alias("attributable_conversions"),
        )
        .orderBy("channel")
    )


# ── q332: BM25 parameter tuning planner ─────────────────────────────────────

_Q332_TERMS = ("join", "hash", "window", "spark", "stream")  # q197's query set
_Q332_GRID = tuple(
    (k1, b) for k1 in (0.8, 1.2, 1.6) for b in (0.25, 0.5, 0.75)
)
_Q332_DEFAULT = (1.2, 0.75)  # q197's production cell
_Q332_TOPK = 10


def _q332_sql() -> str:
    grid = ", ".join(
        f"(CAST({k1} AS DOUBLE), CAST({b} AS DOUBLE))" for k1, b in _Q332_GRID
    )
    dk1, db = _Q332_DEFAULT
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
      WHERE term IN {tuple(_Q332_TERMS)!r}
      GROUP BY doc_id, term
    ),
    df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY term),
    grid AS (SELECT * FROM (VALUES {grid}) AS g(k1, b)),
    scored AS (
      SELECT g.k1, g.b, tf.term, tf.doc_id,
             CAST(floor(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1)
                   * tf.tf * (g.k1 + 1)
                   / (tf.tf + g.k1 * (1 - g.b
                      + g.b * dl.dl / stats.avgdl)) * 1000000 + 0.5)
               AS BIGINT) AS score_u
      FROM tf
      JOIN df USING (term)
      JOIN dl USING (doc_id)
      CROSS JOIN stats
      CROSS JOIN grid g
    ),
    topk AS (
      SELECT k1, b, term, doc_id, score_u FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY k1, b, term
                                     ORDER BY score_u DESC, doc_id) AS rk
        FROM scored) t
      WHERE rk <= {_Q332_TOPK}
    ),
    dflt AS (
      SELECT term, doc_id FROM topk WHERE k1 = {dk1} AND b = {db}
    ),
    ov AS (
      SELECT t.k1, t.b, CAST(COUNT(d.doc_id) AS BIGINT) AS n_shared
      FROM topk t LEFT JOIN dflt d
        ON d.term = t.term AND d.doc_id = t.doc_id
      GROUP BY t.k1, t.b
    ),
    m AS (
      SELECT k1, b, CAST(COUNT(*) AS BIGINT) AS n_results,
             CAST(SUM(score_u) AS BIGINT) AS sum_u
      FROM topk GROUP BY k1, b
    )
    SELECT m.k1, m.b, m.n_results,
           FLOOR(m.sum_u * 1.0 / m.n_results / 1000000 * 10000 + 0.5) / 10000
             AS mean_topk_score,
           FLOOR(ov.n_shared * 1.0 / m.n_results * 10000 + 0.5) / 10000
             AS overlap_with_default,
           m.k1 = {dk1} AND m.b = {db} AS is_default
    FROM m JOIN ov ON ov.k1 = m.k1 AND ov.b = m.b
    ORDER BY m.k1, m.b
    """


@register(
    "q332_bm25_tuning_plan",
    _q332_sql(),
    doc="BM25 (k1, b) tuning planner: ONE pass builds the tf/df/length "
    "sufficient statistics (exactly q197's relations), then the 3x3 "
    "parameter grid re-scores from those statistics alone — per cell, "
    "the mean micro-quantized top-10 score and the result-set overlap "
    "against the production cell (k1=1.2, b=0.75). The knob-pricing "
    "discipline of q236/q238/q292 applied to retrieval: how sensitive "
    "are the SERPs to length normalization before anyone re-runs the "
    "corpus scan 9 times. Scores are floor-half-up micro-ints, so "
    "ranking, overlap counting and the mean are exact integer math.",
)
def q332_bm25_tuning_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per-cell work never touches the corpus — the 9-cell grid
    rides a broadcast spine over the term-filtered posting relation
    (|terms| x df rows), per-(cell, term) top-10 is WindowGroupLimit-
    eligible, and the mean + overlap come from ONE aggregate over
    topk left-joined to the broadcast default cell (90 x 50 rows).
    The physical plan re-derives the postings lineage a constant
    number of times (the default-cell branch) — independent of grid
    size; at 100 TB you'd localCheckpoint the 90-row topk relation
    and even that constant goes away."""
    docs = load_table_pk(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", F.split(F.trim(F.lower("text")), r"\s+").alias("toks")
    )
    dl = tok.select("doc_id", F.size("toks").alias("dl"))
    stats = dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    tf = (
        tok.select("doc_id", F.explode("toks").alias("term"))
        .filter(F.col("term").isin(*_Q332_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count(F.lit(1)).cast("long").alias("tf"))
    )
    df_rel = tf.groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("df"))
    grid = spark.createDataFrame(list(_Q332_GRID), "k1 double, b double")
    score_u = F.floor(
        F.log(
            (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1
        )
        * F.col("tf")
        * (F.col("k1") + 1)
        / (
            F.col("tf")
            + F.col("k1")
            * (1 - F.col("b") + F.col("b") * F.col("dl") / F.col("avgdl"))
        )
        * 1_000_000
        + 0.5
    ).cast("long")
    scored = (
        tf.join(F.broadcast(df_rel), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .crossJoin(F.broadcast(grid))
        .select("k1", "b", "term", "doc_id", score_u.alias("score_u"))
    )
    w = Window.partitionBy("k1", "b", "term").orderBy(
        F.desc("score_u"), "doc_id"
    )
    topk = (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= _Q332_TOPK)
        .drop("rk")
    )
    dk1, db = _Q332_DEFAULT
    dflt = topk.filter((F.col("k1") == dk1) & (F.col("b") == db)).select(
        F.col("term").alias("d_term"), F.col("doc_id").alias("d_doc")
    )
    m = (
        topk.join(
            F.broadcast(dflt),
            (F.col("d_term") == F.col("term")) & (F.col("d_doc") == F.col("doc_id")),
            "left",
        )
        .groupBy("k1", "b")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_results"),
            F.sum("score_u").cast("long").alias("sum_u"),
            F.count("d_doc").cast("long").alias("n_shared"),
        )
    )
    return (
        m.select(
            "k1",
            "b",
            "n_results",
            (
                F.floor(
                    F.col("sum_u") * 1.0 / F.col("n_results") / 1_000_000 * 10_000
                    + 0.5
                )
                / 10_000
            ).alias("mean_topk_score"),
            round_half_up(F.col("n_shared") * 1.0 / F.col("n_results"), 4).alias(
                "overlap_with_default"
            ),
            ((F.col("k1") == dk1) & (F.col("b") == db)).alias("is_default"),
        )
        .orderBy("k1", "b")
    )


# ── q333: Welch's unequal-variance t-test ────────────────────────────────────

_Q333_A, _Q333_B = "1-URGENT", "5-LOW"


@register(
    "q333_welch_t_test",
    f"""
    WITH pu AS (
      SELECT o_orderpriority AS grp,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderpriority IN ('{_Q333_A}', '{_Q333_B}')
    ),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS su,
             CAST(SUM(cents::HUGEINT * cents::HUGEINT) AS DOUBLE) AS ssq
      FROM pu GROUP BY grp
    ),
    d AS (
      SELECT a.n AS n_a, b.n AS n_b,
             (a.su / 100.0) / a.n AS m_a, (b.su / 100.0) / b.n AS m_b,
             (a.ssq / 10000.0 - ((a.su / 100.0) * (a.su / 100.0)) / a.n)
               / (a.n - 1) AS v_a,
             (b.ssq / 10000.0 - ((b.su / 100.0) * (b.su / 100.0)) / b.n)
               / (b.n - 1) AS v_b
      FROM (SELECT * FROM s WHERE grp = '{_Q333_A}') a,
           (SELECT * FROM s WHERE grp = '{_Q333_B}') b
    )
    SELECT n_a, n_b,
           FLOOR(m_a * 100 + 0.5) / 100 AS mean_a,
           FLOOR(m_b * 100 + 0.5) / 100 AS mean_b,
           SIGN(m_a - m_b) * (FLOOR(ABS(m_a - m_b) * 100 + 0.5) / 100)
             AS mean_diff,
           FLOOR((m_a - m_b) / SQRT(v_a / n_a + v_b / n_b) * 10000 + 0.5)
             / 10000 AS t_stat,
           FLOOR((v_a / n_a + v_b / n_b) * (v_a / n_a + v_b / n_b)
                 / ((v_a / n_a) * (v_a / n_a) / (n_a - 1)
                    + (v_b / n_b) * (v_b / n_b) / (n_b - 1)) * 100 + 0.5)
             / 100 AS df_welch,
           ABS((m_a - m_b) / SQRT(v_a / n_a + v_b / n_b)) > 1.96
             AS significant_5pct
    FROM d
    """,
    doc="Welch's unequal-variance t-test (Welch 1947) on order value "
    "between URGENT and LOW priority classes, with the Welch-"
    "Satterthwaite effective degrees of freedom — the parametric "
    "counterpart of q306's Mann-Whitney U (which tests stochastic "
    "ordering; this tests the MEAN under unequal variances, the "
    "default posture for revenue metrics). Sufficient statistics are "
    "EXACT integers: prices quantized to cents, the square sums "
    "accumulated in 128-bit (HUGEINT / DECIMAL(38,0)) before ONE cast "
    "to double, so both engines derive t and df from bit-identical "
    "moments.",
)
def q333_welch_t_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one filtered scan into a 2-group integer aggregate
    (map-side combinable); everything after is a 2-row cross of
    scalars. The one statistic whose naive form (per-row float
    variance) would be order-dependent is exact by construction."""
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    s = (
        orders.filter(F.col("o_orderpriority").isin(_Q333_A, _Q333_B))
        .select(F.col("o_orderpriority").alias("grp"), cents.alias("cents"))
        .groupBy("grp")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("cents").cast("long").alias("su"),
            F.sum(
                F.col("cents").cast("decimal(38,0)")
                * F.col("cents").cast("decimal(38,0)")
            )
            .cast("double")
            .alias("ssq"),
        )
    )
    a = s.filter(F.col("grp") == _Q333_A).select(
        F.col("n").alias("n_a"), F.col("su").alias("su_a"), F.col("ssq").alias("ssq_a")
    )
    b = s.filter(F.col("grp") == _Q333_B).select(
        F.col("n").alias("n_b"), F.col("su").alias("su_b"), F.col("ssq").alias("ssq_b")
    )
    d = a.crossJoin(F.broadcast(b))
    m_a = (F.col("su_a") / 100.0) / F.col("n_a")
    m_b = (F.col("su_b") / 100.0) / F.col("n_b")
    v_a = (
        F.col("ssq_a") / 10000.0 - ((F.col("su_a") / 100.0) * (F.col("su_a") / 100.0)) / F.col("n_a")
    ) / (F.col("n_a") - 1)
    v_b = (
        F.col("ssq_b") / 10000.0 - ((F.col("su_b") / 100.0) * (F.col("su_b") / 100.0)) / F.col("n_b")
    ) / (F.col("n_b") - 1)
    se2 = v_a / F.col("n_a") + v_b / F.col("n_b")
    t = (m_a - m_b) / F.sqrt(se2)
    dfw = (
        se2
        * se2
        / (
            (v_a / F.col("n_a")) * (v_a / F.col("n_a")) / (F.col("n_a") - 1)
            + (v_b / F.col("n_b")) * (v_b / F.col("n_b")) / (F.col("n_b") - 1)
        )
    )
    return d.select(
        "n_a",
        "n_b",
        (F.floor(m_a * 100 + 0.5) / 100).alias("mean_a"),
        (F.floor(m_b * 100 + 0.5) / 100).alias("mean_b"),
        (
            F.signum(m_a - m_b) * (F.floor(F.abs(m_a - m_b) * 100 + 0.5) / 100)
        ).alias("mean_diff"),
        (F.floor(t * 10000 + 0.5) / 10000).alias("t_stat"),
        (F.floor(dfw * 100 + 0.5) / 100).alias("df_welch"),
        (F.abs(t) > 1.96).alias("significant_5pct"),
    )


# ── q334: mutual-nearest-neighbor pair mining ────────────────────────────────

_Q334_MOD = 50  # hash-sample stride: vec_id % 50 == 0 -> side A, == 1 -> side B


def _q334_sql() -> str:
    from .llm_ops import _COS

    cos = _COS.format(a="a.embedding", b="b.embedding")
    return f"""
    WITH sims AS (
      SELECT a.vec_id AS va, b.vec_id AS vb,
             CAST(FLOOR(({cos}) * 1000000 + 0.5) AS BIGINT) AS sim_u
      FROM (SELECT * FROM embeddings WHERE vec_id % {_Q334_MOD} = 0) a,
           (SELECT * FROM embeddings WHERE vec_id % {_Q334_MOD} = 1) b
    ),
    best_a AS (
      SELECT va, vb, sim_u FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY va
                                     ORDER BY sim_u DESC, vb) AS rk
        FROM sims) t WHERE rk = 1
    ),
    best_b AS (
      SELECT va, vb FROM (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY vb
                                     ORDER BY sim_u DESC, va) AS rk
        FROM sims) t WHERE rk = 1
    )
    SELECT a.va AS vec_a, a.vb AS vec_b,
           a.sim_u / 1000000.0 AS cos_sim
    FROM best_a a JOIN best_b b ON b.va = a.va AND b.vb = a.vb
    ORDER BY vec_a
    """


@register(
    "q334_mutual_nn_pairs",
    _q334_sql(),
    doc="Mutual-nearest-neighbor pair mining between two corpus slices "
    "(the MNN criterion of Haghverdi 2018 / parallel-corpus alignment): "
    "a pair survives only if each side is the other's top-1 neighbor — "
    "the reciprocal-match primitive that kills the asymmetric hubness "
    "failures a one-directional top-1 (q30) cannot, used for cross-"
    "source alignment and anchor mining. Runs on bounded hash samples "
    "(vec_id stride {mod}) as the audit shape; the production path "
    "replaces the exact pair matrix with q32/q59's LSH buckets and "
    "keeps the SAME mutual-rank join. Similarities are sequential-fold "
    "cosines micro-quantized BEFORE ranking, so top-1 ties break "
    "identically cross-engine.".format(mod=_Q334_MOD),
)
def q334_mutual_nn_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: |A| x |B| = (N/50)^2 pairs of pure codegen fold math with
    norms precomputed per side (the brute_force_topk discipline); both
    rank windows partition by a sample-bounded key. At full corpus
    width, swap the exact pair stage for the LSH candidate relation —
    the mutual join is unchanged."""
    from ..operators.similarity import _pair_cosine, _vec_side

    emb = load_table(spark, sf_dir, "embeddings")
    a = _vec_side(emb.filter(F.col("vec_id") % _Q334_MOD == 0), "vec_id", "embedding", "va", "a")
    b = _vec_side(emb.filter(F.col("vec_id") % _Q334_MOD == 1), "vec_id", "embedding", "vb", "b")
    sims = (
        F.broadcast(a)
        .crossJoin(b)
        .select(
            "va",
            "vb",
            F.floor(_pair_cosine("a", "b") * 1_000_000 + 0.5).cast("long").alias("sim_u"),
        )
    )
    wa = Window.partitionBy("va").orderBy(F.desc("sim_u"), "vb")
    wb = Window.partitionBy("vb").orderBy(F.desc("sim_u"), "va")
    best_a = sims.withColumn("rk", F.row_number().over(wa)).filter(
        F.col("rk") == 1
    ).drop("rk")
    best_b = (
        sims.withColumn("rk", F.row_number().over(wb))
        .filter(F.col("rk") == 1)
        .select(F.col("va").alias("b_va"), F.col("vb").alias("b_vb"))
    )
    return (
        best_a.join(
            best_b,
            (F.col("b_va") == F.col("va")) & (F.col("b_vb") == F.col("vb")),
        )
        .select(
            F.col("va").alias("vec_a"),
            F.col("vb").alias("vec_b"),
            (F.col("sim_u") / 1_000_000.0).alias("cos_sim"),
        )
        .orderBy("vec_a")
    )


# ── q335: McNemar's test between the two quality detectors ──────────────────


def _q335_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY
    from .training import _Q231_LM_T

    g = _REGISTRY["q192_gopher_quality_rules"].sql
    l = _REGISTRY["q92_unigram_logprob"].sql
    return f"""
    WITH g AS ({g}),
    l AS ({l}),
    j AS (
      SELECT CASE WHEN g.passes THEN 1 ELSE 0 END AS a,
             CASE WHEN l.avg_logprob >= {_Q231_LM_T} THEN 1 ELSE 0 END AS b
      FROM g JOIN l ON l.doc_id = g.doc_id
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_rule_only,
             CAST(SUM(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_lm_only
      FROM j
    )
    SELECT n_docs, n_rule_only, n_lm_only,
           CASE WHEN n_rule_only + n_lm_only > 0 THEN
             FLOOR(GREATEST(ABS(n_rule_only - n_lm_only) - 1, 0)
                   * GREATEST(ABS(n_rule_only - n_lm_only) - 1, 0) * 1.0
                   / (n_rule_only + n_lm_only) * 10000 + 0.5) / 10000
           END AS mcnemar_chi2,
           CASE WHEN n_rule_only + n_lm_only > 0 THEN
             GREATEST(ABS(n_rule_only - n_lm_only) - 1, 0)
             * GREATEST(ABS(n_rule_only - n_lm_only) - 1, 0) * 1.0
             / (n_rule_only + n_lm_only) > 3.841459 END AS marginals_differ_5pct
    FROM c
    """


@register(
    "q335_mcnemar_detectors",
    _q335_sql(),
    doc="McNemar's test (continuity-corrected, discordant-pair chi^2 "
    "with 1 df) between the engine's two quality detectors — the q192 "
    "Gopher rule gate and the q92 unigram-LM filter at the q231 "
    "threshold. Cohen's kappa (q231) measures AGREEMENT; McNemar tests "
    "whether the two filters reject at systematically different RATES "
    "(marginal homogeneity) — the question that decides which one is "
    "the stricter gate before stacking them. Exact integer discordant "
    "counts; one pinned division.",
)
def q335_mcnemar_detectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same shape as q231 — two map-side score relations, one
    doc_id equi-join, one fused single-row aggregate."""
    from .queries import QUERY_REGISTRY as _REGISTRY
    from .training import _Q231_LM_T

    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.col("passes").alias("a")
    )
    l = _REGISTRY["q92_unigram_logprob"].fn(spark, sf_dir).select(
        "doc_id", (F.col("avg_logprob") >= _Q231_LM_T).alias("b")
    )
    c = (
        g.join(l, "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.when(F.col("a") & ~F.col("b"), 1).otherwise(0))
            .cast("long")
            .alias("n_rule_only"),
            F.sum(F.when(~F.col("a") & F.col("b"), 1).otherwise(0))
            .cast("long")
            .alias("n_lm_only"),
        )
    )
    disc = F.col("n_rule_only") + F.col("n_lm_only")
    cc = F.greatest(
        F.abs(F.col("n_rule_only") - F.col("n_lm_only")) - 1, F.lit(0)
    )
    chi2 = cc * cc * 1.0 / disc
    return c.select(
        "n_docs",
        "n_rule_only",
        "n_lm_only",
        F.when(disc > 0, F.floor(chi2 * 10000 + 0.5) / 10000).alias(
            "mcnemar_chi2"
        ),
        F.when(disc > 0, chi2 > 3.841459).alias("marginals_differ_5pct"),
    )


# ── q336: inverse-propensity-weighted exposure effect ────────────────────────

_Q336_BUCKETS = 5


@register(
    "q336_ipw_effect",
    f"""
    WITH r AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               OVER (PARTITION BY user_id) AS y
      FROM events
    ),
    u AS (
      SELECT user_id, n_events, y,
             CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END AS t
      FROM r WHERE rn = 1
    ),
    ub AS (
      SELECT t, y,
             NTILE({_Q336_BUCKETS}) OVER (ORDER BY n_events, user_id) AS bkt
      FROM u
    ),
    b AS (
      SELECT bkt, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS nt,
             CAST(SUM(t * y) AS BIGINT) AS nty,
             CAST(SUM((1 - t) * y) AS BIGINT) AS ncy
      FROM ub GROUP BY bkt
    ),
    kept AS (SELECT * FROM b WHERE nt > 0 AND n - nt > 0),
    terms AS (
      SELECT n, nt, nty, ncy,
             CAST(FLOOR(n * (nty * 1.0 / nt - ncy * 1.0 / (n - nt))
                        * 1000000 + 0.5) AS BIGINT) AS term_q6
      FROM kept
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_users,
           CAST(COUNT(*) AS INTEGER) AS n_buckets_kept,
           FLOOR(SUM(nt) * 1.0 / SUM(n) * 1000000 + 0.5) / 1000000
             AS treated_share,
           FLOOR((SUM(nty) * 1.0 / SUM(nt)
                  - SUM(ncy) * 1.0 / (SUM(n) - SUM(nt))) * 1000000 + 0.5)
             / 1000000 AS naive_diff,
           FLOOR(SUM(term_q6) * 1.0 / SUM(n) + 0.5) / 1000000 AS ipw_ate
    FROM terms
    """,
    doc="Inverse-propensity-weighted exposure effect (Horvitz-Thompson "
    "ATE with bucketed propensities, the observational-causal step "
    "beyond q316's randomized DiD): treatment = the user's FIRST event "
    "is a signup (acquisition channel — 'has any signup' saturates to "
    "1 for heavy users and leaves no control arm), outcome = user "
    "purchased, propensity e(x) = treated share within activity "
    "quintiles. Within a bucket the IPW sum collapses to "
    "n(x) * (conv_T(x) - conv_C(x)) — exact integer ratios, micro-"
    "quantized before the cross-bucket integer sum. Buckets missing an "
    "arm are trimmed (reported via n_buckets_kept), the standard "
    "positivity guard. Contrast with naive_diff shows the confounding "
    "the stratification removes.",
)
def q336_ipw_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one user-keyed window pass (single shuffle — rn, count
    and outcome share the same partitioning), a user-bounded NTILE
    (at 100 TB: approx-quantile bucket edges broadcast as a range
    predicate, q161's machinery — the oracle keeps NTILE for exact
    bucket parity), then 5-row arithmetic."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id")
    r = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wu.orderBy("ts", "event_id")).alias("rn"),
        F.count(F.lit(1)).over(wu).alias("n_events"),
        F.max(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .over(wu)
        .alias("y"),
    )
    u = r.filter(F.col("rn") == 1).select(
        "user_id",
        "n_events",
        "y",
        F.when(F.col("event_type") == "signup", 1).otherwise(0).alias("t"),
    )
    ub = u.select(
        "t",
        "y",
        F.ntile(_Q336_BUCKETS).over(Window.orderBy("n_events", "user_id")).alias("bkt"),
    )
    b = ub.groupBy("bkt").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("t").cast("long").alias("nt"),
        F.sum(F.col("t") * F.col("y")).cast("long").alias("nty"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("long").alias("ncy"),
    )
    kept = b.filter((F.col("nt") > 0) & (F.col("n") - F.col("nt") > 0))
    term_q6 = F.floor(
        F.col("n")
        * (F.col("nty") * 1.0 / F.col("nt") - F.col("ncy") * 1.0 / (F.col("n") - F.col("nt")))
        * 1_000_000
        + 0.5
    ).cast("long")
    t = kept.select("n", "nt", "nty", "ncy", term_q6.alias("term_q6"))
    return t.agg(
        F.sum("n").cast("long").alias("n_users"),
        F.count(F.lit(1)).cast("int").alias("n_buckets_kept"),
        round_half_up(F.sum("nt") * 1.0 / F.sum("n"), 6).alias("treated_share"),
        round_half_up(
            F.sum("nty") * 1.0 / F.sum("nt")
            - F.sum("ncy") * 1.0 / (F.sum("n") - F.sum("nt")),
            6,
        ).alias("naive_diff"),
        (F.floor(F.sum("term_q6") * 1.0 / F.sum("n") + 0.5) / 1_000_000).alias(
            "ipw_ate"
        ),
    )


# ── q337: z-order vs insert-order file-skipping estimate ────────────────────

_Q337_CHUNKS = 256
# predicate box, valid (non-empty) at every SF: partkey and suppkey both
# start at 1 in TPC-H-shaped data
_Q337_PK = (20, 60)
_Q337_SK = (2, 5)


def _q337_zexpr_sql(bits: int = 16) -> str:
    # same fully-parenthesized interleave as q79's oracle (see
    # plans/curation.py _zorder_oracle_sql for the precedence note)
    terms = []
    for i in range(bits):
        terms.append(f"((((l_partkey & 65535) >> {i}) & 1) << {2 * i + 1})")
        terms.append(f"((((l_suppkey & 65535) >> {i}) & 1) << {2 * i})")
    return " | ".join(terms)


def _q337_sql() -> str:
    plo, phi = _Q337_PK
    slo, shi = _Q337_SK
    branches = []
    for name, order in (
        ("insert", "l_orderkey, l_linenumber"),
        ("zorder", "z, l_orderkey, l_linenumber"),
    ):
        branches.append(f"""
      SELECT '{name}' AS ordering, bkt,
             MIN(l_partkey) AS min_pk, MAX(l_partkey) AS max_pk,
             MIN(l_suppkey) AS min_sk, MAX(l_suppkey) AS max_sk
      FROM (SELECT l_partkey, l_suppkey,
                   NTILE({_Q337_CHUNKS}) OVER (ORDER BY {order}) AS bkt
            FROM src)
      GROUP BY bkt""")
    union = "\n      UNION ALL\n".join(branches)
    return f"""
    WITH src AS (
      SELECT l_partkey, l_suppkey, l_orderkey, l_linenumber,
             ({_q337_zexpr_sql()}) AS z
      FROM lineitem
    ),
    zones AS (
{union}
    ),
    hits AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS rows_matched FROM src
      WHERE l_partkey BETWEEN {plo} AND {phi}
        AND l_suppkey BETWEEN {slo} AND {shi}
    )
    SELECT z.ordering,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(SUM(CASE WHEN z.min_pk <= {phi} AND z.max_pk >= {plo}
                          AND z.min_sk <= {shi} AND z.max_sk >= {slo}
                    THEN 1 ELSE 0 END) AS BIGINT) AS chunks_scanned,
           FLOOR((1 - SUM(CASE WHEN z.min_pk <= {phi} AND z.max_pk >= {plo}
                               AND z.min_sk <= {shi} AND z.max_sk >= {slo}
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*)) * 10000 + 0.5)
             / 10000 AS skip_frac,
           h.rows_matched
    FROM zones z CROSS JOIN hits h
    GROUP BY z.ordering, h.rows_matched
    ORDER BY z.ordering
    """


@register(
    "q337_zorder_skip_estimate",
    _q337_sql(),
    doc="Z-order file-skipping estimate: lay lineitem out as 256 equal "
    "chunks under (a) insert order and (b) Morton order on (l_partkey, "
    "l_suppkey) — q79's interleave — build each chunk's zone map "
    "(min/max of both columns), and count the chunks a 2-D box "
    "predicate must scan under each layout. The MEASURED version of "
    "cluster_by_zorder's pitch: skip_frac(insert) is ~0 because every "
    "chunk spans the full key range, skip_frac(zorder) is the "
    "multi-dimensional locality win — the number that justifies paying "
    "an OPTIMIZE ZORDER rewrite before ad-hoc box queries.",
)
def q337_zorder_skip_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the two NTILE layouts are the one-time layout step (a
    range-partitioned sort at 100 TB, exactly what cluster_by_zorder
    runs); zone maps are 256-row relations; the estimate itself never
    rescans data. The oracle keeps NTILE so chunk assignment is exact
    on both engines."""
    from ..operators.maintenance import zorder_key

    li = load_table(spark, sf_dir, "lineitem")
    src = li.select(
        "l_partkey",
        "l_suppkey",
        "l_orderkey",
        "l_linenumber",
        zorder_key("l_partkey", "l_suppkey").alias("z"),
    )
    plo, phi = _Q337_PK
    slo, shi = _Q337_SK
    # r11 (VERDICT r10 item 5 — the last single-partition global sort):
    # both chunk layouts previously ran NTILE over a GLOBAL
    # Window.orderBy, i.e. two full-table one-task sorts. Two
    # scale-correct paths replace them:
    #  - when the four key columns fit the driver budget
    #    (fits_on_driver), the zone maps are computed DRIVER-SIDE: the
    #    decision inputs are integer columns (sort keys + the two
    #    zone-mapped keys), the output is 2x256 min/max rows, and
    #    exact NTILE over numpy lexsort is the identical integer
    #    algebra (guide §8 — the q398/union-find precedent; measured:
    #    the q396-style machinery alone costs more than the whole query
    #    at sf0.1, the driver pass ~0.1 s);
    #  - above it, q396's range-partitioned exact-NTILE machinery
    #    (explode per-ordering legs, repartitionByRange on the unique
    #    tuple, ranges frozen by localCheckpoint, global ranks from
    #    per-(cand, pid) count offsets + per-range row_number). No task
    #    ever holds more than ~2N/parts rows; chunk assignment is
    #    bit-identical on both paths (the sort tuple is unique, so
    #    ranks have no ties).
    n_rows = src.count()
    if 0 < n_rows and fits_on_driver("q337_zorder_skip_estimate", (n_rows, 4)):
        import numpy as np

        # collect only the four key columns; the Morton key is the same
        # bit interleave computed vectorized in numpy (the 64-term
        # bitwise expression tree measured ~2 s through the Arrow
        # collect path vs ~50 ms here — identical integer ops)
        pdf = src.select(
            "l_partkey", "l_suppkey", "l_orderkey", "l_linenumber"
        ).toPandas()
        okey = pdf["l_orderkey"].to_numpy(np.int64)
        lineno = pdf["l_linenumber"].to_numpy(np.int64)
        pk = pdf["l_partkey"].to_numpy(np.int64)
        sk = pdf["l_suppkey"].to_numpy(np.int64)
        pk16 = pk & 0xFFFF
        sk16 = sk & 0xFFFF
        zv = np.zeros(len(pk), dtype=np.int64)
        for i in range(16):
            zv |= ((pk16 >> i) & 1) << (2 * i + 1)
            zv |= ((sk16 >> i) & 1) << (2 * i)
        qn, rn = divmod(n_rows, _Q337_CHUNKS)
        if qn == 0:  # fewer rows than chunks: one row per chunk
            sizes = np.ones(n_rows, dtype=np.int64)
        else:
            sizes = np.full(_Q337_CHUNKS, qn, dtype=np.int64)
            sizes[:rn] += 1
        starts = np.concatenate(([0], np.cumsum(sizes)[:-1]))
        zrows = []
        for name, order in (
            ("insert", np.lexsort((lineno, okey))),
            ("zorder", np.lexsort((lineno, okey, zv))),
        ):
            pks, sks = pk[order], sk[order]
            for mn_p, mx_p, mn_s, mx_s in zip(
                np.minimum.reduceat(pks, starts).tolist(),
                np.maximum.reduceat(pks, starts).tolist(),
                np.minimum.reduceat(sks, starts).tolist(),
                np.maximum.reduceat(sks, starts).tolist(),
            ):
                zrows.append((name, mn_p, mx_p, mn_s, mx_s))
        zones = spark.createDataFrame(
            zrows,
            "ordering string, min_pk long, max_pk long, "
            "min_sk long, max_sk long",
        )
        return _q337_estimate(src, zones, plo, phi, slo, shi)
    n_parts = max(32, spark.sparkContext.defaultParallelism)
    legs = F.array(
        F.struct(F.lit("insert").alias("cand"), F.lit(0).cast("long").alias("vlong")),
        F.struct(F.lit("zorder").alias("cand"), F.col("z").cast("long").alias("vlong")),
    )
    part = (
        src.select(
            "l_partkey",
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            F.explode(legs).alias("cv"),
        )
        .select(
            "l_partkey",
            "l_suppkey",
            "l_orderkey",
            "l_linenumber",
            "cv.cand",
            "cv.vlong",
        )
        .repartitionByRange(
            n_parts,
            F.col("cand"),
            F.col("vlong"),
            F.col("l_orderkey"),
            F.col("l_linenumber"),
        )
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = {
        (r["cand"], r["pid"]): r["cnt"]
        for r in part.groupBy("cand", "pid")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .collect()
    }  # bounded: <= 2 * n_parts rows
    n = sum(v for (c, _), v in counts.items() if c == "insert")
    off_rows, run = [], {"insert": 0, "zorder": 0}
    for cand, pid in sorted(counts):
        off_rows.append((cand, pid, run[cand]))
        run[cand] += counts[(cand, pid)]
    if off_rows:
        off_df = spark.createDataFrame(off_rows, "cand string, pid int, off long")
    else:  # empty lake: no partitions to offset
        off_df = spark.createDataFrame([], "cand string, pid int, off long")
    wrk = Window.partitionBy("cand", "pid").orderBy(
        "vlong", "l_orderkey", "l_linenumber"
    )
    rank = (F.row_number().over(wrk) + F.col("off")).alias("rank")
    # exact NTILE(b): first (n % b) chunks hold ceil(n/b) rows, the rest
    # floor(n/b) (ANSI/DuckDB semantics; same formula as q396)
    q, r = divmod(n, _Q337_CHUNKS) if n else (0, 0)
    if q == 0:  # fewer rows than chunks: one row per chunk
        chunk = F.col("rank")
    else:
        cut = r * (q + 1)
        chunk = F.when(
            F.col("rank") <= cut, F.floor((F.col("rank") - 1) / (q + 1)) + 1
        ).otherwise(r + F.floor((F.col("rank") - cut - 1) / q) + 1)
    zones = (
        part.join(F.broadcast(off_df), ["cand", "pid"])
        .select("cand", "l_partkey", "l_suppkey", rank)
        .select("cand", "l_partkey", "l_suppkey", chunk.cast("long").alias("bkt"))
        .groupBy("cand", "bkt")
        .agg(
            F.min("l_partkey").alias("min_pk"),
            F.max("l_partkey").alias("max_pk"),
            F.min("l_suppkey").alias("min_sk"),
            F.max("l_suppkey").alias("max_sk"),
        )
        .select(
            F.col("cand").alias("ordering"), "min_pk", "max_pk", "min_sk", "max_sk"
        )
    )
    return _q337_estimate(src, zones, plo, phi, slo, shi)


def _q337_estimate(
    src: DataFrame, zones: DataFrame, plo: int, phi: int, slo: int, shi: int
) -> DataFrame:
    """Skip-fraction estimate shared by the driver-side and distributed
    zone-map paths — identical Spark expressions either way."""
    hits = src.filter(
        F.col("l_partkey").between(plo, phi) & F.col("l_suppkey").between(slo, shi)
    ).agg(F.count(F.lit(1)).cast("long").alias("rows_matched"))
    scanned = F.sum(
        F.when(
            (F.col("min_pk") <= phi)
            & (F.col("max_pk") >= plo)
            & (F.col("min_sk") <= shi)
            & (F.col("max_sk") >= slo),
            1,
        ).otherwise(0)
    ).cast("long")
    return (
        zones.crossJoin(F.broadcast(hits))
        .groupBy("ordering", "rows_matched")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            scanned.alias("chunks_scanned"),
        )
        .select(
            "ordering",
            "n_chunks",
            "chunks_scanned",
            round_half_up(
                1 - F.col("chunks_scanned") * 1.0 / F.col("n_chunks"), 4
            ).alias("skip_frac"),
            "rows_matched",
        )
        .orderBy("ordering")
    )


# ── q338: CUPED variance-reduced A/B readout ─────────────────────────────────

# experiment window split: the events table spans 2024-01-01..01-30, so
# the first half is the pre-period covariate window
_Q338_CUTOFF = "2024-01-16 00:00:00"


@register(
    "q338_cuped_readout",
    f"""
    WITH pu AS (
      SELECT user_id % 2 AS arm,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                            AND ts < TIMESTAMP '{_Q338_CUTOFF}'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                            AND ts >= TIMESTAMP '{_Q338_CUTOFF}'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    g AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x::HUGEINT * x::HUGEINT) AS DOUBLE) AS sxx,
             CAST(SUM(y::HUGEINT * y::HUGEINT) AS DOUBLE) AS syy,
             CAST(SUM(x::HUGEINT * y::HUGEINT) AS DOUBLE) AS sxy
      FROM pu
    ),
    a AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             CAST(SUM(x) AS BIGINT) AS sxa, CAST(SUM(y) AS BIGINT) AS sya
      FROM pu GROUP BY arm
    )
    SELECT a.arm, a.n_users,
           FLOOR(a.sya / 100.0 / a.n_users * 10000 + 0.5) / 10000
             AS mean_post,
           FLOOR((a.sya / 100.0 / a.n_users
                  - ((g.n * g.sxy - g.sx * 1.0 * g.sy)
                     / (g.n * g.sxx - g.sx * 1.0 * g.sx))
                    * (a.sxa / 100.0 / a.n_users - g.sx / 100.0 / g.n))
                 * 10000 + 0.5) / 10000 AS mean_post_cuped,
           FLOOR(((g.n * g.sxy - g.sx * 1.0 * g.sy)
                  / (g.n * g.sxx - g.sx * 1.0 * g.sx)) * 1000000 + 0.5)
             / 1000000 AS theta,
           FLOOR(((g.n * g.sxy - g.sx * 1.0 * g.sy)
                  * (g.n * g.sxy - g.sx * 1.0 * g.sy)
                  / ((g.n * g.sxx - g.sx * 1.0 * g.sx)
                     * (g.n * g.syy - g.sy * 1.0 * g.sy)))
                 * 1000000 + 0.5) / 1000000 AS var_reduction
    FROM a CROSS JOIN g
    ORDER BY a.arm
    """,
    doc="CUPED variance-reduced experiment readout (Deng, Xu, Kohavi & "
    "Walker, WSDM 2013): per-user pre-period purchase revenue is the "
    "covariate X, post-period revenue the metric Y, arms by user_id "
    "parity; theta = cov(X,Y)/var(X) fitted on ALL users, adjusted "
    "mean_a = mean(Y_a) - theta*(mean(X_a) - mean(X)). var_reduction "
    "is the squared X-Y correlation — the fraction of metric variance "
    "the covariate removes, i.e. how much less traffic the same power "
    "needs. Complements q179 (z-test), q316 (A/A DiD), q312 (SRM): "
    "this is the estimator production experimentation platforms "
    "actually ship. Moments are exact integer (cents) sums; theta and "
    "the adjustment are one fixed IEEE expression tree over those "
    "scalars.",
)
def q338_cuped_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable per-user integer aggregate (the
    only corpus-width pass), then a 2-row per-arm rollup crossed with
    one broadcast scalar row. No windows, no per-row floats — CUPED at
    100 TB costs exactly one groupBy(user_id)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    cutoff = F.lit(_Q338_CUTOFF).cast("timestamp")
    is_p = F.col("event_type") == "purchase"
    pu = ev.groupBy((F.col("user_id") % 2).alias("arm"), "user_id").agg(
        F.sum(F.when(is_p & (F.col("ts") < cutoff), cents).otherwise(0))
        .cast("long")
        .alias("x"),
        F.sum(F.when(is_p & (F.col("ts") >= cutoff), cents).otherwise(0))
        .cast("long")
        .alias("y"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    g = pu.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec("x") * dec("x")).cast("double").alias("sxx"),
        F.sum(dec("y") * dec("y")).cast("double").alias("syy"),
        F.sum(dec("x") * dec("y")).cast("double").alias("sxy"),
    )
    a = pu.groupBy("arm").agg(
        F.count(F.lit(1)).cast("long").alias("n_users"),
        F.sum("x").cast("long").alias("sxa"),
        F.sum("y").cast("long").alias("sya"),
    )
    cov = F.col("n") * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy")
    varx = F.col("n") * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx")
    vary = F.col("n") * F.col("syy") - F.col("sy") * 1.0 * F.col("sy")
    # try_divide: a single-user lake has zero pre-period variance —
    # theta/var_reduction undefined (NULL, matching DuckDB x/0)
    theta = F.try_divide(cov, varx)
    mean_post = F.col("sya") / 100.0 / F.col("n_users")
    mean_x_arm = F.col("sxa") / 100.0 / F.col("n_users")
    mean_x_all = F.col("sx") / 100.0 / F.col("n")
    return (
        a.crossJoin(F.broadcast(g))
        .select(
            "arm",
            "n_users",
            round_half_up(mean_post, 4).alias("mean_post"),
            round_half_up(
                mean_post - theta * (mean_x_arm - mean_x_all), 4
            ).alias("mean_post_cuped"),
            round_half_up(theta, 6).alias("theta"),
            round_half_up(
                F.try_divide(cov * cov, varx * vary), 6
            ).alias("var_reduction"),
        )
        .orderBy("arm")
    )


# ── q339: Theil-Sen robust trend estimate of daily volume ────────────────────


@register(
    "q339_theil_sen_trend",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    slopes AS (
      SELECT a.d AS da, b.d AS db,
             (b.c - a.c) * 1.0 / (b.d - a.d) AS slope
      FROM daily a JOIN daily b ON b.d > a.d
    ),
    ranked AS (
      SELECT slope,
             ROW_NUMBER() OVER (ORDER BY slope, da, db) AS rn,
             COUNT(*) OVER () AS np
      FROM slopes
    ),
    med AS (
      SELECT np, AVG(slope) AS ts_slope
      FROM ranked
      WHERE rn IN ((np + 1) // 2, (np + 2) // 2)
      GROUP BY np
    ),
    ols AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             CAST(SUM(d * c) AS BIGINT) AS sdc
      FROM daily
    )
    SELECT o.n AS n_days, CAST(m.np AS BIGINT) AS n_pairs,
           FLOOR(m.ts_slope * 1000000 + 0.5) / 1000000 AS theil_sen_slope,
           FLOOR((o.n * o.sdc - o.sd * 1.0 * o.sc)
                 / (o.n * o.sdd - o.sd * 1.0 * o.sd) * 1000000 + 0.5)
             / 1000000 AS ols_slope
    FROM med m CROSS JOIN ols o
    """,
    doc="Theil-Sen robust trend of daily event volume: the median of "
    "all pairwise day-to-day slopes (Theil 1950, Sen 1968 — 29.3% "
    "breakdown point) next to the OLS slope, so one anomalous day "
    "(q283's target) cannot swing the reported growth rate. The "
    "robust complement to q272's forecast and q314's autocorrelation. "
    "Slopes are integer-count ratios; the median is the exact "
    "order-statistic pair (deterministic (slope,da,db) tie-break), "
    "OLS a fixed expression over integer sums.",
)
def q339_theil_sen_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the corpus-width pass is one per-day count (map-side
    combinable); the pairwise self-join runs on the DAYS relation
    (t days -> t(t-1)/2 pairs, ~66k pairs even for a 365-day year),
    broadcast. The median sorts that bounded relation, never corpus
    rows."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("c"))
    a = daily.select(F.col("d").alias("da"), F.col("c").alias("ca"))
    b = daily.select(F.col("d").alias("db"), F.col("c").alias("cb"))
    slopes = (
        a.join(F.broadcast(b), F.col("db") > F.col("da"))
        .select(
            "da",
            "db",
            ((F.col("cb") - F.col("ca")) * 1.0 / (F.col("db") - F.col("da"))).alias(
                "slope"
            ),
        )
    )
    w = Window.orderBy("slope", "da", "db")
    ranked = slopes.select(
        "slope",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("np"),
    )
    med = (
        ranked.filter(
            (F.col("rn") == F.floor((F.col("np") + 1) / 2))
            | (F.col("rn") == F.floor((F.col("np") + 2) / 2))
        )
        .groupBy("np")
        .agg(F.avg("slope").alias("ts_slope"))
    )
    ols = daily.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("c").cast("long").alias("sc"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum(F.col("d") * F.col("c")).cast("long").alias("sdc"),
    )
    ols_slope = (F.col("n") * F.col("sdc") - F.col("sd") * 1.0 * F.col("sc")) / (
        F.col("n") * F.col("sdd") - F.col("sd") * 1.0 * F.col("sd")
    )
    return med.crossJoin(F.broadcast(ols)).select(
        F.col("n").alias("n_days"),
        F.col("np").cast("long").alias("n_pairs"),
        round_half_up(F.col("ts_slope"), 6).alias("theil_sen_slope"),
        round_half_up(ols_slope, 6).alias("ols_slope"),
    )


# ── q340: Simple Good-Turing frequency smoothing ─────────────────────────────

_Q340_TOPR = 10


@register(
    "q340_good_turing_smoothing",
    f"""
    WITH tok AS (
      SELECT lang,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                t -> t <> '')) AS w
      FROM documents
    ),
    tf AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY lang, w
    ),
    coc AS (
      SELECT lang, c AS r, CAST(COUNT(*) AS BIGINT) AS n_r
      FROM tf GROUP BY lang, c
    ),
    nb AS (
      SELECT lang, r, n_r,
             COALESCE(LAG(r) OVER (PARTITION BY lang ORDER BY r), 0) AS qr,
             LEAD(r) OVER (PARTITION BY lang ORDER BY r) AS tr
      FROM coc
    ),
    z AS (
      SELECT lang, r, n_r,
             n_r / (0.5 * (COALESCE(tr, 2 * r - qr) - qr)) AS zr
      FROM nb
    ),
    qz AS (
      SELECT lang, r, n_r, zr,
             CAST(FLOOR(LN(r * 1.0) * 1000000 + 0.5) AS BIGINT) AS xi,
             CAST(FLOOR(LN(zr) * 1000000 + 0.5) AS BIGINT) AS yi
      FROM z
    ),
    fit AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(xi) AS BIGINT) AS sx, CAST(SUM(yi) AS BIGINT) AS sy,
             CAST(SUM(xi * xi) AS BIGINT) AS sxx,
             CAST(SUM(xi * yi) AS BIGINT) AS sxy
      FROM qz GROUP BY lang
    ),
    ranked AS (
      SELECT lang, r, n_r, zr,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY r) AS rn
      FROM qz
    )
    SELECT a.lang, a.r, a.n_r,
           FLOOR(a.zr * 10000 + 0.5) / 10000 AS z_r,
           FLOOR((f.n * f.sxy - f.sx * 1.0 * f.sy)
                 / (f.n * f.sxx - f.sx * 1.0 * f.sx) * 1000000 + 0.5)
             / 1000000 AS b_slope,
           FLOOR((a.r + 1)
                 * EXP(((f.n * f.sxy - f.sx * 1.0 * f.sy)
                        / (f.n * f.sxx - f.sx * 1.0 * f.sx))
                       * LN((a.r + 1) * 1.0 / a.r))
                 * 10000 + 0.5) / 10000 AS r_star_sgt
    FROM ranked a JOIN fit f ON f.lang = a.lang
    WHERE a.rn <= {_Q340_TOPR}
    ORDER BY a.lang, a.r
    """,
    doc="Simple Good-Turing smoothing (Good 1953; Gale & Sampson 1995) "
    "per language: count-of-counts N_r are rank-smoothed into "
    "Z_r = N_r / (0.5(t - q)) over the NONZERO neighbor gaps (so sparse "
    "count histograms — exactly what this corpus has — stay usable, "
    "where naive (r+1)N_(r+1)/N_r is 0 almost everywhere), then the "
    "log-log regression log Z_r = a + b log r gives the smoothed "
    "adjusted count r* = (r+1)(1+1/r)^b, reported for the 10 smallest "
    "r per language. The estimator q323's unseen_mass is the r=0 case "
    "of, and the principled version of q327's constant discount D. "
    "The per-row (ln r, ln Z_r) pairs are micro-quantized to integers "
    "BEFORE the regression sums (scale cancels in the slope), so the "
    "fit is order-independent; r* is one EXP/LN expression tree over "
    "those integer sums.",
)
def q340_good_turing_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one token explode into a vocabulary-bounded (lang, word)
    count; everything downstream (neighbor windows, regression, output)
    runs on the count-of-counts relation, whose size is bounded by the
    number of DISTINCT frequencies — O(sqrt(tokens)) per language."""
    docs = load_table(spark, sf_dir, "documents")
    tf = (
        docs.select(
            "lang",
            F.explode(
                F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
            ).alias("w"),
        )
        .groupBy("lang", "w")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
    )
    coc = tf.groupBy("lang", F.col("c").alias("r")).agg(
        F.count(F.lit(1)).cast("long").alias("n_r")
    )
    w = Window.partitionBy("lang").orderBy("r")
    nb = coc.select(
        "lang",
        "r",
        "n_r",
        F.coalesce(F.lag("r").over(w), F.lit(0)).alias("qr"),
        F.lead("r").over(w).alias("tr"),
    )
    z = nb.select(
        "lang",
        "r",
        "n_r",
        (
            F.col("n_r")
            / (
                0.5
                * (F.coalesce(F.col("tr"), 2 * F.col("r") - F.col("qr")) - F.col("qr"))
            )
        ).alias("zr"),
    )
    qz = z.select(
        "lang",
        "r",
        "n_r",
        "zr",
        F.floor(F.log(F.col("r") * 1.0) * 1_000_000 + 0.5).cast("long").alias("xi"),
        F.floor(F.log("zr") * 1_000_000 + 0.5).cast("long").alias("yi"),
    )
    fit = qz.groupBy("lang").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("xi").cast("long").alias("sx"),
        F.sum("yi").cast("long").alias("sy"),
        F.sum(F.col("xi") * F.col("xi")).cast("long").alias("sxx"),
        F.sum(F.col("xi") * F.col("yi")).cast("long").alias("sxy"),
    )
    ranked = qz.select(
        "lang", "r", "n_r", "zr", F.row_number().over(w).alias("rn")
    )
    b = (F.col("n") * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx")
    )
    return (
        ranked.filter(F.col("rn") <= _Q340_TOPR)
        .join(F.broadcast(fit), "lang")
        .select(
            "lang",
            "r",
            "n_r",
            round_half_up(F.col("zr"), 4).alias("z_r"),
            round_half_up(b, 6).alias("b_slope"),
            round_half_up(
                (F.col("r") + 1)
                * F.exp(b * F.log((F.col("r") + 1) * 1.0 / F.col("r"))),
                4,
            ).alias("r_star_sgt"),
        )
        .orderBy("lang", "r")
    )


# ── q341: Dunning log-likelihood-ratio collocations ──────────────────────────

_Q341_MIN_COUNT = 5
_Q341_TOPK = 15


def _q341_term_sql(k: str, r: str, c: str, n: str) -> str:
    # one G² cell: k * ln(k*N / (r*c)), 0 when the cell is empty —
    # identical parenthesization on the Spark side
    return (
        f"CASE WHEN {k} > 0 THEN {k} * LN({k} * 1.0 * {n} / ({r} * 1.0 * {c})) "
        f"ELSE 0.0 END"
    )


@register(
    "q341_llr_collocations",
    f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(string_split_regex(lower(text), '[^a-z]+'),
                         t -> t <> '') AS toks
      FROM documents
    ),
    big AS (
      SELECT unnest(toks[1:len(toks)-1]) AS w1,
             unnest(toks[2:len(toks)]) AS w2
      FROM tok WHERE len(toks) >= 2
    ),
    tb AS (
      SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS k11
      FROM big GROUP BY w1, w2
    ),
    s1 AS (SELECT w1, CAST(SUM(k11) AS BIGINT) AS r1 FROM tb GROUP BY w1),
    s2 AS (SELECT w2, CAST(SUM(k11) AS BIGINT) AS c1 FROM tb GROUP BY w2),
    nn AS (SELECT CAST(SUM(k11) AS BIGINT) AS n FROM tb),
    cells AS (
      SELECT t.w1, t.w2, t.k11, s1.r1, s2.c1, nn.n,
             s1.r1 - t.k11 AS k12, s2.c1 - t.k11 AS k21,
             nn.n - s1.r1 - s2.c1 + t.k11 AS k22
      FROM tb t JOIN s1 USING (w1) JOIN s2 USING (w2) CROSS JOIN nn
      WHERE t.k11 >= {_Q341_MIN_COUNT}
    )
    SELECT w1, w2, k11, r1 AS c_w1, c1 AS c_w2,
           FLOOR(2.0 * ({_q341_term_sql('k11', 'r1', 'c1', 'n')}
                        + {_q341_term_sql('k12', 'r1', '(n - c1)', 'n')}
                        + {_q341_term_sql('k21', '(n - r1)', 'c1', 'n')}
                        + {_q341_term_sql('k22', '(n - r1)', '(n - c1)', 'n')})
                 * 10000 + 0.5) / 10000 AS g2
    FROM cells
    ORDER BY g2 DESC, w1, w2
    LIMIT {_Q341_TOPK}
    """,
    doc="Dunning log-likelihood-ratio collocation extraction (Dunning "
    "1993): for every bigram with support >= 5, the G² statistic of "
    "its 2x2 contingency table (bigram vs word marginals), top-15. "
    "The statistically-grounded upgrade of q287's PMI (which "
    "over-ranks rare pairs) and q98's regex collocations — G² is "
    "exactly the ranking LM tokenizer-vocabulary and stop-phrase "
    "decisions should use at corpus scale. Each G² is a fixed IEEE "
    "expression over integer counts; no float ever crosses an "
    "aggregation boundary.",
)
def q341_llr_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: bigram counting is map-side combinable and vocabulary²-
    bounded (in practice zipf-bounded far below that); the marginal
    relations are re-aggregations of the bigram relation itself
    (broadcast), so the corpus text is read exactly once. Top-k via
    sort on the surviving >=min_count cells only."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "").alias(
            "toks"
        )
    )
    n = F.size("toks")
    big = (
        tok.filter(n >= 2)
        .select(
            F.explode(
                F.arrays_zip(
                    F.slice("toks", 1, n - 1).alias("w1"),
                    F.slice("toks", 2, n - 1).alias("w2"),
                )
            ).alias("p")
        )
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
    )
    tb = big.groupBy("w1", "w2").agg(F.count(F.lit(1)).cast("long").alias("k11"))
    s1 = tb.groupBy("w1").agg(F.sum("k11").cast("long").alias("r1"))
    s2 = tb.groupBy("w2").agg(F.sum("k11").cast("long").alias("c1"))
    nn = tb.agg(F.sum("k11").cast("long").alias("n"))

    def term(k, r, c):
        return F.when(
            k > 0, k * F.log(k * 1.0 * F.col("n") / (r * 1.0 * c))
        ).otherwise(0.0)

    cells = (
        tb.filter(F.col("k11") >= _Q341_MIN_COUNT)
        .join(F.broadcast(s1), "w1")
        .join(F.broadcast(s2), "w2")
        .crossJoin(F.broadcast(nn))
        .select(
            "w1",
            "w2",
            "k11",
            "r1",
            "c1",
            "n",
            (F.col("r1") - F.col("k11")).alias("k12"),
            (F.col("c1") - F.col("k11")).alias("k21"),
            (F.col("n") - F.col("r1") - F.col("c1") + F.col("k11")).alias("k22"),
        )
    )
    g2 = 2.0 * (
        term(F.col("k11"), F.col("r1"), F.col("c1"))
        + term(F.col("k12"), F.col("r1"), F.col("n") - F.col("c1"))
        + term(F.col("k21"), F.col("n") - F.col("r1"), F.col("c1"))
        + term(F.col("k22"), F.col("n") - F.col("r1"), F.col("n") - F.col("c1"))
    )
    return (
        cells.select(
            "w1",
            "w2",
            "k11",
            F.col("r1").alias("c_w1"),
            F.col("c1").alias("c_w2"),
            round_half_up(g2, 4).alias("g2"),
        )
        .orderBy(F.desc("g2"), "w1", "w2")
        .limit(_Q341_TOPK)
    )


# ── q342: James-Stein / empirical-Bayes shrunk segment means ─────────────────

# per-cell float terms are milli-quantized to integers BEFORE the
# per-segment sum (the q327 discipline) so no float crosses an
# aggregation boundary — cell terms are fixed expression trees, the
# segment rollup is an exact integer sum
_Q342_Q = 1000


@register(
    "q342_shrunk_cell_means",
    f"""
    WITH cells AS (
      SELECT c_mktsegment AS seg, c_nationkey AS nat,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS su,
             CAST(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)::HUGEINT
                      * CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)::HUGEINT)
                  AS DOUBLE) AS ssq
      FROM customer GROUP BY 1, 2
    ),
    gm AS (
      SELECT seg, SUM(su) * 1.0 / SUM(n_g) AS gm_c FROM cells GROUP BY seg
    ),
    seg AS (
      SELECT c.seg, CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(c.n_g) AS BIGINT) AS n_tot,
             CAST(SUM(c.su) AS BIGINT) AS su_tot,
             CAST(SUM(CAST(FLOOR((c.ssq - c.su * 1.0 * c.su / c.n_g)
                                 * {_Q342_Q} + 0.5) AS BIGINT))
                  AS BIGINT) AS wq,
             CAST(SUM(CAST(FLOOR(c.n_g * (c.su * 1.0 / c.n_g - g.gm_c)
                                       * (c.su * 1.0 / c.n_g - g.gm_c)
                                 * {_Q342_Q} + 0.5) AS BIGINT))
                  AS BIGINT) AS bq,
             CAST(SUM(c.n_g * c.n_g) AS BIGINT) AS sum_n2
      FROM cells c JOIN gm g ON g.seg = c.seg
      GROUP BY c.seg
    )
    SELECT c.seg, c.nat, c.n_g,
           FLOOR(c.su * 1.0 / c.n_g / 100.0 * 10000 + 0.5) / 10000 AS raw_mean,
           FLOOR(CASE WHEN GREATEST((s.bq / {_Q342_Q}.0
                                     - (s.k - 1) * (s.wq / {_Q342_Q}.0
                                                    / (s.n_tot - s.k)))
                                    / (s.n_tot - s.sum_n2 * 1.0 / s.n_tot),
                                    0.0) = 0.0
                 THEN 0.0
                 ELSE GREATEST((s.bq / {_Q342_Q}.0
                                - (s.k - 1) * (s.wq / {_Q342_Q}.0
                                               / (s.n_tot - s.k)))
                               / (s.n_tot - s.sum_n2 * 1.0 / s.n_tot), 0.0)
                      / (GREATEST((s.bq / {_Q342_Q}.0
                                   - (s.k - 1) * (s.wq / {_Q342_Q}.0
                                                  / (s.n_tot - s.k)))
                                  / (s.n_tot - s.sum_n2 * 1.0 / s.n_tot), 0.0)
                         + s.wq / {_Q342_Q}.0 / (s.n_tot - s.k) / c.n_g)
                 END * 10000 + 0.5) / 10000 AS shrink_w,
           FLOOR((s.su_tot * 1.0 / s.n_tot
                  + CASE WHEN GREATEST((s.bq / {_Q342_Q}.0
                                        - (s.k - 1) * (s.wq / {_Q342_Q}.0
                                                       / (s.n_tot - s.k)))
                                       / (s.n_tot - s.sum_n2 * 1.0 / s.n_tot),
                                       0.0) = 0.0
                    THEN 0.0
                    ELSE GREATEST((s.bq / {_Q342_Q}.0
                                   - (s.k - 1) * (s.wq / {_Q342_Q}.0
                                                  / (s.n_tot - s.k)))
                                  / (s.n_tot - s.sum_n2 * 1.0 / s.n_tot), 0.0)
                         / (GREATEST((s.bq / {_Q342_Q}.0
                                      - (s.k - 1) * (s.wq / {_Q342_Q}.0
                                                     / (s.n_tot - s.k)))
                                     / (s.n_tot - s.sum_n2 * 1.0 / s.n_tot),
                                     0.0)
                            + s.wq / {_Q342_Q}.0 / (s.n_tot - s.k) / c.n_g)
                    END
                    * (c.su * 1.0 / c.n_g - s.su_tot * 1.0 / s.n_tot))
                 / 100.0 * 10000 + 0.5) / 10000 AS shrunk_mean
    FROM cells c JOIN seg s ON s.seg = c.seg
    ORDER BY c.seg, c.nat
    """,
    doc="Empirical-Bayes (James-Stein / normal-normal MoM) shrinkage of "
    "per-(segment, nation) mean account balance toward the segment "
    "mean: tau² from the method-of-moments one-way random-effects "
    "decomposition (clamped at 0), per-cell weight "
    "w_g = tau²/(tau² + s²/n_g), shrunk = grand + w_g(raw - grand). "
    "The winner's-curse fix for every small-cell leaderboard the "
    "engine emits (q270 ranks by Wilson bounds — binomial; this is "
    "the continuous-metric counterpart): thin cells collapse to the "
    "segment mean, fat cells keep their data. Cell moments are exact "
    "integer (cents) sums; the two float sums of squares are "
    "milli-quantized per CELL before an exact integer rollup, so the "
    "segment statistics are order-independent.",
)
def q342_shrunk_cell_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one groupBy(seg, nation) integer aggregate over customer
    (map-side combinable), a |segments|-row rollup of the bounded cell
    relation (two passes over cells only, for the exact between-cell
    term), one broadcast join back. Nothing after the first aggregate
    touches customer rows."""
    cust = load_table(spark, sf_dir, "customer")
    cents = F.floor(F.col("c_acctbal") * 100 + 0.5).cast("long")
    dec = lambda c: c.cast("decimal(38,0)")
    cells = cust.groupBy(
        F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_g"),
        F.sum(cents).cast("long").alias("su"),
        F.sum(dec(cents) * dec(cents)).cast("double").alias("ssq"),
    )
    gm = cells.groupBy("seg").agg(
        (F.sum("su") * 1.0 / F.sum("n_g")).alias("gm_c")
    )
    dev = F.col("su") * 1.0 / F.col("n_g") - F.col("gm_c")
    seg = (
        cells.join(F.broadcast(gm), "seg")
        .groupBy("seg")
        .agg(
            F.count(F.lit(1)).cast("long").alias("k"),
            F.sum("n_g").cast("long").alias("n_tot"),
            F.sum("su").cast("long").alias("su_tot"),
            F.sum(
                F.floor(
                    (F.col("ssq") - F.col("su") * 1.0 * F.col("su") / F.col("n_g"))
                    * _Q342_Q
                    + 0.5
                ).cast("long")
            )
            .cast("long")
            .alias("wq"),
            F.sum(
                F.floor(F.col("n_g") * dev * dev * _Q342_Q + 0.5).cast("long")
            )
            .cast("long")
            .alias("bq"),
            F.sum(F.col("n_g") * F.col("n_g")).cast("long").alias("sum_n2"),
        )
    )
    # try_divide: a one-customer segment has zero within dof
    # (n_tot == k) and a zero tau2 denominator — shrinkage undefined
    s2w = F.try_divide(F.col("wq") / float(_Q342_Q), F.col("n_tot") - F.col("k"))
    tau2 = F.greatest(
        F.try_divide(
            F.col("bq") / float(_Q342_Q) - (F.col("k") - 1) * s2w,
            F.col("n_tot") - F.col("sum_n2") * 1.0 / F.col("n_tot"),
        ),
        F.lit(0.0),
    )
    w_g = F.when(tau2 == 0.0, 0.0).otherwise(tau2 / (tau2 + s2w / F.col("n_g")))
    grand_mean_c = F.col("su_tot") * 1.0 / F.col("n_tot")
    raw_mean_c = F.col("su") * 1.0 / F.col("n_g")
    return (
        cells.join(F.broadcast(seg), "seg")
        .select(
            "seg",
            "nat",
            "n_g",
            round_half_up(raw_mean_c / 100.0, 4).alias("raw_mean"),
            round_half_up(w_g, 4).alias("shrink_w"),
            round_half_up(
                (grand_mean_c + w_g * (raw_mean_c - grand_mean_c)) / 100.0, 4
            ).alias("shrunk_mean"),
        )
        .orderBy("seg", "nat")
    )


# ── q343: Simpson's-paradox detector ─────────────────────────────────────────

# treatment: deep discount; outcome: high-quantity line; strata: ship month
_Q343_DISC = 0.05
_Q343_QTY = 26


@register(
    "q343_simpson_paradox",
    f"""
    WITH base AS (
      SELECT CAST(month(l_shipdate) AS INTEGER) AS stratum,
             CASE WHEN l_discount >= {_Q343_DISC} THEN 1 ELSE 0 END AS t,
             CASE WHEN l_quantity >= {_Q343_QTY} THEN 1 ELSE 0 END AS o
      FROM lineitem
    ),
    s AS (
      SELECT stratum,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(t * o) AS BIGINT) AS o_t,
             CAST(SUM(1 - t) AS BIGINT) AS n_c,
             CAST(SUM((1 - t) * o) AS BIGINT) AS o_c
      FROM base GROUP BY stratum
    ),
    g AS (
      SELECT CAST(SUM(n_t) AS BIGINT) AS gn_t, CAST(SUM(o_t) AS BIGINT) AS go_t,
             CAST(SUM(n_c) AS BIGINT) AS gn_c, CAST(SUM(o_c) AS BIGINT) AS go_c
      FROM s
    )
    SELECT s.stratum,
           s.n_t + s.n_c AS n_rows,
           FLOOR((s.o_t * 1.0 / s.n_t - s.o_c * 1.0 / s.n_c) * 1000000 + 0.5)
             / 1000000 AS diff_stratum,
           FLOOR((g.go_t * 1.0 / g.gn_t - g.go_c * 1.0 / g.gn_c)
                 * 1000000 + 0.5) / 1000000 AS diff_aggregate,
           CASE WHEN (s.o_t * 1.0 / s.n_t - s.o_c * 1.0 / s.n_c)
                     * (g.go_t * 1.0 / g.gn_t - g.go_c * 1.0 / g.gn_c) < 0
                THEN 0 ELSE 1 END AS sign_agrees
    FROM s CROSS JOIN g
    ORDER BY s.stratum
    """,
    doc="Simpson's-paradox detector: the association between deep "
    "discounting and high-quantity lines, measured as a risk "
    "difference, computed both AGGREGATE and WITHIN each ship-month "
    "stratum — a stratum whose sign disagrees with the aggregate "
    "(sign_agrees = 0) is the paradox signature, meaning the pooled "
    "number every dashboard shows is confounded by mix shift. The "
    "audit that decides whether q179/q333's pooled tests may be read "
    "at face value or must be stratified like q336. Pure integer "
    "2x2 counts per stratum; risk differences are fixed trees.",
)
def q343_simpson_paradox(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable groupBy(month) over lineitem with
    conditional integer sums, one 12-row rollup crossed back broadcast.
    The detector never rescans rows to compare strata."""
    li = load_table(spark, sf_dir, "lineitem")
    t = F.when(F.col("l_discount") >= _Q343_DISC, 1).otherwise(0)
    o = F.when(F.col("l_quantity") >= _Q343_QTY, 1).otherwise(0)
    s = (
        li.select(
            F.month("l_shipdate").cast("int").alias("stratum"),
            t.alias("t"),
            o.alias("o"),
        )
        .groupBy("stratum")
        .agg(
            F.sum("t").cast("long").alias("n_t"),
            F.sum(F.col("t") * F.col("o")).cast("long").alias("o_t"),
            F.sum(1 - F.col("t")).cast("long").alias("n_c"),
            F.sum((1 - F.col("t")) * F.col("o")).cast("long").alias("o_c"),
        )
    )
    g = s.agg(
        F.sum("n_t").cast("long").alias("gn_t"),
        F.sum("o_t").cast("long").alias("go_t"),
        F.sum("n_c").cast("long").alias("gn_c"),
        F.sum("o_c").cast("long").alias("go_c"),
    )
    # try_divide: a stratum (or lake) with an empty arm has no rate
    ds = F.try_divide(F.col("o_t") * 1.0, F.col("n_t")) - F.try_divide(
        F.col("o_c") * 1.0, F.col("n_c")
    )
    da = F.try_divide(F.col("go_t") * 1.0, F.col("gn_t")) - F.try_divide(
        F.col("go_c") * 1.0, F.col("gn_c")
    )
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            "stratum",
            (F.col("n_t") + F.col("n_c")).alias("n_rows"),
            round_half_up(ds, 6).alias("diff_stratum"),
            round_half_up(da, 6).alias("diff_aggregate"),
            F.when(ds * da < 0, 0).otherwise(1).alias("sign_agrees"),
        )
        .orderBy("stratum")
    )


# ── q344: Kendall tau-b concordance between two rankings ─────────────────────


@register(
    "q344_kendall_tau",
    """
    WITH m AS (
      SELECT c.c_nationkey AS nat,
             CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS rev,
             CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_cust
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey
    ),
    p AS (
      SELECT a.rev AS xa, a.n_cust AS ya, b.rev AS xb, b.n_cust AS yb
      FROM m a JOIN m b ON b.nat > a.nat
    ),
    c AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n0,
             CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) > 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN (xa - xb) * (ya - yb) < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS disc,
             CAST(SUM(CASE WHEN xa = xb THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(SUM(CASE WHEN ya = yb THEN 1 ELSE 0 END) AS BIGINT) AS ty
      FROM p
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM m) AS n_items,
           n0 AS n_pairs, conc AS concordant, disc AS discordant,
           tx AS tied_x, ty AS tied_y,
           FLOOR((conc - disc) * 1.0
                 / SQRT((n0 - tx) * 1.0 * (n0 - ty)) * 1000000 + 0.5)
             / 1000000 AS tau_b
    FROM c
    """,
    doc="Kendall tau-b rank concordance between two per-nation metrics "
    "— total order revenue vs customer count — the tie-corrected "
    "concordant-minus-discordant statistic. Complements q299 "
    "(Spearman, moment-based on midranks) and q181 (RBO, top-weighted "
    "set overlap): tau-b is the robust pairwise-inversion view, the "
    "right check for 'does ordering segments by cheap metric X "
    "reproduce ordering by expensive metric Y'. Every comparison is "
    "an exact integer sign test on a bounded pair relation.",
)
def q344_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one join-aggregate builds the per-nation metric relation
    (bounded by the entity taxonomy, ~10²); the pairwise self-join runs
    on that bounded relation only, broadcast. Corpus rows are touched
    exactly once."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    cents = F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long")
    m = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy(F.col("c_nationkey").alias("nat"))
        .agg(
            F.sum(cents).cast("long").alias("rev"),
            F.countDistinct("c_custkey").cast("long").alias("n_cust"),
        )
    )
    a = m.select(
        F.col("nat").alias("na"), F.col("rev").alias("xa"), F.col("n_cust").alias("ya")
    )
    b = m.select(
        F.col("nat").alias("nb"), F.col("rev").alias("xb"), F.col("n_cust").alias("yb")
    )
    p = a.join(F.broadcast(b), F.col("nb") > F.col("na"))
    sgn = (F.col("xa") - F.col("xb")) * (F.col("ya") - F.col("yb"))
    c = p.agg(
        F.count(F.lit(1)).cast("long").alias("n0"),
        F.sum(F.when(sgn > 0, 1).otherwise(0)).cast("long").alias("conc"),
        F.sum(F.when(sgn < 0, 1).otherwise(0)).cast("long").alias("disc"),
        F.sum(F.when(F.col("xa") == F.col("xb"), 1).otherwise(0))
        .cast("long")
        .alias("tx"),
        F.sum(F.when(F.col("ya") == F.col("yb"), 1).otherwise(0))
        .cast("long")
        .alias("ty"),
    )
    n_items = m.agg(F.count(F.lit(1)).cast("long").alias("n_items"))
    tau_b = (F.col("conc") - F.col("disc")) * 1.0 / F.sqrt(
        (F.col("n0") - F.col("tx")) * 1.0 * (F.col("n0") - F.col("ty"))
    )
    return c.crossJoin(F.broadcast(n_items)).select(
        "n_items",
        F.col("n0").alias("n_pairs"),
        F.col("conc").alias("concordant"),
        F.col("disc").alias("discordant"),
        F.col("tx").alias("tied_x"),
        F.col("ty").alias("tied_y"),
        round_half_up(tau_b, 6).alias("tau_b"),
    )


# ── q345: functional-dependency discovery audit ──────────────────────────────

# candidate FDs to profile: (table, lhs, rhs) — a mix of holding and
# violated dependencies across the lake
_Q345_CANDIDATES = [
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("orders", "o_custkey", "o_orderstatus"),
    ("lineitem", "l_partkey", "l_suppkey"),
    ("documents", "source", "lang"),
]


def _q345_branch_sql(table: str, lhs: str, rhs: str) -> str:
    return f"""
      SELECT '{table}.{lhs}->{rhs}' AS fd,
             CAST(COUNT(*) AS BIGINT) AS lhs_groups,
             CAST(SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS violating_groups,
             CAST(SUM(n) AS BIGINT) AS n_rows,
             CAST(SUM(n - mx) AS BIGINT) AS repair_rows,
             CASE WHEN SUM(CASE WHEN n_rhs > 1 THEN 1 ELSE 0 END) = 0
                  THEN 1 ELSE 0 END AS holds,
             FLOOR(SUM(n - mx) * 1.0 / SUM(n) * 1000000 + 0.5) / 1000000
               AS g3_error
      FROM (
        SELECT {lhs} AS l, CAST(COUNT(*) AS BIGINT) AS n_rhs,
               CAST(SUM(cnt) AS BIGINT) AS n,
               CAST(MAX(cnt) AS BIGINT) AS mx
        FROM (SELECT {lhs}, {rhs}, COUNT(*) AS cnt
              FROM {table} GROUP BY {lhs}, {rhs})
        GROUP BY {lhs}
      )"""


@register(
    "q345_fd_discovery_audit",
    "\n      UNION ALL\n".join(
        _q345_branch_sql(t, l, r) for t, l, r in _Q345_CANDIDATES
    )
    + "\n    ORDER BY fd",
    doc="Functional-dependency discovery audit over candidate column "
    "pairs: for each X->Y, the number of X groups, how many see more "
    "than one Y, and the exact g3 error (Kivinen & Mannila 1995 — the "
    "minimum fraction of rows to delete for the FD to hold, via the "
    "per-group modal Y). The schema-inference primitive data catalogs "
    "run at onboarding: holds=1 marks join keys and denormalization-"
    "safe columns, small g3 marks dirty-but-intended dependencies "
    "(q243's golden-record repair target), large g3 marks genuine "
    "many-to-many. Pure integer counts end to end.",
)
def q345_fd_discovery_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: per candidate one (lhs, rhs) count (map-side combinable)
    re-aggregated per lhs — both shuffles on the lhs key, no row ever
    leaves its group. Candidates union bounded summary rows. The modal
    count uses MAX over the (lhs, rhs) relation, never a sort."""
    out = None
    for table, lhs, rhs in _Q345_CANDIDATES:
        tbl = load_table(spark, sf_dir, table)
        pair = tbl.groupBy(F.col(lhs).alias("l"), F.col(rhs).alias("r")).agg(
            F.count(F.lit(1)).cast("long").alias("cnt")
        )
        per_lhs = pair.groupBy("l").agg(
            F.count(F.lit(1)).cast("long").alias("n_rhs"),
            F.sum("cnt").cast("long").alias("n"),
            F.max("cnt").cast("long").alias("mx"),
        )
        branch = per_lhs.agg(
            F.count(F.lit(1)).cast("long").alias("lhs_groups"),
            F.sum(F.when(F.col("n_rhs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("violating_groups"),
            F.sum("n").cast("long").alias("n_rows"),
            F.sum(F.col("n") - F.col("mx")).cast("long").alias("repair_rows"),
        ).select(
            F.lit(f"{table}.{lhs}->{rhs}").alias("fd"),
            "lhs_groups",
            "violating_groups",
            "n_rows",
            "repair_rows",
            F.when(F.col("violating_groups") == 0, 1).otherwise(0).alias("holds"),
            round_half_up(
                F.col("repair_rows") * 1.0 / F.col("n_rows"), 6
            ).alias("g3_error"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out.orderBy("fd")


# ── q346: Cochran-Armitage trend test ────────────────────────────────────────


@register(
    "q346_cochran_armitage_trend",
    """
    WITH lv AS (
      SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS s,
             CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      FROM lineitem
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS r,
             CAST(COUNT(DISTINCT s) AS BIGINT) AS n_levels,
             CAST(SUM(s) AS BIGINT) AS sns,
             CAST(SUM(y * s) AS BIGINT) AS srs,
             CAST(SUM(s * s) AS BIGINT) AS snss
      FROM lv
    )
    SELECT n AS n_rows, r AS n_events, n_levels,
           FLOOR((srs - r * 1.0 * sns / n) * 1000000 + 0.5) / 1000000
             AS trend_t,
           FLOOR((srs - r * 1.0 * sns / n)
                 / SQRT((r * 1.0 / n) * (1 - r * 1.0 / n)
                        * (snss - sns * 1.0 * sns / n))
                 * 1000000 + 0.5) / 1000000 AS z_stat
    FROM agg
    """,
    doc="Cochran-Armitage trend test (Cochran 1954; Armitage 1955): is "
    "the return rate MONOTONICALLY associated with the ordered discount "
    "level (scores = discount cents, 0..10)? T = sum s_i(r_i - n_i R/N) "
    "collapses to per-row integer sums; z = T / sqrt(p(1-p)(sum n s^2 "
    "- (sum n s)^2/N)), the large-sample form. The DOSE-RESPONSE "
    "upgrade of q179's two-proportion z-test and the ordered "
    "complement of q245's unordered chi^2 — a trend across all 11 "
    "levels is evidence an effect is real that pairwise tests dilute. "
    "Five integer sums, one scalar tree.",
)
def q346_cochran_armitage_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: a single map-side-combinable aggregate over lineitem —
    no grouping, no shuffle beyond the final 1-row combine. The
    statistic never materializes per-level rows at all."""
    li = load_table(spark, sf_dir, "lineitem")
    s = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    agg = li.select(s.alias("s"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("r"),
        F.countDistinct("s").cast("long").alias("n_levels"),
        F.sum("s").cast("long").alias("sns"),
        F.sum(F.col("y") * F.col("s")).cast("long").alias("srs"),
        F.sum(F.col("s") * F.col("s")).cast("long").alias("snss"),
    )
    t = F.col("srs") - F.col("r") * 1.0 * F.col("sns") / F.col("n")
    p = F.col("r") * 1.0 / F.col("n")
    # try_divide: one row (or all-tied scores) has zero variance -> z NULL
    z = F.try_divide(
        t,
        F.sqrt(
            p
            * (1 - p)
            * (F.col("snss") - F.col("sns") * 1.0 * F.col("sns") / F.col("n"))
        ),
    )
    return agg.select(
        F.col("n").alias("n_rows"),
        F.col("r").alias("n_events"),
        "n_levels",
        round_half_up(t, 6).alias("trend_t"),
        round_half_up(z, 6).alias("z_stat"),
    )


# ── q347: quantile treatment effects (decile QTE) ────────────────────────────


@register(
    "q347_quantile_treatment_effect",
    """
    WITH u AS (
      SELECT user_id % 2 AS arm,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    q AS (
      SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
             quantile_disc(y, 0.1) AS d1, quantile_disc(y, 0.2) AS d2,
             quantile_disc(y, 0.3) AS d3, quantile_disc(y, 0.4) AS d4,
             quantile_disc(y, 0.5) AS d5, quantile_disc(y, 0.6) AS d6,
             quantile_disc(y, 0.7) AS d7, quantile_disc(y, 0.8) AS d8,
             quantile_disc(y, 0.9) AS d9
      FROM u GROUP BY arm
    ),
    unp AS (
      SELECT arm, n_users,
             CAST(substr(dname, 2, 1) AS INTEGER) AS decile, q_cents
      FROM q UNPIVOT (q_cents FOR dname IN (d1, d2, d3, d4, d5, d6, d7, d8, d9))
    )
    SELECT a.decile,
           a.n_users AS n_treated, b.n_users AS n_control,
           a.q_cents AS q_treated_cents, b.q_cents AS q_control_cents,
           a.q_cents - b.q_cents AS qte_cents
    FROM (SELECT * FROM unp WHERE arm = 1) a
    JOIN (SELECT * FROM unp WHERE arm = 0) b ON b.decile = a.decile
    ORDER BY a.decile
    """,
    doc="Quantile treatment effects: per-user purchase revenue deciles "
    "(PERCENTILE_DISC — actual population values, q130 semantics) in "
    "each arm (user-parity assignment), differenced per decile. The "
    "distributional readout q338's CUPED mean cannot give: a treatment "
    "that moves the median but not the p90 (or only the whales) has a "
    "signature here and is invisible in the mean. Everything is exact "
    "integer cents — no interpolation, no floats anywhere.",
)
def q347_quantile_treatment_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-user integer aggregate, then exact per-arm order
    statistics (2 groups; at 100 TB swap percentile_disc for
    approx_percentile with documented rank error — q80's path), then a
    9-row decile join. No corpus-width sort: the quantile runs inside
    the 2-group aggregate."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    u = ev.groupBy((F.col("user_id") % 2).alias("arm"), "user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("long")
        .alias("y")
    )
    aggs = [F.count(F.lit(1)).cast("long").alias("n_users")] + [
        F.expr(f"percentile_disc(0.{d}) WITHIN GROUP (ORDER BY y)").alias(f"d{d}")
        for d in range(1, 10)
    ]
    q = u.groupBy("arm").agg(*aggs)
    unp = q.unpivot(
        ["arm", "n_users"],
        [f"d{d}" for d in range(1, 10)],
        "decile_name",
        "q_cents",
    ).select(
        "arm",
        "n_users",
        F.substring("decile_name", 2, 1).cast("int").alias("decile"),
        # Spark's percentile_disc returns DOUBLE even over integer input;
        # the values are exact integer cents, so the cast is lossless
        F.col("q_cents").cast("long").alias("q_cents"),
    )
    a = unp.filter(F.col("arm") == 1).select(
        "decile",
        F.col("n_users").alias("n_treated"),
        F.col("q_cents").alias("q_treated_cents"),
    )
    b = unp.filter(F.col("arm") == 0).select(
        "decile",
        F.col("n_users").alias("n_control"),
        F.col("q_cents").alias("q_control_cents"),
    )
    return (
        a.join(b, "decile")
        .select(
            "decile",
            "n_treated",
            "n_control",
            "q_treated_cents",
            "q_control_cents",
            (F.col("q_treated_cents") - F.col("q_control_cents")).alias("qte_cents"),
        )
        .orderBy("decile")
    )


# ── q348: additive seasonal decomposition of daily volume ────────────────────


@register(
    "q348_seasonal_decompose",
    """
    WITH daily AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    tr AS (
      SELECT d, v,
             CAST(SUM(v) OVER w AS BIGINT) AS s7,
             CAST(COUNT(*) OVER w AS BIGINT) AS c7
      FROM daily
      WINDOW w AS (ORDER BY d ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    det AS (
      SELECT d, v, d % 7 AS wd, s7 / 7.0 AS trend,
             CAST(FLOOR((v - s7 / 7.0) * 1000000 + 0.5) AS BIGINT) AS detq
      FROM tr WHERE c7 = 7
    ),
    seas AS (
      SELECT wd, CAST(SUM(detq) AS BIGINT) AS sq,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM det GROUP BY wd
    )
    SELECT det.d AS day_idx, det.wd AS weekday, det.v AS volume,
           FLOOR(det.trend * 10000 + 0.5) / 10000 AS trend,
           FLOOR(seas.sq * 1.0 / seas.cnt / 1000000 * 10000 + 0.5) / 10000
             AS seasonal,
           FLOOR((det.detq / 1000000.0 - seas.sq * 1.0 / seas.cnt / 1000000)
                 * 10000 + 0.5) / 10000 AS remainder
    FROM det JOIN seas ON seas.wd = det.wd
    ORDER BY det.d
    """,
    doc="Classical additive seasonal decomposition of daily event "
    "volume: trend = centered 7-day moving average (full windows "
    "only), seasonal = per-weekday mean of the detrended series, "
    "remainder = what neither explains — the series triage that says "
    "whether q283's anomalies / q305's changepoints should run on raw "
    "or deseasonalized volume, and the day-level view behind q317's "
    "single seasonality-strength number. Weekday is day_idx %% 7 "
    "(engine-independent, no locale). Detrended values are "
    "micro-quantized per DAY before the per-weekday integer sum, so "
    "the seasonal means are order-independent.",
)
def q348_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-day count over the event log; every window and
    join after that runs on the DAYS relation (365 rows/year — the
    single-partition window is bounded by the calendar, and the
    weekday join broadcasts 7 rows)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    w = Window.orderBy("d").rowsBetween(-3, 3)
    tr = daily.select(
        "d",
        "v",
        F.sum("v").over(w).cast("long").alias("s7"),
        F.count(F.lit(1)).over(w).cast("long").alias("c7"),
    )
    det = tr.filter(F.col("c7") == 7).select(
        "d",
        "v",
        (F.col("d") % 7).alias("wd"),
        (F.col("s7") / 7.0).alias("trend"),
        F.floor((F.col("v") - F.col("s7") / 7.0) * 1_000_000 + 0.5)
        .cast("long")
        .alias("detq"),
    )
    seas = det.groupBy("wd").agg(
        F.sum("detq").cast("long").alias("sq"),
        F.count(F.lit(1)).cast("long").alias("cnt"),
    )
    seasonal = F.col("sq") * 1.0 / F.col("cnt") / 1_000_000
    return (
        det.join(F.broadcast(seas), "wd")
        .select(
            F.col("d").alias("day_idx"),
            F.col("wd").alias("weekday"),
            F.col("v").alias("volume"),
            round_half_up(F.col("trend"), 4).alias("trend"),
            round_half_up(seasonal, 4).alias("seasonal"),
            round_half_up(F.col("detq") / 1_000_000.0 - seasonal, 4).alias(
                "remainder"
            ),
        )
        .orderBy("day_idx")
    )


# ── q349: clustering-agreement scorecard (ARI + B-cubed) ─────────────────────


def _q349_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    clusters = _REGISTRY["q68_dup_clusters"].sql
    return f"""
    WITH cl AS ({clusters}),
    pred AS (
      SELECT d.doc_id,
             COALESCE(c.cluster_id, d.doc_id) AS lp
      FROM documents d LEFT JOIN cl c ON c.doc_id = d.doc_id
    ),
    truth AS (
      SELECT doc_id,
             MIN(doc_id) OVER (PARTITION BY md5(trim(regexp_replace(
               regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
               ' +', ' ', 'g')))) AS lt
      FROM documents
    ),
    cont AS (
      SELECT p.lp, t.lt, CAST(COUNT(*) AS BIGINT) AS nij
      FROM pred p JOIN truth t ON t.doc_id = p.doc_id
      GROUP BY p.lp, t.lt
    ),
    pa AS (SELECT lp, CAST(SUM(nij) AS BIGINT) AS a FROM cont GROUP BY lp),
    pb AS (SELECT lt, CAST(SUM(nij) AS BIGINT) AS b FROM cont GROUP BY lt),
    terms AS (
      SELECT c.nij, pa.a, pb.b,
             CAST(FLOOR(c.nij * 1.0 * c.nij / pa.a * 1000000 + 0.5)
                  AS BIGINT) AS pq,
             CAST(FLOOR(c.nij * 1.0 * c.nij / pb.b * 1000000 + 0.5)
                  AS BIGINT) AS rq
      FROM cont c JOIN pa ON pa.lp = c.lp JOIN pb ON pb.lt = c.lt
    ),
    s AS (
      SELECT CAST(SUM(nij) AS BIGINT) AS n,
             CAST(SUM(nij * (nij - 1) / 2) AS BIGINT) AS sij,
             CAST(SUM(pq) AS BIGINT) AS spq,
             CAST(SUM(rq) AS BIGINT) AS srq
      FROM terms
    ),
    sa AS (SELECT CAST(SUM(a * (a - 1) / 2) AS BIGINT) AS s_a,
                  CAST(COUNT(*) AS BIGINT) AS k_pred FROM pa),
    sb AS (SELECT CAST(SUM(b * (b - 1) / 2) AS BIGINT) AS s_b,
                  CAST(COUNT(*) AS BIGINT) AS k_true FROM pb)
    SELECT s.n AS n_docs, sa.k_pred, sb.k_true,
           FLOOR((s.sij - sa.s_a * 1.0 * sb.s_b / (s.n * (s.n - 1) / 2))
                 / ((sa.s_a + sb.s_b) / 2.0
                    - sa.s_a * 1.0 * sb.s_b / (s.n * (s.n - 1) / 2))
                 * 1000000 + 0.5) / 1000000 AS ari,
           FLOOR(s.spq * 1.0 / 1000000 / s.n * 1000000 + 0.5) / 1000000
             AS b3_precision,
           FLOOR(s.srq * 1.0 / 1000000 / s.n * 1000000 + 0.5) / 1000000
             AS b3_recall,
           FLOOR(2.0 * (s.spq * 1.0 / 1000000 / s.n)
                     * (s.srq * 1.0 / 1000000 / s.n)
                 / (s.spq * 1.0 / 1000000 / s.n
                    + s.srq * 1.0 / 1000000 / s.n) * 1000000 + 0.5)
             / 1000000 AS b3_f1
    FROM s CROSS JOIN sa CROSS JOIN sb
    """


@register(
    "q349_cluster_agreement",
    _q349_sql(),
    doc="Clustering-agreement scorecard between the LSH near-dup "
    "clustering (q68, singletons labeled by own doc_id) and the "
    "exact-duplicate partition (q22's normalized-text groups, "
    "min-doc_id labels): Adjusted Rand Index (Hubert & Arabie 1985, "
    "pair-counting with chance correction) plus B-cubed precision/"
    "recall/F1 (Bagga & Baldwin 1998 — the per-DOC view entity-"
    "resolution evaluation standardized on). Together they answer "
    "'how much of the near-dup structure is exact duplication, and "
    "is LSH splitting (recall<1) or over-merging (precision<1) the "
    "exact groups'. All pair counts are integers; the per-cell "
    "B-cubed terms are micro-quantized before the integer rollup. "
    "Complements q277 (pair-level detector agreement) and q225 "
    "(threshold audit) at the CLUSTER level.",
)
def q349_cluster_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: inherits q68's bucketed LSH + CC cost (the audit-family
    pattern — cluster_agreement_from_index in pipelines/audit_index.py
    reads the MATERIALIZED cluster relation instead); the agreement
    math itself is one contingency groupBy bounded by |clusters| and
    two broadcast marginal joins. Exact-group labels come from one
    window over the fingerprint hash — label values don't matter, only
    the partition they induce."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents")
    cl = _REGISTRY["q68_dup_clusters"].fn(spark, sf_dir).select(
        "doc_id", "cluster_id"
    )
    return _cluster_agreement(docs, cl)


def _cluster_agreement(docs: DataFrame, cl: DataFrame) -> DataFrame:
    """ARI + B-cubed between a (doc_id, cluster_id) relation (singletons
    absent) and the exact-duplicate partition of ``docs``."""
    pred = docs.select("doc_id").join(cl, "doc_id", "left").select(
        "doc_id", F.coalesce("cluster_id", "doc_id").alias("lp")
    )
    fp = F.md5(
        F.trim(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " "), " +", " "
            )
        )
    )
    truth = docs.select(
        "doc_id", F.min("doc_id").over(Window.partitionBy(fp)).alias("lt")
    )
    cont = (
        pred.join(truth, "doc_id")
        .groupBy("lp", "lt")
        .agg(F.count(F.lit(1)).cast("long").alias("nij"))
        # |clusters|-bounded; materialize so the three downstream
        # aggregation branches (s, sa, sb) don't each re-run the q68
        # LSH+CC subtree (the q123 plan-reuse discipline, VERDICT r2)
        .localCheckpoint(eager=True)
    )
    pa = cont.groupBy("lp").agg(F.sum("nij").cast("long").alias("a"))
    pb = cont.groupBy("lt").agg(F.sum("nij").cast("long").alias("b"))
    terms = (
        cont.join(F.broadcast(pa), "lp")
        .join(F.broadcast(pb), "lt")
        .select(
            "nij",
            "a",
            "b",
            F.floor(
                F.col("nij") * 1.0 * F.col("nij") / F.col("a") * 1_000_000 + 0.5
            )
            .cast("long")
            .alias("pq"),
            F.floor(
                F.col("nij") * 1.0 * F.col("nij") / F.col("b") * 1_000_000 + 0.5
            )
            .cast("long")
            .alias("rq"),
        )
    )
    s = terms.agg(
        F.sum("nij").cast("long").alias("n"),
        F.sum(F.col("nij") * (F.col("nij") - 1) / 2).cast("long").alias("sij"),
        F.sum("pq").cast("long").alias("spq"),
        F.sum("rq").cast("long").alias("srq"),
    )
    sa = pa.agg(
        F.sum(F.col("a") * (F.col("a") - 1) / 2).cast("long").alias("s_a"),
        F.count(F.lit(1)).cast("long").alias("k_pred"),
    )
    sb = pb.agg(
        F.sum(F.col("b") * (F.col("b") - 1) / 2).cast("long").alias("s_b"),
        F.count(F.lit(1)).cast("long").alias("k_true"),
    )
    # try_divide: a one-doc lake has an empty pair universe (n(n-1)/2=0)
    exp = F.try_divide(
        F.col("s_a") * 1.0 * F.col("s_b"), F.col("n") * (F.col("n") - 1) / 2
    )
    ari = F.try_divide(
        F.col("sij") - exp, (F.col("s_a") + F.col("s_b")) / 2.0 - exp
    )
    p3 = F.col("spq") * 1.0 / 1_000_000 / F.col("n")
    r3 = F.col("srq") * 1.0 / 1_000_000 / F.col("n")
    return (
        s.crossJoin(F.broadcast(sa))
        .crossJoin(F.broadcast(sb))
        .select(
            F.col("n").alias("n_docs"),
            "k_pred",
            "k_true",
            round_half_up(ari, 6).alias("ari"),
            round_half_up(p3, 6).alias("b3_precision"),
            round_half_up(r3, 6).alias("b3_recall"),
            round_half_up(F.try_divide(2.0 * p3 * r3, p3 + r3), 6).alias(
                "b3_f1"
            ),
        )
    )


# ── q350: Markov removal-effect channel attribution ──────────────────────────

# fixed event-type taxonomy (TESTDATA.md); purchase is the absorber
_Q350_CHANNELS = ["click", "error", "signup", "view"]
_Q350_ITERS = 12
_Q350_SCALE = 1_000_000_000_000  # probabilities as integer picos


def _q350_scenario_sql(tag: str, removed: str | None) -> str:
    """Chained CTEs for one scenario: edges with `removed` redirected to
    NULL, then K exact fixed-point iterations over integer micro-probs
    (integer // division — no float ever enters the recurrence)."""
    if removed is None:
        edges = f"edges_{tag} AS (SELECT frm, dst, cnt FROM edges)"
    else:
        edges = f"""edges_{tag} AS (
      SELECT frm, CASE WHEN dst = '{removed}' THEN 'NULL' ELSE dst END AS dst,
             cnt
      FROM edges WHERE frm <> '{removed}')"""
    parts = [
        edges,
        f"""it_{tag}_0 AS (
      SELECT DISTINCT frm AS v, CAST(0 AS BIGINT) AS pq FROM edges_{tag})""",
    ]
    for k in range(1, _Q350_ITERS + 1):
        parts.append(f"""it_{tag}_{k} AS (
      SELECT e.frm AS v,
             CAST(SUM(e.cnt * (CASE WHEN e.dst = 'CONV' THEN {_Q350_SCALE}
                                    WHEN e.dst = 'NULL' THEN 0
                                    ELSE COALESCE(p.pq, 0) END))
                  // MAX(t.t) AS BIGINT) AS pq
      FROM edges_{tag} e
      JOIN tot t ON t.frm = e.frm
      LEFT JOIN it_{tag}_{k - 1} p ON p.v = e.dst
      GROUP BY e.frm)""")
    return ",\n    ".join(parts)


def _q350_sql() -> str:
    scen = [_q350_scenario_sql("base", None)] + [
        _q350_scenario_sql(c, c) for c in _Q350_CHANNELS
    ]
    scen_sql = ",\n    ".join(scen)
    effect_rows = "\n      UNION ALL\n      ".join(
        f"""SELECT '{c}' AS channel,
             (SELECT pq FROM it_base_{_Q350_ITERS} WHERE v = 'S') AS basep,
             (SELECT pq FROM it_{c}_{_Q350_ITERS} WHERE v = 'S') AS remp"""
        for c in _Q350_CHANNELS
    )
    return f"""
    WITH r1 AS (
      SELECT user_id, event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY user_id) AS n_ev
      FROM events
    ),
    r2 AS (
      SELECT user_id, event_type, rn, n_ev,
             MIN(CASE WHEN event_type = 'purchase' THEN rn END)
               OVER (PARTITION BY user_id) AS mp
      FROM r1
    ),
    kept AS (
      SELECT * FROM r2 WHERE mp IS NULL OR rn <= mp
    ),
    tr AS (
      SELECT COALESCE(LAG(CASE WHEN event_type = 'purchase' THEN 'CONV'
                               ELSE event_type END)
                        OVER (PARTITION BY user_id ORDER BY rn), 'S') AS frm,
             CASE WHEN event_type = 'purchase' THEN 'CONV'
                  ELSE event_type END AS dst
      FROM kept
      UNION ALL
      SELECT event_type AS frm, 'NULL' AS dst
      FROM kept WHERE mp IS NULL AND rn = n_ev
    ),
    edges AS (
      SELECT frm, dst, CAST(COUNT(*) AS BIGINT) AS cnt FROM tr GROUP BY 1, 2
    ),
    tot AS (SELECT frm, CAST(SUM(cnt) AS BIGINT) AS t FROM edges GROUP BY frm),
    {scen_sql},
    eff AS (
      {effect_rows}
    )
    SELECT channel,
           FLOOR(basep * 1.0 / {_Q350_SCALE} * 1000000 + 0.5) / 1000000
             AS base_conv_p,
           FLOOR(remp * 1.0 / {_Q350_SCALE} * 1000000 + 0.5) / 1000000
             AS removed_conv_p,
           FLOOR((basep - remp) * 1.0 / basep * 1000000 + 0.5) / 1000000
             AS removal_effect,
           FLOOR((basep - remp) * 1.0
                 / SUM(basep - remp) OVER () * 1000000 + 0.5) / 1000000
             AS attribution
    FROM eff
    ORDER BY channel
    """


@register(
    "q350_markov_attribution",
    _q350_sql(),
    doc="Markov removal-effect channel attribution (Anderl et al. 2016 "
    "— the third classic next to q216's rule-based touch attribution "
    "and q331's exact Shapley): first-order journey chain per user "
    "(START -> events -> CONV at first purchase, NULL if none), "
    "conversion probability from START via K=12 value-iteration "
    "steps, and each channel's removal effect = relative drop when "
    "its state is redirected to NULL. The recurrence runs in EXACT "
    "fixed-point arithmetic — probabilities are integer picos, each "
    "step an integer dot product with floor division — so unlike a "
    "float power iteration (q123's documented flakiness class) every "
    "iteration is bit-identical on both engines by construction.",
)
def q350_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: journey extraction + transition counting is the only
    corpus-width work (two user-keyed windows sharing one exchange,
    then a map-side-combinable edge count). The chain itself is
    taxonomy-bounded (<= 7 states, <= 30 edges), so the value
    iteration runs on a driver-side copy of the edge relation — the
    documented bounded-collect pattern (q331) — in exact Python
    integer arithmetic identical to the oracle's BIGINT // recurrence.
    Final ratios are Spark column expressions mirroring the oracle."""
    ev = load_table(spark, sf_dir, "events")
    wu = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wp = Window.partitionBy("user_id")
    r1 = ev.select(
        "user_id",
        "event_type",
        F.row_number().over(wu).alias("rn"),
        F.count(F.lit(1)).over(wp).alias("n_ev"),
    )
    r2 = r1.withColumn(
        "mp",
        F.min(F.when(F.col("event_type") == "purchase", F.col("rn"))).over(wp),
    )
    kept = r2.filter(F.col("mp").isNull() | (F.col("rn") <= F.col("mp")))
    dst = F.when(F.col("event_type") == "purchase", "CONV").otherwise(
        F.col("event_type")
    )
    wk = Window.partitionBy("user_id").orderBy("rn")
    tr = kept.select(
        F.coalesce(F.lag(dst).over(wk), F.lit("S")).alias("frm"), dst.alias("dst")
    ).unionAll(
        kept.filter(F.col("mp").isNull() & (F.col("rn") == F.col("n_ev"))).select(
            F.col("event_type").alias("frm"), F.lit("NULL").alias("dst")
        )
    )
    edges = (
        tr.groupBy("frm", "dst")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
        .collect()  # taxonomy-bounded: <= (channels+2)^2 rows
    )
    e = [(row["frm"], row["dst"], row["cnt"]) for row in edges]
    tot: dict[str, int] = {}
    for frm, _, cnt in e:
        tot[frm] = tot.get(frm, 0) + cnt

    def absorb(removed: str | None) -> int:
        es = [
            (frm, "NULL" if dst == removed else dst, cnt)
            for frm, dst, cnt in e
            if frm != removed
        ]
        states = sorted({frm for frm, _, _ in es})
        pq = {v: 0 for v in states}
        for _ in range(_Q350_ITERS):
            nxt = {}
            for v in states:
                num = 0
                for frm, d, cnt in es:
                    if frm != v:
                        continue
                    num += cnt * (
                        _Q350_SCALE if d == "CONV" else 0 if d == "NULL" else pq.get(d, 0)
                    )
                nxt[v] = num // tot[v]
            pq = nxt
        # None (not 0) when 'S' is not a state — i.e. an empty events
        # table — matching the oracle's NULL scalar subquery; any
        # non-empty lake has an 'S' start edge per user journey
        return pq.get("S")

    basep = absorb(None)
    rows = [(c, basep, absorb(c)) for c in _Q350_CHANNELS]
    eff = spark.createDataFrame(rows, "channel string, basep long, remp long")
    wall = Window.partitionBy()
    d = F.col("basep") - F.col("remp")
    return (
        eff.select(
            "channel",
            round_half_up(F.col("basep") * 1.0 / _Q350_SCALE, 6).alias(
                "base_conv_p"
            ),
            round_half_up(F.col("remp") * 1.0 / _Q350_SCALE, 6).alias(
                "removed_conv_p"
            ),
            # try_divide: NULL effects on an empty events table (base
            # conversion 0 — matches DuckDB x/0 -> NULL), no ANSI error
            round_half_up(F.try_divide(d * 1.0, F.col("basep")), 6).alias(
                "removal_effect"
            ),
            round_half_up(F.try_divide(d * 1.0, F.sum(d).over(wall)), 6).alias(
                "attribution"
            ),
        )
        .orderBy("channel")
    )


# ── q351: Holt linear smoothing in exact fixed-point arithmetic ──────────────

_Q351_SCALE = 1_000_000  # level/trend as integer micros


@register(
    "q351_holt_linear",
    f"""
    WITH RECURSIVE d0 AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    daily AS (SELECT d, v, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM d0),
    hw AS (
      SELECT CAST(1 AS BIGINT) AS rn,
             d1.v * {_Q351_SCALE} AS l,
             (d2.v - d1.v) * {_Q351_SCALE} AS b
      FROM daily d1 JOIN daily d2 ON d1.rn = 1 AND d2.rn = 2
      UNION ALL
      SELECT d.rn,
             (d.v * {_Q351_SCALE} + h.l + h.b) // 2 AS l,
             (((d.v * {_Q351_SCALE} + h.l + h.b) // 2) - h.l + h.b) // 2 AS b
      FROM hw h JOIN daily d ON d.rn = h.rn + 1
    )
    SELECT d.rn AS day_seq, d.d AS day_idx, d.v AS volume,
           FLOOR(h.l / {_Q351_SCALE}.0 * 10000 + 0.5) / 10000 AS level,
           FLOOR(h.b / {_Q351_SCALE}.0 * 10000 + 0.5) / 10000 AS trend,
           FLOOR((hp.l + hp.b) / {_Q351_SCALE}.0 * 10000 + 0.5) / 10000
             AS fitted,
           FLOOR((d.v - (hp.l + hp.b) / {_Q351_SCALE}.0) * 10000 + 0.5) / 10000
             AS residual
    FROM daily d
    JOIN hw h ON h.rn = d.rn
    JOIN hw hp ON hp.rn = d.rn - 1
    ORDER BY d.rn
    """,
    doc="Holt linear (double exponential) smoothing of daily volume "
    "with alpha = beta = 1/2: level/trend states, one-step-ahead "
    "fitted values and residuals; the h-step forecast is last level + "
    "h x last trend. The genuinely-sequential recurrence runs in "
    "EXACT fixed-point arithmetic (integer micro-units, truncating "
    "integer division — the q350 discipline), so the oracle's "
    "recursive CTE and the engine are bit-identical at every step; "
    "a float recurrence here would be the q123 flakiness class. "
    "Complements q272 (regression forecast), q339 (robust trend), "
    "q348 (decomposition): this is the adaptive-forecast member of "
    "the family.",
)
def q351_holt_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-day count over the event log; the recurrence is
    calendar-bounded (365 rows/year) and runs on a driver-side copy of
    the daily relation (bounded-collect pattern, q350) in exact Python
    integer arithmetic with truncating division matching BIGINT //.
    Output ratios are Spark column expressions mirroring the oracle."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.groupBy(
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            )
            .cast("long")
            .alias("d")
        )
        .agg(F.count(F.lit(1)).cast("long").alias("v"))
        .orderBy("d")
        .collect()
    )
    days = [(row["d"], row["v"]) for row in daily]
    if len(days) < 2:
        return spark.createDataFrame(
            [],
            "day_seq long, day_idx long, volume long, level double, "
            "trend double, fitted double, residual double",
        )

    def tdiv2(a: int) -> int:  # truncate toward zero, matching BIGINT // 2
        return -((-a) // 2) if a < 0 else a // 2

    l = days[0][1] * _Q351_SCALE
    b = (days[1][1] - days[0][1]) * _Q351_SCALE
    rows = []
    for rn in range(2, len(days) + 1):
        d, v = days[rn - 1]
        lp, bp = l, b
        l = tdiv2(v * _Q351_SCALE + lp + bp)
        b = tdiv2(l - lp + bp)
        rows.append((rn, d, v, l, b, lp, bp))
    df = spark.createDataFrame(
        rows, "rn long, d long, v long, l long, b long, lp long, bp long"
    )
    sc = float(_Q351_SCALE)
    return df.select(
        F.col("rn").alias("day_seq"),
        F.col("d").alias("day_idx"),
        F.col("v").alias("volume"),
        round_half_up(F.col("l") / sc, 4).alias("level"),
        round_half_up(F.col("b") / sc, 4).alias("trend"),
        round_half_up((F.col("lp") + F.col("bp")) / sc, 4).alias("fitted"),
        round_half_up(
            F.col("v") - (F.col("lp") + F.col("bp")) / sc, 4
        ).alias("residual"),
    ).orderBy("day_seq")


# ── q352: isotonic calibration via exact minimax (PAVA solution) ─────────────

# fixed fluency-score bins: bucket = floor((score_u + OFFSET) / WIDTH),
# score_u = 1e-4-quantized q92 avg_logprob (negative); fixed edges are
# scale-stable — empty bins simply don't appear
_Q352_OFF = 40_000
_Q352_W = 200


def _q352_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    model = _REGISTRY["q92_unigram_logprob"].sql
    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    return f"""
    WITH m AS ({model}),
    g AS ({gate}),
    j AS (
      SELECT CAST(FLOOR(m.avg_logprob * 10000 + 0.5) AS BIGINT) AS score_u,
             CASE WHEN g.passes THEN 1 ELSE 0 END AS label
      FROM m JOIN g ON m.doc_id = g.doc_id
    ),
    b AS (
      SELECT CAST(FLOOR((score_u + {_Q352_OFF}) / {_Q352_W}.0) AS INT)
               AS bucket,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(score_u) AS BIGINT) AS sum_u,
             CAST(SUM(label) AS BIGINT) AS n_pass
      FROM j GROUP BY 1
    ),
    pre AS (
      SELECT bucket, n_docs, sum_u, n_pass,
             CAST(SUM(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cn,
             CAST(SUM(n_pass) OVER (ORDER BY bucket) AS BIGINT) AS cy
      FROM b
    ),
    pairs AS (
      SELECT lo.bucket AS j, hi.bucket AS k,
             (hi.cy - (lo.cy - lo.n_pass)) * 1.0
               / (hi.cn - (lo.cn - lo.n_docs)) AS avg_jk
      FROM pre lo JOIN pre hi ON hi.bucket >= lo.bucket
    ),
    inner_min AS (
      SELECT p.j, i.bucket AS i, MIN(p.avg_jk) AS mn
      FROM pairs p JOIN b i ON i.bucket BETWEEN p.j AND p.k
      GROUP BY p.j, i.bucket
    ),
    iso AS (
      SELECT i, MAX(mn) AS f FROM inner_min WHERE j <= i GROUP BY i
    )
    SELECT b.bucket, b.n_docs,
           FLOOR(b.sum_u / (10000.0 * b.n_docs) * 1000000 + 0.5) / 1000000
             AS avg_score,
           FLOOR(b.n_pass * 1.0 / b.n_docs * 1000000 + 0.5) / 1000000
             AS obs_rate,
           FLOOR(iso.f * 1000000 + 0.5) / 1000000 AS iso_rate,
           CASE WHEN FLOOR(iso.f * 1000000 + 0.5)
                     <> FLOOR(b.n_pass * 1.0 / b.n_docs * 1000000 + 0.5)
                THEN 1 ELSE 0 END AS pooled
    FROM b JOIN iso ON iso.i = b.bucket
    ORDER BY b.bucket
    """


@register(
    "q352_isotonic_calibration",
    _q352_sql(),
    doc="Isotonic calibration of the q92 unigram-fluency score against "
    "the q192 Gopher gate labels: the nondecreasing fit PAVA would "
    "produce, computed EXACTLY via the minimax characterization "
    "f_i = max_(j<=i) min_(k>=i) mean(y over buckets j..k) (Ayer et "
    "al. 1955) — block means are integer prefix-sum ratios, and "
    "MIN/MAX over identical doubles is order-independent, so the "
    "sequential pooling algorithm is replaced by a closed form both "
    "engines agree on bit-for-bit. The fluency/gate relationship is "
    "genuinely non-monotone (boilerplate scores fluent but fails the "
    "gate), so pooled=1 marks real PAVA merges. This FIXES the "
    "miscalibration q239/q285 only measure: iso_rate is the monotone "
    "pass-probability to use when a raw score becomes a sampling "
    "weight (q226/q234).",
)
def q352_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: both scorers are map-only; the rollup is a fixed-bin
    aggregate, and the minimax runs entirely on the bucket relation
    (B^2 pairs, B ~ 20) — at ANY corpus size the calibration fit costs
    one pass plus bounded-relation algebra."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    m = _REGISTRY["q92_unigram_logprob"].fn(spark, sf_dir).select(
        "doc_id",
        F.floor(F.col("avg_logprob") * 10000 + 0.5).cast("long").alias("score_u"),
    )
    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("label")
    )
    b = (
        m.join(g, "doc_id")
        .groupBy(
            F.floor((F.col("score_u") + _Q352_OFF) / float(_Q352_W))
            .cast("int")
            .alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("score_u").cast("long").alias("sum_u"),
            F.sum("label").cast("long").alias("n_pass"),
        )
        # bucket-bounded relation; materialize so the pair/minimax
        # branches don't re-run the two corpus scorers (q349 discipline)
        .localCheckpoint(eager=True)
    )
    wc = Window.orderBy("bucket")
    pre = b.select(
        "bucket",
        "n_docs",
        "n_pass",
        F.sum("n_docs").over(wc).cast("long").alias("cn"),
        F.sum("n_pass").over(wc).cast("long").alias("cy"),
    )
    lo = pre.select(
        F.col("bucket").alias("j"),
        (F.col("cy") - F.col("n_pass")).alias("cy0"),
        (F.col("cn") - F.col("n_docs")).alias("cn0"),
    )
    hi = pre.select(
        F.col("bucket").alias("k"), F.col("cy").alias("cyk"), F.col("cn").alias("cnk")
    )
    pairs = lo.join(F.broadcast(hi), F.col("k") >= F.col("j")).select(
        "j",
        "k",
        ((F.col("cyk") - F.col("cy0")) * 1.0 / (F.col("cnk") - F.col("cn0"))).alias(
            "avg_jk"
        ),
    )
    spine = b.select(F.col("bucket").alias("i"))
    inner_min = (
        pairs.join(
            F.broadcast(spine),
            (F.col("i") >= F.col("j")) & (F.col("i") <= F.col("k")),
        )
        .groupBy("j", "i")
        .agg(F.min("avg_jk").alias("mn"))
    )
    iso = (
        inner_min.filter(F.col("j") <= F.col("i"))
        .groupBy("i")
        .agg(F.max("mn").alias("f"))
    )
    obs_u = F.floor(F.col("n_pass") * 1.0 / F.col("n_docs") * 1_000_000 + 0.5)
    iso_u = F.floor(F.col("f") * 1_000_000 + 0.5)
    return (
        b.join(F.broadcast(iso), b["bucket"] == iso["i"])
        .select(
            "bucket",
            "n_docs",
            round_half_up(F.col("sum_u") / (10000.0 * F.col("n_docs")), 6).alias(
                "avg_score"
            ),
            round_half_up(F.col("n_pass") * 1.0 / F.col("n_docs"), 6).alias(
                "obs_rate"
            ),
            (iso_u / 1_000_000).alias("iso_rate"),
            F.when(iso_u != obs_u, 1).otherwise(0).alias("pooled"),
        )
        .orderBy("bucket")
    )


# ── q353: log-rank test between repurchase cohorts ───────────────────────────


@register(
    "q353_logrank_test",
    """
    WITH mx AS (SELECT MAX(o_orderdate) AS mxd FROM orders),
    seq AS (
      SELECT o_custkey, o_orderdate, o_orderpriority,
             LEAD(o_orderdate) OVER (PARTITION BY o_custkey
               ORDER BY o_orderdate, o_orderkey) AS nxt
      FROM orders
    ),
    subj AS (
      SELECT CAST(FLOOR(date_diff('day', o_orderdate,
               COALESCE(nxt, m.mxd)) / 7) AS BIGINT) AS t_weeks,
             CASE WHEN nxt IS NOT NULL THEN 1 ELSE 0 END AS ev,
             CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                  THEN 1 ELSE 0 END AS grp
      FROM seq CROSS JOIN mx m
    ),
    tot AS (
      SELECT CAST(SUM(grp) AS BIGINT) AS tn1,
             CAST(SUM(1 - grp) AS BIGINT) AS tn0
      FROM subj
    ),
    grid AS (
      SELECT t_weeks,
             CAST(SUM(ev * grp) AS BIGINT) AS d1,
             CAST(SUM(ev * (1 - grp)) AS BIGINT) AS d0,
             CAST(SUM((1 - ev) * grp) AS BIGINT) AS c1,
             CAST(SUM((1 - ev) * (1 - grp)) AS BIGINT) AS c0
      FROM subj GROUP BY t_weeks
    ),
    risk AS (
      SELECT t_weeks, d1, d0,
             CAST(t.tn1 - COALESCE(SUM(d1 + c1) OVER (ORDER BY t_weeks
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n1,
             CAST(t.tn0 - COALESCE(SUM(d0 + c0) OVER (ORDER BY t_weeks
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS n0
      FROM grid CROSS JOIN tot t
    ),
    terms AS (
      SELECT d1, d0, n1, n0, d1 + d0 AS d, n1 + n0 AS n,
             CAST(FLOOR((d1 - (d1 + d0) * 1.0 * n1 / (n1 + n0)) * 1000000
                        + 0.5) AS BIGINT) AS oe_q,
             CAST(FLOOR((d1 + d0) * 1.0 * n1 / (n1 + n0) * 1000000 + 0.5)
                  AS BIGINT) AS e1_q,
             CAST(FLOOR((d1 + d0) * 1.0 * n0 / (n1 + n0) * 1000000 + 0.5)
                  AS BIGINT) AS e0_q,
             CASE WHEN n1 + n0 > 1 THEN
               CAST(FLOOR((d1 + d0) * 1.0 * n1 / (n1 + n0) * n0 / (n1 + n0)
                          * (n1 + n0 - d1 - d0) / (n1 + n0 - 1) * 1000000
                          + 0.5) AS BIGINT)
             ELSE 0 END AS v_q
      FROM risk WHERE d1 + d0 > 0
    )
    SELECT t.tn1 AS n_urgent, t.tn0 AS n_other,
           CAST(SUM(d1) AS BIGINT) AS events_urgent,
           CAST(SUM(d0) AS BIGINT) AS events_other,
           FLOOR(SUM(oe_q) / 1000000.0 * 10000 + 0.5) / 10000 AS observed_minus_expected,
           FLOOR(SUM(v_q) / 1000000.0 * 10000 + 0.5) / 10000 AS variance,
           FLOOR((SUM(oe_q) / 1000000.0) / SQRT(SUM(v_q) / 1000000.0)
                 * 1000000 + 0.5) / 1000000 AS z_stat,
           FLOOR((SUM(d1) * 1.0 / (SUM(e1_q) / 1000000.0))
                 / (SUM(d0) * 1.0 / (SUM(e0_q) / 1000000.0))
                 * 1000000 + 0.5) / 1000000 AS hazard_ratio
    FROM terms CROSS JOIN tot t
    GROUP BY t.tn1, t.tn0
    """,
    doc="Log-rank test (Mantel 1966) between repurchase cohorts: do "
    "customers whose order was URGENT/HIGH priority reorder FASTER "
    "than the rest? Same subjects/censoring as q304's Kaplan-Meier "
    "(gap to next order, right-censored at the lake edge); at each "
    "distinct event time the observed-minus-expected group-1 deaths "
    "and the hypergeometric variance accumulate — per-time terms are "
    "micro-quantized to integers before the sum (the q304 ln-idiom), "
    "so the whole test statistic is hash-exact. Also reports the "
    "O/E hazard-ratio estimate. THE standard two-sample comparison "
    "for censored durations — q333's Welch t is wrong for this data "
    "shape because censored gaps aren't observations.",
)
def q353_logrank_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one LEAD window per customer, then everything runs on the
    distinct-gap GRID (q304's shape) — the single-partition windows
    are bounded by distinct survival times, never subjects."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_orderpriority"
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
            F.when(
                F.col("o_orderpriority").isin("1-URGENT", "2-HIGH"), 1
            ).otherwise(0).alias("grp"),
        )
    )
    tot = subj.agg(
        F.sum("grp").cast("long").alias("tn1"),
        F.sum(1 - F.col("grp")).cast("long").alias("tn0"),
    )
    grid = subj.groupBy("t_weeks").agg(
        F.sum(F.col("ev") * F.col("grp")).cast("long").alias("d1"),
        F.sum(F.col("ev") * (1 - F.col("grp"))).cast("long").alias("d0"),
        F.sum((1 - F.col("ev")) * F.col("grp")).cast("long").alias("c1"),
        F.sum((1 - F.col("ev")) * (1 - F.col("grp"))).cast("long").alias("c0"),
    )
    wt = Window.orderBy("t_weeks").rowsBetween(Window.unboundedPreceding, -1)
    risk = grid.crossJoin(F.broadcast(tot)).select(
        "t_weeks",
        "d1",
        "d0",
        (
            F.col("tn1")
            - F.coalesce(F.sum(F.col("d1") + F.col("c1")).over(wt), F.lit(0))
        )
        .cast("long")
        .alias("n1"),
        (
            F.col("tn0")
            - F.coalesce(F.sum(F.col("d0") + F.col("c0")).over(wt), F.lit(0))
        )
        .cast("long")
        .alias("n0"),
    )
    d = F.col("d1") + F.col("d0")
    n = F.col("n1") + F.col("n0")
    e1 = d * 1.0 * F.col("n1") / n
    terms = risk.filter(d > 0).select(
        "d1",
        "d0",
        F.floor((F.col("d1") - e1) * 1_000_000 + 0.5).cast("long").alias("oe_q"),
        F.floor(e1 * 1_000_000 + 0.5).cast("long").alias("e1_q"),
        F.floor(d * 1.0 * F.col("n0") / n * 1_000_000 + 0.5)
        .cast("long")
        .alias("e0_q"),
        F.when(
            n > 1,
            F.floor(
                d * 1.0 * F.col("n1") / n * F.col("n0") / n * (n - d) / (n - 1)
                * 1_000_000
                + 0.5
            ).cast("long"),
        )
        .otherwise(F.lit(0).cast("long"))
        .alias("v_q"),
    )
    s = terms.agg(
        F.sum("d1").cast("long").alias("sd1"),
        F.sum("d0").cast("long").alias("sd0"),
        F.sum("oe_q").cast("long").alias("soe"),
        F.sum("e1_q").cast("long").alias("se1"),
        F.sum("e0_q").cast("long").alias("se0"),
        F.sum("v_q").cast("long").alias("sv"),
    )
    # the where-guard mirrors the oracle's GROUP BY over an empty terms
    # relation: zero event-times (empty lake, or no repurchases at all)
    # yields ZERO rows, not one NULL row — sd1 is NULL exactly then
    return s.crossJoin(F.broadcast(tot)).where(F.col("sd1").isNotNull()).select(
        F.col("tn1").alias("n_urgent"),
        F.col("tn0").alias("n_other"),
        F.col("sd1").alias("events_urgent"),
        F.col("sd0").alias("events_other"),
        round_half_up(F.col("soe") / 1_000_000.0, 4).alias(
            "observed_minus_expected"
        ),
        round_half_up(F.col("sv") / 1_000_000.0, 4).alias("variance"),
        # try_divide: a single-arm (or all-tied, e.g. constant-lake)
        # risk table has zero hypergeometric variance and a zero
        # expected-event leg -> z / hazard ratio undefined (NULL,
        # matching DuckDB)
        round_half_up(
            F.try_divide(
                F.col("soe") / 1_000_000.0, F.sqrt(F.col("sv") / 1_000_000.0)
            ),
            6,
        ).alias("z_stat"),
        round_half_up(
            F.try_divide(
                F.try_divide(F.col("sd1") * 1.0, F.col("se1") / 1_000_000.0),
                F.try_divide(F.col("sd0") * 1.0, F.col("se0") / 1_000_000.0),
            ),
            6,
        ).alias("hazard_ratio"),
    )


# ── q354: capture-recapture estimate of the true duplicate population ────────


def _q354_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    a = _REGISTRY["q24_minhash_lsh_dedup"].sql
    b = _REGISTRY["q25_simhash_dedup"].sql
    return f"""
    WITH a AS ({a}),
    b AS ({b}),
    m AS (
      SELECT CAST((SELECT COUNT(*) FROM a) AS BIGINT) AS n1,
             CAST((SELECT COUNT(*) FROM b) AS BIGINT) AS n2,
             CAST((SELECT COUNT(*) FROM a JOIN b
                   ON a.doc_a = b.doc_a AND a.doc_b = b.doc_b) AS BIGINT) AS mm
    )
    SELECT n1 AS minhash_pairs, n2 AS simhash_pairs, mm AS both_pairs,
           n1 + n2 - mm AS union_pairs,
           FLOOR(((n1 + 1) * 1.0 * (n2 + 1) / (mm + 1) - 1) * 100 + 0.5) / 100
             AS chapman_estimate,
           FLOOR((((n1 + 1) * 1.0 * (n2 + 1) / (mm + 1) - 1)
                  - (n1 + n2 - mm)) * 100 + 0.5) / 100 AS undetected_estimate,
           FLOOR(SQRT((n1 + 1) * 1.0 * (n2 + 1) * (n1 - mm) * (n2 - mm)
                      / ((mm + 1) * 1.0 * (mm + 1) * (mm + 2))) * 100 + 0.5)
             / 100 AS std_error
    FROM m
    """


@register(
    "q354_dup_capture_recapture",
    _q354_sql(),
    doc="Capture-recapture estimate of the TRUE duplicate-pair "
    "population: MinHash (q24) and SimHash (q25) are two independent "
    "'capture' samples of the unknown set of real near-dup pairs; "
    "Chapman's bias-corrected Lincoln-Petersen estimator "
    "(n1+1)(n2+1)/(m+1) - 1 with its standard error turns their "
    "overlap into an estimate of how many duplicate pairs BOTH "
    "detectors miss — the coverage number q277's agreement audit "
    "cannot give (agreement says how they relate to each other, this "
    "says how they relate to the unobserved truth). Pure integer "
    "counts into one closed-form tree.",
)
def q354_dup_capture_recapture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: inherits the two detector runs (audit family — the
    materialized audit index serves both pair relations without
    re-detection); the estimator itself is three counts and one
    scalar expression. Independence caveat documented: both detectors
    key on lexical overlap, so the estimate is a LOWER bound on missed
    pairs (positively correlated captures inflate m)."""
    from .queries import QUERY_REGISTRY as _REGISTRY, build_concurrently

    # Independent detector builds from a driver thread pool (guide §2.6;
    # r11): the two eager signature-base barriers previously ran
    # back-to-back. Pair relations unchanged.
    a, b = build_concurrently(
        lambda: _REGISTRY["q24_minhash_lsh_dedup"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
        lambda: _REGISTRY["q25_simhash_dedup"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
    )
    return _capture_recapture(a, b)


def _capture_recapture(a: DataFrame, b: DataFrame) -> DataFrame:
    """Chapman estimator over two (doc_a, doc_b) capture samples."""
    n1c = a.agg(F.count(F.lit(1)).cast("long").alias("n1"))
    n2c = b.agg(F.count(F.lit(1)).cast("long").alias("n2"))
    mmc = a.join(b, ["doc_a", "doc_b"]).agg(
        F.count(F.lit(1)).cast("long").alias("mm")
    )
    m = n1c.crossJoin(F.broadcast(n2c)).crossJoin(F.broadcast(mmc))
    n1, n2, mm = F.col("n1"), F.col("n2"), F.col("mm")
    chapman = (n1 + 1) * 1.0 * (n2 + 1) / (mm + 1) - 1
    return m.select(
        n1.alias("minhash_pairs"),
        n2.alias("simhash_pairs"),
        mm.alias("both_pairs"),
        (n1 + n2 - mm).alias("union_pairs"),
        round_half_up(chapman, 2).alias("chapman_estimate"),
        (
            F.floor((chapman - (n1 + n2 - mm)) * 100 + 0.5) / 100
        ).alias("undetected_estimate"),
        round_half_up(
            F.sqrt(
                (n1 + 1)
                * 1.0
                * (n2 + 1)
                * (n1 - mm)
                * (n2 - mm)
                / ((mm + 1) * 1.0 * (mm + 1) * (mm + 2))
            ),
            2,
        ).alias("std_error"),
    )


# ── q355: Laspeyres / Paasche / Fisher price indices ─────────────────────────


@register(
    "q355_price_index",
    """
    WITH pm AS (
      SELECT l_partkey,
             CAST(month(l_shipdate) AS INTEGER) AS mth,
             CAST(SUM(CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT))
                  AS BIGINT) AS sp,
             CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT) AS sq
      FROM lineitem GROUP BY 1, 2
    ),
    base AS (
      SELECT l_partkey, sp AS sp0, sq AS sq0 FROM pm WHERE mth = 1
    ),
    terms AS (
      SELECT m.mth,
             CAST(FLOOR(m.sp * 1.0 / m.sq * b.sq0 * 1000 + 0.5) AS BIGINT)
               AS l_num,
             CAST(FLOOR(b.sp0 * 1.0 / b.sq0 * b.sq0 * 1000 + 0.5) AS BIGINT)
               AS l_den,
             CAST(FLOOR(m.sp * 1.0 / m.sq * m.sq * 1000 + 0.5) AS BIGINT)
               AS p_num,
             CAST(FLOOR(b.sp0 * 1.0 / b.sq0 * m.sq * 1000 + 0.5) AS BIGINT)
               AS p_den
      FROM pm m JOIN base b ON b.l_partkey = m.l_partkey
      WHERE m.mth > 1
    )
    SELECT mth AS month,
           CAST(COUNT(*) AS BIGINT) AS n_common_parts,
           FLOOR(SUM(l_num) * 1.0 / SUM(l_den) * 1000000 + 0.5) / 1000000
             AS laspeyres,
           FLOOR(SUM(p_num) * 1.0 / SUM(p_den) * 1000000 + 0.5) / 1000000
             AS paasche,
           FLOOR(SQRT((SUM(l_num) * 1.0 / SUM(l_den))
                      * (SUM(p_num) * 1.0 / SUM(p_den))) * 1000000 + 0.5)
             / 1000000 AS fisher
    FROM terms GROUP BY mth ORDER BY mth
    """,
    doc="Laspeyres, Paasche and Fisher price indices of the part "
    "catalog by ship month against the January base period: unit "
    "prices are per-(part, month) revenue/quantity ratios, Laspeyres "
    "weights by base-period quantities (what January's basket costs "
    "now), Paasche by current quantities, Fisher their geometric mean "
    "(the superlative index national statistics agencies publish). "
    "The price-deflation counterpart of q154's raw month-over-month "
    "revenue: it separates price movement from volume/mix movement. "
    "Per-part value terms are milli-quantized before the per-month "
    "integer sums; only common parts (sold in both periods) enter, "
    "reported as n_common_parts (the standard matched-sample "
    "convention).",
)
def q355_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one (part, month) integer aggregate over lineitem
    (map-side combinable), an equi-join on partkey against the base
    month's slice of the SAME relation (shuffle bounded by the part
    catalog, or broadcast when the base slice is small), one per-month
    rollup. No windows, no corpus re-reads."""
    li = load_table(spark, sf_dir, "lineitem")
    pm = li.groupBy(
        "l_partkey", F.month("l_shipdate").cast("int").alias("mth")
    ).agg(
        F.sum(F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long"))
        .cast("long")
        .alias("sp"),
        F.sum(F.floor(F.col("l_quantity") + 0.5).cast("long"))
        .cast("long")
        .alias("sq"),
    )
    base = pm.filter(F.col("mth") == 1).select(
        "l_partkey", F.col("sp").alias("sp0"), F.col("sq").alias("sq0")
    )
    p_cur = F.col("sp") * 1.0 / F.col("sq")
    p_base = F.col("sp0") * 1.0 / F.col("sq0")
    terms = (
        pm.filter(F.col("mth") > 1)
        .join(base, "l_partkey")
        .select(
            "mth",
            F.floor(p_cur * F.col("sq0") * 1000 + 0.5).cast("long").alias("l_num"),
            F.floor(p_base * F.col("sq0") * 1000 + 0.5).cast("long").alias("l_den"),
            F.floor(p_cur * F.col("sq") * 1000 + 0.5).cast("long").alias("p_num"),
            F.floor(p_base * F.col("sq") * 1000 + 0.5).cast("long").alias("p_den"),
        )
    )
    lasp = F.sum("l_num") * 1.0 / F.sum("l_den")
    paas = F.sum("p_num") * 1.0 / F.sum("p_den")
    return (
        terms.groupBy(F.col("mth").alias("month"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_common_parts"),
            round_half_up(lasp, 6).alias("laspeyres"),
            round_half_up(paas, 6).alias("paasche"),
            round_half_up(F.sqrt(lasp * paas), 6).alias("fisher"),
        )
        .orderBy("month")
    )


# ── q356: Kruskal-Wallis H test across order priorities ──────────────────────


@register(
    "q356_kruskal_wallis",
    """
    WITH v AS (
      SELECT o_orderpriority AS grp,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders
    ),
    h AS (
      SELECT cents, CAST(COUNT(*) AS BIGINT) AS c FROM v GROUP BY cents
    ),
    mr AS (
      SELECT cents, c,
             2 * COALESCE(SUM(c) OVER (ORDER BY cents
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + c + 1 AS r2
      FROM h
    ),
    gc AS (
      SELECT grp, cents, CAST(COUNT(*) AS BIGINT) AS cg
      FROM v GROUP BY grp, cents
    ),
    g AS (
      SELECT gc.grp, CAST(SUM(gc.cg) AS BIGINT) AS n_g,
             CAST(SUM(gc.cg * mr.r2) AS BIGINT) AS s2_g
      FROM gc JOIN mr ON mr.cents = gc.cents
      GROUP BY gc.grp
    ),
    terms AS (
      SELECT grp, n_g, s2_g,
             CAST(FLOOR(CAST(s2_g AS HUGEINT) * s2_g / (4.0 * n_g) * 100 + 0.5)
                  AS BIGINT) AS tq
      FROM g
    ),
    tie AS (
      SELECT CAST(SUM(CAST(c AS HUGEINT) * c * c - c) AS DOUBLE) AS t3
      FROM h
    ),
    s AS (
      SELECT CAST(SUM(n_g) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(tq) AS BIGINT) AS stq
      FROM terms
    )
    SELECT s.n AS n_rows, s.k AS n_groups,
           FLOOR((12.0 / (s.n * 1.0 * (s.n + 1)) * (s.stq / 100.0)
                  - 3.0 * (s.n + 1)) * 1000000 + 0.5) / 1000000 AS h_stat,
           FLOOR((1 - tie.t3 / (s.n * 1.0 * s.n * s.n - s.n))
                 * 1000000 + 0.5) / 1000000 AS tie_correction,
           FLOOR((12.0 / (s.n * 1.0 * (s.n + 1)) * (s.stq / 100.0)
                  - 3.0 * (s.n + 1))
                 / (1 - tie.t3 / (s.n * 1.0 * s.n * s.n - s.n))
                 * 1000000 + 0.5) / 1000000 AS h_corrected
    FROM s CROSS JOIN tie
    """,
    doc="Kruskal-Wallis H test (Kruskal & Wallis 1952): do the five "
    "order priorities differ in order-value DISTRIBUTION? The K-group "
    "generalization of q306's Mann-Whitney, built on the same "
    "histogram-midrank machinery (doubled integer midranks, so rank "
    "sums are exact BIGINTs; the squared rank-sum terms go through "
    "HUGEINT/decimal before centi-quantization) with the standard tie "
    "correction 1 - sum(t^3 - t)/(N^3 - N). No corpus-wide rank sort "
    "anywhere — the rank transform lives on the value histogram.",
)
def q356_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one value histogram + one (group, value) count (both
    map-side combinable), midranks via a window over the histogram
    (bounded by value resolution), one broadcast join. The O(N log N)
    global sort a textbook implementation does never happens."""
    o = load_table(spark, sf_dir, "orders")
    v = o.select(
        F.col("o_orderpriority").alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    h = v.groupBy("cents").agg(F.count(F.lit(1)).cast("long").alias("c"))
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    mr = h.select(
        "cents",
        "c",
        (2 * F.coalesce(F.sum("c").over(wc), F.lit(0)) + F.col("c") + 1)
        .cast("long")
        .alias("r2"),
    )
    gc = v.groupBy("grp", "cents").agg(F.count(F.lit(1)).cast("long").alias("cg"))
    g = (
        gc.join(F.broadcast(mr), "cents")
        .groupBy("grp")
        .agg(
            F.sum("cg").cast("long").alias("n_g"),
            F.sum(F.col("cg") * F.col("r2")).cast("long").alias("s2_g"),
        )
    )
    terms = g.select(
        "grp",
        "n_g",
        "s2_g",
        F.floor(
            F.col("s2_g").cast("decimal(38,0)") * F.col("s2_g")
            / (4.0 * F.col("n_g"))
            * 100
            + 0.5
        )
        .cast("long")
        .alias("tq"),
    )
    tie = h.agg(
        F.sum(
            F.col("c").cast("decimal(38,0)") * F.col("c") * F.col("c") - F.col("c")
        )
        .cast("double")
        .alias("t3")
    )
    s = terms.agg(
        F.sum("n_g").cast("long").alias("n"),
        F.count(F.lit(1)).cast("long").alias("k"),
        F.sum("tq").cast("long").alias("stq"),
    )
    hstat = 12.0 / (F.col("n") * 1.0 * (F.col("n") + 1)) * (
        F.col("stq") / 100.0
    ) - 3.0 * (F.col("n") + 1)
    # try_divide: n=1 makes n^3-n zero; fully-tied data makes corr zero
    corr = 1 - F.try_divide(
        F.col("t3"), F.col("n") * 1.0 * F.col("n") * F.col("n") - F.col("n")
    )
    return s.crossJoin(F.broadcast(tie)).select(
        F.col("n").alias("n_rows"),
        F.col("k").alias("n_groups"),
        round_half_up(hstat, 6).alias("h_stat"),
        round_half_up(corr, 6).alias("tie_correction"),
        round_half_up(F.try_divide(hstat, corr), 6).alias("h_corrected"),
    )


# ── q357: negative-binomial overdispersion fit per event type ────────────────


@register(
    "q357_negbin_overdispersion",
    """
    WITH u AS (SELECT DISTINCT user_id FROM events),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_users FROM u),
    pc AS (
      SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS active_users,
             CAST(SUM(c) AS BIGINT) AS sc,
             CAST(SUM(c * c) AS BIGINT) AS scc
      FROM pc GROUP BY event_type
    )
    SELECT s.event_type,
           n.n_users,
           s.active_users,
           FLOOR(s.sc * 1.0 / n.n_users * 1000000 + 0.5) / 1000000 AS mean_c,
           FLOOR((s.scc - s.sc * 1.0 * s.sc / n.n_users) / n.n_users
                 * 1000000 + 0.5) / 1000000 AS var_c,
           FLOOR(((s.scc - s.sc * 1.0 * s.sc / n.n_users) / n.n_users)
                 / (s.sc * 1.0 / n.n_users) * 1000000 + 0.5) / 1000000
             AS dispersion_index,
           CASE WHEN (s.scc - s.sc * 1.0 * s.sc / n.n_users) / n.n_users
                     > s.sc * 1.0 / n.n_users
             THEN FLOOR((s.sc * 1.0 / n.n_users) * (s.sc * 1.0 / n.n_users)
                        / ((s.scc - s.sc * 1.0 * s.sc / n.n_users) / n.n_users
                           - s.sc * 1.0 / n.n_users) * 1000000 + 0.5) / 1000000
             ELSE NULL END AS nb_r,
           CASE WHEN (s.scc - s.sc * 1.0 * s.sc / n.n_users) / n.n_users
                     > s.sc * 1.0 / n.n_users
             THEN FLOOR((s.sc * 1.0 / n.n_users)
                        / ((s.scc - s.sc * 1.0 * s.sc / n.n_users) / n.n_users)
                        * 1000000 + 0.5) / 1000000
             ELSE NULL END AS nb_p,
           FLOOR((n.n_users - s.active_users) * 1.0 / n.n_users
                 * 1000000 + 0.5) / 1000000 AS zero_frac
    FROM s CROSS JOIN n
    ORDER BY s.event_type
    """,
    doc="Negative-binomial overdispersion fit (method of moments) of "
    "per-user event counts by type, ZEROS INCLUDED via the user "
    "universe: population mean/variance, the dispersion index "
    "(var/mean — 1 is Poisson, >1 overdispersed), the MoM NB "
    "parameters r = m^2/(v-m) and p = m/v when overdispersed, and the "
    "zero fraction. The distributional model q309's Fano factor only "
    "summarizes: nb_r feeds capacity planning and per-user rate-limit "
    "thresholds, and a Poisson assumption (the default in most "
    "alerting) is provably wrong when dispersion >> 1. Integer sums "
    "into fixed trees.",
)
def q357_negbin_overdispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one (type, user) count (map-side combinable), one
    |types|-row rollup, one broadcast scalar for the user universe —
    zeros enter through arithmetic (N - active), never through a
    generated user x type spine."""
    ev = load_table(spark, sf_dir, "events")
    n = ev.select("user_id").distinct().agg(
        F.count(F.lit(1)).cast("long").alias("n_users")
    )
    s = (
        ev.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).cast("long").alias("c"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("active_users"),
            F.sum("c").cast("long").alias("sc"),
            F.sum(F.col("c") * F.col("c")).cast("long").alias("scc"),
        )
    )
    m = F.col("sc") * 1.0 / F.col("n_users")
    var = (F.col("scc") - F.col("sc") * 1.0 * F.col("sc") / F.col("n_users")) / F.col(
        "n_users"
    )
    over = var > m
    return (
        s.crossJoin(F.broadcast(n))
        .select(
            "event_type",
            "n_users",
            "active_users",
            round_half_up(m, 6).alias("mean_c"),
            round_half_up(var, 6).alias("var_c"),
            round_half_up(var / m, 6).alias("dispersion_index"),
            F.when(over, round_half_up(m * m / (var - m), 6)).alias("nb_r"),
            F.when(over, round_half_up(m / var, 6)).alias("nb_p"),
            round_half_up(
                (F.col("n_users") - F.col("active_users")) * 1.0 / F.col("n_users"),
                6,
            ).alias("zero_frac"),
        )
        .orderBy("event_type")
    )


# ── q358: two-state burst detection (exact integer Viterbi) ──────────────────

_Q358_S = 1.15  # burst-state rate multiplier (Kleinberg's s)
_Q358_G = 1_000_000  # 0->1 transition cost, micro-nats


def _q358_sql() -> str:
    g = _Q358_G
    return f"""
    WITH RECURSIVE d0 AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    daily AS (SELECT d, v, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM d0),
    lam AS (
      SELECT CAST(FLOOR(SUM(v) * 1.0 / COUNT(*) * 1000000 + 0.5) AS BIGINT)
               AS l0q,
             CAST(FLOOR(SUM(v) * 1.0 / COUNT(*) * {_Q358_S} * 1000000 + 0.5)
               AS BIGINT) AS l1q,
             CAST(FLOOR(LN(SUM(v) * 1.0 / COUNT(*)) * 1000000 + 0.5)
               AS BIGINT) AS lnl0q,
             CAST(FLOOR(LN(SUM(v) * 1.0 / COUNT(*) * {_Q358_S}) * 1000000
                        + 0.5) AS BIGINT) AS lnl1q
      FROM d0
    ),
    fw AS (
      SELECT d.rn,
             -(d.v * m.lnl0q - m.l0q) AS s0,
             -(d.v * m.lnl1q - m.l1q) + {g} AS s1,
             0 AS b0, 0 AS b1
      FROM daily d CROSS JOIN lam m WHERE d.rn = 1
      UNION ALL
      SELECT d.rn,
             CASE WHEN f.s0 <= f.s1 THEN f.s0 ELSE f.s1 END
               + (-(d.v * m.lnl0q - m.l0q)) AS s0,
             CASE WHEN f.s1 <= f.s0 + {g} THEN f.s1 ELSE f.s0 + {g} END
               + (-(d.v * m.lnl1q - m.l1q)) AS s1,
             CASE WHEN f.s0 <= f.s1 THEN 0 ELSE 1 END AS b0,
             CASE WHEN f.s1 <= f.s0 + {g} THEN 1 ELSE 0 END AS b1
      FROM fw f JOIN daily d ON d.rn = f.rn + 1 CROSS JOIN lam m
    ),
    n AS (SELECT MAX(rn) AS t FROM daily),
    bt AS (
      SELECT f.rn, CASE WHEN f.s0 <= f.s1 THEN 0 ELSE 1 END AS st
      FROM fw f JOIN n ON f.rn = n.t
      UNION ALL
      SELECT b.rn - 1,
             CASE WHEN b.st = 0 THEN f.b0 ELSE f.b1 END AS st
      FROM bt b JOIN fw f ON f.rn = b.rn AND b.rn > 1
    )
    SELECT d.rn AS day_seq, d.d AS day_idx, d.v AS volume,
           CAST(b.st AS INTEGER) AS burst_state,
           FLOOR(m.l0q / 1000000.0 * 100 + 0.5) / 100 AS base_rate,
           FLOOR(m.l1q / 1000000.0 * 100 + 0.5) / 100 AS burst_rate
    FROM daily d
    JOIN bt b ON b.rn = d.rn
    CROSS JOIN lam m
    ORDER BY d.rn
    """


@register(
    "q358_burst_viterbi",
    _q358_sql(),
    doc="Two-state burst detection over daily volume (Kleinberg 2002, "
    "discretized): state 0 emits at the global mean rate, state 1 at "
    "s=1.15x, entering a burst costs gamma; the optimal state sequence "
    "is the EXACT Viterbi path — forward min-plus DP carrying integer "
    "micro-nat costs (Poisson log-likelihoods with the quantized "
    "ln-rate pulled out of a 1-row relation, so each day's cost is "
    "v*lnl_q - l_q, pure BIGINT) plus per-step argmin choice bits, "
    "then a BACKWARD recursion replaying the bits. Both passes are "
    "recursive CTEs in the oracle and an identical integer loop on "
    "the calendar-bounded driver copy — no float ever enters the DP, "
    "so the path is bit-exact (ties break toward staying, pinned in "
    "both engines). The optimal-path upgrade of q283's threshold "
    "anomalies and q305's single CUSUM changepoint.",
)
def q358_burst_viterbi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-day count over the event log; the DP runs on the
    driver's calendar-bounded copy (q350/q351 pattern). The quantized
    rates come from a SPARK aggregate (JVM ln, the engine pairing every
    green LN query already exercises), not Python's libm."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    lam_row = d0.agg(
        F.floor(F.sum("v") * 1.0 / F.count(F.lit(1)) * 1_000_000 + 0.5)
        .cast("long")
        .alias("l0q"),
        F.floor(F.sum("v") * 1.0 / F.count(F.lit(1)) * _Q358_S * 1_000_000 + 0.5)
        .cast("long")
        .alias("l1q"),
        F.floor(
            F.log(F.sum("v") * 1.0 / F.count(F.lit(1))) * 1_000_000 + 0.5
        )
        .cast("long")
        .alias("lnl0q"),
        F.floor(
            F.log(F.sum("v") * 1.0 / F.count(F.lit(1)) * _Q358_S) * 1_000_000
            + 0.5
        )
        .cast("long")
        .alias("lnl1q"),
    ).collect()[0]
    l0q, l1q = lam_row["l0q"], lam_row["l1q"]
    lnl0q, lnl1q = lam_row["lnl0q"], lam_row["lnl1q"]
    days = [(r["d"], r["v"]) for r in d0.orderBy("d").collect()]
    if not days:
        return spark.createDataFrame(
            [],
            "day_seq long, day_idx long, volume long, burst_state int, "
            "base_rate double, burst_rate double",
        )
    g = _Q358_G
    fw = []  # (s0, s1, b0, b1)
    for i, (_, v) in enumerate(days):
        c0 = -(v * lnl0q - l0q)
        c1 = -(v * lnl1q - l1q)
        if i == 0:
            fw.append((c0, c1 + g, 0, 0))
        else:
            s0p, s1p = fw[-1][0], fw[-1][1]
            b0 = 0 if s0p <= s1p else 1
            b1 = 1 if s1p <= s0p + g else 0
            fw.append(
                (
                    (s0p if b0 == 0 else s1p) + c0,
                    (s1p if b1 == 1 else s0p + g) + c1,
                    b0,
                    b1,
                )
            )
    states = [0] * len(days)
    states[-1] = 0 if fw[-1][0] <= fw[-1][1] else 1
    for i in range(len(days) - 1, 0, -1):
        states[i - 1] = fw[i][2] if states[i] == 0 else fw[i][3]
    rows = [
        (i + 1, d, v, states[i]) for i, (d, v) in enumerate(days)
    ]
    df = spark.createDataFrame(rows, "day_seq long, day_idx long, volume long, burst_state int")
    return df.select(
        "day_seq",
        "day_idx",
        "volume",
        "burst_state",
        round_half_up(F.lit(l0q) / 1_000_000.0, 2).alias("base_rate"),
        round_half_up(F.lit(l1q) / 1_000_000.0, 2).alias("burst_rate"),
    ).orderBy("day_seq")


# ── q359: sequential-pattern mining (subsequence support) ────────────────────

_Q359_TOPK = 20


@register(
    "q359_sequential_patterns",
    f"""
    WITH e2 AS (
      SELECT user_id, event_type AS ty,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS rn
      FROM events
    ),
    a AS (
      SELECT user_id, ty AS t_a, CAST(MIN(rn) AS BIGINT) AS r1
      FROM e2 GROUP BY user_id, ty
    ),
    b AS (
      SELECT a.user_id, a.t_a, e.ty AS t_b, CAST(MIN(e.rn) AS BIGINT) AS r2
      FROM a JOIN e2 e ON e.user_id = a.user_id AND e.rn > a.r1
      GROUP BY a.user_id, a.t_a, e.ty
    ),
    c AS (
      SELECT b.user_id, b.t_a, b.t_b, e.ty AS t_c,
             CAST(MIN(e.rn) AS BIGINT) AS r3
      FROM b JOIN e2 e ON e.user_id = b.user_id AND e.rn > b.r2
      GROUP BY b.user_id, b.t_a, b.t_b, e.ty
    ),
    pres AS (
      SELECT x.user_id, x.t_a, y.t_a AS t_b
      FROM a x JOIN a y ON y.user_id = x.user_id
    ),
    sup2 AS (
      SELECT t_a || '>' || t_b AS pattern, 2 AS length,
             CAST(COUNT(*) AS BIGINT) AS support,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM pres p
              WHERE p.t_a = b.t_a AND p.t_b = b.t_b) AS n_copresent
      FROM b GROUP BY t_a, t_b
    ),
    sup3 AS (
      SELECT t_a || '>' || t_b || '>' || t_c AS pattern, 3 AS length,
             CAST(COUNT(*) AS BIGINT) AS support,
             CAST(NULL AS BIGINT) AS n_copresent
      FROM c GROUP BY t_a, t_b, t_c
    ),
    allp AS (SELECT * FROM sup2 UNION ALL SELECT * FROM sup3)
    SELECT pattern, length, support, n_copresent,
           CASE WHEN n_copresent IS NOT NULL
                THEN FLOOR(support * 1.0 / n_copresent * 1000000 + 0.5)
                     / 1000000 END AS order_share
    FROM allp
    ORDER BY support DESC, pattern
    LIMIT {_Q359_TOPK}
    """,
    doc="Sequential-pattern mining over per-user event journeys: "
    "support of every length-2 and length-3 SUBSEQUENCE pattern "
    "(greedy-earliest matching — a user supports a>b>c iff events "
    "occur in that order, gaps allowed), the non-consecutive "
    "generalization of q254's contiguous paths. order_share divides a "
    "2-pattern's support by the users having both types at all: 0.5 "
    "means order is coin-flip, near 1 means a genuinely precedes b — "
    "the funnel-ordering evidence q81 assumes rather than tests. "
    "Greedy-earliest is exact for subsequence existence, and every "
    "statistic is an integer count.",
)
def q359_sequential_patterns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the pattern lattice is taxonomy-bounded (|types|^2 +
    |types|^3 candidates). The b/c expansion joins events to per-user
    anchors — fan-out bounded by |types| x events, shuffled on
    user_id, with map-side min-combines; no per-user collect, no
    quadratic event self-join (the greedy-earliest trick replaces
    exists-subsequence with two grouped mins)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    e2 = ev.select(
        "user_id", F.col("event_type").alias("ty"), F.row_number().over(w).alias("rn")
    )
    a = e2.groupBy("user_id", F.col("ty").alias("t_a")).agg(
        F.min("rn").cast("long").alias("r1")
    )
    b = (
        a.join(e2, "user_id")
        .filter(F.col("rn") > F.col("r1"))
        .groupBy("user_id", "t_a", F.col("ty").alias("t_b"))
        .agg(F.min("rn").cast("long").alias("r2"))
    )
    c = (
        b.join(e2, "user_id")
        .filter(F.col("rn") > F.col("r2"))
        .groupBy("user_id", "t_a", "t_b", F.col("ty").alias("t_c"))
        .agg(F.min("rn").cast("long").alias("r3"))
    )
    pres = (
        a.select("user_id", "t_a")
        .join(
            a.select("user_id", F.col("t_a").alias("t_b")),
            "user_id",
        )
        .groupBy("t_a", "t_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_copresent"))
    )
    sup2 = (
        b.groupBy("t_a", "t_b")
        .agg(F.count(F.lit(1)).cast("long").alias("support"))
        .join(F.broadcast(pres), ["t_a", "t_b"])
        .select(
            F.concat_ws(">", "t_a", "t_b").alias("pattern"),
            F.lit(2).alias("length"),
            "support",
            "n_copresent",
        )
    )
    sup3 = c.groupBy("t_a", "t_b", "t_c").agg(
        F.count(F.lit(1)).cast("long").alias("support")
    ).select(
        F.concat_ws(">", "t_a", "t_b", "t_c").alias("pattern"),
        F.lit(3).alias("length"),
        "support",
        F.lit(None).cast("long").alias("n_copresent"),
    )
    allp = sup2.unionByName(sup3)
    return (
        allp.select(
            "pattern",
            "length",
            "support",
            "n_copresent",
            F.when(
                F.col("n_copresent").isNotNull(),
                round_half_up(
                    F.col("support") * 1.0 / F.col("n_copresent"), 6
                ),
            ).alias("order_share"),
        )
        .orderBy(F.desc("support"), "pattern")
        .limit(_Q359_TOPK)
    )


# ── q360: post-stratification design effect ──────────────────────────────────

_Q360_STRATA = 10
# outcome: user's purchase revenue exceeds this many cents — a fixed
# threshold near the median per-user revenue, so p stays off the 0/1
# saturation boundary at every SF (a plain "ever purchased" flag
# saturates to p=1 and zeroes the SRS variance)
_Q360_REV = 60_000


@register(
    "q360_poststrat_design_effect",
    f"""
    WITH u AS (
      SELECT user_id,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CASE WHEN SUM(CASE WHEN event_type = 'purchase'
                               THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                               ELSE 0 END) >= {_Q360_REV}
                  THEN 1 ELSE 0 END AS y
      FROM events GROUP BY user_id
    ),
    ub AS (
      SELECT y, NTILE({_Q360_STRATA}) OVER (ORDER BY n_events, user_id) AS h
      FROM u
    ),
    s AS (
      SELECT h, CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(y) AS BIGINT) AS y_h
      FROM ub GROUP BY h
    ),
    n AS (SELECT CAST(SUM(n_h) AS BIGINT) AS n,
                 CAST(SUM(y_h) AS BIGINT) AS y FROM s),
    terms AS (
      SELECT s.h, s.n_h, s.y_h,
             CAST(FLOOR((s.n_h * 1.0 / n.n) * (s.n_h * 1.0 / n.n)
                        * (y_h * 1.0 / n_h) * (1 - y_h * 1.0 / n_h) / n_h
                        * 1000000000000 + 0.5) AS BIGINT) AS vq
      FROM s CROSS JOIN n
    )
    SELECT n.n AS n_users,
           CAST(COUNT(*) AS INTEGER) AS n_strata,
           FLOOR(n.y * 1.0 / n.n * 1000000 + 0.5) / 1000000 AS p_hat,
           FLOOR((n.y * 1.0 / n.n) * (1 - n.y * 1.0 / n.n) / n.n
                 * 1000000000 + 0.5) / 1000000000 AS var_srs,
           FLOOR(SUM(vq) / 1000.0 + 0.5) / 1000000000 AS var_post,
           CASE WHEN n.y > 0 AND n.y < n.n THEN
             FLOOR((SUM(vq) / 1000000000000.0)
                   / ((n.y * 1.0 / n.n) * (1 - n.y * 1.0 / n.n) / n.n)
                   * 1000000 + 0.5) / 1000000 END AS design_effect,
           CASE WHEN n.y > 0 AND n.y < n.n THEN
             FLOOR(n.n / ((SUM(vq) / 1000000000000.0)
                   / ((n.y * 1.0 / n.n) * (1 - n.y * 1.0 / n.n) / n.n))
                   * 100 + 0.5) / 100 END AS effective_n
    FROM terms CROSS JOIN n
    GROUP BY n.n, n.y
    """,
    doc="Post-stratification design effect for the high-revenue-user "
    "share estimate: stratify users into activity deciles (the q336 "
    "propensity strata), compare the simple-random-sampling variance "
    "p(1-p)/N against the post-stratified variance "
    "sum W_h^2 p_h(1-p_h)/n_h (Cochran 1977 ch. 5A). design_effect < 1 "
    "quantifies the precision the strata buy (activity explains "
    "outcome variance); effective_n is what the same data is 'worth' "
    "under SRS — the number that says whether stratifying q338's CUPED "
    "or q179's z-test is worth the pipeline complexity. Degenerate "
    "all-0/all-1 outcomes yield NULL ratios instead of a divide "
    "error. Per-stratum variance terms are pico-quantized before the "
    "exact integer rollup.",
)
def q360_poststrat_design_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-user aggregate, one NTILE over users (at true
    scale the decile edges come from approx quantiles instead — q80's
    path), one 10-row rollup. The variance algebra never touches
    user rows again."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.when(
            F.sum(
                F.when(F.col("event_type") == "purchase", cents).otherwise(0)
            )
            >= _Q360_REV,
            1,
        )
        .otherwise(0)
        .alias("y"),
    )
    ub = u.select(
        "y",
        F.ntile(_Q360_STRATA).over(Window.orderBy("n_events", "user_id")).alias("h"),
    )
    s = ub.groupBy("h").agg(
        F.count(F.lit(1)).cast("long").alias("n_h"),
        F.sum("y").cast("long").alias("y_h"),
    )
    n = s.agg(
        F.sum("n_h").cast("long").alias("n"), F.sum("y_h").cast("long").alias("y")
    )
    w_h = F.col("n_h") * 1.0 / F.col("n")
    p_h = F.col("y_h") * 1.0 / F.col("n_h")
    terms = s.crossJoin(F.broadcast(n)).select(
        "h",
        "n_h",
        "y_h",
        F.floor(
            w_h * w_h * p_h * (1 - p_h) / F.col("n_h") * 1_000_000_000_000 + 0.5
        )
        .cast("long")
        .alias("vq"),
    )
    p = F.col("y") * 1.0 / F.col("n")
    var_srs = p * (1 - p) / F.col("n")
    var_post = F.sum("vq") / 1_000_000_000_000.0
    nondeg = (F.col("y") > 0) & (F.col("y") < F.col("n"))
    return (
        terms.crossJoin(F.broadcast(n))
        .groupBy("n", "y")
        .agg(
            F.count(F.lit(1)).cast("int").alias("n_strata"),
            round_half_up(p, 6).alias("p_hat"),
            round_half_up(var_srs, 9).alias("var_srs"),
            (F.floor(F.sum("vq") / 1000.0 + 0.5) / 1_000_000_000).alias("var_post"),
            F.when(nondeg, round_half_up(var_post / var_srs, 6)).alias(
                "design_effect"
            ),
            F.when(
                nondeg, round_half_up(F.col("n") / (var_post / var_srs), 2)
            ).alias("effective_n"),
        )
        .select(
            F.col("n").alias("n_users"),
            "n_strata",
            "p_hat",
            "var_srs",
            "var_post",
            "design_effect",
            "effective_n",
        )
    )


# ── q361: effect-size panel (Cohen's d, Hedges' g, Cliff's delta, AUC) ───────

_Q361_A = "1-URGENT"
_Q361_B = "5-LOW"


@register(
    "q361_effect_sizes",
    f"""
    WITH v AS (
      SELECT CASE WHEN o_orderpriority = '{_Q361_A}' THEN 1 ELSE 0 END AS grp,
             CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders WHERE o_orderpriority IN ('{_Q361_A}', '{_Q361_B}')
    ),
    s AS (
      SELECT grp, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS su,
             CAST(SUM(cents::HUGEINT * cents::HUGEINT) AS DOUBLE) AS ssq
      FROM v GROUP BY grp
    ),
    h AS (
      SELECT cents,
             CAST(SUM(grp) AS BIGINT) AS ca,
             CAST(SUM(1 - grp) AS BIGINT) AS cb
      FROM v GROUP BY cents
    ),
    pr AS (
      SELECT cents, ca, cb,
             CAST(COALESCE(SUM(cb) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS cb_below,
             CAST(COALESCE(SUM(ca) OVER (ORDER BY cents
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS BIGINT) AS ca_below
      FROM h
    ),
    pc AS (
      SELECT CAST(SUM(ca * cb_below) AS BIGINT) AS gt_pairs,
             CAST(SUM(cb * ca_below) AS BIGINT) AS lt_pairs,
             CAST(SUM(ca * cb) AS BIGINT) AS tie_pairs
      FROM pr
    ),
    d AS (
      SELECT a.n AS n_a, b.n AS n_b,
             a.su * 1.0 / a.n / 100 AS m_a, b.su * 1.0 / b.n / 100 AS m_b,
             (a.ssq - a.su * 1.0 * a.su / a.n) / (a.n - 1) / 10000 AS va,
             (b.ssq - b.su * 1.0 * b.su / b.n) / (b.n - 1) / 10000 AS vb
      FROM (SELECT * FROM s WHERE grp = 1) a
      CROSS JOIN (SELECT * FROM s WHERE grp = 0) b
    )
    SELECT d.n_a, d.n_b,
           FLOOR((d.m_a - d.m_b) * 100 + 0.5) / 100 AS mean_diff,
           FLOOR((d.m_a - d.m_b)
                 / SQRT(((d.n_a - 1) * d.va + (d.n_b - 1) * d.vb)
                        / (d.n_a + d.n_b - 2)) * 1000000 + 0.5) / 1000000
             AS cohens_d,
           FLOOR((d.m_a - d.m_b)
                 / SQRT(((d.n_a - 1) * d.va + (d.n_b - 1) * d.vb)
                        / (d.n_a + d.n_b - 2))
                 * (1 - 3.0 / (4 * (d.n_a + d.n_b) - 9))
                 * 1000000 + 0.5) / 1000000 AS hedges_g,
           FLOOR((pc.gt_pairs - pc.lt_pairs) * 1.0 / (d.n_a * 1.0 * d.n_b)
                 * 1000000 + 0.5) / 1000000 AS cliffs_delta,
           FLOOR((pc.gt_pairs + pc.tie_pairs / 2.0) / (d.n_a * 1.0 * d.n_b)
                 * 1000000 + 0.5) / 1000000 AS auc
    FROM d CROSS JOIN pc
    """,
    doc="Effect-size panel for the urgent-vs-low order-value contrast: "
    "Cohen's d (pooled-SD standardized mean difference), Hedges' g "
    "(small-sample bias correction), Cliff's delta and the "
    "common-language AUC = P(X>Y) + P(X=Y)/2 — the PRACTICAL-"
    "significance counterpart to q333's Welch t (which only says the "
    "difference isn't zero, never whether it matters). The pair "
    "probabilities come exactly from the merged value histogram via "
    "prefix sums (sum ca x cb_below), never an n_a x n_b pair join; "
    "moments are the q333 integer sums.",
)
def q361_effect_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one filtered 2-group integer aggregate + one value
    histogram with a prefix-sum window (bounded by value resolution,
    q240's shape). Cliff's delta over billions of implicit pairs costs
    one histogram pass."""
    o = load_table(spark, sf_dir, "orders")
    v = o.filter(F.col("o_orderpriority").isin(_Q361_A, _Q361_B)).select(
        F.when(F.col("o_orderpriority") == _Q361_A, 1).otherwise(0).alias("grp"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = v.groupBy("grp").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("su"),
        F.sum(dec("cents") * dec("cents")).cast("double").alias("ssq"),
    )
    h = v.groupBy("cents").agg(
        F.sum("grp").cast("long").alias("ca"),
        F.sum(1 - F.col("grp")).cast("long").alias("cb"),
    )
    wc = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, -1)
    pr = h.select(
        "cents",
        "ca",
        "cb",
        F.coalesce(F.sum("cb").over(wc), F.lit(0)).cast("long").alias("cb_below"),
        F.coalesce(F.sum("ca").over(wc), F.lit(0)).cast("long").alias("ca_below"),
    )
    pc = pr.agg(
        F.sum(F.col("ca") * F.col("cb_below")).cast("long").alias("gt_pairs"),
        F.sum(F.col("cb") * F.col("ca_below")).cast("long").alias("lt_pairs"),
        F.sum(F.col("ca") * F.col("cb")).cast("long").alias("tie_pairs"),
    )
    a = s.filter(F.col("grp") == 1).select(
        F.col("n").alias("n_a"),
        (F.col("su") * 1.0 / F.col("n") / 100).alias("m_a"),
        (
            (F.col("ssq") - F.col("su") * 1.0 * F.col("su") / F.col("n"))
            / (F.col("n") - 1)
            / 10000
        ).alias("va"),
    )
    b = s.filter(F.col("grp") == 0).select(
        F.col("n").alias("n_b"),
        (F.col("su") * 1.0 / F.col("n") / 100).alias("m_b"),
        (
            (F.col("ssq") - F.col("su") * 1.0 * F.col("su") / F.col("n"))
            / (F.col("n") - 1)
            / 10000
        ).alias("vb"),
    )
    d = a.crossJoin(F.broadcast(b))
    sp = F.sqrt(
        ((F.col("n_a") - 1) * F.col("va") + (F.col("n_b") - 1) * F.col("vb"))
        / (F.col("n_a") + F.col("n_b") - 2)
    )
    dd = (F.col("m_a") - F.col("m_b")) / sp
    nn = F.col("n_a") * 1.0 * F.col("n_b")
    return d.crossJoin(F.broadcast(pc)).select(
        "n_a",
        "n_b",
        round_half_up(F.col("m_a") - F.col("m_b"), 2).alias("mean_diff"),
        round_half_up(dd, 6).alias("cohens_d"),
        round_half_up(
            dd * (1 - 3.0 / (4 * (F.col("n_a") + F.col("n_b")) - 9)), 6
        ).alias("hedges_g"),
        round_half_up(
            (F.col("gt_pairs") - F.col("lt_pairs")) * 1.0 / nn, 6
        ).alias("cliffs_delta"),
        round_half_up(
            (F.col("gt_pairs") + F.col("tie_pairs") / 2.0) / nn, 6
        ).alias("auc"),
    )


# ── q362: Benjamini-Hochberg FDR over per-nation value tests ─────────────────

_Q362_Q = 0.10  # FDR level

# Abramowitz & Stegun 26.2.17 constants (|error| < 7.5e-8): the normal
# tail via pure arithmetic + EXP — identical IEEE trees on both engines,
# which is what makes p-values hash-checkable at all
_AS_P = 0.2316419
_AS_B = (0.319381530, -0.356563782, 1.781477937, -1.821255978, 1.330274429)
_SQRT_2PI = 2.5066282746310002


def _q362_sql() -> str:
    b1, b2, b3, b4, b5 = _AS_B
    horner = (
        f"(t * ({b1} + t * ({b2} + t * ({b3} + t * ({b4} + t * {b5})))))"
    )
    return f"""
    WITH o AS (
      SELECT c.c_nationkey AS nat,
             CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    ),
    s AS (
      SELECT nat, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(cents) AS BIGINT) AS su,
             SUM(cents::HUGEINT * cents::HUGEINT) AS ssq
      FROM o GROUP BY nat
    ),
    g AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(su) AS BIGINT) AS su,
             SUM(ssq) AS ssq, CAST(COUNT(*) AS BIGINT) AS m
      FROM s
    ),
    z AS (
      SELECT s.nat, s.n, g.m,
             (s.su * 1.0 / s.n - (g.su - s.su) * 1.0 / (g.n - s.n))
             / SQRT(((CAST(s.ssq AS DOUBLE) - s.su * 1.0 * s.su / s.n)
                     / (s.n - 1)) / s.n
                    + ((CAST(g.ssq - s.ssq AS DOUBLE)
                        - (g.su - s.su) * 1.0 * (g.su - s.su) / (g.n - s.n))
                       / (g.n - s.n - 1)) / (g.n - s.n)) AS zv
      FROM s CROSS JOIN g
    ),
    p AS (
      SELECT nat, n, m, zv,
             2 * (EXP(-ABS(zv) * ABS(zv) / 2.0) / {_SQRT_2PI}) * {horner}
               AS pv
      FROM (SELECT nat, n, m, zv, 1 / (1 + {_AS_P} * ABS(zv)) AS t FROM z)
    ),
    r AS (
      SELECT nat, n, zv, pv, m,
             ROW_NUMBER() OVER (ORDER BY pv, nat) AS rn
      FROM p
    ),
    k AS (
      SELECT COALESCE(MAX(CASE WHEN pv <= rn * {_Q362_Q} / m THEN rn END), 0)
        AS kstar
      FROM r
    )
    SELECT r.nat AS nation, r.n AS n_orders,
           FLOOR(r.zv * 1000000 + 0.5) / 1000000 AS z_stat,
           FLOOR(r.pv * 100000000 + 0.5) / 100000000 AS p_value,
           CAST(r.rn AS BIGINT) AS p_rank,
           FLOOR(r.rn * {_Q362_Q} / r.m * 100000000 + 0.5) / 100000000
             AS bh_threshold,
           CASE WHEN r.rn <= k.kstar THEN 1 ELSE 0 END AS significant
    FROM r CROSS JOIN k
    ORDER BY r.rn
    """


@register(
    "q362_bh_fdr",
    _q362_sql(),
    doc="Benjamini-Hochberg FDR control (BH 1995, q = 0.10) over 25 "
    "simultaneous per-nation tests (Welch z of each nation's mean "
    "order value against the complement, moments from the q333 "
    "integer-cents idiom): p-values via the Abramowitz-Stegun "
    "26.2.17 normal tail (pure arithmetic + EXP in Horner form — "
    "identical IEEE trees on both engines, |approx error| < 7.5e-8, "
    "far below the 1e-8 rounding pin), then the step-up rule: reject "
    "the k* smallest p-values where k* = max{{k : p_(k) <= kq/m}}. "
    "The missing piece over q245/q333/q179: any dashboard running a "
    "test PER SEGMENT is silently multiple-testing, and BH is the "
    "standard correction.",
)
def q362_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one join + per-nation integer aggregate; the z/p/BH
    algebra runs on the |nations|-row relation with one broadcast
    global row and a bounded rank window. The step-up scan never
    touches order rows."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    o = orders.join(cust, orders["o_custkey"] == cust["c_custkey"]).select(
        F.col("c_nationkey").alias("nat"),
        F.floor(F.col("o_totalprice") * 100 + 0.5).cast("long").alias("cents"),
    )
    # squares stay DECIMAL through BOTH aggregation levels (the global
    # sum of per-nation double ssq would be order-dependent); doubles
    # appear only inside the scalar tree, mirroring the oracle's CASTs
    s = o.groupBy("nat").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("cents").cast("long").alias("su"),
        F.sum(dec("cents") * dec("cents")).alias("ssq"),
    )
    g = s.agg(
        F.sum("n").cast("long").alias("gn"),
        F.sum("su").cast("long").alias("gsu"),
        F.sum("ssq").alias("gssq"),
        F.count(F.lit(1)).cast("long").alias("m"),
    )
    rn_, rsu = F.col("gn") - F.col("n"), F.col("gsu") - F.col("su")
    rssq = (F.col("gssq") - F.col("ssq")).cast("double")
    ssq_d = F.col("ssq").cast("double")
    zv = (
        F.col("su") * 1.0 / F.col("n") - rsu * 1.0 / rn_
    ) / F.sqrt(
        ((ssq_d - F.col("su") * 1.0 * F.col("su") / F.col("n")) / (F.col("n") - 1))
        / F.col("n")
        + ((rssq - rsu * 1.0 * rsu / rn_) / (rn_ - 1)) / rn_
    )
    z = s.crossJoin(F.broadcast(g)).select("nat", "n", "m", zv.alias("zv"))
    t = 1 / (1 + _AS_P * F.abs(F.col("zv")))
    b1, b2, b3, b4, b5 = _AS_B
    horner = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
    pv = (
        2
        * (F.exp(-F.abs(F.col("zv")) * F.abs(F.col("zv")) / 2.0) / _SQRT_2PI)
        * horner
    )
    p = z.select("nat", "n", "m", "zv", pv.alias("pv"))
    r = p.select(
        "nat",
        "n",
        "zv",
        "pv",
        "m",
        F.row_number().over(Window.orderBy("pv", "nat")).alias("rn"),
    )
    k = r.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pv") <= F.col("rn") * _Q362_Q / F.col("m"), F.col("rn")
                )
            ),
            F.lit(0),
        ).alias("kstar")
    )
    return (
        r.crossJoin(F.broadcast(k))
        .select(
            F.col("nat").alias("nation"),
            F.col("n").alias("n_orders"),
            round_half_up(F.col("zv"), 6).alias("z_stat"),
            round_half_up(F.col("pv"), 8).alias("p_value"),
            F.col("rn").cast("long").alias("p_rank"),
            round_half_up(F.col("rn") * _Q362_Q / F.col("m"), 8).alias(
                "bh_threshold"
            ),
            F.when(F.col("rn") <= F.col("kstar"), 1).otherwise(0).alias(
                "significant"
            ),
        )
        .orderBy("p_rank")
    )


# ── q363: permutation test via seeded hash label-flips ───────────────────────

_Q363_B = 128


@register(
    "q363_permutation_test",
    f"""
    WITH u AS (
      SELECT user_id, user_id % 2 AS arm,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    obs AS (
      SELECT SUM(CASE WHEN arm = 1 THEN y ELSE 0 END) * 1.0
               / SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
             - SUM(CASE WHEN arm = 0 THEN y ELSE 0 END) * 1.0
               / SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS t_obs
      FROM u
    ),
    spine AS (SELECT unnest(range({_Q363_B})) AS b),
    perm AS (
      SELECT s.b, u.y,
             CAST(('0x' || substr(md5('perm|' || CAST(s.b AS VARCHAR) || '|'
               || CAST(u.user_id AS VARCHAR)), 1, 15)) AS BIGINT) % 2 AS parm
      FROM u CROSS JOIN spine s
    ),
    pt AS (
      SELECT b,
             SUM(CASE WHEN parm = 1 THEN y ELSE 0 END) * 1.0
               / SUM(CASE WHEN parm = 1 THEN 1 ELSE 0 END)
             - SUM(CASE WHEN parm = 0 THEN y ELSE 0 END) * 1.0
               / SUM(CASE WHEN parm = 0 THEN 1 ELSE 0 END) AS t_b
      FROM perm GROUP BY b
      HAVING SUM(CASE WHEN parm = 1 THEN 1 ELSE 0 END) > 0
         AND SUM(CASE WHEN parm = 0 THEN 1 ELSE 0 END) > 0
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM u) AS n_users,
           CAST(COUNT(*) AS BIGINT) AS n_permutations,
           FLOOR(o.t_obs / 100 * 10000 + 0.5) / 10000 AS observed_diff,
           CAST(SUM(CASE WHEN ABS(t_b) >= ABS(o.t_obs) THEN 1 ELSE 0 END)
                AS BIGINT) AS n_extreme,
           FLOOR((1 + SUM(CASE WHEN ABS(t_b) >= ABS(o.t_obs) THEN 1 ELSE 0
                          END)) * 1.0 / (COUNT(*) + 1) * 1000000 + 0.5)
             / 1000000 AS p_value
    FROM pt CROSS JOIN obs o
    GROUP BY o.t_obs
    """,
    doc="Permutation test of the arm difference in per-user purchase "
    "revenue (the q338 arms): B = 128 label permutations minted from "
    "seeded md5 parity per (user, replicate) — no RNG state, fully "
    "replayable, the q247 bootstrap idiom applied to the null "
    "distribution. p = (1 + #extreme)/(B + 1), the add-one rule that "
    "keeps the estimate valid. Unlike q333/q362's normal theory this "
    "is assumption-free (exchangeability only) and EXACT by "
    "construction: every permutation statistic is an integer-cents "
    "ratio, so both engines agree bit-for-bit on the entire null "
    "distribution, not just the summary.",
)
def q363_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the spine multiplies PER-USER (not per-event) map work by
    B; the shuffle carries B groups of four integer sums. At 100 TB
    the event scan happens once (the per-user aggregate) and the
    permutation layer touches only the user relation."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("long")
        .alias("y"),
    ).select("user_id", (F.col("user_id") % 2).alias("arm"), "y")
    # try_divide: a one-user lake has an empty arm -> diff undefined
    arm_diff = lambda c: (
        F.try_divide(
            F.sum(F.when(F.col(c) == 1, F.col("y")).otherwise(0)) * 1.0,
            F.sum(F.when(F.col(c) == 1, 1).otherwise(0)),
        )
        - F.try_divide(
            F.sum(F.when(F.col(c) == 0, F.col("y")).otherwise(0)) * 1.0,
            F.sum(F.when(F.col(c) == 0, 1).otherwise(0)),
        )
    )
    obs = u.agg(arm_diff("arm").alias("t_obs"))
    spine = spark.range(_Q363_B).select(F.col("id").cast("int").alias("b"))
    parm = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat(
                        F.lit("perm|"),
                        F.col("b").cast("string"),
                        F.lit("|"),
                        F.col("user_id").cast("string"),
                    )
                ),
                1,
                15,
            ),
            16,
            10,
        ).cast("long")
        % 2
    )
    perm = u.crossJoin(F.broadcast(spine)).select(
        "b", "y", parm.alias("parm")
    )
    pt = (
        perm.groupBy("b")
        .agg(
            arm_diff("parm").alias("t_b"),
            F.sum(F.when(F.col("parm") == 1, 1).otherwise(0)).alias("c1"),
            F.sum(F.when(F.col("parm") == 0, 1).otherwise(0)).alias("c0"),
        )
        .filter((F.col("c1") > 0) & (F.col("c0") > 0))
        .select("b", "t_b")
    )
    nn = u.agg(F.count(F.lit(1)).cast("long").alias("n_users"))
    extreme = F.sum(
        F.when(F.abs(F.col("t_b")) >= F.abs(F.col("t_obs")), 1).otherwise(0)
    ).cast("long")
    return (
        pt.crossJoin(F.broadcast(obs))
        .groupBy("t_obs")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_permutations"),
            extreme.alias("n_extreme"),
        )
        .crossJoin(F.broadcast(nn))
        .select(
            "n_users",
            "n_permutations",
            round_half_up(F.col("t_obs") / 100, 4).alias("observed_diff"),
            "n_extreme",
            round_half_up(
                (1 + F.col("n_extreme")) * 1.0 / (F.col("n_permutations") + 1), 6
            ).alias("p_value"),
        )
    )


# ── q364: Naive Bayes language classifier, trained and evaluated in-engine ───


@register(
    "q364_naive_bayes_langid",
    """
    WITH tok AS (
      SELECT doc_id, lang,
             unnest(list_filter(string_split_regex(lower(text), '[^a-z]+'),
                                t -> t <> '')) AS w
      FROM documents
    ),
    tc AS (
      SELECT lang, w, CAST(COUNT(*) AS BIGINT) AS c
      FROM tok WHERE doc_id % 5 <> 0 GROUP BY lang, w
    ),
    tot AS (SELECT lang, CAST(SUM(c) AS BIGINT) AS t FROM tc GROUP BY lang),
    vv AS (SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS v FROM tc),
    model AS (
      SELECT tc.lang, tc.w,
             CAST(FLOOR(LN((tc.c + 1) * 1.0 / (tot.t + vv.v)) * 1000000 + 0.5)
                  AS BIGINT) AS lnq
      FROM tc JOIN tot ON tot.lang = tc.lang CROSS JOIN vv
    ),
    dflt AS (
      SELECT tot.lang,
             CAST(FLOOR(LN(1.0 / (tot.t + vv.v)) * 1000000 + 0.5) AS BIGINT)
               AS lnq0
      FROM tot CROSS JOIN vv
    ),
    pri AS (
      SELECT lang,
             CAST(FLOOR(LN(COUNT(*) * 1.0 / (SELECT COUNT(*) FROM documents
                                             WHERE doc_id % 5 <> 0))
                        * 1000000 + 0.5) AS BIGINT) AS prq
      FROM documents WHERE doc_id % 5 <> 0 GROUP BY lang
    ),
    test AS (
      SELECT doc_id, lang AS actual, w, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM tok WHERE doc_id % 5 = 0 GROUP BY doc_id, lang, w
    ),
    scored AS (
      SELECT te.doc_id, te.actual, d.lang AS cand,
             MAX(p.prq) + CAST(SUM(te.cnt * COALESCE(m.lnq, d.lnq0))
                               AS BIGINT) AS score
      FROM test te
      CROSS JOIN dflt d
      LEFT JOIN model m ON m.lang = d.lang AND m.w = te.w
      JOIN pri p ON p.lang = d.lang
      GROUP BY te.doc_id, te.actual, d.lang, d.lnq0
    ),
    pred AS (
      SELECT doc_id, actual, cand AS predicted
      FROM (SELECT doc_id, actual, cand,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY score DESC, cand) AS rn
            FROM scored) WHERE rn = 1
    )
    SELECT actual, predicted, CAST(COUNT(*) AS BIGINT) AS n_docs,
           FLOOR(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (PARTITION BY actual)
                 * 10000 + 0.5) / 10000 AS row_share
    FROM pred GROUP BY actual, predicted
    ORDER BY actual, predicted
    """,
    doc="Multinomial Naive Bayes language classifier trained AND "
    "evaluated entirely in-engine: Laplace-smoothed token likelihoods "
    "and class priors fitted on the doc_id %% 5 <> 0 split, held-out "
    "docs scored by prior + sum cnt x ln p(w|lang) with the smoothed "
    "unseen-token default, argmax per doc, confusion matrix out. "
    "Every log-likelihood is quantized to an integer BEFORE the "
    "per-doc sum, so training, scoring, and the confusion matrix are "
    "all hash-exact — a complete supervised-learning loop under the "
    "correctness gate, upgrading q27's character-heuristic lang-id "
    "and giving q242's confusion audit a second, learned predictor.",
)
def q364_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: model relations are vocabulary-bounded (broadcast); the
    scoring join fans test tokens out by |langs| (map-side, bounded
    taxonomy) and re-aggregates per (doc, lang) on integers. At a
    vocabulary too large to broadcast the token join degrades to a
    shuffle hash join on w; nothing else changes."""
    docs = load_table(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id",
        "lang",
        F.explode(
            F.filter(F.split(F.lower("text"), "[^a-z]+"), lambda t: t != "")
        ).alias("w"),
    )
    train = tok.filter(F.col("doc_id") % 5 != 0)
    tc = train.groupBy("lang", "w").agg(F.count(F.lit(1)).cast("long").alias("c"))
    tot = tc.groupBy("lang").agg(F.sum("c").cast("long").alias("t"))
    vv = tc.agg(F.countDistinct("w").cast("long").alias("v"))
    model = (
        tc.join(F.broadcast(tot), "lang")
        .crossJoin(F.broadcast(vv))
        .select(
            "lang",
            "w",
            F.floor(
                F.log((F.col("c") + 1) * 1.0 / (F.col("t") + F.col("v")))
                * 1_000_000
                + 0.5
            )
            .cast("long")
            .alias("lnq"),
        )
    )
    dflt = tot.crossJoin(F.broadcast(vv)).select(
        "lang",
        F.floor(F.log(1.0 / (F.col("t") + F.col("v"))) * 1_000_000 + 0.5)
        .cast("long")
        .alias("lnq0"),
    )
    tr_docs = docs.filter(F.col("doc_id") % 5 != 0)
    n_train = tr_docs.agg(F.count(F.lit(1)).alias("nt"))
    pri = (
        tr_docs.groupBy("lang")
        .agg(F.count(F.lit(1)).alias("nl"))
        .crossJoin(F.broadcast(n_train))
        .select(
            "lang",
            F.floor(F.log(F.col("nl") * 1.0 / F.col("nt")) * 1_000_000 + 0.5)
            .cast("long")
            .alias("prq"),
        )
    )
    test = (
        tok.filter(F.col("doc_id") % 5 == 0)
        .groupBy("doc_id", F.col("lang").alias("actual"), "w")
        .agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    )
    model_r = model.select(
        F.col("lang").alias("m_lang"), F.col("w").alias("m_w"), "lnq"
    )
    dflt_r = dflt.select(F.col("lang").alias("cand"), "lnq0")
    pri_r = pri.select(F.col("lang").alias("p_lang"), "prq")
    scored = (
        test.crossJoin(F.broadcast(dflt_r))
        .join(
            F.broadcast(model_r),
            (F.col("m_lang") == F.col("cand")) & (F.col("m_w") == F.col("w")),
            "left",
        )
        .join(F.broadcast(pri_r), F.col("p_lang") == F.col("cand"))
        .groupBy("doc_id", "actual", "cand", "lnq0")
        .agg(
            (
                F.max("prq")
                + F.sum(
                    F.col("cnt") * F.coalesce(F.col("lnq"), F.col("lnq0"))
                ).cast("long")
            ).alias("score")
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(F.desc("score"), "cand")
    pred = (
        scored.select(
            "doc_id", "actual", "cand", F.row_number().over(wd).alias("rn")
        )
        .filter(F.col("rn") == 1)
        .select("doc_id", "actual", F.col("cand").alias("predicted"))
    )
    wa = Window.partitionBy("actual")
    return (
        pred.groupBy("actual", "predicted")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .select(
            "actual",
            "predicted",
            "n_docs",
            round_half_up(
                F.col("n_docs") * 1.0 / F.sum("n_docs").over(wa), 4
            ).alias("row_share"),
        )
        .orderBy("actual", "predicted")
    )


# ── q365: decision-stump learner (best Gini split per feature) ───────────────


def _q365_branch_sql(feat: str, expr: str) -> str:
    return f"""
      SELECT '{feat}' AS feature, v AS threshold, nl, yl, nr, yr,
             2.0 * (yl * 1.0 * (nl - yl) / nl + yr * 1.0 * (nr - yr) / nr)
               / (nl + nr) AS gini
      FROM (
        SELECT v,
               CAST(SUM(n) OVER w AS BIGINT) AS nl,
               CAST(SUM(y) OVER w AS BIGINT) AS yl,
               CAST(SUM(n) OVER () - SUM(n) OVER w AS BIGINT) AS nr,
               CAST(SUM(y) OVER () - SUM(y) OVER w AS BIGINT) AS yr
        FROM (SELECT {expr} AS v, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
                          AS BIGINT) AS y
              FROM lineitem GROUP BY 1)
        WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                     AND CURRENT ROW)
      ) WHERE nr > 0"""


def _q365_sql() -> str:
    branches = " UNION ALL ".join(
        _q365_branch_sql(f, e)
        for f, e in [
            ("discount_cents", "CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT)"),
            ("quantity", "CAST(FLOOR(l_quantity + 0.5) AS BIGINT)"),
        ]
    )
    return f"""
    WITH cand AS ({branches}),
    best AS (
      SELECT feature, threshold, nl, yl, nr, yr, gini,
             ROW_NUMBER() OVER (PARTITION BY feature
                                ORDER BY gini, threshold) AS rn
      FROM cand
    ),
    root AS (
      SELECT 2.0 * SUM(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)
             * 1.0 * SUM(CASE WHEN l_returnflag = 'R' THEN 0 ELSE 1 END)
             / (COUNT(*) * 1.0 * COUNT(*)) AS g0
      FROM lineitem
    )
    SELECT b.feature, b.threshold AS best_threshold,
           b.nl + b.nr AS n_rows,
           FLOOR(r.g0 * 1000000 + 0.5) / 1000000 AS gini_root,
           FLOOR(b.gini * 1000000 + 0.5) / 1000000 AS gini_split,
           FLOOR((r.g0 - b.gini) * 1000000 + 0.5) / 1000000 AS gini_gain,
           FLOOR(b.yl * 1.0 / b.nl * 1000000 + 0.5) / 1000000 AS rate_left,
           FLOOR(b.yr * 1.0 / b.nr * 1000000 + 0.5) / 1000000 AS rate_right
    FROM best b CROSS JOIN root r
    WHERE b.rn = 1
    ORDER BY b.feature
    """


@register(
    "q365_decision_stump",
    _q365_sql(),
    doc="Decision-stump learner: for each candidate feature (discount "
    "level, quantity) find the threshold minimizing the weighted Gini "
    "impurity of the returnflag split — the CART split criterion, "
    "evaluated for EVERY threshold from one value-histogram prefix "
    "sum (never a per-threshold rescan). gini_gain against the root "
    "impurity says whether the feature predicts returns at all — the "
    "supervised complement of q211's WoE/IV screening, and the exact "
    "primitive a distributed tree ensemble evaluates millions of "
    "times. Per-threshold impurities are fixed integer-ratio trees; "
    "the argmin is a deterministic (gini, threshold) rank.",
)
def q365_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one histogram aggregate per feature (map-side), prefix
    sums over the bounded distinct-value relation, a rank over
    candidates. The classic single-pass split finder."""
    li = load_table(spark, sf_dir, "lineitem")
    y = F.when(F.col("l_returnflag") == "R", 1).otherwise(0)
    out = None
    for feat, expr in [
        ("discount_cents", F.floor(F.col("l_discount") * 100 + 0.5).cast("long")),
        ("quantity", F.floor(F.col("l_quantity") + 0.5).cast("long")),
    ]:
        h = li.select(expr.alias("v"), y.alias("yy")).groupBy("v").agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.sum("yy").cast("long").alias("y"),
        )
        wcum = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, 0)
        wall = Window.partitionBy()
        cand = h.select(
            "v",
            F.sum("n").over(wcum).cast("long").alias("nl"),
            F.sum("y").over(wcum).cast("long").alias("yl"),
            (F.sum("n").over(wall) - F.sum("n").over(wcum))
            .cast("long")
            .alias("nr"),
            (F.sum("y").over(wall) - F.sum("y").over(wcum))
            .cast("long")
            .alias("yr"),
        ).filter(F.col("nr") > 0)
        gini = (
            2.0
            * (
                F.col("yl") * 1.0 * (F.col("nl") - F.col("yl")) / F.col("nl")
                + F.col("yr") * 1.0 * (F.col("nr") - F.col("yr")) / F.col("nr")
            )
            / (F.col("nl") + F.col("nr"))
        )
        branch = cand.select(
            F.lit(feat).alias("feature"),
            F.col("v").alias("threshold"),
            "nl",
            "yl",
            "nr",
            "yr",
            gini.alias("gini"),
        )
        out = branch if out is None else out.unionByName(branch)
    wb = Window.partitionBy("feature").orderBy("gini", "threshold")
    best = out.select(
        "*", F.row_number().over(wb).alias("rn")
    ).filter(F.col("rn") == 1)
    root = li.agg(
        (
            2.0
            * F.sum(y)
            * 1.0
            * F.sum(1 - y)
            / (F.count(F.lit(1)) * 1.0 * F.count(F.lit(1)))
        ).alias("g0")
    )
    return (
        best.crossJoin(F.broadcast(root))
        .select(
            "feature",
            F.col("threshold").alias("best_threshold"),
            (F.col("nl") + F.col("nr")).alias("n_rows"),
            round_half_up(F.col("g0"), 6).alias("gini_root"),
            round_half_up(F.col("gini"), 6).alias("gini_split"),
            round_half_up(F.col("g0") - F.col("gini"), 6).alias("gini_gain"),
            round_half_up(F.col("yl") * 1.0 / F.col("nl"), 6).alias("rate_left"),
            round_half_up(F.col("yr") * 1.0 / F.col("nr"), 6).alias("rate_right"),
        )
        .orderBy("feature")
    )


# ── q366: energy distance between embedding label groups ────────────────────

_Q366_DIM = 64
_Q366_N = 64  # per-group deterministic sample (ORDER BY vec_id)
_Q366_LA = 0
_Q366_LB = 1


def _q366_dist_sql(a: str, b: str) -> str:
    # sqrt of the sequential dim-order fold — the q47 list_sum idiom
    return (
        f"sqrt(list_sum(list_transform(range(1,{_Q366_DIM + 1}), "
        f"i -> ({a}[i]::DOUBLE - {b}[i]::DOUBLE) "
        f"* ({a}[i]::DOUBLE - {b}[i]::DOUBLE))))"
    )


def _q366_sql() -> str:
    d_ab = _q366_dist_sql("a.embedding", "b.embedding")
    return f"""
    WITH xa AS (
      SELECT vec_id, embedding FROM embeddings WHERE label = {_Q366_LA}
      ORDER BY vec_id LIMIT {_Q366_N}
    ),
    xb AS (
      SELECT vec_id, embedding FROM embeddings WHERE label = {_Q366_LB}
      ORDER BY vec_id LIMIT {_Q366_N}
    ),
    sxy AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(CAST(FLOOR({d_ab} * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq
      FROM xa a CROSS JOIN xb b
    ),
    sxx AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(CAST(FLOOR({d_ab} * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq
      FROM xa a JOIN xa b ON b.vec_id > a.vec_id
    ),
    syy AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS np,
             CAST(SUM(CAST(FLOOR({d_ab} * 1000000 + 0.5) AS BIGINT))
                  AS BIGINT) AS sq
      FROM xb a JOIN xb b ON b.vec_id > a.vec_id
    ),
    na AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM xa),
    nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM xb)
    SELECT na.n AS n_a, nb.n AS n_b,
           FLOOR(sxy.sq / 1000000.0 / (na.n * nb.n) * 1000000 + 0.5)
             / 1000000 AS mean_cross,
           FLOOR(2.0 * sxx.sq / 1000000.0 / (na.n * 1.0 * na.n)
                 * 1000000 + 0.5) / 1000000 AS mean_within_a,
           FLOOR(2.0 * syy.sq / 1000000.0 / (nb.n * 1.0 * nb.n)
                 * 1000000 + 0.5) / 1000000 AS mean_within_b,
           FLOOR((2.0 * (sxy.sq / 1000000.0 / (na.n * nb.n))
                  - 2.0 * sxx.sq / 1000000.0 / (na.n * 1.0 * na.n)
                  - 2.0 * syy.sq / 1000000.0 / (nb.n * 1.0 * nb.n))
                 * 1000000 + 0.5) / 1000000 AS energy_distance
    FROM sxy CROSS JOIN sxx CROSS JOIN syy CROSS JOIN na CROSS JOIN nb
    """


@register(
    "q366_energy_distance",
    _q366_sql(),
    doc="Energy distance (Szekely & Rizzo 2004) between two embedding "
    "label groups on deterministic per-group samples: "
    "E = 2 E|X-Y| - E|X-X'| - E|Y-Y'| from exact pair-distance sums — "
    "each L2 distance is the sequential dim-order fold (the q47 "
    "list_sum idiom), micro-quantized per PAIR before the integer "
    "rollup. A strictly distribution-sensitive two-sample statistic "
    "for vector data: q213's drift measures centroid shift, energy "
    "distance detects ANY distributional difference (spread, shape, "
    "multimodality) and is the standard MMD-class check before "
    "trusting embedding-space clusters as supervision.",
)
def q366_energy_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: bounded per-group samples (n=64 -> ~8k pair folds); on a
    real corpus the samples stay driver-bounded no matter the table
    size, so the statistic is O(n^2 d) constant work after two
    TakeOrdered scans. The pair joins are broadcast nested loops over
    the samples."""
    emb = load_table(spark, sf_dir, "embeddings")
    xa = (
        emb.filter(F.col("label") == _Q366_LA)
        .orderBy("vec_id")
        .limit(_Q366_N)
        .select(F.col("vec_id").alias("ida"), F.col("embedding").alias("ea"))
    )
    xb = (
        emb.filter(F.col("label") == _Q366_LB)
        .orderBy("vec_id")
        .limit(_Q366_N)
        .select(F.col("vec_id").alias("idb"), F.col("embedding").alias("eb"))
    )
    dist = F.sqrt(
        F.expr(
            f"aggregate(transform(sequence(1, {_Q366_DIM}), "
            "i -> (CAST(element_at(ea, i) AS DOUBLE) "
            "- CAST(element_at(eb, i) AS DOUBLE)) "
            "* (CAST(element_at(ea, i) AS DOUBLE) "
            "- CAST(element_at(eb, i) AS DOUBLE))), "
            "CAST(0.0 AS DOUBLE), (acc, e) -> acc + e)"
        )
    )
    dq = F.floor(dist * 1_000_000 + 0.5).cast("long")
    sxy = xa.crossJoin(F.broadcast(xb)).agg(
        F.count(F.lit(1)).cast("long").alias("np"),
        F.sum(dq).cast("long").alias("sq"),
    )
    xa2 = xa.select(F.col("ida").alias("idb"), F.col("ea").alias("eb"))
    sxx = (
        xa.join(F.broadcast(xa2), F.col("idb") > F.col("ida"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.sum(dq).cast("long").alias("sq"),
        )
    )
    xb1 = xb.select(F.col("idb").alias("ida"), F.col("eb").alias("ea"))
    syy = (
        xb1.join(F.broadcast(xb), F.col("idb") > F.col("ida"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("np"),
            F.sum(dq).cast("long").alias("sq"),
        )
    )
    na = xa.agg(F.count(F.lit(1)).cast("long").alias("n_a"))
    nb = xb.agg(F.count(F.lit(1)).cast("long").alias("n_b"))
    mc = F.col("sq") / 1_000_000.0 / (F.col("n_a") * F.col("n_b"))
    ma = 2.0 * F.col("sq_xx") / 1_000_000.0 / (F.col("n_a") * 1.0 * F.col("n_a"))
    mb = 2.0 * F.col("sq_yy") / 1_000_000.0 / (F.col("n_b") * 1.0 * F.col("n_b"))
    return (
        sxy.crossJoin(F.broadcast(sxx.select(F.col("sq").alias("sq_xx"))))
        .crossJoin(F.broadcast(syy.select(F.col("sq").alias("sq_yy"))))
        .crossJoin(F.broadcast(na))
        .crossJoin(F.broadcast(nb))
        .select(
            "n_a",
            "n_b",
            round_half_up(mc, 6).alias("mean_cross"),
            round_half_up(ma, 6).alias("mean_within_a"),
            round_half_up(mb, 6).alias("mean_within_b"),
            round_half_up(2.0 * mc - ma - mb, 6).alias("energy_distance"),
        )
    )


# ── q367: Cochran's Q across the three dedup detectors ───────────────────────


def _q367_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    mh = _REGISTRY["q24_minhash_lsh_dedup"].sql
    sh = _REGISTRY["q25_simhash_dedup"].sql
    ng = _REGISTRY["q23_ngram_jaccard_dedup"].sql
    return f"""
    WITH mh AS ({mh}),
    sh AS ({sh}),
    ng AS ({ng}),
    uni AS (
      SELECT doc_a, doc_b FROM mh
      UNION SELECT doc_a, doc_b FROM sh
      UNION SELECT doc_a, doc_b FROM ng
    ),
    x AS (
      SELECT u.doc_a, u.doc_b,
             CASE WHEN m.doc_a IS NOT NULL THEN 1 ELSE 0 END AS x1,
             CASE WHEN s.doc_a IS NOT NULL THEN 1 ELSE 0 END AS x2,
             CASE WHEN g.doc_a IS NOT NULL THEN 1 ELSE 0 END AS x3
      FROM uni u
      LEFT JOIN mh m ON m.doc_a = u.doc_a AND m.doc_b = u.doc_b
      LEFT JOIN sh s ON s.doc_a = u.doc_a AND s.doc_b = u.doc_b
      LEFT JOIN ng g ON g.doc_a = u.doc_a AND g.doc_b = u.doc_b
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x1) AS BIGINT) AS g1,
             CAST(SUM(x2) AS BIGINT) AS g2,
             CAST(SUM(x3) AS BIGINT) AS g3,
             CAST(SUM(x1 + x2 + x3) AS BIGINT) AS sl,
             CAST(SUM((x1 + x2 + x3) * (x1 + x2 + x3)) AS BIGINT) AS sl2
      FROM x
    )
    SELECT n AS n_pairs_union, g1 AS minhash_hits, g2 AS simhash_hits,
           g3 AS ngram_hits,
           CASE WHEN 3 * sl - sl2 > 0 THEN
             FLOOR(CAST(3 * 2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)
                                 - sl * sl) AS DOUBLE)
                   / (3 * sl - sl2) * 1000000 + 0.5) / 1000000 END AS cochran_q
    FROM s
    """


@register(
    "q367_cochran_q",
    _q367_sql(),
    doc="Cochran's Q test (Cochran 1950) across the THREE near-dup "
    "detectors on the union pair universe: do MinHash, SimHash and "
    "n-gram Jaccard have the same marginal hit rate, accounting for "
    "the pairwise matching (each pair is its own block)? "
    "Q = k(k-1)(k sum G_j^2 - (sum G_j)^2) / (k sum L_i - sum L_i^2), "
    "chi^2 with k-1 df under H0. The K-detector generalization of "
    "q335's McNemar (k=2) and the significance layer over q277's "
    "descriptive agreement: a large Q says the detectors genuinely "
    "rank recall differently, not just disagree pair-by-pair. Pure "
    "integer counts into one closed-form tree.",
)
def q367_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: inherits the detector runs (audit family — stored pair
    relations via the audit index at scale); the statistic is one
    union + three membership joins on pair keys and a single fold.
    Blocks where all detectors agree (L_i = 0 or 3) cancel out of Q
    exactly as the test intends."""
    from .queries import QUERY_REGISTRY as _REGISTRY, build_concurrently

    # The three detectors are independent; their internal eager barriers
    # (q24/q25 persist+count signature bases, q23's shingle join forced
    # eager here) previously ran back-to-back. Build them from a driver
    # thread pool (guide §2.6) so each build back-fills the others' job
    # tails; the pair relations and the Q statistic are unchanged.
    mh, sh, ng = build_concurrently(
        lambda: _REGISTRY["q24_minhash_lsh_dedup"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
        lambda: _REGISTRY["q25_simhash_dedup"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
        lambda: _REGISTRY["q23_ngram_jaccard_dedup"]
        .fn(spark, sf_dir)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True),
    )
    return _cochran_q(mh, sh, ng)


def _cochran_q(mh: DataFrame, sh: DataFrame, ng: DataFrame) -> DataFrame:
    """Cochran's Q over three (doc_a, doc_b) capture relations."""
    uni = mh.unionByName(sh).unionByName(ng).distinct()
    x = (
        uni.join(mh.withColumn("x1", F.lit(1)), ["doc_a", "doc_b"], "left")
        .join(sh.withColumn("x2", F.lit(1)), ["doc_a", "doc_b"], "left")
        .join(ng.withColumn("x3", F.lit(1)), ["doc_a", "doc_b"], "left")
        .select(
            F.coalesce("x1", F.lit(0)).alias("x1"),
            F.coalesce("x2", F.lit(0)).alias("x2"),
            F.coalesce("x3", F.lit(0)).alias("x3"),
        )
    )
    l = F.col("x1") + F.col("x2") + F.col("x3")
    s = x.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x1").cast("long").alias("g1"),
        F.sum("x2").cast("long").alias("g2"),
        F.sum("x3").cast("long").alias("g3"),
        F.sum(l).cast("long").alias("sl"),
        F.sum(l * l).cast("long").alias("sl2"),
    )
    gsq = (
        F.col("g1") * F.col("g1")
        + F.col("g2") * F.col("g2")
        + F.col("g3") * F.col("g3")
    )
    den = 3 * F.col("sl") - F.col("sl2")
    q = (3 * 2 * (3 * gsq - F.col("sl") * F.col("sl"))).cast("double") / den
    return s.select(
        F.col("n").alias("n_pairs_union"),
        F.col("g1").alias("minhash_hits"),
        F.col("g2").alias("simhash_hits"),
        F.col("g3").alias("ngram_hits"),
        F.when(den > 0, round_half_up(q, 6)).alias("cochran_q"),
    )


# ── q368: HITS hubs/authorities in exact fixed-point arithmetic ──────────────

_Q368_ITERS = 8
_Q368_SCALE = 1_000_000
_Q368_TOPK = 15


def _q368_sql() -> str:
    head = f"""
    WITH edges AS MATERIALIZED (
      SELECT DISTINCT o.o_custkey AS hub, l.l_partkey AS auth
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    ),
    h0 AS MATERIALIZED (SELECT DISTINCT hub,
           CAST({_Q368_SCALE} AS BIGINT) AS hv FROM edges)"""
    steps = []
    for k in range(1, _Q368_ITERS + 1):
        steps.append(f"""
    ar{k} AS MATERIALIZED (
      SELECT e.auth, CAST(SUM(h.hv) AS BIGINT) AS raw
      FROM edges e JOIN h{k - 1} h ON h.hub = e.hub GROUP BY e.auth),
    a{k} AS MATERIALIZED (
      SELECT auth, CAST(raw * {_Q368_SCALE} // (SELECT MAX(raw) FROM ar{k})
                        AS BIGINT) AS av
      FROM ar{k}),
    hr{k} AS MATERIALIZED (
      SELECT e.hub, CAST(SUM(a.av) AS BIGINT) AS raw
      FROM edges e JOIN a{k} a ON a.auth = e.auth GROUP BY e.hub),
    h{k} AS MATERIALIZED (
      SELECT hub, CAST(raw * {_Q368_SCALE} // (SELECT MAX(raw) FROM hr{k})
                       AS BIGINT) AS hv
      FROM hr{k})""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT 'authority' AS role, CAST(auth AS BIGINT) AS node,
           FLOOR(av * 1.0 / {_Q368_SCALE} * 1000000 + 0.5) / 1000000 AS score
    FROM (SELECT auth, av,
                 ROW_NUMBER() OVER (ORDER BY av DESC, auth) AS rn
          FROM a{_Q368_ITERS}) WHERE rn <= {_Q368_TOPK}
    UNION ALL
    SELECT 'hub' AS role, CAST(hub AS BIGINT) AS node,
           FLOOR(hv * 1.0 / {_Q368_SCALE} * 1000000 + 0.5) / 1000000 AS score
    FROM (SELECT hub, hv,
                 ROW_NUMBER() OVER (ORDER BY hv DESC, hub) AS rn
          FROM h{_Q368_ITERS}) WHERE rn <= {_Q368_TOPK}
    ORDER BY role, score DESC, node
    """
    )


@register(
    "q368_hits_hubs_authorities",
    _q368_sql(),
    doc="HITS (Kleinberg 1999) over the customer->part purchase "
    "bipartite graph: authority = parts bought by strong hubs, hub = "
    "customers buying strong authorities, 8 mutual-reinforcement "
    "iterations. Every iteration runs in EXACT fixed-point arithmetic "
    "— integer scores, integer sums along edges, max-normalization by "
    "truncating integer division (the q350/q358 discipline) — so "
    "unlike q123's documented-flaky float PageRank, the entire "
    "iteration is hash-exact on both engines. Top-15 per role.",
)
def q368_hits_hubs_authorities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each iteration is one equi-join + aggregate over the
    DISTINCT edge relation (bounded by customers x parts actually
    traded) plus a 1-row max — the connected-components loop shape.
    The Spark loop mirrors the oracle's unrolled CTEs; a
    localCheckpoint at the end keeps the returned plan from embedding
    8 copies of the edge subtree (q123 discipline)."""
    edges, index = checkpointed_edges(spark, sf_dir, "q368_hits_hubs_authorities")
    # Driver-side fixed point while the DISTINCT edge relation fits the
    # driver budget (r11; guide §8 / §1.2 — the q398/union-find
    # precedent): then 16 half-step join+agg+checkpoint Spark jobs are
    # pure job-scheduling overhead — the r10 scaling block measured 8
    # cores FASTER than 32 on this very query (ratio 0.87). Integer
    # scatter-adds and truncating integer division in numpy/Python are
    # exactly the oracle's BIGINT recurrence (all terms nonnegative,
    # sums <= edges * SCALE < 2^63), so scores are bit-identical; the
    # SAME Spark tail expressions below compute the rounded float score
    # either way. Bigger graphs keep the sort-merge loop — that is the
    # 100 TB path.
    if index is not None:
        import numpy as np

        hub_ids, hub_idx, auth_ids, auth_idx = index
        hv = np.full(len(hub_ids), _Q368_SCALE, dtype=np.int64)
        av = np.zeros(len(auth_ids), dtype=np.int64)
        for _ in range(_Q368_ITERS):
            ar = np.zeros(len(auth_ids), dtype=np.int64)
            np.add.at(ar, auth_idx, hv[hub_idx])
            av = ar * _Q368_SCALE // ar.max()
            hr = np.zeros(len(hub_ids), dtype=np.int64)
            np.add.at(hr, hub_idx, av[auth_idx])
            hv = hr * _Q368_SCALE // hr.max()
        top_a = sorted(
            zip(auth_ids.tolist(), av.tolist()), key=lambda kv: (-kv[1], kv[0])
        )[:_Q368_TOPK]
        top_h = sorted(
            zip(hub_ids.tolist(), hv.tolist()), key=lambda kv: (-kv[1], kv[0])
        )[:_Q368_TOPK]
        a = spark.createDataFrame(top_a, "auth long, av long")
        h = spark.createDataFrame(top_h, "hub long, hv long")
        return _q368_rank_tail(a, h)
    h = edges.select("hub").distinct().select(
        "hub", F.lit(_Q368_SCALE).cast("long").alias("hv")
    )
    a = None
    for _ in range(_Q368_ITERS):
        ar = (
            edges.join(h, "hub")
            .groupBy("auth")
            .agg(F.sum("hv").cast("long").alias("raw"))
            # node-bounded; truncate lineage each half-step or the
            # unrolled plan grows exponentially (analysis-time OOM —
            # the connected_components checkpoint cadence)
            .localCheckpoint(eager=True)
        )
        mx_a = ar.agg(F.max("raw").alias("mx"))
        a = ar.crossJoin(F.broadcast(mx_a)).select(
            "auth",
            F.expr(f"CAST(raw * {_Q368_SCALE} div mx AS BIGINT)").alias("av"),
        )
        hr = (
            edges.join(a, "auth")
            .groupBy("hub")
            .agg(F.sum("av").cast("long").alias("raw"))
            .localCheckpoint(eager=True)
        )
        mx_h = hr.agg(F.max("raw").alias("mx"))
        h = hr.crossJoin(F.broadcast(mx_h)).select(
            "hub",
            F.expr(f"CAST(raw * {_Q368_SCALE} div mx AS BIGINT)").alias("hv"),
        )
    return _q368_rank_tail(a, h)


def _q368_rank_tail(a: DataFrame, h: DataFrame) -> DataFrame:
    """Top-K ranking + rounded-score projection shared by the driver-side
    and distributed HITS paths (identical Spark expressions either way,
    so the float score math cannot diverge between paths)."""
    wa = Window.orderBy(F.desc("av"), "auth")
    wh = Window.orderBy(F.desc("hv"), "hub")
    out_a = (
        a.select(
            F.lit("authority").alias("role"),
            F.col("auth").cast("long").alias("node"),
            round_half_up(F.col("av") * 1.0 / _Q368_SCALE, 6).alias("score"),
            F.row_number().over(wa).alias("rn"),
        )
        .filter(F.col("rn") <= _Q368_TOPK)
        .drop("rn")
    )
    out_h = (
        h.select(
            F.lit("hub").alias("role"),
            F.col("hub").cast("long").alias("node"),
            round_half_up(F.col("hv") * 1.0 / _Q368_SCALE, 6).alias("score"),
            F.row_number().over(wh).alias("rn"),
        )
        .filter(F.col("rn") <= _Q368_TOPK)
        .drop("rn")
    )
    return (
        out_a.unionByName(out_h)
        .orderBy("role", F.desc("score"), "node")
        .localCheckpoint(eager=True)
    )


# ── q369: two-level binary-segmentation changepoints ─────────────────────────


@register(
    "q369_binseg_changepoints",
    """
    WITH d0 AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    daily AS (
      SELECT d, v, ROW_NUMBER() OVER (ORDER BY d) AS rn FROM d0
    ),
    pre AS (
      SELECT rn, d, v,
             CAST(SUM(v) OVER (ORDER BY rn) AS BIGINT) AS s1,
             CAST(SUM(v * v) OVER (ORDER BY rn) AS BIGINT) AS s2
      FROM daily
    ),
    n AS (SELECT CAST(MAX(rn) AS BIGINT) AS n FROM pre),
    -- segment cost C(l, r) from prefix sums; l-1 prefix via coalesce
    root AS (
      SELECT k.rn AS split, k.d AS split_day,
             (hi.s2 - (hi.s1 * 1.0 * hi.s1 / nn.n))
               AS sse_seg,
             ((k.s2 - k.s1 * 1.0 * k.s1 / k.rn)
              + ((hi.s2 - k.s2)
                 - (hi.s1 - k.s1) * 1.0 * (hi.s1 - k.s1) / (nn.n - k.rn)))
               AS sse_split,
             ROW_NUMBER() OVER (ORDER BY
               (k.s2 - k.s1 * 1.0 * k.s1 / k.rn)
               + ((hi.s2 - k.s2)
                  - (hi.s1 - k.s1) * 1.0 * (hi.s1 - k.s1) / (nn.n - k.rn)),
               k.rn) AS rk
      FROM pre k
      CROSS JOIN n nn
      JOIN pre hi ON hi.rn = nn.n
      WHERE k.rn < nn.n
    ),
    child AS (
      SELECT c.lo, c.hi, k.rn AS split, k.d AS split_day,
             ((phi.s2 - COALESCE(plo.s2, 0))
              - (phi.s1 - COALESCE(plo.s1, 0)) * 1.0
                * (phi.s1 - COALESCE(plo.s1, 0))
                / (c.hi - c.lo + 1)) AS sse_seg,
             (((k.s2 - COALESCE(plo.s2, 0))
               - (k.s1 - COALESCE(plo.s1, 0)) * 1.0
                 * (k.s1 - COALESCE(plo.s1, 0))
                 / (k.rn - c.lo + 1))
              + ((phi.s2 - k.s2) - (phi.s1 - k.s1) * 1.0 * (phi.s1 - k.s1)
                 / (c.hi - k.rn))) AS sse_split,
             ROW_NUMBER() OVER (PARTITION BY c.lo ORDER BY
               (((k.s2 - COALESCE(plo.s2, 0))
                 - (k.s1 - COALESCE(plo.s1, 0)) * 1.0
                   * (k.s1 - COALESCE(plo.s1, 0))
                   / (k.rn - c.lo + 1))
                + ((phi.s2 - k.s2) - (phi.s1 - k.s1) * 1.0 * (phi.s1 - k.s1)
                   / (c.hi - k.rn))),
               k.rn) AS rk
      FROM (SELECT CAST(1 AS BIGINT) AS lo, r.split AS hi
              FROM root r WHERE r.rk = 1
            UNION ALL
            SELECT r.split + 1 AS lo, nn.n AS hi
              FROM root r CROSS JOIN n nn WHERE r.rk = 1) c
      JOIN pre k ON k.rn >= c.lo AND k.rn < c.hi
      JOIN pre phi ON phi.rn = c.hi
      LEFT JOIN pre plo ON plo.rn = c.lo - 1
      CROSS JOIN n nn
      WHERE c.hi > c.lo
    )
    SELECT 1 AS depth, CAST(1 AS BIGINT) AS seg_lo, nn.n AS seg_hi,
           r.split_day,
           FLOOR(r.sse_seg * 10000 + 0.5) / 10000 AS sse_segment,
           FLOOR(r.sse_split * 10000 + 0.5) / 10000 AS sse_after_split,
           FLOOR((r.sse_seg - r.sse_split) * 10000 + 0.5) / 10000 AS gain
    FROM root r CROSS JOIN n nn WHERE r.rk = 1
    UNION ALL
    SELECT 2 AS depth, c.lo AS seg_lo, c.hi AS seg_hi, c.split_day,
           FLOOR(c.sse_seg * 10000 + 0.5) / 10000 AS sse_segment,
           FLOOR(c.sse_split * 10000 + 0.5) / 10000 AS sse_after_split,
           FLOOR((c.sse_seg - c.sse_split) * 10000 + 0.5) / 10000 AS gain
    FROM child c WHERE c.rk = 1
    ORDER BY depth, seg_lo
    """,
    doc="Two-level binary-segmentation changepoint detection on daily "
    "volume (Scott & Knott 1974 lineage): the root split minimizes "
    "total within-segment SSE, then each half splits again — every "
    "candidate cost is a CLOSED FORM over integer prefix sums "
    "(sum v^2 - (sum v)^2/n), so unlike iterative PELT there is "
    "nothing to converge: argmins are deterministic (cost, index) "
    "ranks. Reports per-segment SSE before/after and the gain — the "
    "multi-changepoint complement of q305's single CUSUM point and "
    "q358's HMM state path.",
)
def q369_binseg_changepoints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-day count; every candidate evaluation reads TWO
    prefix rows, so both levels are joins over the calendar-bounded
    relation. Deeper trees repeat the same bounded step."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    w = Window.orderBy("rn")
    pre = (
        daily.select(
            "d", "v", F.row_number().over(Window.orderBy("d")).alias("rn")
        )
        .select(
            "rn",
            "d",
            "v",
            F.sum("v").over(w).cast("long").alias("s1"),
            F.sum(F.col("v") * F.col("v")).over(w).cast("long").alias("s2"),
        )
        # calendar-bounded; reused by root + both children
        .localCheckpoint(eager=True)
    )
    n = pre.agg(F.max("rn").cast("long").alias("n"))
    hi = pre.select(F.col("rn").alias("hrn"), F.col("s1").alias("hs1"), F.col("s2").alias("hs2"))

    def seg_cost(s2hi, s1hi, s2lo, s1lo, cnt):
        return (s2hi - s2lo) - (s1hi - s1lo) * 1.0 * (s1hi - s1lo) / cnt

    root_cand = (
        pre.crossJoin(F.broadcast(n))
        .join(F.broadcast(hi), F.col("hrn") == F.col("n"))
        .filter(F.col("rn") < F.col("n"))
        .select(
            F.col("rn").alias("split"),
            F.col("d").alias("split_day"),
            seg_cost(F.col("hs2"), F.col("hs1"), F.lit(0), F.lit(0), F.col("n")).alias(
                "sse_seg"
            ),
            (
                seg_cost(F.col("s2"), F.col("s1"), F.lit(0), F.lit(0), F.col("rn"))
                + seg_cost(
                    F.col("hs2"),
                    F.col("hs1"),
                    F.col("s2"),
                    F.col("s1"),
                    F.col("n") - F.col("rn"),
                )
            ).alias("sse_split"),
        )
    )
    root = (
        root_cand.select(
            "*", F.row_number().over(Window.orderBy("sse_split", "split")).alias("rk")
        )
        .filter(F.col("rk") == 1)
        .localCheckpoint(eager=True)
    )
    bounds = (
        root.select(F.lit(1).cast("long").alias("lo"), F.col("split").alias("hi"))
        .unionByName(
            root.crossJoin(F.broadcast(n)).select(
                (F.col("split") + 1).alias("lo"), F.col("n").alias("hi")
            )
        )
        .filter(F.col("hi") > F.col("lo"))
    )
    plo = pre.select(
        F.col("rn").alias("lrn"), F.col("s1").alias("ls1"), F.col("s2").alias("ls2")
    )
    child_cand = (
        bounds.join(F.broadcast(pre), (F.col("rn") >= F.col("lo")) & (F.col("rn") < F.col("hi")))
        .join(F.broadcast(hi), F.col("hrn") == F.col("hi"))
        .join(F.broadcast(plo), F.col("lrn") == F.col("lo") - 1, "left")
        .select(
            "lo",
            "hi",
            F.col("rn").alias("split"),
            F.col("d").alias("split_day"),
            seg_cost(
                F.col("hs2"),
                F.col("hs1"),
                F.coalesce(F.col("ls2"), F.lit(0)),
                F.coalesce(F.col("ls1"), F.lit(0)),
                F.col("hi") - F.col("lo") + 1,
            ).alias("sse_seg"),
            (
                seg_cost(
                    F.col("s2"),
                    F.col("s1"),
                    F.coalesce(F.col("ls2"), F.lit(0)),
                    F.coalesce(F.col("ls1"), F.lit(0)),
                    F.col("rn") - F.col("lo") + 1,
                )
                + seg_cost(
                    F.col("hs2"),
                    F.col("hs1"),
                    F.col("s2"),
                    F.col("s1"),
                    F.col("hi") - F.col("rn"),
                )
            ).alias("sse_split"),
        )
    )
    child = child_cand.select(
        "*",
        F.row_number()
        .over(Window.partitionBy("lo").orderBy("sse_split", "split"))
        .alias("rk"),
    ).filter(F.col("rk") == 1)
    out_root = root.crossJoin(F.broadcast(n)).select(
        F.lit(1).alias("depth"),
        F.lit(1).cast("long").alias("seg_lo"),
        F.col("n").alias("seg_hi"),
        "split_day",
        round_half_up(F.col("sse_seg"), 4).alias("sse_segment"),
        round_half_up(F.col("sse_split"), 4).alias("sse_after_split"),
        round_half_up(F.col("sse_seg") - F.col("sse_split"), 4).alias("gain"),
    )
    out_child = child.select(
        F.lit(2).alias("depth"),
        F.col("lo").alias("seg_lo"),
        F.col("hi").alias("seg_hi"),
        "split_day",
        round_half_up(F.col("sse_seg"), 4).alias("sse_segment"),
        round_half_up(F.col("sse_split"), 4).alias("sse_after_split"),
        round_half_up(F.col("sse_seg") - F.col("sse_split"), 4).alias("gain"),
    )
    return out_root.unionByName(out_child).orderBy("depth", "seg_lo")


# ── q370: raking / iterative proportional fitting (survey weighting) ─────────

_Q370_ROUNDS = 4  # row+column adjustment pairs
_Q370_S = 1_000_000  # weights as integer micros


def _q370_sql() -> str:
    s = _Q370_S
    parts = [f"""
    samp AS MATERIALIZED (
      SELECT c.c_mktsegment AS seg, c.c_nationkey AS nat,
             CAST(COUNT(DISTINCT c.c_custkey) AS BIGINT) AS n_s
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY 1, 2
    ),
    trow AS MATERIALIZED (
      SELECT c_mktsegment AS seg, CAST(COUNT(*) AS BIGINT) AS t
      FROM customer GROUP BY 1
    ),
    tcol AS MATERIALIZED (
      SELECT c_nationkey AS nat, CAST(COUNT(*) AS BIGINT) AS t
      FROM customer GROUP BY 1
    ),
    it0 AS MATERIALIZED (
      SELECT seg, nat, n_s, CAST(n_s AS HUGEINT) * {s} AS w FROM samp
    )"""]
    for k in range(1, _Q370_ROUNDS + 1):
        prev = f"it{k - 1}" if k == 1 else f"itc{k - 1}"
        parts.append(f"""
    rowsum{k} AS MATERIALIZED (
      SELECT seg, SUM(w) AS rs FROM {prev} GROUP BY seg),
    itr{k} AS MATERIALIZED (
      SELECT p.seg, p.nat, p.n_s,
             p.w * (CAST(t.t AS HUGEINT) * {s}) // r.rs AS w
      FROM {prev} p JOIN rowsum{k} r ON r.seg = p.seg
      JOIN trow t ON t.seg = p.seg),
    colsum{k} AS MATERIALIZED (
      SELECT nat, SUM(w) AS cs FROM itr{k} GROUP BY nat),
    itc{k} AS MATERIALIZED (
      SELECT p.seg, p.nat, p.n_s,
             p.w * (CAST(t.t AS HUGEINT) * {s}) // c.cs AS w
      FROM itr{k} p JOIN colsum{k} c ON c.nat = p.nat
      JOIN tcol t ON t.nat = p.nat)""")
    return (
        "WITH" + ",".join(parts) + f"""
    SELECT seg, nat, n_s AS n_sample,
           FLOOR(CAST(w AS DOUBLE) / {s} * 10000 + 0.5) / 10000
             AS raked_count,
           FLOOR(CAST(w AS DOUBLE) / {s} / n_s * 10000 + 0.5) / 10000
             AS weight
    FROM itc{_Q370_ROUNDS}
    ORDER BY seg, nat
    """
    )


@register(
    "q370_raking_ipf",
    _q370_sql(),
    doc="Raking / iterative proportional fitting (Deming & Stephan "
    "1940): the ordered-customers sample's (segment, nation) cells are "
    "alternately scaled to match the FULL customer population's "
    "segment margins then nation margins, 4 round pairs. The survey-"
    "weighting standard when only marginal targets are known — "
    "completing q290 (Horvitz-Thompson, known inclusion "
    "probabilities) and q360 (post-stratification, one margin). The "
    "iteration runs in exact fixed-point arithmetic: micro-scaled "
    "HUGEINT weights, integer margin sums, truncating integer "
    "division (the q350/q368 discipline), so every round is "
    "bit-identical on both engines; oracle CTEs are MATERIALIZED "
    "(the q368 inlining lesson).",
)
def q370_raking_ipf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the cell/margin relations are taxonomy-bounded (segments
    x nations), so after one join-aggregate over the corpus the IPF
    loop runs on a driver-side copy in exact Python integers matching
    HUGEINT semantics (the q350 bounded-collect pattern). At a
    cell-cardinality too large to collect, each round is two
    grouped-sum + broadcast-join steps on the cell relation — the
    distributed loop shape is q368's."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    samp = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .groupBy(F.col("c_mktsegment").alias("seg"), F.col("c_nationkey").alias("nat"))
        .agg(F.countDistinct("c_custkey").cast("long").alias("n_s"))
        .collect()
    )
    trow = {
        r["c_mktsegment"]: r["t"]
        for r in cust.groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .collect()
    }
    tcol = {
        r["c_nationkey"]: r["t"]
        for r in cust.groupBy("c_nationkey")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .collect()
    }
    s = _Q370_S
    cells = {(r["seg"], r["nat"]): [r["n_s"], r["n_s"] * s] for r in samp}
    for _ in range(_Q370_ROUNDS):
        rs: dict = {}
        for (seg, _), v in cells.items():
            rs[seg] = rs.get(seg, 0) + v[1]
        for (seg, _), v in cells.items():
            v[1] = v[1] * (trow[seg] * s) // rs[seg]
        cs: dict = {}
        for (_, nat), v in cells.items():
            cs[nat] = cs.get(nat, 0) + v[1]
        for (_, nat), v in cells.items():
            v[1] = v[1] * (tcol[nat] * s) // cs[nat]
    rows = [
        (seg, nat, v[0], v[1]) for (seg, nat), v in sorted(cells.items())
    ]
    # final weights are ~target-count x 1e6 (<= ~1e11) — they fit a
    # long even though INTERMEDIATE products needed 128-bit arithmetic
    df = spark.createDataFrame(
        rows, "seg string, nat long, n_sample long, w long"
    )
    wd = F.col("w").cast("double")
    return df.select(
        "seg",
        "nat",
        "n_sample",
        round_half_up(wd / s, 4).alias("raked_count"),
        round_half_up(wd / s / F.col("n_sample"), 4).alias("weight"),
    ).orderBy("seg", "nat")


# ── q371: mediation analysis (product of paths) ──────────────────────────────


@register(
    "q371_mediation_analysis",
    """
    WITH v AS (
      SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS m,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(m) AS BIGINT) AS sm,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx_r,
             CAST(SUM(m * m) AS BIGINT) AS smm_r,
             CAST(SUM(x * m) AS BIGINT) AS sxm_r,
             CAST(SUM(x * y) AS BIGINT) AS sxy_r,
             CAST(SUM(m * y) AS BIGINT) AS smy_r
      FROM v
    ),
    c AS (
      SELECT n,
             n * 1.0 * sxx_r - sx * 1.0 * sx AS cxx,
             n * 1.0 * smm_r - sm * 1.0 * sm AS cmm,
             n * 1.0 * sxm_r - sx * 1.0 * sm AS cxm,
             n * 1.0 * sxy_r - sx * 1.0 * sy AS cxy,
             n * 1.0 * smy_r - sm * 1.0 * sy AS cmy
      FROM s
    )
    SELECT n AS n_rows,
           FLOOR(cxm / cxx * 1000000 + 0.5) / 1000000 AS a_x_to_m,
           FLOOR((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)
                 * 1000000 + 0.5) / 1000000 AS b_m_to_y_given_x,
           FLOOR((cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm)
                 * 1000000 + 0.5) / 1000000 AS direct_effect,
           FLOOR((cxm / cxx)
                 * ((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm))
                 * 1000000 + 0.5) / 1000000 AS indirect_effect,
           FLOOR(cxy / cxx * 1000000 + 0.5) / 1000000 AS total_effect,
           FLOOR((cxy / cxx
                  - (cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm)
                  - (cxm / cxx)
                    * ((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)))
                 * 1000000 + 0.5) / 1000000 AS decomposition_residual
    FROM c
    """,
    doc="Mediation analysis by product of paths (Baron & Kenny 1986): "
    "does the discount level (X) move line revenue (Y) THROUGH the "
    "ordered quantity (M)? a = slope of M on X; b = partial slope of "
    "Y on M given X (closed-form 2-regressor OLS from the centered "
    "moment matrix); indirect = a*b, direct = partial of Y on X given "
    "M, and the exact OLS identity total = direct + indirect is "
    "REPORTED as decomposition_residual (~0 up to rounding) — the "
    "estimator audits itself. The mechanism-decomposition member of "
    "the causal family (q336 IPW 'does it', this asks 'through "
    "what'). All moments are exact integer sums; every path "
    "coefficient is one scalar tree.",
)
def q371_mediation_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-side-combinable 9-sum aggregate over lineitem; the
    path algebra is a 1-row expression. Nothing else."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    m = F.floor(F.col("l_quantity") + 0.5).cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    s = li.select(x.alias("x"), m.alias("m"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("m").cast("long").alias("sm"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx_r"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm_r"),
        F.sum(F.col("x") * F.col("m")).cast("long").alias("sxm_r"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy_r"),
        F.sum(F.col("m") * F.col("y")).cast("long").alias("smy_r"),
    )
    nn = F.col("n")
    cxx = nn * 1.0 * F.col("sxx_r") - F.col("sx") * 1.0 * F.col("sx")
    cmm = nn * 1.0 * F.col("smm_r") - F.col("sm") * 1.0 * F.col("sm")
    cxm = nn * 1.0 * F.col("sxm_r") - F.col("sx") * 1.0 * F.col("sm")
    cxy = nn * 1.0 * F.col("sxy_r") - F.col("sx") * 1.0 * F.col("sy")
    cmy = nn * 1.0 * F.col("smy_r") - F.col("sm") * 1.0 * F.col("sy")
    # try_divide: a single-row lake has zero covariances (cxx = det = 0)
    det = cxx * cmm - cxm * cxm
    a = F.try_divide(cxm, cxx)
    b = F.try_divide(cxx * cmy - cxm * cxy, det)
    direct = F.try_divide(cmm * cxy - cxm * cmy, det)
    total = F.try_divide(cxy, cxx)
    return s.select(
        nn.alias("n_rows"),
        round_half_up(a, 6).alias("a_x_to_m"),
        round_half_up(b, 6).alias("b_m_to_y_given_x"),
        round_half_up(direct, 6).alias("direct_effect"),
        round_half_up(a * b, 6).alias("indirect_effect"),
        round_half_up(total, 6).alias("total_effect"),
        round_half_up(total - direct - a * b, 6).alias(
            "decomposition_residual"
        ),
    )


# ── q372: Cronbach's alpha over the quality-signal battery ───────────────────


@register(
    "q372_cronbach_alpha",
    """
    WITH items AS (
      SELECT doc_id,
             CAST(LEAST(FLOOR(length(text) / 20), 100) AS BIGINT) AS i1,
             CAST(LEAST(length(text) - length(replace(text, ' ', '')),
                        100) AS BIGINT) AS i2,
             CAST(LEAST(FLOOR(length(replace(replace(replace(lower(text),
                        'the', ''), 'and', ''), 'of', ''))
                        * 100 / GREATEST(length(text), 1)), 100)
               AS BIGINT) AS i3
      FROM documents
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(i1) AS BIGINT) AS s1, CAST(SUM(i1 * i1) AS BIGINT) AS q1,
             CAST(SUM(i2) AS BIGINT) AS s2, CAST(SUM(i2 * i2) AS BIGINT) AS q2,
             CAST(SUM(i3) AS BIGINT) AS s3, CAST(SUM(i3 * i3) AS BIGINT) AS q3,
             CAST(SUM((i1 + i2 + i3) * (i1 + i2 + i3)) AS BIGINT) AS qt,
             CAST(SUM(i1 + i2 + i3) AS BIGINT) AS st
      FROM items
    )
    SELECT n AS n_docs,
           3 AS n_items,
           FLOOR((q1 - s1 * 1.0 * s1 / n) / (n - 1) * 10000 + 0.5) / 10000
             AS var_item1,
           FLOOR((q2 - s2 * 1.0 * s2 / n) / (n - 1) * 10000 + 0.5) / 10000
             AS var_item2,
           FLOOR((q3 - s3 * 1.0 * s3 / n) / (n - 1) * 10000 + 0.5) / 10000
             AS var_item3,
           FLOOR((qt - st * 1.0 * st / n) / (n - 1) * 10000 + 0.5) / 10000
             AS var_total,
           FLOOR(3.0 / 2
                 * (1 - ((q1 - s1 * 1.0 * s1 / n) / (n - 1)
                         + (q2 - s2 * 1.0 * s2 / n) / (n - 1)
                         + (q3 - s3 * 1.0 * s3 / n) / (n - 1))
                       / ((qt - st * 1.0 * st / n) / (n - 1)))
                 * 1000000 + 0.5) / 1000000 AS cronbach_alpha
    FROM s
    """,
    doc="Cronbach's alpha (Cronbach 1951) over a 3-item document-"
    "quality battery (capped length, whitespace-token, and stopword-"
    "stripped-density scores): alpha = k/(k-1) (1 - sum item variances "
    "/ variance of the item sum) — the internal-consistency question "
    "('do these signals measure ONE construct?') a team must answer "
    "before averaging quality subscores into a single sampling weight "
    "(q226/q234 consume such composites). Item scores are integers by "
    "construction, so all variances are exact integer-ratio trees.",
)
def q372_cronbach_alpha(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one map-only scoring pass into an 8-sum aggregate. The
    battery is deliberately cheap column algebra — alpha's cost is one
    scan regardless of item count."""
    docs = load_table(spark, sf_dir, "documents")
    # explicit FLOOR before the int cast: DuckDB CAST(double AS BIGINT)
    # ROUNDS while Spark truncates — floor pins both
    i1 = F.least(F.floor(F.length("text") / 20), F.lit(100)).cast("long")
    i2 = F.least(
        F.length("text") - F.length(F.regexp_replace("text", " ", "")),
        F.lit(100),
    ).cast("long")
    stripped = F.length(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace(F.lower("text"), "the", ""), "and", ""
            ),
            "of",
            "",
        )
    )
    i3 = F.least(
        F.floor(stripped * 100 / F.greatest(F.length("text"), F.lit(1))),
        F.lit(100),
    ).cast("long")
    items = docs.select(i1.alias("i1"), i2.alias("i2"), i3.alias("i3"))
    tot = F.col("i1") + F.col("i2") + F.col("i3")
    s = items.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("i1").cast("long").alias("s1"),
        F.sum(F.col("i1") * F.col("i1")).cast("long").alias("q1"),
        F.sum("i2").cast("long").alias("s2"),
        F.sum(F.col("i2") * F.col("i2")).cast("long").alias("q2"),
        F.sum("i3").cast("long").alias("s3"),
        F.sum(F.col("i3") * F.col("i3")).cast("long").alias("q3"),
        F.sum(tot * tot).cast("long").alias("qt"),
        F.sum(tot).cast("long").alias("st"),
    )

    def var(q, ss):
        # try_divide: a one-doc lake has zero dof (n-1 = 0)
        return F.try_divide(
            F.col(q) - F.col(ss) * 1.0 * F.col(ss) / F.col("n"),
            F.col("n") - 1,
        )

    vt = var("qt", "st")
    alpha = 3.0 / 2 * (
        1
        - F.try_divide(
            var("q1", "s1") + var("q2", "s2") + var("q3", "s3"), vt
        )
    )
    return s.select(
        F.col("n").alias("n_docs"),
        F.lit(3).alias("n_items"),
        round_half_up(var("q1", "s1"), 4).alias("var_item1"),
        round_half_up(var("q2", "s2"), 4).alias("var_item2"),
        round_half_up(var("q3", "s3"), 4).alias("var_item3"),
        round_half_up(vt, 4).alias("var_total"),
        round_half_up(alpha, 6).alias("cronbach_alpha"),
    )


# ── q373: nested-model F-test (does the mediator add signal?) ────────────────


@register(
    "q373_nested_model_ftest",
    """
    WITH v AS (
      SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS m,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(m) AS BIGINT) AS sm,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx_r,
             CAST(SUM(m * m) AS BIGINT) AS smm_r,
             CAST(SUM(x * m) AS BIGINT) AS sxm_r,
             CAST(SUM(x * y) AS BIGINT) AS sxy_r,
             CAST(SUM(m * y) AS BIGINT) AS smy_r,
             SUM(y::HUGEINT * y::HUGEINT) AS syy_r
      FROM v
    ),
    c AS (
      SELECT n,
             n * 1.0 * sxx_r - sx * 1.0 * sx AS cxx,
             n * 1.0 * smm_r - sm * 1.0 * sm AS cmm,
             n * 1.0 * sxm_r - sx * 1.0 * sm AS cxm,
             n * 1.0 * sxy_r - sx * 1.0 * sy AS cxy,
             n * 1.0 * smy_r - sm * 1.0 * sy AS cmy,
             n * 1.0 * CAST(syy_r AS DOUBLE) - sy * 1.0 * sy AS cyy
      FROM s
    )
    SELECT n AS n_rows,
           FLOOR(cxy * cxy / (cxx * cyy) * 1000000 + 0.5) / 1000000
             AS r2_reduced,
           FLOOR((cxy * ((cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm))
                  + cmy * ((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)))
                 / cyy * 1000000 + 0.5) / 1000000 AS r2_full,
           FLOOR(((cxy * ((cmm * cxy - cxm * cmy) / (cxx * cmm - cxm * cxm))
                   + cmy * ((cxx * cmy - cxm * cxy) / (cxx * cmm - cxm * cxm)))
                  / cyy
                  - cxy * cxy / (cxx * cyy))
                 / ((1 - (cxy * ((cmm * cxy - cxm * cmy)
                                 / (cxx * cmm - cxm * cxm))
                          + cmy * ((cxx * cmy - cxm * cxy)
                                   / (cxx * cmm - cxm * cxm))) / cyy)
                    / (n - 3))
                 * 1000000 + 0.5) / 1000000 AS f_add_m,
           FLOOR(1 / (1 - cxm * cxm / (cxx * cmm)) * 1000000 + 0.5) / 1000000
             AS vif_x_m
    FROM c
    """,
    doc="Nested-model F-test: does adding the quantity regressor to "
    "the discount-only revenue model reduce residual variance beyond "
    "chance? R² of both models from the centered moment matrix, "
    "F = (R²_full - R²_reduced) / ((1 - R²_full)/(n-3)) with 1 "
    "numerator df, plus the X-M variance-inflation factor "
    "1/(1 - r²_xm) — the collinearity gate that says whether q371's "
    "path coefficients are even stable. The model-comparison member "
    "of the regression family (q110 fits, q371 decomposes, this "
    "TESTS). Squared-revenue moments ride HUGEINT/decimal through "
    "aggregation; every statistic is one scalar tree.",
)
def q373_nested_model_ftest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one 10-sum map-side aggregate; the comparison is a 1-row
    expression."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    m = F.floor(F.col("l_quantity") + 0.5).cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    s = li.select(x.alias("x"), m.alias("m"), y.alias("y")).agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("m").cast("long").alias("sm"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx_r"),
        F.sum(F.col("m") * F.col("m")).cast("long").alias("smm_r"),
        F.sum(F.col("x") * F.col("m")).cast("long").alias("sxm_r"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy_r"),
        F.sum(F.col("m") * F.col("y")).cast("long").alias("smy_r"),
        F.sum(dec("y") * dec("y")).alias("syy_r"),
    )
    nn = F.col("n")
    cxx = nn * 1.0 * F.col("sxx_r") - F.col("sx") * 1.0 * F.col("sx")
    cmm = nn * 1.0 * F.col("smm_r") - F.col("sm") * 1.0 * F.col("sm")
    cxm = nn * 1.0 * F.col("sxm_r") - F.col("sx") * 1.0 * F.col("sm")
    cxy = nn * 1.0 * F.col("sxy_r") - F.col("sx") * 1.0 * F.col("sy")
    cmy = nn * 1.0 * F.col("smy_r") - F.col("sm") * 1.0 * F.col("sy")
    cyy = nn * 1.0 * F.col("syy_r").cast("double") - F.col("sy") * 1.0 * F.col("sy")
    # try_divide: a single-row lake has det = cxx = cyy = 0
    det = cxx * cmm - cxm * cxm
    bx = F.try_divide(cmm * cxy - cxm * cmy, det)
    bm = F.try_divide(cxx * cmy - cxm * cxy, det)
    r2_red = F.try_divide(cxy * cxy, cxx * cyy)
    r2_full = F.try_divide(cxy * bx + cmy * bm, cyy)
    f_stat = F.try_divide(r2_full - r2_red, (1 - r2_full) / (nn - 3))
    return s.select(
        nn.alias("n_rows"),
        round_half_up(r2_red, 6).alias("r2_reduced"),
        round_half_up(r2_full, 6).alias("r2_full"),
        round_half_up(f_stat, 6).alias("f_add_m"),
        round_half_up(
            F.try_divide(
                F.lit(1.0), 1 - F.try_divide(cxm * cxm, cxx * cmm)
            ),
            6,
        ).alias("vif_x_m"),
    )


# ── q374: adjusted chi-square cell residuals (which cells drive it) ──────────


def _q374_sql() -> str:
    from .queries import QUERY_REGISTRY as _REGISTRY

    gate = _REGISTRY["q192_gopher_quality_rules"].sql
    return f"""
    WITH g AS ({gate}),
    j AS (
      SELECT d.source, CASE WHEN g.passes THEN 1 ELSE 0 END AS q
      FROM documents d JOIN g ON g.doc_id = d.doc_id
    ),
    cells AS (
      SELECT source, q, CAST(COUNT(*) AS BIGINT) AS o
      FROM j GROUP BY source, q
    ),
    rows_ AS (SELECT source, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY source),
    cols_ AS (SELECT q, CAST(SUM(o) AS BIGINT) AS c FROM cells GROUP BY q),
    n AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells)
    SELECT ce.source, ce.q AS passes, ce.o AS observed,
           FLOOR(r.r * 1.0 * c.c / n.n * 10000 + 0.5) / 10000 AS expected,
           FLOOR((ce.o - r.r * 1.0 * c.c / n.n)
                 / SQRT(r.r * 1.0 * c.c / n.n
                        * (1 - r.r * 1.0 / n.n) * (1 - c.c * 1.0 / n.n))
                 * 1000000 + 0.5) / 1000000 AS adj_residual,
           CASE WHEN ABS((ce.o - r.r * 1.0 * c.c / n.n)
                 / SQRT(r.r * 1.0 * c.c / n.n
                        * (1 - r.r * 1.0 / n.n) * (1 - c.c * 1.0 / n.n))) > 2
                THEN 1 ELSE 0 END AS flagged
    FROM cells ce
    JOIN rows_ r ON r.source = ce.source
    JOIN cols_ c ON c.q = ce.q
    CROSS JOIN n
    ORDER BY ce.source, ce.q
    """


@register(
    "q374_chi2_cell_residuals",
    _q374_sql(),
    doc="Adjusted (Haberman 1973) standardized residuals for the "
    "source x quality-gate contingency table: per cell "
    "(o - e) / sqrt(e (1 - r/n)(1 - c/n)), approximately N(0,1) under "
    "independence, |residual| > 2 flagged. The drill-down q245's "
    "single chi-square number can't give — WHICH source is over- or "
    "under-producing gate-passing documents, the direct input to "
    "q234's domain reweighting. Integer margins into fixed trees.",
)
def q374_chi2_cell_residuals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one gate scan + one (source, flag) count; margins are
    re-aggregations of the bounded cell relation, broadcast back."""
    from .queries import QUERY_REGISTRY as _REGISTRY

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "source")
    g = _REGISTRY["q192_gopher_quality_rules"].fn(spark, sf_dir).select(
        "doc_id", F.when(F.col("passes"), 1).otherwise(0).alias("q")
    )
    cells = (
        docs.join(g, "doc_id")
        .groupBy("source", "q")
        .agg(F.count(F.lit(1)).cast("long").alias("o"))
    )
    rows_ = cells.groupBy("source").agg(F.sum("o").cast("long").alias("r"))
    cols_ = cells.groupBy("q").agg(F.sum("o").cast("long").alias("c"))
    n = cells.agg(F.sum("o").cast("long").alias("n"))
    e = F.col("r") * 1.0 * F.col("c") / F.col("n")
    # try_divide: one cell means r = c = n -> zero variance factors
    res = F.try_divide(
        F.col("o") - e,
        F.sqrt(
        F.col("r")
        * 1.0
        * F.col("c")
        / F.col("n")
        * (1 - F.col("r") * 1.0 / F.col("n"))
        * (1 - F.col("c") * 1.0 / F.col("n"))
        ),
    )
    return (
        cells.join(F.broadcast(rows_), "source")
        .join(F.broadcast(cols_), "q")
        .crossJoin(F.broadcast(n))
        .select(
            "source",
            F.col("q").alias("passes"),
            F.col("o").alias("observed"),
            round_half_up(e, 4).alias("expected"),
            round_half_up(res, 6).alias("adj_residual"),
            F.when(F.abs(res) > 2, 1).otherwise(0).alias("flagged"),
        )
        .orderBy("source", "passes")
    )


# ── q375: Breusch-Pagan heteroscedasticity test ──────────────────────────────


def _q375_sql() -> str:
    b1, b2, b3, b4, b5 = _AS_B
    horner = f"(t * ({b1} + t * ({b2} + t * ({b3} + t * ({b4} + t * {b5})))))"
    return f"""
    WITH v AS (
      SELECT CAST(FLOOR(l_discount * 100 + 0.5) AS BIGINT) AS x,
             CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
      FROM lineitem
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx_r,
             CAST(SUM(x * y) AS BIGINT) AS sxy_r
      FROM v
    ),
    fit AS (
      SELECT n, sx, sxx_r,
             (n * 1.0 * sxy_r - sx * 1.0 * sy)
               / (n * 1.0 * sxx_r - sx * 1.0 * sx) AS b,
             (sy - (n * 1.0 * sxy_r - sx * 1.0 * sy)
                   / (n * 1.0 * sxx_r - sx * 1.0 * sx) * sx) / n AS a
      FROM s
    ),
    r AS (
      SELECT v.x,
             CAST(FLOOR((v.y - (f.a + f.b * v.x)) * (v.y - (f.a + f.b * v.x))
                        + 0.5) AS HUGEINT) AS q
      FROM v CROSS JOIN fit f
    ),
    aux AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             SUM(q) AS sq, SUM(x * q) AS sxq, SUM(q * q) AS sqq
      FROM r
    ),
    lm AS (
      SELECT n,
             n * (CAST(n AS DOUBLE) * CAST(sxq AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sq AS DOUBLE))
               * (CAST(n AS DOUBLE) * CAST(sxq AS DOUBLE)
                  - CAST(sx AS DOUBLE) * CAST(sq AS DOUBLE))
               / ((n * 1.0 * sxx - sx * 1.0 * sx)
                  * (CAST(n AS DOUBLE) * CAST(sqq AS DOUBLE)
                     - CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE))) AS bp
      FROM aux
    )
    SELECT n AS n_rows,
           FLOOR(bp * 1000000 + 0.5) / 1000000 AS bp_lm,
           FLOOR(2 * (EXP(-SQRT(bp) * SQRT(bp) / 2.0) / {_SQRT_2PI})
                 * {horner.replace('t', '(1 / (1 + ' + str(_AS_P) + ' * SQRT(bp)))')}
                 * 100000000 + 0.5) / 100000000 AS p_value,
           CASE WHEN 2 * (EXP(-SQRT(bp) * SQRT(bp) / 2.0) / {_SQRT_2PI})
                 * {horner.replace('t', '(1 / (1 + ' + str(_AS_P) + ' * SQRT(bp)))')}
                 < 0.05 THEN 1 ELSE 0 END AS heteroscedastic
    FROM lm
    """


@register(
    "q375_breusch_pagan",
    _q375_sql(),
    doc="Breusch-Pagan LM test (1979, Koenker studentized form): do "
    "the revenue-on-discount residuals have discount-DEPENDENT "
    "variance? Two passes: fit the line from integer moments, then "
    "quantize each squared residual to an integer (cents², the "
    "per-row fixed tree) and run the auxiliary e² ~ x regression on "
    "HUGEINT/decimal moments; LM = n R²_aux, chi²(1) p-value via the "
    "A-S normal tail (q362's arithmetic form, p = 2(1 - Phi(sqrt(LM)))). "
    "Heteroscedasticity is WHY q333/q362 use Welch rather than pooled "
    "variances — this tests the assumption instead of assuming it.",
)
def q375_breusch_pagan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two map-side scans (the second needs the 1-row fit
    broadcast); no joins beyond that scalar, no windows. The q⁴-order
    moments ride 128-bit integers through aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.floor(F.col("l_discount") * 100 + 0.5).cast("long")
    y = F.floor(F.col("l_extendedprice") * 100 + 0.5).cast("long")
    v = li.select(x.alias("x"), y.alias("y"))
    s = v.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx_r"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy_r"),
    )
    # try_divide: a single-row lake has zero x-variance
    b_expr = F.try_divide(
        F.col("n") * 1.0 * F.col("sxy_r") - F.col("sx") * 1.0 * F.col("sy"),
        F.col("n") * 1.0 * F.col("sxx_r") - F.col("sx") * 1.0 * F.col("sx"),
    )
    fit = s.select(
        b_expr.alias("b"),
        ((F.col("sy") - b_expr * F.col("sx")) / F.col("n")).alias("a"),
    )
    e = F.col("y") - (F.col("a") + F.col("b") * F.col("x"))
    r = v.crossJoin(F.broadcast(fit)).select(
        "x", F.floor(e * e + 0.5).cast("decimal(38,0)").alias("q")
    )
    dq = F.col("q").cast("double")
    aux = r.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum("q").alias("sq"),
        F.sum(F.col("x") * F.col("q")).alias("sxq"),
        F.sum(F.col("q") * F.col("q")).alias("sqq"),
    )
    nn = F.col("n")
    cxq = nn.cast("double") * F.col("sxq").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sq").cast("double")
    cxx = nn * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx")
    cqq = nn.cast("double") * F.col("sqq").cast("double") - F.col("sq").cast(
        "double"
    ) * F.col("sq").cast("double")
    bp = F.try_divide(nn * cxq * cxq, cxx * cqq)
    t = 1 / (1 + _AS_P * F.sqrt(bp))
    b1, b2, b3, b4, b5 = _AS_B
    horner = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
    pv = (
        2
        * (F.exp(-F.sqrt(bp) * F.sqrt(bp) / 2.0) / _SQRT_2PI)
        * horner
    )
    return aux.select(
        nn.alias("n_rows"),
        round_half_up(bp, 6).alias("bp_lm"),
        round_half_up(pv, 8).alias("p_value"),
        F.when(pv < 0.05, 1).otherwise(0).alias("heteroscedastic"),
    )


# ── q376: Durbin-Watson autocorrelation diagnostic ───────────────────────────


@register(
    "q376_durbin_watson",
    """
    WITH d0 AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             CAST(SUM(d * v) AS BIGINT) AS sdv
      FROM d0
    ),
    e AS (
      SELECT d0.d,
             CAST(FLOOR((d0.v
               - ((s.sv - (s.n * 1.0 * s.sdv - s.sd * 1.0 * s.sv)
                          / (s.n * 1.0 * s.sdd - s.sd * 1.0 * s.sd) * s.sd)
                  / s.n
                  + (s.n * 1.0 * s.sdv - s.sd * 1.0 * s.sv)
                    / (s.n * 1.0 * s.sdd - s.sd * 1.0 * s.sd) * d0.d))
               * 1000000 + 0.5) AS BIGINT) AS eq
      FROM d0 CROSS JOIN s
    ),
    l AS (
      SELECT eq, LAG(eq) OVER (ORDER BY d) AS ep FROM e
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
           FLOOR(CAST(SUM(CASE WHEN ep IS NOT NULL
                          THEN (eq - ep) * (eq - ep) END) AS DOUBLE)
                 / CAST(SUM(eq * eq) AS DOUBLE) * 1000000 + 0.5) / 1000000
             AS dw_stat,
           CASE WHEN CAST(SUM(CASE WHEN ep IS NOT NULL
                            THEN (eq - ep) * (eq - ep) END) AS DOUBLE)
                     / CAST(SUM(eq * eq) AS DOUBLE) < 1.0 THEN 1
                ELSE 0 END AS positive_autocorr_flag
    FROM l
    """,
    doc="Durbin-Watson statistic on the OLS-detrended daily volume: "
    "DW = sum (e_t - e_(t-1))^2 / sum e_t^2, ~2 under independence, "
    "toward 0 under positive autocorrelation — the one-number "
    "diagnostic that says whether q339/q272's trend residuals can be "
    "treated as independent (and thus whether their naive standard "
    "errors are trustworthy). Residuals are micro-quantized per day "
    "(fixed OLS expression tree), so both sums are exact integers; "
    "the DW ratio's quantization scale cancels.",
)
def q376_durbin_watson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-day count; the detrend + lag run on the
    calendar-bounded relation (single-partition window over days)."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    s = d0.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum(F.col("d") * F.col("v")).cast("long").alias("sdv"),
    )
    # try_divide: a single-day lake has zero time variance
    b = F.try_divide(
        F.col("n") * 1.0 * F.col("sdv") - F.col("sd") * 1.0 * F.col("sv"),
        F.col("n") * 1.0 * F.col("sdd") - F.col("sd") * 1.0 * F.col("sd"),
    )
    a = (F.col("sv") - b * F.col("sd")) / F.col("n")
    e = d0.crossJoin(F.broadcast(s)).select(
        "d",
        F.floor((F.col("v") - (a + b * F.col("d"))) * 1_000_000 + 0.5)
        .cast("long")
        .alias("eq"),
    )
    l = e.select("eq", F.lag("eq").over(Window.orderBy("d")).alias("ep"))
    num = F.sum(
        F.when(
            F.col("ep").isNotNull(),
            (F.col("eq") - F.col("ep")) * (F.col("eq") - F.col("ep")),
        )
    ).cast("double")
    den = F.sum(F.col("eq") * F.col("eq")).cast("double")
    return l.agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        # try_divide: a perfect fit (or single day) has zero residual SS
        round_half_up(F.try_divide(num, den), 6).alias("dw_stat"),
        F.when(F.try_divide(num, den) < 1.0, 1)
        .otherwise(0)
        .alias("positive_autocorr_flag"),
    )


# ── q377: Ljung-Box portmanteau test ─────────────────────────────────────────

_Q377_K = 7
_Q377_CHI2_95_K7 = 14.067  # chi2(7) 95th percentile


def _q377_sql() -> str:
    lag_cols = ",\n             ".join(
        f"LAG(eq, {k}) OVER (ORDER BY d) AS e{k}" for k in range(1, _Q377_K + 1)
    )
    rk_terms = " + ".join(
        f"""(CAST(SUM(eq * e{k}) AS DOUBLE) / CAST(SUM(eq * eq) AS DOUBLE))
            * (CAST(SUM(eq * e{k}) AS DOUBLE) / CAST(SUM(eq * eq) AS DOUBLE))
            / (MAX(nn) - {k})"""
        for k in range(1, _Q377_K + 1)
    )
    return f"""
    WITH d0 AS (
      SELECT CAST(CAST(ts AS DATE) - DATE '2024-01-01' AS BIGINT) AS d,
             CAST(COUNT(*) AS BIGINT) AS v
      FROM events GROUP BY 1
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS sd, CAST(SUM(v) AS BIGINT) AS sv,
             CAST(SUM(d * d) AS BIGINT) AS sdd,
             CAST(SUM(d * v) AS BIGINT) AS sdv
      FROM d0
    ),
    e AS (
      SELECT d0.d, s.n AS nn,
             CAST(FLOOR((d0.v
               - ((s.sv - (s.n * 1.0 * s.sdv - s.sd * 1.0 * s.sv)
                          / (s.n * 1.0 * s.sdd - s.sd * 1.0 * s.sd) * s.sd)
                  / s.n
                  + (s.n * 1.0 * s.sdv - s.sd * 1.0 * s.sv)
                    / (s.n * 1.0 * s.sdd - s.sd * 1.0 * s.sd) * d0.d))
               * 1000000 + 0.5) AS BIGINT) AS eq
      FROM d0 CROSS JOIN s
    ),
    l AS (
      SELECT d, nn, eq,
             {lag_cols}
      FROM e
    )
    SELECT MAX(nn) AS n_days, {_Q377_K} AS n_lags,
           FLOOR(MAX(nn) * (MAX(nn) + 2.0) * ({rk_terms})
                 * 1000000 + 0.5) / 1000000 AS q_lb,
           CASE WHEN MAX(nn) * (MAX(nn) + 2.0) * ({rk_terms})
                     > {_Q377_CHI2_95_K7} THEN 1 ELSE 0 END AS reject_iid
    FROM l
    """


@register(
    "q377_ljung_box",
    _q377_sql(),
    doc="Ljung-Box portmanteau test (1978) on the OLS-detrended daily "
    "volume: Q = n(n+2) sum_k r_k^2/(n-k) over lags 1..7, compared to "
    "the chi2(7) 95th percentile — the JOINT version of q314's "
    "per-lag autocorrelation and the formal companion to q376's "
    "first-lag DW. Lagged products of the micro-quantized residuals "
    "are exact integers (the truncated-sum r_k convention, standard "
    "for portmanteau tests); Q is one scalar tree over them.",
)
def q377_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: identical to q376 — the lag battery is 7 windows over the
    calendar-bounded residual relation sharing one sort."""
    ev = load_table(spark, sf_dir, "events")
    d0 = ev.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("long").alias("v"))
    s = d0.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("d").cast("long").alias("sd"),
        F.sum("v").cast("long").alias("sv"),
        F.sum(F.col("d") * F.col("d")).cast("long").alias("sdd"),
        F.sum(F.col("d") * F.col("v")).cast("long").alias("sdv"),
    )
    # try_divide: a single-day lake has zero time variance
    b = F.try_divide(
        F.col("n") * 1.0 * F.col("sdv") - F.col("sd") * 1.0 * F.col("sv"),
        F.col("n") * 1.0 * F.col("sdd") - F.col("sd") * 1.0 * F.col("sd"),
    )
    a = (F.col("sv") - b * F.col("sd")) / F.col("n")
    e = d0.crossJoin(F.broadcast(s)).select(
        "d",
        F.col("n").alias("nn"),
        F.floor((F.col("v") - (a + b * F.col("d"))) * 1_000_000 + 0.5)
        .cast("long")
        .alias("eq"),
    )
    w = Window.orderBy("d")
    l = e.select(
        "d",
        "nn",
        "eq",
        *[F.lag("eq", k).over(w).alias(f"e{k}") for k in range(1, _Q377_K + 1)],
    )
    rsum = None
    for k in range(1, _Q377_K + 1):
        # try_divide: zero residual SS (single day / perfect fit) and
        # n <= k lags both make the term undefined -> NULL
        rk = F.try_divide(
            F.sum(F.col("eq") * F.col(f"e{k}")).cast("double"),
            F.sum(F.col("eq") * F.col("eq")).cast("double"),
        )
        term = F.try_divide(rk * rk, F.max("nn") - k)
        rsum = term if rsum is None else rsum + term
    q_lb = F.max("nn") * (F.max("nn") + 2.0) * rsum
    return l.agg(
        F.max("nn").alias("n_days"),
        F.lit(_Q377_K).alias("n_lags"),
        round_half_up(q_lb, 6).alias("q_lb"),
        F.when(q_lb > _Q377_CHI2_95_K7, 1).otherwise(0).alias("reject_iid"),
    )


# ── q378: Anderson-Darling normality test ────────────────────────────────────

_Q378_CRIT = 0.752  # A*² 5% critical value (Stephens 1974, normal case)


def _q378_tail_sql(u: str) -> str:
    """Upper normal tail T(u) for u >= 0 via A-S 26.2.17 (q362 form)."""
    b1, b2, b3, b4, b5 = _AS_B
    t = f"(1 / (1 + {_AS_P} * {u}))"
    horner = f"({t} * ({b1} + {t} * ({b2} + {t} * ({b3} + {t} * ({b4} + {t} * {b5})))))"
    return f"((EXP(-{u} * {u} / 2.0) / {_SQRT_2PI}) * {horner})"


def _q378_sql() -> str:
    ln_phi = (
        f"CASE WHEN a.z >= 0 THEN LN(1 - {_q378_tail_sql('a.z')}) "
        f"ELSE LN({_q378_tail_sql('(-a.z)')}) END"
    )
    ln_1m_phi = (
        f"CASE WHEN b.z >= 0 THEN LN({_q378_tail_sql('b.z')}) "
        f"ELSE LN(1 - {_q378_tail_sql('(-b.z)')}) END"
    )
    return f"""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN event_type = 'purchase'
                           THEN CAST(FLOOR(value * 100 + 0.5) AS BIGINT)
                           ELSE 0 END) AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    mo AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(y::HUGEINT * y::HUGEINT) AS DOUBLE) AS syy
      FROM u
    ),
    r AS (
      SELECT ROW_NUMBER() OVER (ORDER BY y, user_id) AS rn,
             (y - mo.sy * 1.0 / mo.n)
               / SQRT((mo.syy - mo.sy * 1.0 * mo.sy / mo.n) / (mo.n - 1)) AS z,
             mo.n AS n
      FROM u CROSS JOIN mo
    ),
    terms AS (
      SELECT a.rn, a.n,
             CAST(FLOOR((2 * a.rn - 1) * ({ln_phi} + {ln_1m_phi})
                        * 1000000 + 0.5) AS BIGINT) AS tq
      FROM r a JOIN r b ON b.rn = a.n - a.rn + 1
    )
    SELECT MAX(n) AS n_users,
           FLOOR((-CAST(MAX(n) AS DOUBLE)
                  - CAST(SUM(tq) AS DOUBLE) / 1000000.0 / MAX(n))
                 * 1000000 + 0.5) / 1000000 AS a2,
           FLOOR((-CAST(MAX(n) AS DOUBLE)
                  - CAST(SUM(tq) AS DOUBLE) / 1000000.0 / MAX(n))
                 * (1 + 0.75 / MAX(n) + 2.25 / (MAX(n) * 1.0 * MAX(n)))
                 * 1000000 + 0.5) / 1000000 AS a2_star,
           CASE WHEN (-CAST(MAX(n) AS DOUBLE)
                      - CAST(SUM(tq) AS DOUBLE) / 1000000.0 / MAX(n))
                     * (1 + 0.75 / MAX(n) + 2.25 / (MAX(n) * 1.0 * MAX(n)))
                     > {_Q378_CRIT} THEN 1 ELSE 0 END AS reject_normal
    FROM terms
    """


@register(
    "q378_anderson_darling",
    _q378_sql(),
    doc="Anderson-Darling normality test (1952; Stephens 1974 "
    "small-sample form) on per-user purchase revenue: "
    "A² = -n - (1/n) sum (2i-1)(ln Phi(z_(i)) + ln(1-Phi(z_(n+1-i)))), "
    "with Phi via the A-S arithmetic tail (q362) so every order-"
    "statistic term is a fixed IEEE tree, micro-quantized before the "
    "exact integer sum. A*² > 0.752 rejects normality at 5% — the "
    "formal check behind q333's t-test and q297's z-score fences "
    "(revenue is right-skewed; expect rejection, which is exactly why "
    "q306/q356's rank tests exist).",
)
def q378_anderson_darling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one per-user aggregate; ranking and the mirrored-rank
    join run on the user-bounded relation (at true scale a
    deterministic sample replaces it — the q366 convention)."""
    ev = load_table(spark, sf_dir, "events")
    cents = F.floor(F.col("value") * 100 + 0.5).cast("long")
    dec = lambda c: F.col(c).cast("decimal(38,0)")
    u = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") == "purchase", cents).otherwise(0))
        .cast("long")
        .alias("y")
    )
    mo = u.agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(dec("y") * dec("y")).cast("double").alias("syy"),
    )
    # try_divide: a single-user lake has zero dof/variance -> z NULL
    z = F.try_divide(
        F.col("y") - F.col("sy") * 1.0 / F.col("n"),
        F.sqrt(
            F.try_divide(
                F.col("syy") - F.col("sy") * 1.0 * F.col("sy") / F.col("n"),
                F.col("n") - 1,
            )
        ),
    )
    r = u.crossJoin(F.broadcast(mo)).select(
        F.row_number().over(Window.orderBy("y", "user_id")).alias("rn"),
        z.alias("z"),
        "n",
    )

    def tail(uc):
        t = 1 / (1 + _AS_P * uc)
        b1, b2, b3, b4, b5 = _AS_B
        horner = t * (b1 + t * (b2 + t * (b3 + t * (b4 + t * b5))))
        return (F.exp(-uc * uc / 2.0) / _SQRT_2PI) * horner

    a = r.select(F.col("rn"), F.col("z").alias("za"), F.col("n"))
    b = r.select(F.col("rn").alias("rb"), F.col("z").alias("zb"))
    ln_phi = F.when(
        F.col("za") >= 0, F.log(1 - tail(F.col("za")))
    ).otherwise(F.log(tail(-F.col("za"))))
    ln_1m = F.when(
        F.col("zb") >= 0, F.log(tail(F.col("zb")))
    ).otherwise(F.log(1 - tail(-F.col("zb"))))
    terms = a.join(
        F.broadcast(b), F.col("rb") == F.col("n") - F.col("rn") + 1
    ).select(
        "n",
        F.floor((2 * F.col("rn") - 1) * (ln_phi + ln_1m) * 1_000_000 + 0.5)
        .cast("long")
        .alias("tq"),
    )
    a2 = -F.max("n").cast("double") - F.sum("tq").cast("double") / 1_000_000.0 / F.max(
        "n"
    )
    a2s = a2 * (
        1 + 0.75 / F.max("n") + 2.25 / (F.max("n") * 1.0 * F.max("n"))
    )
    return terms.agg(
        F.max("n").alias("n_users"),
        round_half_up(a2, 6).alias("a2"),
        round_half_up(a2s, 6).alias("a2_star"),
        F.when(a2s > _Q378_CRIT, 1).otherwise(0).alias("reject_normal"),
    )
