"""Advanced query surface, round 2 (continued): windowed distinct counts,
null-safe joins, UNPIVOT reshaping, and array higher-order functions.

Each closes a semantics gap in the Athena-style serving surface
(reference: README.md:128-132): running DISTINCT aggregation, NULL-keyed
equality, wide-to-long reshape, and JVM-side array math over embedding
columns. Every query has a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_pk
from .queries import register

# ── q103: running distinct count over a window ──────────────────────────────


@register(
    "q103_window_distinct",
    """
    SELECT event_id, user_id,
           CAST(count(DISTINCT event_type)
                  OVER (PARTITION BY user_id ORDER BY ts, event_id
                        ROWS UNBOUNDED PRECEDING) AS INTEGER) AS n_types_seen
    FROM events
    """,
    doc="Running per-user distinct-event-type count. Spark windows don't "
    "accept DISTINCT aggregates, so the engine uses "
    "size(collect_set() OVER w) — semantically identical; DuckDB runs the "
    "literal windowed COUNT(DISTINCT).",
)
def q103_window_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id; the collect_set frame state is
    bounded by the event-type cardinality (small), NOT the frame length —
    safe on unbounded user histories. A high-cardinality distinct column
    would need the HLL-sketch variant (q84) instead."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.size(F.collect_set("event_type").over(w)).alias("n_types_seen"),
    )


# ── q104: null-safe join ────────────────────────────────────────────────────


@register(
    "q104_null_safe_join",
    """
    WITH a AS (SELECT nullif(event_type, 'click') AS k,
                      CAST(COUNT(*) AS BIGINT) AS n_events
               FROM events GROUP BY 1),
         b AS (SELECT nullif(event_type, 'click') AS k,
                      ROUND(AVG(value), 4) AS avg_value
               FROM events GROUP BY 1)
    SELECT a.k, a.n_events, b.avg_value
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    """,
    doc="Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys "
    "match each other instead of silently dropping — the semantics "
    "upserts and dimension lookups with unknown keys need.",
)
def q104_null_safe_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: <=> is still hash-joinable (null hashes to a regular
    bucket), so the plan is an ordinary shuffle/broadcast hash join — no
    nested-loop penalty for null-safe semantics."""
    ev = load_table(spark, sf_dir, "events")
    k = F.expr("nullif(event_type, 'click')")
    a = ev.groupBy(k.alias("k")).agg(F.count(F.lit(1)).alias("n_events"))
    b = ev.groupBy(k.alias("k")).agg(F.round(F.avg("value"), 4).alias("avg_value"))
    return a.join(b, a["k"].eqNullSafe(b["k"])).select(a["k"], "n_events", "avg_value")


# ── q105: UNPIVOT (wide → long reshape) ─────────────────────────────────────


@register(
    "q105_unpivot",
    """
    SELECT event_type, metric, val
    FROM (SELECT event_type,
                 ROUND(AVG(value), 4) AS avg_value,
                 ROUND(MIN(value), 4) AS min_value,
                 ROUND(MAX(value), 4) AS max_value
          FROM events GROUP BY event_type)
    UNPIVOT (val FOR metric IN (avg_value, min_value, max_value))
    """,
    doc="UNPIVOT / melt: wide per-type stat columns reshaped to "
    "(entity, metric, value) long form — the inverse of q39's pivot; "
    "DataFrame.unpivot in Spark, UNPIVOT clause in DuckDB.",
)
def q105_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: unpivot is a map-side Expand (rows × metrics), no shuffle
    beyond the feeding aggregate — long form is what metric stores and
    plotting layers want."""
    ev = load_table(spark, sf_dir, "events")
    wide = ev.groupBy("event_type").agg(
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.round(F.min("value"), 4).alias("min_value"),
        F.round(F.max("value"), 4).alias("max_value"),
    )
    return wide.unpivot(
        ids=["event_type"],
        values=["avg_value", "min_value", "max_value"],
        variableColumnName="metric",
        valueColumnName="val",
    )


# ── q106: array higher-order functions ──────────────────────────────────────


@register(
    "q106_array_hof",
    """
    SELECT vec_id,
           ROUND(list_reduce(
                   list_prepend(0.0, list_transform(embedding,
                       x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
                   (acc, x) -> acc + x), 4) AS sq_norm,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           CAST(list_max(embedding) AS DOUBLE) AS max_elem
    FROM embeddings
    """,
    doc="Array higher-order functions over the embedding column: "
    "squared-norm via a left fold (aggregate), positive-component count "
    "via filter, array_max — all JVM-side lambdas, zero Python; the "
    "oracle replays the identical fold order (list_prepend seeds the "
    "accumulator) so the float math is bit-equal.",
)
def q106_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: HOF lambdas run inside codegen per-row — the fast path for
    embedding math under ~1k dims (the similarity module's measured
    crossover to Arrow UDFs is per-PAIR ops, not per-row folds). No
    shuffle; projection prunes to (vec_id, embedding) at the scan."""
    emb = load_table(spark, sf_dir, "embeddings")
    sq = F.aggregate(
        F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    return emb.select(
        "vec_id",
        F.round(sq, 4).alias("sq_norm"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.array_max("embedding").cast("double").alias("max_elem"),
    )


# ── q107: recursive CTE ─────────────────────────────────────────────────────

_Q107_SQL = """
    WITH RECURSIVE edges AS (
      SELECT n_nationkey AS child,
             LAG(n_nationkey) OVER (PARTITION BY n_regionkey
                                    ORDER BY n_nationkey) AS parent
      FROM nation
    ),
    walk AS (
      SELECT child AS node, 0 AS depth FROM edges WHERE parent IS NULL
      UNION ALL
      SELECT e.child, w.depth + 1
      FROM walk w JOIN edges e ON e.parent = w.node
    )
    SELECT node, depth FROM walk
"""


@register(
    "q107_recursive_cte",
    _Q107_SQL,
    doc="Recursive CTE (Spark 4 WITH RECURSIVE): walk a parent-child "
    "chain derived from the nation table (per-region lag ordering) and "
    "emit each node's depth — hierarchy traversal without driver loops; "
    "DuckDB runs the identical statement.",
)
def q107_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: each recursion step is one co-partitioned join on the edge
    key; depth is bounded by the hierarchy height, not row count. For
    massive graphs the iterative min-label operator
    (operators/dedup.py:connected_components) is the batch-tuned path."""
    load_table_pk(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(_Q107_SQL)


# ── q108: rank-function pack ────────────────────────────────────────────────


@register(
    "q108_rank_functions",
    """
    SELECT c_custkey, c_mktsegment,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           ROUND(percent_rank() OVER w, 6) AS prnk,
           ROUND(cume_dist() OVER w, 6) AS cdist,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
    """,
    doc="Ranking-function pack in one named window frame: rank, "
    "dense_rank, percent_rank, cume_dist, ntile — completes the window "
    "surface beyond q10/q11/q54.",
)
def q108_rank_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: all five functions share ONE sort within one window spec —
    a single shuffle+sort, not five."""
    cust = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cust.select(
        "c_custkey",
        "c_mktsegment",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.round(F.percent_rank().over(w), 6).alias("prnk"),
        F.round(F.cume_dist().over(w), 6).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


# ── q109: GROUP BY ALL ──────────────────────────────────────────────────────

_Q109_SQL = """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ALL
"""


@register(
    "q109_group_by_all",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ALL
    """,
    doc="GROUP BY ALL (infer grouping keys from the non-aggregate select "
    "list) — modern-SQL ergonomics surface; identical statement on both "
    "engines.",
)
def q109_group_by_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql(_Q109_SQL)


# ── q110: linear-regression aggregates ──────────────────────────────────────


@register(
    "q110_regression_aggs",
    """
    SELECT l_returnflag,
           CAST(regr_count(l_extendedprice, l_quantity) AS BIGINT) AS n,
           ROUND(regr_slope(l_extendedprice, l_quantity), 4) AS slope,
           ROUND(regr_intercept(l_extendedprice, l_quantity), 4) AS intercept,
           ROUND(regr_r2(l_extendedprice, l_quantity), 6) AS r2
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Per-group ordinary-least-squares via the regr_* aggregate family "
    "(slope/intercept/R², price ~ quantity) — one-pass streaming moments, "
    "identical call surface on both engines.",
)
def q110_regression_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: regr_* aggregates are merge-able moment sketches — partial
    aggregation map-side, one shuffle on the group key; no per-group
    value buffering (contrast with exact-percentile q43)."""
    li = load_table(spark, sf_dir, "lineitem")
    y, x = F.col("l_extendedprice"), F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.regr_count(y, x).alias("n"),
        F.round(F.regr_slope(y, x), 4).alias("slope"),
        F.round(F.regr_intercept(y, x), 4).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
    )


# ── q111: grouped-map applyInPandas ─────────────────────────────────────────


@register(
    "q111_grouped_map_zscore",
    """
    SELECT event_id, event_type,
           ROUND((value - AVG(value) OVER (PARTITION BY event_type))
                 / stddev_samp(value) OVER (PARTITION BY event_type), 3) AS z
    FROM events
    """,
    doc="Grouped-map applyInPandas: per-event-type z-score computed by a "
    "vectorized pandas function over each group (Arrow transfer) — the "
    "escape hatch for per-group logic no SQL expresses; here the logic "
    "IS SQL-expressible, so the window formulation is the oracle.",
)
def q111_grouped_map_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on the group key; each group must fit one
    executor's memory (the applyInPandas contract — groups here are
    event types, bounded). When the logic fits a window/agg, prefer that
    (JVM-side); this query exists to pin the grouped-map API surface."""
    import pandas as pd

    ev = load_table(spark, sf_dir, "events").select("event_id", "event_type", "value")

    def zscore(pdf: "pd.DataFrame") -> "pd.DataFrame":
        mu = pdf["value"].mean()
        sd = pdf["value"].std(ddof=1)  # matches stddev_samp
        z = (pdf["value"] - mu) / sd
        return pd.DataFrame(
            {"event_id": pdf["event_id"], "event_type": pdf["event_type"], "z": z.round(3)}
        )

    return ev.groupBy("event_type").applyInPandas(
        zscore, schema="event_id long, event_type string, z double"
    )


# ── q112: weighted reservoir sample (Efraimidis–Spirakis) ───────────────────

_ES_KEY_DUCK = """
    POW((CAST(('0x' || substr(md5('7|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT) + 1)
        / 1152921504606846976.0, 1.0 / n_chars)
"""


@register(
    "q112_weighted_sample",
    f"""
    SELECT doc_id, n_chars, ROUND({_ES_KEY_DUCK}, 6) AS es_key
    FROM documents
    WHERE n_chars > 0
    ORDER BY {_ES_KEY_DUCK} DESC, doc_id
    LIMIT 10
    """,
    doc="Weighted sampling without replacement (Efraimidis–Spirakis A-ES): "
    "per-row key u^(1/w) from a deterministic md5 uniform, global top-k by "
    "key — longer documents proportionally more likely, reproducible "
    "across engines/partitionings; the oracle evaluates the identical "
    "formula.",
)
def q112_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: TakeOrderedAndProject — each partition keeps its local
    top-k, driver merges k·partitions rows; no global sort, no RNG state.
    The same key with a per-group window rank gives per-stratum weighted
    reservoirs."""
    docs = load_table(spark, sf_dir, "documents").filter(F.col("n_chars") > 0)
    u = (
        F.conv(F.substring(F.md5(F.concat(F.lit("7|"), F.col("doc_id").cast("string"))), 1, 15), 16, 10)
        .cast("long") + 1
    ) / F.lit(float(1 << 60))
    es_key = F.pow(u, 1.0 / F.col("n_chars"))
    return (
        docs.select("doc_id", "n_chars", F.round(es_key, 6).alias("es_key"), es_key.alias("__k"))
        .orderBy(F.col("__k").desc(), "doc_id")
        .limit(10)
        .drop("__k")
    )


# ── q113: line-level dedup (CCNet-style) ────────────────────────────────────


@register(
    "q113_line_dedup_ratio",
    """
    WITH lines AS (
      SELECT doc_id, parts[i] AS line
      FROM (SELECT doc_id, parts, unnest(generate_series(1, len(parts))) AS i
            FROM (SELECT doc_id, string_split(text, '. ') AS parts
                  FROM documents))
      WHERE parts[i] <> ''
    ),
    freq AS (SELECT line, COUNT(*) AS df FROM lines GROUP BY line)
    SELECT l.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_lines,
           CAST(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_lines,
           ROUND(SUM(CASE WHEN f.df > 1 THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 4)
             AS dup_line_ratio
    FROM lines l JOIN freq f USING (line)
    GROUP BY l.doc_id
    """,
    doc="CCNet-style line-level dedup scoring: split documents into "
    "sentences, count cross-corpus duplicate lines, emit each document's "
    "duplicated-line ratio — the standard boilerplate filter for web "
    "pretraining corpora.",
)
def q113_line_dedup_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: line frequency is a heavy-tailed but line-keyed aggregate
    (one shuffle, map-side combined); the join back is line-keyed too —
    at 100 TB hash the line to a 64-bit key first so the shuffle carries
    8 bytes instead of the text (same shape as the MinHash hash-set
    trick; kept as raw lines here so the oracle stays a literal mirror)."""
    docs = load_table(spark, sf_dir, "documents")
    lines = (
        docs.select("doc_id", F.explode(F.split("text", "\\. ")).alias("line"))
        .filter(F.col("line") != "")
    )
    freq = lines.groupBy("line").agg(F.count(F.lit(1)).alias("df"))
    dup = F.sum(F.when(F.col("df") > 1, 1).otherwise(0))
    return (
        lines.join(freq, "line")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            dup.cast("long").alias("n_dup_lines"),
            F.round(dup * 1.0 / F.count(F.lit(1)), 4).alias("dup_line_ratio"),
        )
    )


# ── q114: sequence packing (concat-and-split) ───────────────────────────────

_PACK_BUDGET = 512  # tokens per packed training sequence


@register(
    "q114_sequence_packing",
    f"""
    WITH toks AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '\\s+'), t -> t <> ''))
               AS n_tokens
      FROM documents
    ),
    cum AS (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS offset_total
      FROM toks
    )
    SELECT doc_id, n_tokens,
           CAST(offset_total // {_PACK_BUDGET} AS BIGINT) AS pack_id,
           CAST(offset_total % {_PACK_BUDGET} AS BIGINT) AS pack_offset
    FROM cum
    """,
    doc="GPT-style sequence packing (concat-and-split): documents are "
    "concatenated in deterministic doc_id order and cut into fixed "
    "512-token training sequences; each doc gets its pack id and offset "
    "from a running token prefix-sum — no bin-packing loop, pure window "
    "arithmetic.",
)
def q114_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the global prefix-sum orders by doc_id — a single-partition
    window here. At 100 TB: prefix-sum per shard (hash bucket), then add
    per-shard base offsets computed from shard totals (two tiny jobs) —
    same arithmetic, embarrassingly parallel; packs then never cross
    shards, which is what data loaders want anyway."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.size(F.filter(F.split("text", "\\s+"), lambda t: t != "")).alias("n_tokens"),
    )
    w = Window.orderBy("doc_id").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = toks.withColumn("offset_total", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return cum.select(
        "doc_id",
        "n_tokens",
        (F.col("offset_total") / _PACK_BUDGET).cast("long").alias("pack_id"),
        (F.col("offset_total") % _PACK_BUDGET).cast("long").alias("pack_offset"),
    )


# ── q115: product-quantization ANN ──────────────────────────────────────────


def _pq_sql(
    m: int = 8,
    n_codes: int = 32,
    k: int = 5,
    refine: int = 8,
    sample_size: int = 1024,
    n_iter: int = 10,
    seed: int = 42,
    n_queries: int = 10,
    dim: int = 64,
) -> str:
    """Full SQL replay of pq_topk: normalized md5-ordered sample,
    per-subspace farthest-point init (n_codes-1 unrolled steps, all
    subspaces handled relationally by a `j` key), n_iter unrolled Lloyd
    iterations (Euclidean argmin, member-order mean sums, NO
    renormalization — PQ is raw-L2 per subspace), corpus/query code
    assignment, the ADC fold (sum of per-subspace table lookups in j
    order), and the exact-cosine re-rank of the top refine*k ADC
    candidates. Same sequential-fold contract as the q47/q207 replays;
    assumes corpus >= n_codes rows (the operator's degenerate-corpus
    padding branch is not replayed — every gated sf is far above it)."""
    from .llm_ops import _COS, _norm_sql

    sub = dim // m
    rng_s = f"range(1,{sub + 1})"

    def sqd(a: str, b: str) -> str:
        return (
            f"list_sum(list_transform({rng_s}, "
            f"i -> ({a}[i] - {b}[i]) * ({a}[i] - {b}[i])))"
        )

    fp = []
    for t in range(2, n_codes + 1):
        fp.append(f"""
    st{t} AS MATERIALIZED (
      SELECT j, sv AS cv FROM (
        SELECT j, idx, sv,
               ROW_NUMBER() OVER (PARTITION BY j ORDER BY d2 DESC, idx ASC)
                 AS rn
        FROM dd{t - 1}) z WHERE rn = 1),
    dd{t} AS MATERIALIZED (
      SELECT m.j, m.idx, m.sv, LEAST(m.d2, {sqd("m.sv", "s.cv")}) AS d2
      FROM dd{t - 1} m JOIN st{t} s USING (j))""")
    cb0 = "\n      UNION ALL ".join(
        ["SELECT j, 0 AS code, cv FROM c1"]
        + [f"SELECT j, {t - 1} AS code, cv FROM st{t}" for t in range(2, n_codes + 1)]
    )
    lloyd = []
    for t in range(1, n_iter + 1):
        lloyd.append(f"""
    asg{t} AS MATERIALIZED (
      SELECT j, idx, sv, code FROM (
        SELECT s.j, s.idx, s.sv, c.code,
               ROW_NUMBER() OVER (PARTITION BY s.j, s.idx
                 ORDER BY {sqd("s.sv", "c.cv")} ASC, c.code ASC) AS rn
        FROM ss s JOIN cb{t - 1} c USING (j)) z
      WHERE rn = 1),
    nm{t} AS MATERIALIZED (
      SELECT j, code, list(md ORDER BY d) AS mv FROM (
        SELECT j, code, d, list_sum(list(val ORDER BY idx)) / COUNT(*) AS md
        FROM (SELECT j, code, idx, UNNEST({rng_s}) AS d, UNNEST(sv) AS val
              FROM asg{t}) u
        GROUP BY j, code, d) g
      GROUP BY j, code),
    cb{t} AS MATERIALIZED (
      SELECT p.j, p.code, COALESCE(n.mv, p.cv) AS cv
      FROM cb{t - 1} p LEFT JOIN nm{t} n ON n.j = p.j AND n.code = p.code)""")

    cos_final = _COS.format(a="qe.embedding", b="ne.embedding")
    return f"""
    WITH sord AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v,
             md5(concat('{seed}', CAST(vec_id AS VARCHAR))) AS h
      FROM embeddings ORDER BY h, id LIMIT {sample_size}
    ),
    sidx AS (SELECT id, v, ROW_NUMBER() OVER (ORDER BY h, id) AS idx FROM sord),
    snv AS MATERIALIZED (
      SELECT idx, list_transform(range(1,{dim + 1}),
               i -> v[i]::DOUBLE / greatest({_norm_sql("v", dim)}, 1e-12)) AS nv
      FROM sidx
    ),
    ss AS MATERIALIZED (
      SELECT idx, j, list_transform({rng_s}, i -> nv[(j - 1) * {sub} + i]) AS sv
      FROM snv CROSS JOIN (SELECT UNNEST(range(1,{m + 1})) AS j) js
    ),
    c1 AS MATERIALIZED (SELECT j, sv AS cv FROM ss WHERE idx = 1),
    dd1 AS MATERIALIZED (
      SELECT s.j, s.idx, s.sv, {sqd("s.sv", "c.cv")} AS d2
      FROM ss s JOIN c1 c USING (j)),{",".join(fp)},
    cb0 AS MATERIALIZED (
      {cb0}
    ),{",".join(lloyd)},
    pen AS MATERIALIZED (
      SELECT vec_id, embedding, list_transform(range(1,{dim + 1}),
               i -> embedding[i]::DOUBLE / greatest({_norm_sql("embedding", dim)}, 1e-12))
                 AS env
      FROM embeddings
    ),
    es AS MATERIALIZED (
      SELECT vec_id, j, list_transform({rng_s}, i -> env[(j - 1) * {sub} + i])
               AS sv
      FROM pen CROSS JOIN (SELECT UNNEST(range(1,{m + 1})) AS j) js
    ),
    ec AS MATERIALIZED (
      SELECT vec_id, j, code FROM (
        SELECT e.vec_id, e.j, c.code,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id, e.j
                 ORDER BY {sqd("e.sv", "c.cv")} ASC, c.code ASC) AS rn
        FROM es e JOIN cb{n_iter} c USING (j)) z
      WHERE rn = 1),
    qd AS MATERIALIZED (
      SELECT e.vec_id AS query_id, e.j, c.code, {sqd("e.sv", "c.cv")} AS dv
      FROM es e JOIN cb{n_iter} c USING (j)
      WHERE e.vec_id < {n_queries}),
    adc AS MATERIALIZED (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             list_sum(list(q.dv ORDER BY q.j)) AS adc
      FROM ec e JOIN qd q ON q.j = e.j AND q.code = e.code
      WHERE e.vec_id <> q.query_id
      GROUP BY q.query_id, e.vec_id),
    cand AS MATERIALIZED (
      SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adc ASC, neighbor_id ASC) AS rn
        FROM adc) z
      WHERE rn <= {refine * k})
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT c.query_id, c.neighbor_id,
             ROUND({cos_final}, 6) AS sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY c.query_id
                     ORDER BY ROUND({cos_final}, 6) DESC, c.neighbor_id)
                  AS INTEGER) AS rank
      FROM cand c
      JOIN embeddings qe ON qe.vec_id = c.query_id
      JOIN embeddings ne ON ne.vec_id = c.neighbor_id) t
    WHERE rank <= {k}
    """


@register(
    "q115_ann_pq_topk",
    _pq_sql(),
    doc="Product-quantization ANN top-k: per-subspace k-means codebooks "
    "compress each vector to 8 code bytes; the candidate scan is pure "
    "ADC table lookups over the codes (never the raw vectors), then the "
    "top refine*k candidates re-rank by exact cosine. Recall bound vs "
    "brute force asserted in tests/test_text_similarity.py. Graduated "
    "from rows-only in r6: the oracle replays codebook training (all 8 "
    "subspaces relationally), encoding, the ADC fold, and the re-rank "
    "via the sequential-fold float contract (q47 precedent) — with this "
    "the registry has ZERO rows-only queries.",
)
def q115_ann_pq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the ADC scan reads (id, codes) — ~3% of the embedding
    bytes; exact re-rank touches refine*k rows per query instead of N.
    Queries broadcast; one window shuffle on query_id."""
    from ..operators.similarity import pq_topk

    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return pq_topk(queries, emb, k=5, m_subspaces=8, n_codes=32, refine=8)


# ── q116: streaming sliding windows ─────────────────────────────────────────


@register(
    "q116_stream_sliding_window",
    """
    WITH buckets AS (
      SELECT e.value,
             date_trunc('hour', e.ts) - INTERVAL 1 HOUR * off.o AS win_start
      FROM events e,
           (SELECT unnest(generate_series(0, 1)) AS o) off
    )
    SELECT win_start,
           win_start + INTERVAL 2 HOUR AS win_end,
           COUNT(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value
    FROM buckets
    GROUP BY win_start
    """,
    doc="Structured Streaming SLIDING window (2 h length, 1 h slide): "
    "each event lands in two overlapping windows; oracle materializes "
    "the same two covering buckets per event relationally.",
)
def q116_stream_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: sliding windows multiply state by length/slide (2x here) —
    the streaming aggregation keys on (window, ...) so state is bounded
    by active windows, and the watermark (production mode) reaps closed
    ones. complete+availableNow only because the oracle wants the full
    final result."""
    from .temporal import _events_stream, run_memory_stream

    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.groupBy(F.window("ts", "2 hours", "1 hour"))
        .agg(F.count(F.lit(1)).alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("window.start").alias("win_start"),
            F.col("window.end").alias("win_end"),
            "n_events",
            "sum_value",
        )
    )
    return run_memory_stream(spark, agg, "q116", sf_dir, output_mode="complete")


# ── q117: IGNORE NULLS window functions (LOCF) ──────────────────────────────


@register(
    "q117_ignore_nulls_locf",
    """
    SELECT event_id, user_id,
           last_value(v_sparse IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS v_locf,
           first_value(v_sparse IGNORE NULLS)
             OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
             AS v_first_obs
    FROM (SELECT event_id, user_id, ts,
                 CASE WHEN event_type = 'purchase' THEN value END AS v_sparse
          FROM events)
    """,
    doc="IGNORE NULLS window functions: last_value carries the previous "
    "purchase value forward (LOCF over a sparse column), first_value "
    "finds the first observation per user — the windowed twin of the "
    "gap-fill operator (q78); identical IGNORE NULLS semantics both "
    "engines.",
)
def q117_ignore_nulls_locf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle on user_id, one sort, two frames sharing it;
    LOCF via last_value(ignorenulls) needs no self-join and no gap-fill
    densification when the grid is the event stream itself."""
    ev = load_table(spark, sf_dir, "events")
    sparse = ev.select(
        "event_id",
        "user_id",
        "ts",
        F.when(F.col("event_type") == "purchase", F.col("value")).alias("v_sparse"),
    )
    w_run = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return sparse.select(
        "event_id",
        "user_id",
        F.last("v_sparse", ignorenulls=True).over(w_run).alias("v_locf"),
        F.first("v_sparse", ignorenulls=True).over(w_all).alias("v_first_obs"),
    )


# ── q118: audio PCM window features ─────────────────────────────────────────


@register(
    "q118_audio_window_energy",
    """
    WITH samp AS (
      SELECT doc_id, i,
             CAST(TRUNC(ROUND((8000 + (doc_id % 7) * 1000)
                        * SIN(2 * PI() * (100 + (doc_id % 20) * 10) * i / 8000), 3))
                  AS BIGINT) AS s
      FROM (SELECT doc_id, unnest(generate_series(0, 2047)) AS i FROM documents)
    ),
    nxt AS (
      SELECT doc_id, i, s,
             LEAD(s) OVER (PARTITION BY doc_id ORDER BY i) AS s2
      FROM samp
    )
    SELECT doc_id,
           CAST(i // 256 AS INTEGER) AS win_idx,
           CAST(SUM(s * s) AS BIGINT) AS sum_sq,
           CAST(SUM(CASE WHEN i % 256 < 255 AND (s >= 0) <> (s2 >= 0)
                         THEN 1 ELSE 0 END) AS INTEGER) AS zcr
    FROM nxt
    GROUP BY doc_id, i // 256
    """,
    doc="Audio feature extraction over REAL int16 PCM binaries: "
    "deterministic per-doc tone synthesis -> numpy frombuffer decode -> "
    "per-256-sample window energy (exact integer sum of squares) and "
    "zero-crossing counts via mapInPandas. The oracle recomputes the "
    "waveform from the closed-form sample formula — the binary decode "
    "path itself is hash-checked, not stubbed.",
)
def q118_audio_window_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: synthesis stands in for reading real recordings; decode +
    windowed features are map-side Arrow batches (no shuffle), and the
    emitted features are integer sufficient statistics so downstream
    rollups stay exact on any engine."""
    from ..operators.multimodal import audio_window_energy, synth_pcm_payload

    docs = load_table_pk(spark, sf_dir, "documents").select("doc_id")
    return audio_window_energy(synth_pcm_payload(docs))


# ── q119: stream-static dimension join ──────────────────────────────────────

_TYPE_WEIGHTS = [("click", 1.0), ("view", 0.5), ("purchase", 5.0), ("error", 0.0), ("signup", 2.0)]


@register(
    "q119_stream_static_join",
    """
    WITH dim(event_type, w) AS (
      VALUES ('click', 1.0), ('view', 0.5), ('purchase', 5.0),
             ('error', 0.0), ('signup', 2.0)
    )
    SELECT e.event_type,
           COUNT(*) AS n_events,
           ROUND(SUM(e.value * d.w), 2) AS weighted_value
    FROM events e JOIN dim d USING (event_type)
    GROUP BY e.event_type
    """,
    doc="Stream-static join: the event file stream enriched against a "
    "static in-memory dimension (type -> weight) before a streaming "
    "aggregation — the standard dimension-enrichment topology; the "
    "static side re-reads per micro-batch, no state.",
)
def q119_stream_static_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the static dim broadcasts into every micro-batch (no
    stream-stream state, no watermark bookkeeping); at 100 TB the dim is
    a real table and the same plan holds — broadcast if small, shuffle
    join if not, chosen per micro-batch."""
    from .temporal import _events_stream, run_memory_stream

    dim = spark.createDataFrame(_TYPE_WEIGHTS, "event_type string, w double")
    sdf = _events_stream(spark, sf_dir)
    agg = (
        sdf.join(F.broadcast(dim), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum(F.col("value") * F.col("w")), 2).alias("weighted_value"),
        )
    )
    return run_memory_stream(spark, agg, "q119", sf_dir, output_mode="complete")


# ── q120: XML extraction (Spark 4 from_xml) ─────────────────────────────────


@register(
    "q120_xml_extract",
    """
    SELECT o_orderkey,
           o_orderstatus AS status,
           o_totalprice AS price
    FROM orders
    """,
    doc="XML ingestion surface (Spark 4 from_xml): order rows serialized "
    "to XML strings, then parsed back through the XML reader with a "
    "typed schema — parse(serialize(x)) == x, so the oracle is the "
    "original relational projection and the XML path is value-hash "
    "checked.",
)
def q120_xml_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: from_xml is per-row JVM parsing inside codegen — the same
    map-side shape as from_json/parse_json (q41/q86); schema-first so no
    inference pass."""
    orders = load_table(spark, sf_dir, "orders")
    return (
        orders.select(F.col("o_orderkey"), F.expr(
            # parse the serialized row back with a typed schema
            "from_xml(concat('<o><k>', o_orderkey, '</k><s>', o_orderstatus, "
            "'</s><p>', o_totalprice, '</p></o>'), 'k long, s string, p double')"
        ).alias("x"))
        .select(
            "o_orderkey",
            F.col("x.s").alias("status"),
            F.col("x.p").alias("price"),
        )
    )


# ── q121: collation-aware grouping (Spark 4 collations) ─────────────────────


@register(
    "q121_collation_group",
    """
    SELECT lower(mixed) AS key_lc,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(value), 2) AS sum_value
    FROM (SELECT CASE WHEN event_id % 2 = 0 THEN upper(event_type)
                      ELSE event_type END AS mixed,
                 value
          FROM events)
    GROUP BY lower(mixed)
    """,
    doc="Collation-aware grouping (Spark 4 COLLATE UTF8_LCASE): "
    "mixed-case keys group case-insensitively via the collation itself, "
    "not an explicit lower() rewrite; the oracle uses the lower() "
    "equivalent.",
)
def q121_collation_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: collation is a property of the comparison, so the hash
    aggregate shuffles on the collation key directly — no derived-column
    materialization; same one-shuffle plan as any group-by."""
    ev = load_table(spark, sf_dir, "events")
    mixed = F.when(F.col("event_id") % 2 == 0, F.upper("event_type")).otherwise(
        F.col("event_type")
    )
    return (
        ev.select(mixed.alias("mixed"), "value")
        .groupBy(F.expr("collate(mixed, 'UTF8_LCASE')").alias("k"))
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(F.lower("k").alias("key_lc"), "n", "sum_value")
    )


# ── q122: ANSI-safe try_* functions ─────────────────────────────────────────


@register(
    "q122_try_functions",
    """
    SELECT event_id,
           value / nullif(CAST(event_id % 3 AS DOUBLE), 0.0) AS safe_div,
           TRY_CAST(props AS DOUBLE) AS bad_cast,
           CASE WHEN event_id % 3 = 0 THEN NULL
                ELSE ROUND(value / (event_id % 3), 4) END AS safe_div_round
    FROM events
    """,
    doc="ANSI-safe arithmetic (Spark 4 runs ANSI mode by default, where "
    "division by zero and bad casts THROW): try_divide/try_cast return "
    "NULL instead — the batch-pipeline behavior you want when one bad "
    "record must not kill a 100 TB job. Oracle mirrors with "
    "nullif/TRY_CAST.",
)
def q122_try_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    denom = (F.col("event_id") % 3).cast("double")
    return ev.select(
        "event_id",
        F.try_divide(F.col("value"), denom).alias("safe_div"),
        F.expr("try_cast(props AS DOUBLE)").alias("bad_cast"),
        F.round(F.try_divide(F.col("value"), denom), 4).alias("safe_div_round"),
    )


# ── q123: PageRank over the event-type transition graph ─────────────────────

_PR_ITERS = 10
_PR_DAMP = 0.85


def _pagerank_oracle_sql() -> str:
    """Unrolled fixed-iteration PageRank in pure SQL: recursive CTEs
    cannot aggregate over their own prior iteration (the PostgreSQL
    restriction DuckDB inherits), so the oracle chains it0..itN CTEs —
    the literal power iteration, one CTE per step."""
    head = """
    WITH ord AS (
      SELECT user_id, event_type AS cur,
             LAG(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS prev
      FROM events
    ),
    edges AS (SELECT prev, cur, COUNT(*) AS w FROM ord
              WHERE prev IS NOT NULL GROUP BY prev, cur),
    outd AS (SELECT prev, SUM(w) AS od FROM edges GROUP BY prev),
    e AS (SELECT edges.prev, edges.cur, edges.w * 1.0 / outd.od AS p
          FROM edges JOIN outd USING (prev)),
    nodes AS (SELECT DISTINCT event_type AS v FROM events),
    it0 AS (SELECT v, 1.0 / (SELECT COUNT(*) FROM nodes) AS r FROM nodes)"""
    steps = []
    for i in range(1, _PR_ITERS + 1):
        steps.append(f"""
    it{i} AS (
      SELECT n.v,
             {1 - _PR_DAMP} / (SELECT COUNT(*) FROM nodes)
             + {_PR_DAMP} * COALESCE((SELECT SUM(e.p * prev.r)
                                      FROM e JOIN it{i - 1} prev ON prev.v = e.prev
                                      WHERE e.cur = n.v), 0) AS r
      FROM nodes n)""")
    return (
        head + "," + ",".join(steps)
        + f"\n    SELECT v, ROUND(r, 6) AS pagerank FROM it{_PR_ITERS}"
    )


@register(
    "q123_pagerank_transitions",
    _pagerank_oracle_sql(),
    doc="PageRank (10 power iterations, damping 0.85) over the "
    "event-type transition graph mined from per-user event sequences — "
    "an iterative graph algorithm whose every iteration is value-checked: "
    "the oracle unrolls the identical power iteration as chained CTEs. "
    "Accepted flakiness class (ADVICE r2): ROUND(...,6) of an iterated "
    "float recurrence; both engines follow the same iteration order so "
    "divergence needs a contribution sum to land within float noise of "
    "a 5e-7 boundary — documented rather than quantized, since integer "
    "arithmetic cannot express the damped fixpoint.",
)
def q123_pagerank_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: edge mining is one lag-window + aggregate over the event
    log (the heavy part — shuffles on user then on edge key); the
    iteration itself runs on the NODE set, which for any real taxonomy
    is tiny — each step is one co-partitioned join + aggregate, and at
    graph scale this exact loop is connected_components' shape
    (localCheckpoint cadence, operators/dedup.py)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordered = ev.select(
        F.col("event_type").alias("cur"), F.lag("event_type").over(w).alias("prev")
    )
    edges = (
        ordered.filter(F.col("prev").isNotNull())
        .groupBy("prev", "cur")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    outd = edges.groupBy("prev").agg(F.sum("w").alias("od"))
    e = (
        edges.join(outd, "prev")
        .select("prev", "cur", (F.col("w") * 1.0 / F.col("od")).alias("p"))
        .localCheckpoint(eager=True)
    )
    # localCheckpoint the node set (q398 cadence): every one of the 10
    # iteration steps left-joins nodes, so without materialization the
    # final plan embeds ELEVEN copies of the events-scan + distinct
    # subtree — ten full rescans of the event log for a taxonomy-sized
    # relation (guide §7.2: duplicated subtrees).
    nodes = ev.select(F.col("event_type").alias("v")).distinct().localCheckpoint(
        eager=True
    )
    n = nodes.count()
    if n == 0:  # empty lake: schema-stable empty result
        return spark.createDataFrame([], "v string, pagerank double")
    ranks = nodes.select("v", F.lit(1.0 / n).alias("r"))
    for _ in range(_PR_ITERS):
        contrib = (
            e.join(ranks, e["prev"] == ranks["v"])
            .groupBy("cur")
            .agg(F.sum(F.col("p") * F.col("r")).alias("c"))
        )
        ranks = nodes.join(contrib, nodes["v"] == contrib["cur"], "left").select(
            "v", (F.lit((1 - _PR_DAMP) / n) + _PR_DAMP * F.coalesce("c", F.lit(0.0))).alias("r")
        )
    # Materialize so the returned plan does not embed ten copies of the
    # iteration subtree (VERDICT r2 item 2).
    return ranks.select("v", F.round("r", 6).alias("pagerank")).localCheckpoint(eager=True)


# ── q124: train/val/test split assignment ───────────────────────────────────

_SPLIT_HASH = "CAST(('0x' || substr(md5('split42|' || CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)"
_SPLIT_TRAIN = int(0.8 * (1 << 60))
_SPLIT_VAL = int(0.9 * (1 << 60))


@register(
    "q124_train_val_test_split",
    f"""
    SELECT split, lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars
    FROM (SELECT lang, n_chars,
                 CASE WHEN {_SPLIT_HASH} < {_SPLIT_TRAIN} THEN 'train'
                      WHEN {_SPLIT_HASH} < {_SPLIT_VAL} THEN 'val'
                      ELSE 'test' END AS split
          FROM documents)
    GROUP BY split, lang
    """,
    doc="Deterministic 80/10/10 train/val/test split: the split label is "
    "a pure row-content hash range, so membership is stable across runs, "
    "engines, partitionings, and dataset growth (a doc never migrates "
    "between splits when new data arrives) — reported as per-split "
    "per-language doc and char counts.",
)
def q124_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: split assignment is a map-side expression at the scan (no
    shuffle, no RNG); the only shuffle is the reporting aggregate.
    Contrast randomSplit(): partition-order dependent, migrates rows on
    re-runs, and cannot be recomputed engine-independently."""
    docs = load_table(spark, sf_dir, "documents")
    h = (
        F.conv(
            F.substring(F.md5(F.concat(F.lit("split42|"), F.col("doc_id").cast("string"))), 1, 15),
            16,
            10,
        ).cast("long")
    )
    split = (
        F.when(h < _SPLIT_TRAIN, "train").when(h < _SPLIT_VAL, "val").otherwise("test")
    )
    return (
        docs.select("lang", "n_chars", split.alias("split"))
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
        )
    )


# ── q125-q128: classic TPC-H query shapes ───────────────────────────────────


@register(
    "q125_tpch_q6",
    """
    SELECT ROUND(SUM(l_extendedprice * l_discount), 2) AS revenue
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1995-01-01'
      AND l_shipdate < TIMESTAMP '1996-01-01'
      AND l_discount BETWEEN 0.03 AND 0.07
      AND l_quantity < 24
    """,
    doc="TPC-H Q6 (forecasting revenue change): pure scan-filter-agg — "
    "every predicate pushes to the parquet scan, the aggregate is one "
    "map-side-combined sum; the canonical IO-bound benchmark query.",
)
def q125_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: zero shuffles beyond the final 1-row combine; the scan
    reads 4 columns and row groups are pruned by the shipdate min/max
    stats."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.filter(
            (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.03, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias("revenue"))
    )


@register(
    "q126_tpch_q13",
    """
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey, COUNT(o.o_orderkey) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey)
    GROUP BY c_count
    """,
    doc="TPC-H Q13 (customer order-count distribution): left join so "
    "order-less customers count as zero, then a distribution re-group — "
    "the two-level aggregation benchmark shape.",
)
def q126_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: first group-by rides the join's custkey partitioning (no
    second exchange); the distribution re-group shuffles only
    (c_count, 1) pairs."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders")
    per_cust = (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"], "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count(F.lit(1)).alias("custdist"))


@register(
    "q127_tpch_q14",
    """
    SELECT ROUND(100.0 * SUM(CASE WHEN p_type LIKE 'PROMO%'
                                  THEN l_extendedprice * (1 - l_discount)
                                  ELSE 0 END)
                 / SUM(l_extendedprice * (1 - l_discount)), 4) AS promo_revenue_pct
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1995-09-01'
      AND l_shipdate < TIMESTAMP '1995-10-01'
    """,
    doc="TPC-H Q14 (promotion effect): conditional revenue share over a "
    "fact-dim join — broadcast the part dim, one fused conditional "
    "aggregate.",
)
def q127_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: part broadcasts; the month filter prunes lineitem at the
    scan; both sums fuse into one aggregate pass."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1995-10-01").cast("timestamp"))
    )
    part = load_table(spark, sf_dir, "part")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), rev).otherwise(F.lit(0.0))
    return (
        li.join(F.broadcast(part), li["l_partkey"] == part["p_partkey"])
        .agg(F.round(100.0 * F.sum(promo) / F.sum(rev), 4).alias("promo_revenue_pct"))
    )


@register(
    "q128_tpch_q10",
    """
    SELECT c.c_custkey, c.c_name, n.n_name,
           SUM(CAST(ROUND(l.l_extendedprice * 100) AS BIGINT)
               * (100 - CAST(ROUND(l.l_discount * 100) AS BIGINT))) / 10000.0 AS revenue
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN nation n ON c.c_nationkey = n.n_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1995-01-01'
      AND o.o_orderdate < TIMESTAMP '1995-04-01'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    doc="TPC-H Q10 (returned-item reporting): 4-way join, quarter filter, "
    "returned lineitems only, top-20 by lost revenue with a custkey "
    "tiebreak for determinism.",
)
def q128_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: orders filtered to one quarter BEFORE the fact join (the
    selective side drives); nation broadcasts; TakeOrderedAndProject
    caps the result without a global sort."""
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1995-04-01").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    nation = load_table(spark, sf_dir, "nation")
    return (
        cust.join(orders, cust["c_custkey"] == orders["o_custkey"])
        .join(li, orders["o_orderkey"] == li["l_orderkey"])
        .join(F.broadcast(nation), cust["c_nationkey"] == nation["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        # integer-cents arithmetic: exact, accumulation-order independent
        .agg(
            (
                F.sum(
                    F.round(F.col("l_extendedprice") * 100).cast("long")
                    * (100 - F.round(F.col("l_discount") * 100).cast("long"))
                )
                / 10000.0
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


# ── q129: grouping_id over rollup ───────────────────────────────────────────


@register(
    "q129_grouping_id",
    """
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    HAVING COUNT(*) > 0
    """,
    doc="grouping_id over ROLLUP: the bitmask that tells subtotal rows "
    "apart from genuinely-NULL group keys — without it a rollup over "
    "nullable dimensions is ambiguous; identical GROUPING() semantics "
    "both engines.",
)
def q129_grouping_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same single Expand + hash-aggregate plan as q15; the
    grouping id is a literal tag per Expand branch — zero extra cost."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping_id().alias("gid"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        )
        .select("l_returnflag", "l_linestatus", "gid", "n", "sum_qty")
    )


# ── q130: discrete percentiles ──────────────────────────────────────────────


@register(
    "q130_percentile_disc",
    """
    SELECT l_returnflag,
           quantile_disc(l_quantity, 0.25) AS p25,
           quantile_disc(l_quantity, 0.50) AS p50,
           quantile_disc(l_quantity, 0.90) AS p90
    FROM lineitem
    GROUP BY l_returnflag
    """,
    doc="Discrete percentiles (percentile_disc == DuckDB quantile_disc): "
    "always returns an ACTUAL population value, never an interpolated "
    "midpoint — the right semantics for quantizing to real observations "
    "(latency SLOs, discrete sizes); complements q43's continuous "
    "interpolation.",
)
def q130_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same per-group value buffer as any exact percentile —
    bounded group cardinality here; unbounded groups go through
    approx_percentile (q80)."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile_disc(0.25) WITHIN GROUP (ORDER BY l_quantity)").alias("p25"),
        F.expr("percentile_disc(0.50) WITHIN GROUP (ORDER BY l_quantity)").alias("p50"),
        F.expr("percentile_disc(0.90) WITHIN GROUP (ORDER BY l_quantity)").alias("p90"),
    )


# ── q131: string-function pack 2 ────────────────────────────────────────────


@register(
    "q131_string_functions2",
    """
    SELECT c_custkey,
           split_part(c_name, '#', 2) AS cust_num,
           left(c_name, 8) AS name_prefix,
           right(c_name, 4) AS name_suffix,
           reverse(c_mktsegment) AS seg_rev,
           CAST(strpos(c_name, '#') AS INTEGER) AS hash_pos,
           repeat(c_mktsegment, 2) AS seg_twice
    FROM customer
    """,
    doc="Second scalar string pack: split_part, left/right, reverse, "
    "position (instr/strpos), repeat — completes q42's function-library "
    "coverage with the delimiter-field and affix helpers ETL leans on.",
)
def q131_string_functions2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: pure codegen'd column expressions; zero shuffle."""
    cust = load_table(spark, sf_dir, "customer")
    return cust.select(
        "c_custkey",
        F.split_part(F.col("c_name"), F.lit("#"), F.lit(2)).alias("cust_num"),
        F.expr("left(c_name, 8)").alias("name_prefix"),
        F.expr("right(c_name, 4)").alias("name_suffix"),
        F.reverse("c_mktsegment").alias("seg_rev"),
        F.instr("c_name", "#").alias("hash_pos"),
        F.repeat("c_mktsegment", 2).alias("seg_twice"),
    )


# ── q132: median absolute deviation (robust spread) ─────────────────────────


@register(
    "q132_mad_robust_spread",
    """
    WITH med AS (SELECT l_returnflag, MEDIAN(l_quantity) AS m
                 FROM lineitem GROUP BY l_returnflag)
    SELECT l.l_returnflag,
           ROUND(MEDIAN(ABS(l.l_quantity - med.m)), 4) AS mad_qty,
           ROUND(ANY_VALUE(med.m), 4) AS median_qty
    FROM lineitem l JOIN med USING (l_returnflag)
    GROUP BY l.l_returnflag
    """,
    doc="Median absolute deviation per group — the robust spread measure "
    "outlier-heavy pipelines use instead of stddev (one wild value moves "
    "stddev, not MAD). Two-phase: per-group median, then median of "
    "absolute deviations.",
)
def q132_mad_robust_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two grouped medians on the same key — the second group-by
    reuses the join's partitioning, so the plan pays one extra exchange
    for the medians join, not two; at unbounded group sizes swap both
    medians for approx_percentile."""
    li = load_table(spark, sf_dir, "lineitem")
    med = li.groupBy("l_returnflag").agg(F.median("l_quantity").alias("m"))
    return (
        li.join(med, "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.round(F.median(F.abs(F.col("l_quantity") - F.col("m"))), 4).alias("mad_qty"),
            F.round(F.any_value("m"), 4).alias("median_qty"),
        )
    )


# ── q134: Benford leading-digit profile ─────────────────────────────────────


@register(
    "q134_benford_digits",
    """
    WITH d AS (
      SELECT left(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1) AS digit
      FROM orders WHERE o_totalprice >= 1
    )
    SELECT digit,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(COUNT(*) * 1.0 / SUM(COUNT(*)) OVER (), 4) AS observed_freq,
           ROUND(LOG10(1.0 + 1.0 / CAST(digit AS BIGINT)), 4) AS benford_freq
    FROM d
    GROUP BY digit
    """,
    doc="Benford leading-digit profile of order totals: observed "
    "first-digit frequencies next to the Benford expectation "
    "log10(1 + 1/d) — the classic fabricated-data / anomaly screen for "
    "financial columns. FLOOR before the integer cast on both engines "
    "(DuckDB CAST(double AS BIGINT) rounds, Spark casts truncate).",
)
def q134_benford_digits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one hash aggregate on a 9-value key plus a single-row
    window for the total — the window over () is one tiny exchange of
    9 rows, not a data-sized sort."""
    orders = load_table(spark, sf_dir, "orders").filter(F.col("o_totalprice") >= 1)
    digit = F.substring(F.floor("o_totalprice").cast("long").cast("string"), 1, 1)
    counts = orders.groupBy(digit.alias("digit")).agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy()
    return counts.select(
        "digit",
        "n",
        F.round(F.col("n") * 1.0 / F.sum("n").over(w), 4).alias("observed_freq"),
        F.round(F.log10(1.0 + 1.0 / F.col("digit").cast("long")), 4).alias("benford_freq"),
    )


# ── q145: array set-operation pack ──────────────────────────────────────────


@register(
    "q145_array_setops",
    """
    WITH tok AS (
      SELECT doc_id, string_split(lower(text), ' ') AS tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(len(list_distinct(tokens)) AS INTEGER) AS n_distinct,
           COALESCE(array_to_string(list_sort(list_intersect(
             tokens, ['the','a','of','and','to','in','is','it'])), ','), '') AS stop_found,
           COALESCE(array_to_string(
             list_sort(list_distinct(list_filter(tokens,
               t -> NOT list_contains(['the','a','of','and','to','in','is','it'], t)
             )))[1:5], ','), '') AS content_sample,
           CAST(list_position(tokens, 'the') AS INTEGER) AS the_pos,
           len(list_intersect(tokens,
             ['the','a','of','and','to','in','is','it'])) > 0 AS has_stopword
    FROM tok
    """,
    doc="Array set-operation pack over tokenized documents: "
    "array_distinct, array_intersect, array_except (DuckDB mirrors via "
    "list_filter + list_contains — Spark's except also dedups), "
    "array_position (both engines return 0 for missing), slice, "
    "arrays_overlap. Set results are sorted then joined to strings so "
    "the comparison is representation-independent (COALESCE to '' — "
    "DuckDB's array_to_string yields NULL on empty lists, Spark's "
    "concat_ws yields '').",
)
def q145_array_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: every op is a JVM-side array expression inside one
    codegen'd project — no explode, no shuffle, no Python; cost is
    linear in tokens per row regardless of corpus size."""
    stop = F.array(*[F.lit(s) for s in ["the", "a", "of", "and", "to", "in", "is", "it"]])
    docs = load_table(spark, sf_dir, "documents")
    tokens = F.split(F.lower("text"), " ")
    return docs.select(
        "doc_id",
        F.size(F.array_distinct(tokens)).alias("n_distinct"),
        F.concat_ws(",", F.array_sort(F.array_intersect(tokens, stop))).alias("stop_found"),
        F.concat_ws(
            ",", F.slice(F.array_sort(F.array_except(tokens, stop)), 1, 5)
        ).alias("content_sample"),
        F.array_position(tokens, "the").cast("int").alias("the_pos"),
        F.arrays_overlap(tokens, stop).alias("has_stopword"),
    )


# ── q146: bitwise-function pack ─────────────────────────────────────────────


@register(
    "q146_bitwise_pack",
    """
    SELECT event_id,
           event_id & 255 AS low_byte,
           xor(event_id, user_id) AS key_xor,
           (1 << CAST(user_id % 8 AS INTEGER)) | 1 AS flag_mask,
           user_id << 3 AS shl3,
           event_id >> 4 AS shr4,
           CAST(bit_count(event_id) AS INTEGER) AS popcount
    FROM events
    """,
    doc="Bitwise scalar pack: AND-masking, XOR key mixing, OR'd flag "
    "masks from shifts, left/right shifts, and population count — the "
    "bit-twiddling surface partitioning schemes and bitmap encodings "
    "are built from. DuckDB spells xor as a function (its ^ is power) "
    "and bit_count returns BIGINT vs Spark's INT; the query pins the "
    "portable forms.",
)
def q146_bitwise_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: pure codegen'd integer expressions on the scan — zero
    shuffles, zero UDFs; nothing here changes shape at any SF."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.expr("event_id & 255").alias("low_byte"),
        F.expr("event_id ^ user_id").alias("key_xor"),
        F.expr("shiftleft(1, CAST(user_id % 8 AS INT)) | 1").alias("flag_mask"),
        F.expr("shiftleft(user_id, 3)").alias("shl3"),
        F.expr("shiftright(event_id, 4)").alias("shr4"),
        F.bit_count("event_id").alias("popcount"),
    )


# ── q149: epoch / timezone conversion pack ──────────────────────────────────


@register(
    "q149_epoch_tz_pack",
    """
    SELECT event_id,
           CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s,
           epoch_ms(ts) AS epoch_millis,
           CAST(to_timestamp(CAST(floor(epoch(ts)) AS BIGINT)) AS TIMESTAMP)
             AS ts_roundtrip,
           CAST(floor(epoch(timezone('America/New_York', ts))) AS BIGINT)
             AS ny_epoch_s,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS day_start
    FROM events
    """,
    doc="Epoch/timezone conversion pack: seconds + millis since epoch, "
    "epoch->timestamp roundtrip, wall-clock reinterpretation "
    "(America/New_York -> UTC, DST-aware via each engine's tz "
    "database), day truncation. Both sessions pin UTC so naive "
    "timestamps mean the same instant everywhere — the contract a "
    "distributed lake needs. Portability pins: floor(epoch) (DuckDB's "
"cast rounds fractional seconds, Spark truncates) and an explicit "
"TIMESTAMP cast on day_start (DuckDB date_trunc('day') yields DATE).",
)
def q149_epoch_tz_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: pure codegen'd timestamp arithmetic on the scan — no
    shuffle, no UDFs; the tz conversion is a JVM zoneinfo lookup."""
    ev = load_table(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        F.unix_timestamp("ts").alias("epoch_s"),
        F.unix_millis("ts").alias("epoch_millis"),
        F.timestamp_seconds(F.unix_timestamp("ts")).alias("ts_roundtrip"),
        F.unix_timestamp(F.to_utc_timestamp("ts", "America/New_York")).alias("ny_epoch_s"),
        F.date_trunc("day", "ts").alias("day_start"),
    )


# ── q150: Pareto frontier (skyline) ─────────────────────────────────────────


@register(
    "q150_pareto_skyline",
    """
    WITH pts AS (
      SELECT o_orderkey, o_totalprice AS price, o_orderdate AS odate
      FROM orders
    ),
    by_price AS (SELECT price, max(odate) AS mx FROM pts GROUP BY price),
    runmax AS (
      SELECT price,
             max(mx) OVER (ORDER BY price
                           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prevmax
      FROM by_price
    )
    SELECT p.o_orderkey, p.price, p.odate
    FROM pts p JOIN runmax r ON p.price = r.price
    WHERE r.prevmax IS NULL OR r.prevmax <= p.odate
    """,
    doc="Pareto frontier (skyline): orders not strictly dominated on "
    "(cheaper AND more recent) — kept iff no strictly-cheaper order has "
    "a strictly-later date, via a running-max-date sweep over prices "
    "instead of the naive O(N^2) dominance anti-join. The "
    "multi-objective shortlist query (cheapest-freshest, "
    "best-quality-smallest, ...) every curation pipeline ends with.",
)
def q150_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: two-phase skyline — phase 1 computes a LOCAL skyline per
    hash partition (32-way parallel sweep; domination is transitive, so
    any globally-dominated point is eliminated by some local survivor
    later), phase 2 re-sweeps only the local survivors (frontier-sized,
    tiny) in one partition. The oracle runs the single-phase sweep —
    same set by the skyline-merge property. The global sort is over
    per-price maxima of survivors, never raw data."""
    orders = load_table(spark, sf_dir, "orders")
    pts = orders.select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.col("o_orderdate").alias("odate"),
    )

    def sweep(df: DataFrame, *part_cols: str) -> DataFrame:
        by_price = df.groupBy(*part_cols, "price").agg(F.max("odate").alias("mx"))
        w = (
            Window.partitionBy(*part_cols)
            .orderBy("price")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        runmax = by_price.select(
            *part_cols, "price", F.max("mx").over(w).alias("prevmax")
        )
        return df.join(runmax, [*part_cols, "price"]).filter(
            F.col("prevmax").isNull() | (F.col("prevmax") <= F.col("odate"))
        )

    local = sweep(
        pts.withColumn("pid", (F.col("o_orderkey") % 32).cast("int")), "pid"
    ).select("o_orderkey", "price", "odate", F.lit(0).alias("g"))
    return sweep(local, "g").select("o_orderkey", "price", "odate")


# ── q151: conditional aggregate pack ────────────────────────────────────────


@register(
    "q151_conditional_aggs",
    """
    SELECT event_type,
           CAST(count_if(value > 0.5) AS BIGINT) AS n_high,
           bool_and(value >= 0.0) AS all_nonneg,
           bool_or(value > 0.99) AS any_extreme,
           ROUND(AVG(CASE WHEN value > 0.5 THEN value END), 6) AS avg_high,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users
    FROM events
    GROUP BY event_type
    """,
    doc="Conditional aggregate pack: count_if, bool_and/bool_or "
    "(ANSI every/any), NULL-skipping conditional AVG (CASE with no "
    "ELSE), distinct count — the predicate-summary surface of "
    "data-quality dashboards, fused into one grouped pass.",
)
def q151_conditional_aggs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: all six aggregates fuse into one hash aggregate with
    map-side partials except COUNT(DISTINCT), which Spark plans as the
    standard two-phase expand — still one shuffle keyed on
    (event_type, user_id)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count_if(F.col("value") > 0.5).alias("n_high"),
        F.bool_and(F.col("value") >= 0.0).alias("all_nonneg"),
        F.bool_or(F.col("value") > 0.99).alias("any_extreme"),
        F.round(F.avg(F.when(F.col("value") > 0.5, F.col("value"))), 6).alias("avg_high"),
        F.countDistinct("user_id").cast("long").alias("n_users"),
    )


# ── q153: deterministic mode per group ──────────────────────────────────────


@register(
    "q153_mode_per_group",
    """
    WITH counts AS (
      SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS n
      FROM events GROUP BY event_type, user_id
    ),
    ranked AS (
      SELECT event_type, user_id, n,
             row_number() OVER (PARTITION BY event_type
                                ORDER BY n DESC, user_id) AS rn
      FROM counts
    )
    SELECT event_type, user_id AS modal_user, n AS n_events
    FROM ranked WHERE rn = 1
    """,
    doc="Deterministic mode: the most frequent user per event type via "
    "count-then-rank with an explicit id tiebreak — both engines' "
    "native mode() breaks frequency ties arbitrarily, which can never "
    "be hash-verified; this form pins the winner.",
)
def q153_mode_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the count keys on (event_type, user_id) and the rank
    re-keys on event_type — two exchanges, the second over
    already-collapsed counts; WindowGroupLimit prunes rank>1
    map-side."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("event_type").orderBy(F.col("n").desc(), "user_id")
    return (
        counts.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", F.col("user_id").alias("modal_user"), F.col("n").alias("n_events"))
    )


# ── q154: period-over-period change ─────────────────────────────────────────


@register(
    "q154_month_over_month",
    """
    WITH monthly AS (
      SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month,
             CAST(count(*) AS BIGINT) AS n_orders,
             SUM(CAST(ROUND(o_totalprice * 100) AS BIGINT)) / 100.0 AS total
      FROM orders GROUP BY 1
    )
    SELECT month, n_orders, total,
           ROUND(100.0 * (total - lag(total) OVER (ORDER BY month))
                 / lag(total) OVER (ORDER BY month), 4) AS pct_change
    FROM monthly
    """,
    doc="Month-over-month revenue change: aggregate to periods, then "
    "lag over the period axis for the %% delta — the period-over-period "
    "reporting shape every dashboard ends with (first period yields "
    "NULL, not zero).",
)
def q154_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the unpartitioned lag runs over period-cardinality rows
    (dozens), not data — one tiny single-partition window after a
    map-side-combined monthly aggregate."""
    orders = load_table(spark, sf_dir, "orders")
    monthly = orders.groupBy(F.date_trunc("month", "o_orderdate").alias("month")).agg(
        F.count(F.lit(1)).alias("n_orders"),
        (F.sum(F.round(F.col("o_totalprice") * 100).cast("long")) / 100.0).alias("total"),
    )
    w = Window.partitionBy().orderBy("month")
    prev = F.lag("total").over(w)
    return monthly.select(
        "month",
        "n_orders",
        "total",
        F.round(100.0 * (F.col("total") - prev) / prev, 4).alias("pct_change"),
    )


# ── q155: top-k per group with ties ─────────────────────────────────────────


@register(
    "q155_topk_with_ties",
    """
    SELECT * FROM (
      SELECT l_returnflag, l_orderkey, l_quantity,
             rank() OVER (PARTITION BY l_returnflag
                          ORDER BY l_quantity DESC) AS qty_rank
      FROM lineitem
    ) WHERE qty_rank <= 3
    """,
    doc="Top-k per group WITH TIES: rank() <= k admits every row tied "
    "at the boundary (SQL:2008 FETCH ... WITH TIES semantics) — the "
    "row_number() variant (q10) would drop tied rows arbitrarily, "
    "which is unverifiable; result size is k + ties, not k.",
)
def q155_topk_with_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: same WindowGroupLimit pushdown as row_number top-k —
    rank() is group-limit eligible, so per-partition pre-filtering
    keeps only candidate rows ahead of the shuffle."""
    li = load_table(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(F.col("l_quantity").desc())
    return (
        li.select("l_returnflag", "l_orderkey", "l_quantity")
        .withColumn("qty_rank", F.rank().over(w))
        .filter(F.col("qty_rank") <= 3)
    )


# ── q156: exact distinct counts via bitmap aggregates ───────────────────────


@register(
    "q156_bitmap_distinct",
    """
    SELECT o_orderpriority,
           CAST(COUNT(DISTINCT o_custkey) AS BIGINT) AS n_customers,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders GROUP BY o_orderpriority
    """,
    doc="EXACT distinct counting via Spark 3.5+ bitmap aggregates: keys "
    "map to (bucket, bit) positions, per-(group, bucket) bitmaps build "
    "map-side, and the final count is a sum of bitmap_count over buckets "
    "— the mergeable-sketch shape that lets exact distinct counts "
    "pre-aggregate and roll up (unlike COUNT(DISTINCT), which cannot "
    "partial-aggregate and must shuffle raw keys). Oracle is the plain "
    "COUNT(DISTINCT) it must equal.",
)
def q156_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: COUNT(DISTINCT) expands every (group, key) pair through the
    shuffle; the bitmap form shuffles one <=4 KB bitmap per (group,
    bucket of 32768 keys) — at 100 TB that is the difference between
    shuffling the key universe and shuffling a fixed sketch per bucket.
    Both forms are EXACT; bitmaps are also the storable/mergeable
    representation an incremental rollup would persist."""
    orders = load_table(spark, sf_dir, "orders")
    per_bucket = (
        orders.groupBy(
            "o_orderpriority",
            F.expr("bitmap_bucket_number(o_custkey)").alias("__bucket"),
        )
        .agg(
            F.expr("bitmap_construct_agg(bitmap_bit_position(o_custkey))").alias("__bm"),
            F.count(F.lit(1)).alias("__n"),
        )
    )
    return per_bucket.groupBy("o_orderpriority").agg(
        F.sum(F.expr("bitmap_count(__bm)")).cast("long").alias("n_customers"),
        F.sum("__n").cast("long").alias("n_orders"),
    )


# ── q157: exact money arithmetic in DECIMAL ─────────────────────────────────


@register(
    "q157_decimal_money",
    """
    SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS gross_cents,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(12,2))
                    * (CAST(1 AS DECIMAL(3,2)) - CAST(l_discount AS DECIMAL(4,2))))
                * 10000 AS BIGINT) AS net_e4,
           CAST(MIN(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS min_price_cents,
           CAST(MAX(CAST(l_extendedprice AS DECIMAL(12,2))) * 100 AS BIGINT)
             AS max_price_cents
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact money arithmetic in DECIMAL: prices and discounts cast to "
    "fixed-point before any arithmetic, so sums are associative integers "
    "underneath — order-independent and engine-exact (the float-double "
    "formulation of the same aggregate is what forces the integer-cents "
    "idiom elsewhere, e.g. q128/q133). Exercises decimal cast rounding, "
    "scale propagation through multiply, and final re-scaling, with "
    "identical ANSI DECIMAL semantics on both engines. The OUTPUT is "
    "projected to exact integer sub-units (cents / 1e-4 units) as "
    "BIGINT: DECIMAL output columns are the one type the driver's "
    "pandas-level hash cannot reconcile (Spark object/Decimal vs DuckDB "
    "float64 — proven on q76 in r3/r4), and integer sub-units preserve "
    "the full exactness story with zero float involvement.",
)
def q157_decimal_money(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: decimal aggregation partial-aggregates like any sum (the
    accumulator is a 128-bit integer) — exactness costs no extra shuffle;
    the cast happens at the scan projection."""
    li = load_table(spark, sf_dir, "lineitem")
    price = F.col("l_extendedprice").cast("decimal(12,2)")
    disc = F.col("l_discount").cast("decimal(4,2)")
    one = F.lit(1).cast("decimal(3,2)")
    # net is aggregated at the product's natural scale 4 (a lossy
    # re-cast to scale 2 would hit exact .xx50 midpoints where Spark
    # rounds HALF_UP and DuckDB HALF_EVEN); the *100 / *10000 rescale
    # to integer sub-units is exact — no rounding ever happens.
    return li.groupBy("l_returnflag").agg(
        (F.sum(price) * 100).cast("long").alias("gross_cents"),
        (F.sum(price * (one - disc)) * 10000).cast("long").alias("net_e4"),
        (F.min(price) * 100).cast("long").alias("min_price_cents"),
        (F.max(price) * 100).cast("long").alias("max_price_cents"),
    )


# ── q159: exponential time-decay scoring ────────────────────────────────────

_DECAY_ANCHOR = "2024-02-01 00:00:00"  # just past the events table's range
_DECAY_TAU_US = 7 * 86_400 * 1_000_000  # e-folding time: one week, in micros


@register(
    "q159_time_decay_score",
    f"""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(SUM(CAST(ROUND(value * EXP(-(epoch_us(TIMESTAMP '{_DECAY_ANCHOR}')
                                               - epoch_us(ts)) / {_DECAY_TAU_US}.0)
                                 * 1000000) AS BIGINT)) / 1000000.0, 4)
             AS decayed_value
    FROM events GROUP BY event_type
    """,
    doc="Recency-weighted (exponential time-decay) scoring: each event "
    "contributes value * exp(-age/tau) with a one-week e-folding time "
    "against a fixed anchor — the standard freshness-weighted popularity "
    "aggregate. Each term is quantized to integer micro-units BEFORE the "
    "sum (same scheme as q92), so the aggregate is an order-free integer "
    "sum on both engines; age is computed in exact microseconds "
    "(unix_micros / epoch_us).",
)
def q159_time_decay_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: decay weight is a map-side expression at the scan (exact
    integer micros in, one exp per row); the only shuffle is the final
    small aggregate. Contrast a windowed recency rank: no sort, no
    per-key state — decay handles recency weighting in one pass."""
    ev = load_table(spark, sf_dir, "events")
    anchor_us = F.unix_micros(F.lit(_DECAY_ANCHOR).cast("timestamp"))
    age_us = anchor_us - F.unix_micros(F.col("ts"))
    term = F.round(F.col("value") * F.exp(-age_us / F.lit(float(_DECAY_TAU_US))) * 1e6).cast(
        "long"
    )
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(term) / 1e6, 4).alias("decayed_value"),
    )


# ── q160: referential-integrity audit across the star schema ────────────────

_FK_RELS = [
    ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part.p_partkey", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier.s_suppkey", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation.n_nationkey", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation.n_nationkey", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region.r_regionkey", "nation", "n_regionkey", "region", "r_regionkey"),
]


def _fk_oracle_sql() -> str:
    parts = [
        f"""SELECT '{name}' AS relationship,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child}) AS n_child_rows,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM {child} c
                WHERE c.{ck} IS NOT NULL
                  AND NOT EXISTS (SELECT 1 FROM {parent} p WHERE p.{pk} = c.{ck}))
                 AS n_orphans"""
        for name, child, ck, parent, pk in _FK_RELS
    ]
    return "\nUNION ALL\n".join(parts)


@register(
    "q160_fk_integrity_audit",
    _fk_oracle_sql(),
    doc="Referential-integrity audit over every FK edge of the star "
    "schema: per relationship, child row count and orphan count (child "
    "keys with no matching parent) — the relational extension of the "
    "reference's per-column validation suite (F1-F4) to cross-table "
    "invariants. A lake-quality dashboard runs exactly this after every "
    "load.",
)
def q160_fk_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: ONE scan per child table regardless of how many FK edges it
    carries — all of a child's checks ride the same pass as left joins
    against distinct parent keys (broadcast when small), fused into one
    aggregate whose per-edge orphan counts then unpivot to rows. The
    same fused-single-pass story as the validator (F1-F4, SURVEY §4):
    a naive per-edge formulation scans lineitem six times; this scans it
    once. No collect, no loop over rows — the edge list is static
    config."""
    from collections import defaultdict

    by_child: dict[str, list[tuple]] = defaultdict(list)
    for rel in _FK_RELS:
        by_child[rel[1]].append(rel)
    out = None
    for child, rels in by_child.items():
        c = load_table(spark, sf_dir, child).select(*[r[2] for r in rels])
        joined = c
        for i, (_, _, ck, parent, pk) in enumerate(rels):
            p = (
                load_table(spark, sf_dir, parent)
                .select(F.col(pk).alias(f"__pk{i}"))
                .distinct()
            )
            joined = joined.join(p, F.col(ck) == F.col(f"__pk{i}"), "left")
        agg = joined.agg(
            F.count(F.lit(1)).cast("long").alias("__total"),
            *[
                # coalesce: 0 orphans (not NULL) on an empty child table,
                # matching the oracle's COUNT(*) subquery
                F.coalesce(
                    F.sum(
                        F.when(
                            F.col(rels[i][2]).isNotNull()
                            & F.col(f"__pk{i}").isNull(),
                            1,
                        ).otherwise(0)
                    ),
                    F.lit(0),
                )
                .cast("long")
                .alias(f"__orph{i}")
                for i in range(len(rels))
            ],
        )
        stack = F.expr(
            "stack({}, {}) as (relationship, n_orphans)".format(
                len(rels),
                ", ".join(f"'{rels[i][0]}', __orph{i}" for i in range(len(rels))),
            )
        )
        rows = agg.select(F.col("__total").alias("n_child_rows"), stack).select(
            "relationship", "n_child_rows", "n_orphans"
        )
        out = rows if out is None else out.unionAll(rows)
    return out


# ── q161: equi-depth (quantile-bucket) histogram ────────────────────────────


@register(
    "q161_equidepth_histogram",
    """
    SELECT event_type, bucket,
           CAST(COUNT(*) AS BIGINT) AS n,
           ROUND(MIN(value), 4) AS lo,
           ROUND(MAX(value), 4) AS hi
    FROM (
      SELECT event_type, value,
             CAST(ntile(10) OVER (PARTITION BY event_type
                                  ORDER BY value, event_id) AS INTEGER) AS bucket
      FROM events WHERE value IS NOT NULL
    )
    GROUP BY event_type, bucket
    """,
    doc="Equi-DEPTH histogram: ntile(10) assigns each value to a "
    "same-population decile per group and the buckets report their "
    "boundaries — the quantile-bucket twin of the equi-WIDTH histogram "
    "(q75). event_id tiebreak makes tied-value bucket assignment "
    "deterministic on both engines (ntile splits ties arbitrarily "
    "otherwise).",
)
def q161_equidepth_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one shuffle + sort per group partition (the same window
    sort any ranking needs); buckets aggregate in the partitioning the
    window already established. For a global (non-grouped) equi-depth
    cut at 100 TB use approx percentiles for boundaries instead —
    q80's t-digest is that path."""
    ev = load_table(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = Window.partitionBy("event_type").orderBy("value", "event_id")
    return (
        ev.select("event_type", "value", F.ntile(10).over(w).alias("bucket"))
        .groupBy("event_type", "bucket")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.min("value"), 4).alias("lo"),
            F.round(F.max("value"), 4).alias("hi"),
        )
    )


# ── q162: per-source curation profile ───────────────────────────────────────


@register(
    "q162_source_quality_profile",
    r"""
    WITH d AS (
      SELECT source, lang, n_chars,
             md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
                                     ' +', ' ', 'g'))) AS fp,
             length(regexp_replace(text, '[a-zA-Z0-9\s]', '', 'g')) * 1.0
               / NULLIF(length(text), 0) AS punct
      FROM documents
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(1.0 - COUNT(DISTINCT fp) * 1.0 / COUNT(*), 4) AS exact_dup_ratio,
           ROUND(AVG(punct), 6) AS avg_punct_ratio
    FROM d GROUP BY source
    """,
    doc="Per-source curation profile: doc/char volume, language spread, "
    "EXACT-duplicate ratio (normalized-text fingerprints, q22's scheme), "
    "and mean punctuation ratio — the source-level dashboard a crawl "
    "pipeline uses to decide which sources to down-weight or drop before "
    "expensive near-dup passes.",
)
def q162_source_quality_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one pass computes the fingerprint and quality signals at the
    scan; the aggregate shuffles on source only. The dup ratio reuses the
    exact-dedup fingerprint so source-level triage agrees with the
    doc-level dedup op (operators/dedup.py:normalize_text)."""
    from ..operators.dedup import normalize_text

    docs = load_table(spark, sf_dir, "documents")
    punct = (
        F.length(F.regexp_replace("text", r"[a-zA-Z0-9\s]", ""))
        * F.lit(1.0)
        / F.nullif(F.length("text"), F.lit(0))
    )
    d = docs.select(
        "source", "lang", "n_chars",
        F.md5(normalize_text("text")).alias("fp"),
        punct.alias("punct"),
    )
    return d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("lang").cast("long").alias("n_langs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.round(1.0 - F.countDistinct("fp") / F.count(F.lit(1)), 4).alias("exact_dup_ratio"),
        F.round(F.avg("punct"), 6).alias("avg_punct_ratio"),
    )
