"""Extended SQL surface: grouping sets, pivot, approx-distinct, JSON
extraction, scalar function library, exact percentiles, broadcast and
salted-aggregation join/agg patterns, array unnest, and IVF ANN.

These round out the Athena-implied query surface (SURVEY.md §2.7 — the
reference delegates all of this to Presto, README.md:128-132) plus the
scale patterns (broadcast, salting) that a 100 TB deployment leans on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table, load_table_pk
from ..operators.similarity import ivf_topk
from ..operators.sketches import (
    hll_estimate,
    hll_merge,
    hll_oracle_cte,
    hll_oracle_estimate,
    hll_registers,
)
from .queries import register

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]


@register(
    "q38_grouping_sets",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2) AS sum_qty,
           COUNT(*) AS cnt,
           CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INT) AS g_status
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    HAVING COUNT(*) > 0
    """,
    doc="Explicit GROUPING SETS (beyond rollup/cube) with GROUPING() ids "
    "to disambiguate real NULL keys from subtotal rows.",
)
def q38_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: one Expand + hash aggregate; output rows = sum of set
    cardinalities (tiny), shuffle is the expanded key space only."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.count(F.lit(1)).alias("cnt"),
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
    )


@register(
    "q39_pivot",
    """
    SELECT CAST(ts AS DATE) AS day,
           ROUND(SUM(value) FILTER (WHERE event_type = 'click'), 2) AS click,
           ROUND(SUM(value) FILTER (WHERE event_type = 'error'), 2) AS error,
           ROUND(SUM(value) FILTER (WHERE event_type = 'purchase'), 2) AS purchase,
           ROUND(SUM(value) FILTER (WHERE event_type = 'signup'), 2) AS signup,
           ROUND(SUM(value) FILTER (WHERE event_type = 'view'), 2) AS view
    FROM events GROUP BY 1
    """,
    doc="PIVOT on event_type (explicit value list) == conditional "
    "aggregation; one shuffle on the day key.",
)
def q39_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: pivot with an explicit value list is a single hash aggregate
    (no extra distinct-values job); never pivot without the list at 100 TB."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.col("ts").cast("date"))
        .groupBy("day")
        .pivot("event_type", EVENT_TYPES)
        .agg(F.round(F.sum("value"), 2))
    )


_Q40_SQL = f"""
    WITH {hll_oracle_cte("SELECT event_type, user_id FROM events", "event_type", "user_id")}
    {hll_oracle_estimate("hll_regs", est_col="approx_users", scope_alias="event_type")}
"""


@register(
    "q40_approx_distinct",
    _Q40_SQL,
    doc="Approximate distinct users per event_type via the explicit-"
    "register HLL (operators/sketches.py) — the constant-memory distinct "
    "used at 100 TB where exact COUNT(DISTINCT) would shuffle every key. "
    "Registers are md5-derived pure-integer math replayed verbatim by "
    "the DuckDB oracle (q32's plane-replay precedent), so the estimate "
    "is hash-checked, not rows-only; pytest separately bounds it within "
    "5% of the exact count and cross-checks Spark's built-in "
    "approx_count_distinct.",
)
def q40_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: register build is one shuffle on (event_type, reg_idx) with
    map-side max — at most 4096 rows per group survive the map side; the
    estimate pass reduces those to one row per group."""
    ev = load_table(spark, sf_dir, "events")
    regs = hll_registers(ev, ["event_type"], "user_id")
    return hll_estimate(regs, ["event_type"], est_col="approx_users")


@register(
    "q41_json_extract",
    """
    SELECT event_type,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS BIGINT)), 4) AS avg_k,
           CAST(SUM(CASE WHEN CAST(json_extract(props, '$.k') AS BIGINT) > 50
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_high
    FROM events GROUP BY event_type
    """,
    doc="JSON path extraction from the props column (semi-structured "
    "surface) feeding an aggregate.",
)
def q41_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: get_json_object is JVM-side codegen (no Python); parse cost
    is per-row map-side, shuffle is 5 groups."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.round(F.avg(k), 4).alias("avg_k"),
        F.sum(F.when(k > 50, 1).otherwise(0)).alias("n_high"),
    )


@register(
    "q42_scalar_funcs",
    """
    SELECT o_orderkey,
           UPPER(o_orderstatus) AS status_u,
           LPAD(CAST(o_custkey AS VARCHAR), 12, '0') AS cust_pad,
           CONCAT(o_orderpriority, '#', o_orderstatus) AS prio_tag,
           CAST(YEAR(o_orderdate) AS INT) AS order_year,
           CAST(MONTH(o_orderdate) AS INT) AS order_month,
           strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(LENGTH(o_orderpriority) AS INT) AS prio_len,
           ROUND(SQRT(o_totalprice), 4) AS sqrt_price,
           ROUND(LN(o_totalprice + 1), 4) AS ln_price
    FROM orders ORDER BY o_orderkey LIMIT 200
    """,
    doc="Scalar function library sweep: string (upper/lpad/concat/length), "
    "date (year/month/format), math (sqrt/ln) — the §2.7 built-in surface.",
)
def q42_scalar_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: narrow projection, fully whole-stage-codegen; TakeOrdered
    for the limit (no global sort)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.orderBy("o_orderkey")
        .limit(200)
        .select(
            "o_orderkey",
            F.upper("o_orderstatus").alias("status_u"),
            F.lpad(F.col("o_custkey").cast("string"), 12, "0").alias("cust_pad"),
            F.concat_ws("#", "o_orderpriority", "o_orderstatus").alias("prio_tag"),
            F.year("o_orderdate").cast("int").alias("order_year"),
            F.month("o_orderdate").cast("int").alias("order_month"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"),
            F.length("o_orderpriority").cast("int").alias("prio_len"),
            F.round(F.sqrt("o_totalprice"), 4).alias("sqrt_price"),
            F.round(F.log(F.col("o_totalprice") + 1), 4).alias("ln_price"),
        )
    )


@register(
    "q43_percentiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_quantity, 0.25), 4) AS p25,
           ROUND(quantile_cont(l_quantity, 0.50), 4) AS p50,
           ROUND(quantile_cont(l_quantity, 0.75), 4) AS p75
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Exact linear-interpolated percentiles per group (Spark "
    "percentile == DuckDB quantile_cont). At 100 TB swap to "
    "approx_percentile (t-digest) — same API shape.",
)
def q43_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: exact percentile buffers per-group values — fine on bounded
    group cardinality; the t-digest variant is the unbounded-safe path."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.expr("percentile(l_quantity, 0.25)"), 4).alias("p25"),
        F.round(F.expr("percentile(l_quantity, 0.50)"), 4).alias("p50"),
        F.round(F.expr("percentile(l_quantity, 0.75)"), 4).alias("p75"),
    )


@register(
    "q44_broadcast_join",
    """
    SELECT p.p_brand,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*) AS n_items
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    WHERE p.p_size <= 10
    GROUP BY p.p_brand
    """,
    doc="Broadcast-hash join: the filtered part dim ships to every "
    "executor; the 100 TB fact side never shuffles for the join.",
)
def q44_broadcast_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: explicit broadcast() pins the strategy independent of stats;
    the only shuffle left is the final small group-by on p_brand."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part").filter(F.col("p_size") <= 10)
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@register(
    "q45_salted_agg",
    """
    SELECT user_id, COUNT(*) AS n_events, ROUND(SUM(value), 2) AS sum_value
    FROM events GROUP BY user_id
    """,
    doc="Skew-resistant two-stage (salted) aggregation: partial agg on "
    "(user_id, salt) spreads a hot key over 8 reducers, then the final agg "
    "merges partials. Result is identical to the plain GROUP BY oracle.",
)
def q45_salted_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: decomposable aggs (count/sum) salt cleanly; the second
    shuffle carries <= 8 rows per user. This is the manual fallback when
    AQE skew handling can't help (e.g. deliberate repartition by key)."""
    ev = load_table(spark, sf_dir, "events")
    partial = (
        ev.withColumn("__salt", (F.col("event_id") % 8).cast("int"))
        .groupBy("user_id", "__salt")
        .agg(F.count(F.lit(1)).alias("__n"), F.sum("value").alias("__s"))
    )
    return partial.groupBy("user_id").agg(
        F.sum("__n").alias("n_events"),
        F.round(F.sum("__s"), 2).alias("sum_value"),
    )


@register(
    "q46_array_unnest",
    """
    SELECT vec_id,
           CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos,
           ROUND(CAST(unnest(embedding) AS DOUBLE), 4) AS val
    FROM (SELECT * FROM embeddings WHERE vec_id < 20)
    """,
    doc="Array explode with position (posexplode == UNNEST with "
    "subscripts): the row-per-element view of an embedding column.",
)
def q46_array_unnest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: explode is map-side (Generate node, no shuffle); output
    multiplies rows by dim, so always filter/project before exploding."""
    emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 20)
    return emb.select(
        "vec_id", F.posexplode("embedding").alias("pos", "__v")
    ).select("vec_id", "pos", F.round(F.col("__v").cast("double"), 4).alias("val"))


def _kmeans_prefix_sql(
    n_centroids: int = 16,
    sample_size: int = 1024,
    n_iter: int = 10,
    seed: int = 42,
    dim: int = 64,
) -> str:
    """The shared SQL replay of _centroid_matrix + corpus ivf_assign:
    CTEs from the md5-ordered sample through `cents{n_iter}` (the final
    centroid relation, cid/cv) and `cb` (per-corpus-vector nearest
    cluster: vec_id/embedding/cluster). Composed by _ivf_sql (q47) and
    q203's cluster-profile oracle. Returns text WITHOUT the leading
    'WITH' so callers can append their own CTEs."""
    from .llm_ops import _dot_sql, _norm_sql

    # farthest-point init: seed 1 is sample idx 1; each next seed
    # minimizes its max cosine to the seeds so far (ties -> lowest idx)
    fp_steps = []
    for t in range(2, n_centroids + 1):
        fp_steps.append(f"""
    sd{t} AS MATERIALIZED (SELECT nv FROM ms{t - 1} ORDER BY ms ASC, idx ASC LIMIT 1),
    ms{t} AS MATERIALIZED (SELECT m.idx, m.nv, greatest(m.ms, {_dot_sql("m.nv", "c.nv", dim)}) AS ms
              FROM ms{t - 1} m CROSS JOIN sd{t} c)""")
    seed_union = "\n      UNION ALL ".join(
        ["SELECT 0 AS cid, nv AS cv FROM sn WHERE idx = 1"]
        + [f"SELECT {t - 1} AS cid, nv AS cv FROM sd{t}" for t in range(2, n_centroids + 1)]
    )

    # Lloyd iterations, unrolled: assign (argmax cosine, ties -> lowest
    # cid), mean = sequential member-order sum / count per dimension,
    # empty cluster keeps its previous centroid, then ALL centroids are
    # renormalized (matching the Spark side, which renormalizes
    # carried-over centroids too)
    lloyd = []
    for t in range(1, n_iter + 1):
        lloyd.append(f"""
    asg{t} AS MATERIALIZED (
      SELECT idx, nv, cid FROM (
        SELECT s.idx, s.nv, c.cid,
               ROW_NUMBER() OVER (PARTITION BY s.idx
                 ORDER BY {_dot_sql("s.nv", "c.cv", dim)} DESC, c.cid) AS rn
        FROM sn s CROSS JOIN cents{t - 1} c) z
      WHERE rn = 1),
    newc{t} AS MATERIALIZED (
      SELECT cid, list(md ORDER BY d) AS mv FROM (
        SELECT cid, d, list_sum(list(val ORDER BY idx)) / COUNT(*) AS md
        FROM (SELECT idx, cid, UNNEST(range(1,{dim + 1})) AS d,
                     UNNEST(nv) AS val
              FROM asg{t}) u
        GROUP BY cid, d) m
      GROUP BY cid),
    cu{t} AS MATERIALIZED (SELECT p.cid, COALESCE(nc.mv, p.cv) AS uv
              FROM cents{t - 1} p LEFT JOIN newc{t} nc USING (cid)),
    cents{t} AS MATERIALIZED (
      SELECT cid, list_transform(uv,
               e -> e / greatest(sqrt(list_sum(list_transform(uv, q -> q*q))),
                                 1e-12)) AS cv
      FROM cu{t})""")

    return f"""
    sord AS MATERIALIZED (
      SELECT vec_id AS id, embedding AS v,
             md5(concat('{seed}', CAST(vec_id AS VARCHAR))) AS h
      FROM embeddings ORDER BY h, id LIMIT {sample_size}
    ),
    sidx AS (SELECT id, v, ROW_NUMBER() OVER (ORDER BY h, id) AS idx FROM sord),
    sn AS MATERIALIZED (
      SELECT idx, list_transform(range(1,{dim + 1}),
               i -> v[i]::DOUBLE / greatest({_norm_sql("v", dim)}, 1e-12)) AS nv
      FROM sidx
    ),
    ms1 AS MATERIALIZED (SELECT s.idx, s.nv, {_dot_sql("s.nv", "c.nv", dim)} AS ms
            FROM sn s CROSS JOIN (SELECT nv FROM sn WHERE idx = 1) c),{",".join(fp_steps)},
    cents0 AS MATERIALIZED (
      {seed_union}
    ),{",".join(lloyd)},
    en AS MATERIALIZED (
      SELECT vec_id, embedding, list_transform(range(1,{dim + 1}),
               i -> embedding[i]::DOUBLE / greatest({_norm_sql("embedding", dim)}, 1e-12)) AS env
      FROM embeddings
    ),
    cb AS MATERIALIZED (
      SELECT vec_id AS neighbor_id, embedding, cid AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_dot_sql("e.env", "c.cv", dim)} DESC, c.cid) AS rn
        FROM en e CROSS JOIN cents{n_iter} c) z
      WHERE rn = 1)"""


def _ivf_sql(
    n_centroids: int = 16,
    n_probe: int = 4,
    k: int = 5,
    sample_size: int = 1024,
    n_iter: int = 10,
    seed: int = 42,
    n_queries: int = 10,
    dim: int = 64,
) -> str:
    """Full SQL replay of ivf_topk's deterministic k-means quantizer
    (the q32 plane-replay precedent taken to its conclusion).

    Replays, bit-for-bit: the md5(seed||id)-ordered sample, L2
    normalization, farthest-point seed selection (n_centroids-1 unrolled
    steps), n_iter unrolled Lloyd iterations (argmax-cosine assignment,
    per-cluster mean as a sequential member-order sum / count, centroid
    renormalization), corpus/query inverted-list assignment, and the
    exact-cosine re-rank. Possible only because the Spark side
    (operators/similarity.py _seq_dots/_seq_norms) accumulates every
    float as a strict left fold over dimensions — the same rounding
    sequence as list_sum(list_transform(...)) here — instead of BLAS
    matmul / numpy pairwise summation whose order is unspecified.
    MATERIALIZED CTEs are load-bearing: plain inlining re-expands the
    iteration chain exponentially (each step references its predecessor
    twice)."""
    from .llm_ops import _COS, _dot_sql

    prefix = _kmeans_prefix_sql(n_centroids, sample_size, n_iter, seed, dim)
    cos_final = _COS.format(a="q.embedding", b="n.embedding")
    return f"""
    WITH {prefix},
    qb AS MATERIALIZED (
      SELECT vec_id AS query_id, embedding, cid AS cluster FROM (
        SELECT e.vec_id, e.embedding, c.cid,
               ROW_NUMBER() OVER (PARTITION BY e.vec_id
                 ORDER BY {_dot_sql("e.env", "c.cv", dim)} DESC, c.cid) AS rn
        FROM en e CROSS JOIN cents{n_iter} c
        WHERE e.vec_id < {n_queries}) z
      WHERE rn <= {n_probe}),
    sims AS (
      SELECT DISTINCT q.query_id, n.neighbor_id,
             ROUND({cos_final}, 6) AS sim
      FROM qb q JOIN cb n USING (cluster)
      WHERE n.neighbor_id <> q.query_id)
    SELECT query_id, neighbor_id, sim, rank FROM (
      SELECT query_id, neighbor_id, sim,
             CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                     ORDER BY sim DESC, neighbor_id) AS INTEGER) AS rank
      FROM sims) t
    WHERE rank <= {k}
    """


@register(
    "q47_ann_ivf_topk",
    _ivf_sql(),
    doc="IVF approximate nearest neighbors: deterministic coarse "
    "quantizer -> inverted lists -> n_probe list scan per query -> exact "
    "cosine rank. The scale path between brute force and LSH "
    "(operators/similarity.py). Graduated from rows-only in r6: the "
    "oracle replays the ENTIRE quantizer — md5-ordered sample, "
    "farthest-point init, 10 Lloyd iterations, assignment — because the "
    "Spark side accumulates every float as a sequential dim-/member-"
    "order fold (_seq_dots/_seq_norms), the same rounding sequence as "
    "DuckDB's list_sum fold. Recall vs brute force additionally "
    "asserted in pytest.",
)
def q47_ann_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: candidate join is an equi-join on cluster id — cost
    O(Q*N*n_probe/K); corpus assignment is one vectorized fold per Arrow
    batch (map-side). The k-means itself runs on a bounded driver sample
    (one TakeOrdered scan), so the oracle-replayable sequential math
    costs nothing at 100 TB — the quantizer never touches the corpus
    beyond that single sample scan."""
    emb = load_table_pk(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    return ivf_topk(queries, emb, k=5, n_centroids=16, n_probe=4)


@register(
    "q63_bucketed_join",
    """
    SELECT c_mktsegment,
           COUNT(*) AS n_orders,
           ROUND(SUM(o_totalprice), 2) AS total_price
    FROM orders JOIN customer ON o_custkey = c_custkey
    GROUP BY c_mktsegment
    """,
    doc="Co-located (bucketed) fact join: both sides written bucketBy the "
    "join key, so the join itself plans with ZERO Exchange — the shuffle "
    "was paid once at write time (operators/bucketing.py).",
)
def q63_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: at 100 TB a fact-fact equi-join's shuffle dominates; bucketed
    layout amortizes it across every downstream join. Here the bucketed
    tables are (re)written under a temp dir per sf, then joined — the
    post-join groupBy is the only shuffle in the read plan and it moves
    ~5 rows. tests/test_extras.py asserts the no-Exchange plan shape."""
    import re as _re
    import tempfile as _tf

    from ..operators.bucketing import bucketed_join, write_bucketed

    tag = _re.sub(r"[^0-9A-Za-z]+", "_", sf_dir).strip("_")
    root = f"{_tf.gettempdir()}/spark_graft_buckets/{tag}"
    write_bucketed(
        load_table(spark, sf_dir, "orders").select("o_custkey", "o_totalprice"),
        f"b_orders_{tag}", "o_custkey", 8, f"{root}/orders",
    )
    write_bucketed(
        load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment"),
        f"b_customer_{tag}", "c_custkey", 8, f"{root}/customer",
    )
    joined = bucketed_join(
        spark, f"b_orders_{tag}", f"b_customer_{tag}",
        F.col("o_custkey") == F.col("c_custkey"),
    )
    return joined.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(F.sum("o_totalprice"), 2).alias("total_price"),
    )


@register(
    "q83_fuzzy_entity_match",
    """
    WITH c AS (SELECT c_name, substr(c_name, length(c_name) - 3, 4) AS blk FROM customer),
         s AS (SELECT s_name, substr(s_name, length(s_name) - 3, 4) AS blk FROM supplier)
    SELECT c.c_name, s.s_name, levenshtein(c.c_name, s.s_name) AS dist
    FROM c JOIN s ON c.blk = s.blk
    WHERE levenshtein(c.c_name, s.s_name) <= 6
    """,
    doc="Blocked fuzzy entity matching: block on the trailing id digits "
    "(equi-join — never the all-pairs cross product), then Levenshtein "
    "within blocks. The entity-resolution shape at scale: candidate "
    "generation by cheap blocking key, expensive distance only inside "
    "blocks. Both engines implement the identical Wagner-Fischer "
    "distance, so the query is hash-checkable.",
)
def q83_fuzzy_entity_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    blk = lambda c: F.substring(F.col(c), -4, 4)  # noqa: E731
    cust = load_table(spark, sf_dir, "customer").select("c_name", blk("c_name").alias("blk"))
    supp = load_table(spark, sf_dir, "supplier").select("s_name", blk("s_name").alias("blk"))
    return (
        cust.join(supp, "blk")
        .select("c_name", "s_name", F.levenshtein("c_name", "s_name").alias("dist"))
        .filter(F.col("dist") <= 6)
    )


_Q84_SQL = f"""
    WITH {hll_oracle_cte(
        "SELECT CAST(c_nationkey AS VARCHAR) AS scope_src, c_custkey FROM customer",
        "scope_src",
        "c_custkey",
    )},
    merged_regs AS (
      SELECT '__merged__' AS scope, reg_idx, MAX(mj) AS mj
      FROM hll_regs GROUP BY reg_idx
    ),
    all_regs AS (
      SELECT * FROM hll_regs UNION ALL SELECT * FROM merged_regs
    )
    {hll_oracle_estimate("all_regs", est_col="est")}
"""


@register(
    "q84_hll_sketch_algebra",
    _Q84_SQL,
    doc="Mergeable distinct-count sketches: per-nation explicit-register "
    "HLL of customers (operators/sketches.py), union-merged (per-register "
    "MAX — exact, order-invariant) into a global estimate. The scale "
    "story: sketches pre-aggregate per partition/day and MERGE later "
    "(incremental distinct maintenance) — recomputing exact distincts "
    "over 100 TB is the thing this avoids. The DuckDB oracle replays the "
    "register build AND the merge, so both the per-nation and the merged "
    "estimates are hash-checked (formerly rows-only under the built-in "
    "DataSketches binary); pytest keeps the built-in hll_sketch_agg "
    "cross-check and the 5%-accuracy bound.",
)
def q84_hll_sketch_algebra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale: the register relation is ≤4096 rows per nation; the merge
    re-aggregates registers, never raw rows — this is the incremental-
    maintenance path (yesterday's registers + today's delta registers)."""
    cust = load_table(spark, sf_dir, "customer")
    per_nation = hll_registers(
        cust.select(F.col("c_nationkey").cast("string").alias("scope"), "c_custkey"),
        ["scope"],
        "c_custkey",
    )
    merged = hll_merge(
        per_nation.select(F.lit("__merged__").alias("scope"), "reg_idx", "mj"),
        ["scope"],
    )
    return hll_estimate(per_nation.unionByName(merged), ["scope"], est_col="est")


@register(
    "q85_salted_join",
    """
    SELECT o_orderpriority,
           COUNT(*) AS n_items,
           ROUND(SUM(l_quantity), 2) AS sum_qty
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority
    """,
    doc="Skew-resistant salted equi-join: big side salted by row hash, "
    "small side replicated per salt; output provably identical to the "
    "plain join (the oracle IS the plain join). For hot-key fan-in that "
    "AQE's sort-merge skew split cannot cover (post-join aggs, stream "
    "joins).",
)
def q85_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..operators.bucketing import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    orders = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_orderpriority"
    )
    joined = salted_join(li, orders, "l_orderkey", n_salts=8)
    return joined.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).alias("n_items"),
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
    )


@register(
    "q86_variant_extract",
    """
    SELECT CAST(json_extract(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           COUNT(*) AS n_events,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k
    FROM events GROUP BY 1
    """,
    doc="Semi-structured VARIANT path (Spark 4): parse_json once into a "
    "binary variant, variant_get typed extraction — the shredded-JSON "
    "plan that replaces per-query string re-parsing (q41's "
    "get_json_object) when many fields are read. DuckDB oracle uses its "
    "native JSON extraction.",
)
def q86_variant_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events").select(
        F.variant_get(F.parse_json("props"), "$.k", "bigint").alias("k")
    )
    return ev.groupBy((F.col("k") % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"), F.sum("k").alias("sum_k")
    )
