"""Similarity search over embedding columns (array<float>).

- cosine():            sequential-double column expression (zip_with +
                       aggregate) — bit-identical to a left-to-right SQL
                       evaluation, which is what makes it oracle-checkable
- top-k search:        brute_force_topk / ivf_topk / lsh_ann_topk / pq_topk
                       differ only in their candidate step (cross join,
                       cluster join, bucket join, ADC shortlist); one exact
                       scorer (_vec_side + _exact_topk) scores the rounded
                       cosine and ranks (sim desc, neighbor_id asc)
- brute_force_topk():  exact k-NN via broadcast query set x corpus scan —
                       the correctness baseline
- embedding_near_dup_pairs(): all-pairs cosine threshold join
- lsh_ann_topk():      random-hyperplane LSH bucketing (deterministic
                       md5-seeded planes, numpy via Arrow-vectorized UDF)
                       -> candidates only within matching buckets — the
                       scale path: cost drops from O(Q*N) to O(Q*N/2^bits)
                       per probe at the price of recall

Scale notes: brute-force broadcasts the queries (small side) so the
corpus never shuffles; the window top-k pushes per-partition limits.
LSH bucket ids are computed map-side; the bucket join is an equi-join.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from .dedup import _verified_pairs


def dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right double-precision dot product."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x.cast("double") * x.cast("double")),
                              F.lit(0.0), lambda acc, x: acc + x))


def cosine(a: Column, b: Column) -> Column:
    """Unrounded cosine of two array expressions, NULL when either norm
    is zero. For when one operand is a slice or a literal; a join
    between two frames scores with _vec_side + _pair_cosine."""
    return F.try_divide(dot(a, b), norm(a) * norm(b))


def _vec_side(
    df: DataFrame, id_col: str, vec_col: str, id_alias: str, tag: str, *extra: Column | str
) -> DataFrame:
    """One side of an exact-cosine join: (id_alias, __v<tag>, __n<tag>,
    *extra). The norm is computed ONCE per row here, BEFORE the join —
    inside the join each pair then costs one dot product, not dot + two
    norms (the naive cosine re-derives norm(q) per corpus row: Q x N x dim
    extra interpreted HOF work, measured 10+ s single-task at sf0.1)."""
    v = F.col(vec_col)
    return df.select(
        F.col(id_col).alias(id_alias), v.alias(f"__v{tag}"), norm(v).alias(f"__n{tag}"), *extra
    )


def _pair_cosine(a: str | Column, b: str | Column) -> Column:
    """dot / (norm_a * norm_b) between two _vec_side rows: the one pair
    cosine of every plan. Each of ``a`` and ``b`` is a _vec_side tag
    (columns __v<tag>, __n<tag>) or a struct column with fields __v and
    __n (a _vec_side row packed into one payload column, as
    _verified_pairs joins it). Dot and each norm are sequential
    left-to-right doubles, so the value is bit-identical to the oracles'
    SQL fold (llm_ops._cos_sql). Unrounded: each caller rounds (round 6
    or floor to 1e-6) as its oracle does. A zero norm gives NULL, the
    oracles' answer, not an ANSI divide-by-zero."""
    (va, na), (vb, nb) = (
        (F.col(f"__v{s}"), F.col(f"__n{s}")) if isinstance(s, str) else (s["__v"], s["__n"])
        for s in (a, b)
    )
    return F.try_divide(dot(va, vb), na * nb)


def _exact_topk(cands: DataFrame, k: int) -> DataFrame:
    """The exact scorer behind every top-k search: joined candidates
    (query_id, __vq, __nq, neighbor_id, __vc, __nc) -> (query_id,
    neighbor_id, sim, rank) for the k best per query. Self-pairs are
    dropped, sim is _pair_cosine, and rank orders (sim desc, neighbor_id
    asc) so ties break the same way on every engine and partitioning."""
    sims = cands.filter(F.col("neighbor_id") != F.col("query_id")).select(
        "query_id", "neighbor_id", F.round(_pair_cosine("q", "c"), 6).alias("sim")
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return sims.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def _empty_topk(queries: DataFrame, id_col: str) -> DataFrame:
    """Schema-stable empty top-k result, for a corpus with no rows."""
    return queries.limit(0).select(
        F.col(id_col).alias("query_id"),
        F.col(id_col).alias("neighbor_id"),
        F.lit(0.0).alias("sim"),
        F.lit(1).alias("rank"),
    )


def brute_force_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
) -> DataFrame:
    """Exact top-k neighbors per query vector.

    Candidates are every corpus row: queries are broadcast and the corpus
    is scanned once with no shuffle before the per-query window
    (_exact_topk scores and ranks). The repartition spreads the per-pair
    HOF work across cores when the corpus arrives as one split; sim
    values are bit-identical because dot and each norm stay sequential
    left-to-right doubles.
    """
    n_parts = corpus.sparkSession.sparkContext.defaultParallelism
    q = _vec_side(queries, id_col, vec_col, "query_id", "q")
    c = _vec_side(corpus.repartition(n_parts), id_col, vec_col, "neighbor_id", "c")
    return _exact_topk(F.broadcast(q).crossJoin(c), k)


def embedding_near_dup_pairs(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding", threshold: float = 0.95
) -> DataFrame:
    """All-pairs cosine >= threshold (exact). O(N^2) by construction —
    CORRECTNESS BASELINE ONLY, never the scale path: the non-equi
    vec_a < vec_b join plans as a broadcast nested loop. Use
    embedding_near_dup_pairs_lsh for real corpora. Norms precomputed per
    side (_vec_side)."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    base = df.repartition(n_parts)
    a = _vec_side(base, id_col, vec_col, "vec_a", "a")
    b = _vec_side(base, id_col, vec_col, "vec_b", "b")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select("vec_a", "vec_b", F.round(_pair_cosine("a", "b"), 6).alias("sim"))
        .filter(F.col("sim") >= threshold)
    )


def _hyperplanes(n_planes: int, dim: int, seed: int = 42) -> np.ndarray:
    """Deterministic random hyperplanes: each coefficient is an md5-derived
    uniform in [-1, 1] of (seed, plane, dim) — reproducible on any worker."""
    planes = np.empty((n_planes, dim), dtype=np.float64)
    for p in range(n_planes):
        for d in range(dim):
            h = hashlib.md5(f"{seed}|{p}|{d}".encode()).digest()
            planes[p, d] = int.from_bytes(h[:8], "big") / 2**63 - 1.0
    return planes


def _hyperplane_codes(
    vec: Column, bands: int, planes_per_band: int, seed: int, dim: int
) -> Column:
    """array<int> of ``bands`` sign-random-projection codes per vector: the
    signs against bands*planes_per_band md5-derived hyperplanes, packed
    planes_per_band bits per band (plane j of a band is bit j). One numpy
    matmul per Arrow batch, map-side only. A NULL vector, or one whose
    length is not ``dim``, raises ValueError on the executor."""
    planes = _hyperplanes(bands * planes_per_band, dim, seed)
    weights = 1 << np.arange(planes_per_band, dtype=np.int64)

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def codes(vecs: pd.Series) -> pd.Series:
        lens = vecs.str.len()
        if lens.isna().any():  # a missing vector has no side of any plane
            raise ValueError("hyperplane LSH: NULL embedding")
        if (lens != dim).any():  # a mismatched corpus would silently mis-project
            bad = int(lens[lens != dim].iloc[0])
            raise ValueError(f"embedding dim {bad} != configured dim {dim}")
        m = np.stack(vecs.to_numpy()).astype(np.float64)
        signs = (m @ planes.T) > 0  # (batch, bands*r)
        packed = signs.reshape(len(m), bands, planes_per_band).astype(np.int64) @ weights
        return pd.Series(list(packed.astype(np.int32)))

    return codes(vec)


def banded_lsh_buckets(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bands: int = 16,
    planes_per_band: int = 4,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """(__id, __band, __bucket) banded sign-random-projection buckets.

    AND-OR amplification for pair recall: a pair collides if ALL
    planes_per_band sign bits agree in AT LEAST one band — recall at cosine
    c is 1-(1-p^r)^b with p = 1 - acos(c)/pi. Hyperplanes are md5-derived
    (deterministic on any worker); bucketing is one numpy matmul per Arrow
    batch, map-side only. Output feeds capped_candidate_pairs.
    """
    return df.select(
        F.col(id_col).alias("__id"),
        F.posexplode(
            _hyperplane_codes(F.col(vec_col), bands, planes_per_band, seed, dim)
        ).alias("__band", "__bucket"),
    )


def lsh_band_params(
    corpus_size: int,
    threshold: float,
    target_recall: float = 0.95,
    target_bucket: int = 64,
) -> tuple[int, int]:
    """(bands, planes_per_band) sized for a corpus and cosine threshold.

    The sf1 scale proof (PROGRESS.jsonl r3) showed WHY this matters: with
    planes_per_band=4 (16 buckets/band) a 20k-vector corpus pushes EVERY
    bucket past any sane hot-bucket cap, so pair recall collapses to star
    pairs (519 found of 90,000 planted); widening to 10 planes/band
    restored recall 1.0 at 10.5 s. Buckets per band must scale with the
    corpus: planes_per_band ~ log2(N / target_bucket), then bands chosen
    from the AND-OR amplification bound 1-(1-p^r)^b >= target_recall with
    p = 1 - acos(threshold)/pi.
    """
    import math

    import warnings

    # clamp BOTH tuning knobs to their open intervals: target_recall=1.0
    # is log(0) and threshold=-1.0 makes pr=0 (log(1-0)=0 divisor) — the
    # r3 review's boundary crashes; the clamps turn them into the nearest
    # meaningful request (essentially-all recall / match-anything band)
    target_recall = min(max(target_recall, 1e-6), 1 - 1e-9)
    r = max(2, math.ceil(math.log2(max(corpus_size, 2) / max(target_bucket, 1))))
    p = 1 - math.acos(min(max(threshold, -1.0), 1.0)) / math.pi
    pr = max(p**r, 1e-12)
    if pr >= 1.0:
        b = 1
    else:
        b = max(1, math.ceil(math.log(1 - target_recall) / math.log(1 - pr)))
    # Ceiling: at LOW thresholds on large corpora the recall bound wants
    # explosive band counts (threshold 0.4 at 1M vectors solves to ~1,900
    # bands x 14 planes — ~26k projections and billions of bucket rows).
    # That regime is not an LSH problem: angular LSH cannot cheaply
    # separate cos 0.4 from cos 0.0, and the exact all-pairs plan is the
    # honest alternative (see q31 vs q59). Cap and warn instead of
    # silently emitting a job that never finishes.
    max_bands = 64
    if b > max_bands:
        achieved = 1 - (1 - pr) ** max_bands
        warnings.warn(
            f"lsh_band_params: threshold {threshold} at corpus {corpus_size} "
            f"wants {b} bands; capping at {max_bands} (recall bound drops to "
            f"~{achieved:.3f}). At low thresholds prefer the exact all-pairs "
            "path — LSH cannot prune there.",
            stacklevel=2,
        )
        b = max_bands
    return b, r


def embedding_near_dup_pairs_lsh(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    bands: int | None = 16,
    planes_per_band: int | None = 4,
    seed: int = 42,
    dim: int = 64,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Bucketed embedding near-dup pairs — the scale path that replaces the
    O(N^2) all-pairs join of embedding_near_dup_pairs.

    Candidates come from a (band, bucket) equi-join over banded
    hyperplane-LSH buckets (capped_candidate_pairs bounds hot buckets),
    then exact sequential-double cosine verifies each candidate — output
    rows all satisfy sim >= threshold; recall vs the exact baseline is
    1-(1-p^r)^b per pair (see banded_lsh_buckets) and is pinned by pytest.

    Pass ``bands=None`` (or ``planes_per_band=None``) to auto-size both
    from the corpus count via lsh_band_params — REQUIRED reading before
    fixing parameters by hand: bucket width must grow with the corpus or
    every bucket exceeds the cap and recall collapses to star pairs (the
    sf1 proof measured recall 0.006 at 20k vectors with the 4-plane
    default vs 1.0 auto-sized). The explicit defaults exist for the
    oracle-checked q59 form at test scale.

    Scale: bucketing is map-side (one matmul per Arrow batch); the only
    shuffles are the bucket groupBy/join on (band, bucket) and the two
    candidate->vector hash joins — cost is O(N*b) + sum of capped bucket
    fan-outs, never N^2. The persisted band codes stay cached after the
    call, so a repeat call on an unchanged table reuses them; load_table
    refreshes them when the table is rewritten in place.
    """
    if bands is None or planes_per_band is None:
        # Checkpoint before the sizing count: the bucketing pass AND the
        # verify branch below both re-read the input, which would
        # otherwise recompute the upstream lineage per consumer on
        # exactly the large-corpus path auto-sizing targets.
        df = df.localCheckpoint(eager=False)
        bands, planes_per_band = lsh_band_params(df.count(), threshold)
    bk = banded_lsh_buckets(df, id_col, vec_col, bands, planes_per_band, seed, dim).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    # Only the codes are cached; the verify sides read the vectors from
    # the input (caching them with the codes made q411 slower at sf0.1),
    # each packed with its norm so a candidate pair costs one dot product.
    side = _vec_side(df.repartition(n_parts), id_col, vec_col, "__id", "")
    vectors = side.select("__id", F.struct("__v", "__n").alias("__p"))
    pairs = _verified_pairs(
        bk, vectors, lambda a, b: F.round(_pair_cosine(a, b), 6), max_bucket_size
    )
    return pairs.filter(F.col("__score") >= threshold).select(
        F.col("doc_a").alias("vec_a"), F.col("doc_b").alias("vec_b"), F.col("__score").alias("sim")
    )


def _seq_dots(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Dot products of every row of ``x`` against every row of ``c``,
    accumulated as a strict LEFT FOLD over dimensions (acc starts 0.0,
    one rounding per multiply and per add, in dim order) — bit-identical
    to DuckDB's list_sum(list_transform(...)) and Spark's F.aggregate
    fold, unlike BLAS matmul whose accumulation order is unspecified.
    Vectorized over rows, so cost is dim elementwise passes, not a
    Python per-element loop."""
    acc = np.zeros((x.shape[0], c.shape[0]))
    for d in range(x.shape[1]):
        acc += x[:, d, None] * c[None, :, d]
    return acc


def _seq_norms(x: np.ndarray) -> np.ndarray:
    """Row L2 norms via the same sequential dim-order fold (see
    _seq_dots); np.linalg.norm's pairwise summation is NOT replayable."""
    acc = np.zeros(x.shape[0])
    for d in range(x.shape[1]):
        acc += x[:, d] * x[:, d]
    return np.sqrt(acc)


def _unit_rows(x: np.ndarray) -> np.ndarray:
    """Rows of ``x`` L2-normalized by their _seq_norms (floored at 1e-12
    so a zero row stays zero instead of NaN) — oracle-replayable."""
    return x / np.maximum(_seq_norms(x)[:, None], 1e-12)


def _seq_sqdist(x: np.ndarray, c: np.ndarray) -> np.ndarray:
    """Squared L2 distances of every row of ``x`` to every row of ``c``,
    accumulated as the sequential dim-order fold — the PQ counterpart of
    _seq_dots (one (diff*diff) rounding pair per dim, in dim order)."""
    acc = np.zeros((x.shape[0], c.shape[0]))
    for d in range(x.shape[1]):
        diff = x[:, d, None] - c[None, :, d]
        acc += diff * diff
    return acc


def _driver_sample(
    corpus: DataFrame, id_col: str, vec_col: str, n: int, seed: int
) -> np.ndarray:
    """(<= n, dim) float64 matrix of a deterministic driver-side sample.

    Selection is order-FREE: rows are ranked by md5(seed || id), then id,
    so any worker layout or partitioning yields the same rows in the same
    order (a TakeOrdered top-n — one corpus scan, no shuffle). The q47,
    q115 and q207 oracles replay this ranking in SQL. An empty corpus
    gives a (0, 0) matrix."""
    ranked = corpus.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("v"),
        F.md5(F.concat(F.lit(str(seed)), F.col(id_col).cast("string"))).alias("h"),
    )
    rows = ranked.orderBy("h", "id").limit(n).collect()
    if not rows:
        return np.zeros((0, 0))
    return np.stack([np.asarray(r["v"], dtype=np.float64) for r in rows])


def _centroid_matrix(
    corpus: DataFrame,
    id_col: str,
    vec_col: str,
    n_centroids: int,
    sample_size: int = 1024,
    n_iter: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic spherical k-means coarse quantizer on a hash-ordered
    sample.

    The sample is _driver_sample's (order-free md5 rank). Lloyd
    iterations run in numpy on the driver over at most sample_size x dim
    doubles; init is deterministic farthest-point (max-min): seed 0 is
    the first sample vector in hash order, each next seed maximizes its
    minimum angular distance to the seeds chosen so far (ties -> lowest
    index). That spreads seeds across distinct clusters instead of
    landing several in one. Cosine regime: vectors and centroids are
    L2-normalized each round, assignment is argmax dot.

    Scale: at 100 TB the same plan holds — sampling ~100k rows through
    TakeOrdered is one corpus scan; the k-means itself never leaves the
    driver, and the resulting K x dim matrix broadcasts in the assign
    UDF's closure. Real clustered data gets real centroids (the previous
    lowest-id heuristic degraded to whatever the first ids happened to
    be)."""
    x = _driver_sample(corpus, id_col, vec_col, max(sample_size, n_centroids), seed)
    if not len(x):  # empty corpus -> no centroids; callers emit an empty result
        return x
    # every accumulation below is a sequential dim-/member-order fold
    # (never BLAS/pairwise): that is what lets the q47 oracle replay the
    # whole quantizer in SQL bit-for-bit, and it also makes centroids
    # identical across BLAS builds. Cost is unchanged at this size
    # (<= sample_size x dim doubles on the driver).
    x = _unit_rows(x)

    seed_idx = [0]
    min_sim = _seq_dots(x, x[0:1])[:, 0]  # cosine to nearest chosen seed
    for _ in range(1, n_centroids):
        nxt = int(np.argmin(min_sim))  # farthest point; argmin ties -> lowest index
        seed_idx.append(nxt)
        min_sim = np.maximum(min_sim, _seq_dots(x, x[nxt : nxt + 1])[:, 0])
    cents = x[seed_idx].copy()

    for _ in range(n_iter):
        # ties -> lowest index: deterministic
        assign = np.argmax(_seq_dots(x, cents), axis=1)
        for ci in range(n_centroids):
            members = x[assign == ci]
            if len(members):
                # mean as (sequential member-order sum) / count — members
                # appear in sample (hash) order because boolean masking
                # preserves row order
                acc = np.zeros(x.shape[1])
                for m in members:
                    acc = acc + m
                cents[ci] = acc / len(members)
        cents = _unit_rows(cents)
    return cents


def pca_power(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_size: int = 1024,
    n_iter: int = 12,
    seed: int = 42,
) -> tuple[np.ndarray, np.ndarray, float]:
    """Top principal component of the embedding cloud by power iteration
    on a deterministic driver sample — (mean, component, eigenvalue).

    The sample is _driver_sample's (order-free md5 rank, one TakeOrdered
    corpus scan). All float accumulation is the
    sequential fold (_seq_dots/_seq_norms + member-order sums), so the
    whole computation — mean, covariance, every matvec and
    normalization — replays bit-for-bit in SQL (q207's oracle), exactly
    like the q47 k-means replay. v0 = e_0; the returned sign is
    therefore deterministic too.

    Scale: the corpus only pays one sample scan; covariance and the
    power loop are dim^2-sized driver math. Downstream projection
    (dot(x - mean, v)) is a JVM-side column expression — no UDF."""
    x = _driver_sample(corpus, id_col, vec_col, sample_size, seed)
    if not len(x):
        return np.zeros(0), np.zeros(0), 0.0
    n, dim = x.shape
    mean = np.zeros(dim)
    for r in x:  # member-order fold (sample hash order)
        mean = mean + r
    mean = mean / n
    xc = x - mean
    cov = np.zeros((dim, dim))
    for r in xc:  # member-order fold of outer products
        cov = cov + r[:, None] * r[None, :]
    cov = cov / n
    v = np.zeros(dim)
    v[0] = 1.0
    for _ in range(n_iter):
        w = _seq_dots(cov, v[None, :])[:, 0]
        v = w / max(_seq_norms(w[None, :])[0], 1e-12)
    w2 = _seq_dots(cov, v[None, :])[:, 0]
    lam = float(_seq_dots(v[None, :], w2[None, :])[0, 0])
    return mean, v, lam


def _probe_ranks(vec: Column, centroids: np.ndarray, n_probe: int | None = None) -> Column:
    """array<int> of each vector's centroid ids, nearest (by cosine)
    first, the first ``n_probe`` of them (all when None). Dots are the
    sequential dim-order fold, bit-identical to the SQL oracle's
    list_sum fold, and the argsort is STABLE so ties break to the lowest
    centroid id on both sides (np.argsort's default introsort is not
    stable and would desync from ROW_NUMBER ... ORDER BY dv DESC, cid)."""

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def nearest(vecs: pd.Series) -> pd.Series:
        m = _unit_rows(np.stack(vecs.to_numpy()).astype(np.float64))
        sims = _seq_dots(m, centroids)  # (batch, K)
        top = np.argsort(-sims, axis=1, kind="stable")[:, :n_probe]
        return pd.Series(list(top.astype(np.int32)))

    return nearest(vec)


def ivf_assign(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """Attach the n_probe nearest centroid ids (by cosine) to each vector.
    One vectorized fold per Arrow batch, map-side only; output explodes
    to n_probe rows per vector (n_probe=1 for corpus, >1 for queries)."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.explode(_probe_ranks(F.col(vec_col), centroids, n_probe)).alias("cluster"),
    )


def ivf_probe_order(
    df: DataFrame,
    centroids: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Full centroid probe order per vector: ivf_assign generalized to
    keep EVERY centroid with its probe rank (prank=1 is the nearest
    list). Lets an n_probe sweep (q238) reuse one assignment pass —
    filter prank <= p instead of re-assigning per configuration."""
    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        F.posexplode(_probe_ranks(F.col(vec_col), centroids)).alias("pos", "cluster"),
    ).select(
        "vec_id",
        "embedding",
        "cluster",
        (F.col("pos") + 1).cast("int").alias("prank"),
    )


def ivf_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_centroids: int = 16,
    n_probe: int = 4,
) -> DataFrame:
    """IVF-style approximate top-k: a coarse quantizer partitions the
    corpus into n_centroids inverted lists; each query probes its n_probe
    nearest lists and ranks candidates by exact cosine.

    Scale: corpus assignment is map-side (one matmul per batch); the
    candidate join is an equi-join on cluster id, so cost is
    O(Q * N * n_probe / K) versus brute force O(Q * N). Skewed clusters
    are AQE's problem (skew-join split); raising K tightens lists."""
    cents = _centroid_matrix(corpus, id_col, vec_col, n_centroids)
    if cents.shape[0] == 0:
        return _empty_topk(queries, id_col)
    cb = _vec_side(
        ivf_assign(corpus, cents, id_col, vec_col, n_probe=1),
        "vec_id", "embedding", "neighbor_id", "c", "cluster",
    )
    qb = _vec_side(
        ivf_assign(queries, cents, id_col, vec_col, n_probe=n_probe),
        "vec_id", "embedding", "query_id", "q", "cluster",
    )
    return _exact_topk(qb.join(cb, "cluster"), k)


def lsh_ann_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    n_planes: int = 8,
    seed: int = 42,
    dim: int = 64,
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine + window rank. Recall rises with fewer planes
    (bigger buckets) or multiprobe; cost falls with more planes. Size
    n_planes ~ log2(corpus / desired_bucket_size) as the corpus grows
    (see lsh_band_params) — a fixed plane count leaves per-query probe
    cost growing linearly with the corpus."""

    def side(df: DataFrame, id_alias: str, tag: str) -> DataFrame:
        bucket = _hyperplane_codes(F.col(vec_col), 1, n_planes, seed, dim)[0]
        return _vec_side(df, id_col, vec_col, id_alias, tag, bucket.alias("bucket"))

    qb = side(queries, "query_id", "q")
    cb = side(corpus, "neighbor_id", "c")
    return _exact_topk(qb.join(cb, "bucket"), k)


def quantization_profile(
    df: DataFrame, id_col: str = "vec_id", vec_col: str = "embedding"
) -> DataFrame:
    """Per-vector int8 scalar quantization profile: (id, lo, hi,
    mean_abs_err) where codes = floor((x-lo)/step + 0.5) clamped to
    [0,255], step = (hi-lo)/255, and mean_abs_err is the reconstruction
    error of dequantize(quantize(x)).

    The storage-scale lever for 100 TB embedding columns: int8 codes
    are 4x smaller than float32 (16 TB -> 4 TB on a 64-dim corpus),
    which is usually the difference between an ANN index that fits in
    cluster memory and one that doesn't. The profile quantifies the
    accuracy cost per vector before committing.

    Float determinism: elements are cast to double FIRST, all math is
    double, and rounding is explicit floor(x+0.5) — no round() half-even
    vs half-away ambiguity — so a SQL oracle can reproduce results
    bit-for-bit. Pure codegen'd HOF projection, zero shuffles.
    """
    # bind lo/hi/step as ATTRIBUTES before any lambda closes over them:
    # an unbound array_min(transform(...)) inlined into the per-element
    # lambda re-evaluates per element — O(d^2) per row (the q70 lesson,
    # README performance notes)
    base = df.select(
        F.col(id_col),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("__v"),
    )
    stats = base.select(
        id_col,
        "__v",
        F.array_min("__v").alias("__lo"),
        F.array_max("__v").alias("__hi"),
    ).withColumn(
        "__step",
        F.when(
            F.col("__hi") > F.col("__lo"),
            (F.col("__hi") - F.col("__lo")) / F.lit(255.0),
        ).otherwise(F.lit(1.0)),
    )
    lo, hi, step = F.col("__lo"), F.col("__hi"), F.col("__step")
    code = lambda x: F.least(  # noqa: E731
        F.greatest(F.floor((x - lo) / step + F.lit(0.5)), F.lit(0)), F.lit(255)
    )
    abs_err = F.transform("__v", lambda x: F.abs(x - (lo + code(x) * step)))
    mean_err = F.aggregate(abs_err, F.lit(0.0), lambda acc, x: acc + x) / F.size("__v")
    return stats.select(
        F.col(id_col),
        F.round(lo, 4).alias("lo"),
        F.round(hi, 4).alias("hi"),
        F.round(mean_err, 6).alias("mean_abs_err"),
    )


# ── Product quantization (PQ) ────────────────────────────────────────────────


def pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m_subspaces: int = 8,
    n_codes: int = 16,
    sample_size: int = 1024,
    n_iter: int = 10,
    seed: int = 42,
) -> np.ndarray:
    """Per-subspace Euclidean k-means codebooks, shape
    (m_subspaces, n_codes, dim/m_subspaces).

    Same determinism scheme as _centroid_matrix: _driver_sample's
    hash-ordered sample (order-free under any partitioning),
    farthest-point init per subspace, Lloyd on the driver, argmin ties -> lowest index. Euclidean
    (not spherical) because PQ approximates raw L2 geometry per subspace;
    the final re-rank restores exact cosine; inputs are L2-normalized
    first so subspace L2 ranks consistently with cosine.

    Scale: one TakeOrdered corpus scan for the sample; the codebooks are
    m*K*sub_dim doubles (tiny) and broadcast inside UDF closures."""
    x = _driver_sample(corpus, id_col, vec_col, max(sample_size, n_codes), seed)
    if not len(x):
        return np.zeros((0, 0, 0))
    # L2-normalize: the ANN truth metric is cosine, and on the unit sphere
    # squared L2 = 2 - 2*cos, so per-subspace Euclidean codebooks rank
    # candidates consistently with the exact re-rank.
    # All accumulation below is the sequential dim-/member-order fold
    # (see _seq_dots) so q115's oracle can replay the whole codebook
    # training in SQL, exactly like the q47 quantizer replay.
    x = _unit_rows(x)
    dim = x.shape[1]
    if dim % m_subspaces:
        raise ValueError(f"dim {dim} not divisible by m_subspaces {m_subspaces}")
    sub = dim // m_subspaces
    books = np.zeros((m_subspaces, n_codes, sub))
    for j in range(m_subspaces):
        xj = x[:, j * sub : (j + 1) * sub]
        seed_idx = [0]
        d2 = _seq_sqdist(xj, xj[0:1])[:, 0]  # squared dist to nearest seed
        for _ in range(1, min(n_codes, len(xj))):
            nxt = int(np.argmax(d2))  # farthest point; argmax ties -> lowest
            seed_idx.append(nxt)
            d2 = np.minimum(d2, _seq_sqdist(xj, xj[nxt : nxt + 1])[:, 0])
        cents = xj[seed_idx].copy()
        if len(cents) < n_codes:  # degenerate tiny corpus: pad by repeating
            cents = np.vstack([cents] * (n_codes // len(cents) + 1))[:n_codes]
        for _ in range(n_iter):
            d = _seq_sqdist(xj, cents)
            assign = np.argmin(d, axis=1)  # ties -> lowest: deterministic
            for ci in range(n_codes):
                members = xj[assign == ci]
                if len(members):
                    # sequential member-order sum / count (sample order)
                    acc = np.zeros(sub)
                    for mrow in members:
                        acc = acc + mrow
                    cents[ci] = acc / len(members)
        books[j] = cents
    return books


def pq_encode(
    df: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(vec_id, embedding, codes array<int>): each vector compressed to
    m_subspaces nearest-codeword indices — 64 floats become 8 small ints
    (the 100 TB play: the ADC scan touches ~3% of the raw bytes).
    Map-side only; the codebooks ride the UDF closure."""
    m, n_codes, sub = codebooks.shape

    @pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vecs: pd.Series) -> pd.Series:
        x = _unit_rows(np.stack(vecs.to_numpy()).astype(np.float64))  # (batch, dim)
        out = np.zeros((len(x), m), dtype=np.int32)
        for j in range(m):
            xj = x[:, j * sub : (j + 1) * sub]
            d = _seq_sqdist(xj, codebooks[j])  # oracle-replayable fold
            out[:, j] = np.argmin(d, axis=1)
        return pd.Series(list(out))

    return df.select(
        F.col(id_col).alias("vec_id"),
        F.col(vec_col).alias("embedding"),
        encode(F.col(vec_col)).alias("codes"),
    )


def pq_topk(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    m_subspaces: int = 8,
    n_codes: int = 32,
    refine: int = 8,
) -> DataFrame:
    """PQ + ADC approximate top-k with exact re-rank.

    Per query: a distance table (m x n_codes, flattened) of squared
    distances from the query's subvectors to every codeword; a corpus
    row's approximate distance is m element_at lookups summed — pure JVM
    column arithmetic over the 8-int codes, never touching the raw
    corpus vectors. The top refine*k ADC candidates per query are then
    re-ranked by exact cosine against the real vectors.

    Scale: the ADC scan reads (id, codes) only — with m=8 that is ~3% of
    the embedding bytes, which is the entire point at 100 TB: the
    compressed scan is IO-bound on 1/32nd the data, and the exact re-rank
    touches refine*k rows per query instead of N. Queries broadcast; the
    only shuffle is the per-query top-k window.
    """
    books = pq_codebooks(corpus, id_col, vec_col, m_subspaces, n_codes)
    if books.size == 0:
        return _empty_topk(queries, id_col)
    m, nc, sub = books.shape

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def dist_table(vecs: pd.Series) -> pd.Series:
        x = _unit_rows(np.stack(vecs.to_numpy()).astype(np.float64))
        tables = np.zeros((len(x), m * nc))
        for j in range(m):
            xj = x[:, j * sub : (j + 1) * sub]
            tables[:, j * nc : (j + 1) * nc] = _seq_sqdist(xj, books[j])
        return pd.Series(list(tables))

    cb = _vec_side(
        pq_encode(corpus, books, id_col, vec_col), "vec_id", "embedding", "neighbor_id", "c", "codes"
    )
    qb = _vec_side(
        queries, id_col, vec_col, "query_id", "q", dist_table(F.col(vec_col)).alias("__tbl")
    )
    # ADC: sum_j table[j*nc + codes[j]] — JVM-side fold over the code array
    adc = F.aggregate(
        F.zip_with(
            F.col("codes"),
            F.sequence(F.lit(0), F.lit(m - 1)),
            lambda c, j: F.element_at(F.col("__tbl"), (j * nc + c + 1).cast("int")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    wq = Window.partitionBy("query_id").orderBy(F.col("__adc").asc(), F.col("neighbor_id"))
    cand = (
        cb.join(F.broadcast(qb))  # corpus-major scan, query tables broadcast
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("__adc", adc)
        .withColumn("__r", F.row_number().over(wq))
        .filter(F.col("__r") <= refine * k)
    )
    return _exact_topk(cand, k)


def semdedup(
    emb: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_centroids: int = 8,
    threshold: float = 0.4,
    centroids: DataFrame | None = None,
) -> DataFrame:
    """SemDeDup (arXiv:2303.09540): semantic dedup with the quadratic
    pair search bounded to CLUSTERS.

    Assign every vector to its nearest centroid by round(cosine, 6)
    (ties break on the smaller centroid id), then drop any vector that
    has a LOWER-id same-cluster neighbor at or above ``threshold``;
    ``dup_of`` is the smallest such keeper id (-1 for keepers, so the
    output never carries a nullable-int column).

    ``centroids`` defaults to the ``n_centroids`` smallest-id vectors —
    deterministic, which is what lets q201's DuckDB oracle replay the
    whole flow. Pass a learned k-means frame (cid, ce) for the
    production path; its K rows are collected (bounded, the q47 IVF
    precedent) into the assignment UDF's closure.

    Assignment is map-side: one Arrow UDF per batch returns each
    vector's K unrounded cosines, folded in dimension order
    (_seq_dots/_seq_norms: bit-identical to the interpreted ``cosine()``
    the oracle replays); Spark rounds them to 6 places and takes the
    FIRST maximum over the cid-sorted centroids, so a rounding tie goes
    to the smaller cid. No N*K-row shuffle, so cost grows with K only
    in the UDF's K*dim fold. A NULL, zero or NULL-element vector, or
    one whose length differs from the centroids', has no nearest
    centroid: the UDF raises ValueError naming its vec_id (on the
    executor, so it surfaces at the first action).

    The pair join shuffles once on the cluster key and scores pairs with
    the shared exact scorer (_vec_side + _pair_cosine: each norm is
    computed once per row, not per pair). Pairs per cluster shrink
    ~K^2-fold for balanced corpora, so a mega-cluster means K is too
    small for the corpus; grow K (SemDeDup runs K in the tens of
    thousands at web scale) rather than capping, which would silently
    skip comparisons. 50k x 64-dim, learned centroids, threshold 0.9,
    4 cores: K=64 in ~66 s, K=256 in ~30 s (the earlier BLAS assignment
    with per-pair norms: 297 s and 65 s), where the pair check
    dominates.
    """
    emb = emb.select(F.col(id_col).alias("vec_id"), F.col(vec_col).alias("embedding"))
    if centroids is None:
        centroids = emb.orderBy("vec_id").limit(n_centroids).select(
            F.col("vec_id").alias("cid"), F.col("embedding").alias("ce")
        )
    cents = centroids.select("cid", "ce").orderBy("cid").collect()
    dim = max((len(r["ce"]) for r in cents if r["ce"] is not None), default=0)
    cmat, cnorm = _semdedup_rows(
        pd.Series([r["cid"] for r in cents]), pd.Series([r["ce"] for r in cents]), dim
    )

    @pandas_udf(T.ArrayType(T.DoubleType()))
    def centroid_cosines(ids: pd.Series, vecs: pd.Series) -> pd.Series:
        x, norms = _semdedup_rows(ids, vecs, dim)
        return pd.Series(list(_seq_dots(x, cmat) / (norms[:, None] * cnorm[None, :])))

    if not len(cents):  # empty corpus or no centroids: nothing to assign
        assign = emb.limit(0).select("vec_id", "embedding", F.lit(0).cast("long").alias("cluster"))
    else:
        r = F.transform(
            centroid_cosines(F.col("vec_id"), F.col("embedding")), lambda c: F.round(c, 6)
        )
        # the FIRST maximum over the cid-sorted centroids: ties -> smaller cid
        cids = F.lit([int(c["cid"]) for c in cents]).cast("array<bigint>")
        assign = emb.select("vec_id", "embedding", r.alias("__r")).select(
            "vec_id",
            "embedding",
            F.element_at(cids, F.array_position("__r", F.array_max("__r")).cast("int")).alias(
                "cluster"
            ),
        )
    # the pair join reads assign three times (both sides, final join):
    # truncate lineage so the UDF pass and the caller's input chain run
    # once, not three times
    assign = assign.localCheckpoint(eager=False)
    a = _vec_side(assign, "vec_id", "embedding", "vec_a", "a", "cluster")
    b = _vec_side(assign, "vec_id", "embedding", "vec_b", "b", "cluster")
    dup = (
        a.join(b, "cluster")
        .filter(
            (F.col("vec_b") < F.col("vec_a")) & (F.round(_pair_cosine("a", "b"), 6) >= threshold)
        )
        .groupBy(F.col("vec_a").alias("vec_id"))
        .agg(F.min("vec_b").alias("dup_of"))
    )
    return assign.join(dup, "vec_id", "left").select(
        "vec_id",
        "cluster",
        F.coalesce(F.col("dup_of"), F.lit(-1)).cast("long").alias("dup_of"),
        F.col("dup_of").isNull().alias("kept"),
    )


def _semdedup_rows(ids: pd.Series, vecs: pd.Series, dim: int) -> tuple[np.ndarray, np.ndarray]:
    """(x, norms): ``vecs`` as an (n, dim) float64 matrix and its
    _seq_norms. A NULL vector, a length other than ``dim``, a NULL or NaN
    element or a zero vector has no cosine to any centroid, so it raises
    ValueError naming the first such id instead of being mis-assigned."""
    lens = vecs.map(lambda v: -1 if v is None else len(v)).to_numpy()
    if (lens != dim).any():
        i = int(np.argmax(lens != dim))
        why = "is NULL" if lens[i] < 0 else f"has {lens[i]} elements, the centroids {dim}"
    else:
        x = np.array([np.asarray(v, dtype=np.float64) for v in vecs]).reshape(len(vecs), dim)
        norms = _seq_norms(x)
        if (norms > 0).all():
            return x, norms
        i = int(np.argmax(~(norms > 0)))
        why = "has a NULL or NaN element" if np.isnan(norms[i]) else "is a zero vector"
    raise ValueError(f"semdedup: vec_id {ids.iloc[i]} embedding {why}")


def mmr_rerank(
    queries: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_candidates: int = 20,
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """Maximal Marginal Relevance re-rank (Carbonell & Goldstein, SIGIR'98)
    of each query's exact top-``n_candidates`` neighbors: greedily pick
    ``k`` results maximizing ``lam * rel - (1 - lam) * max_sim_to_picked``
    — the diversity stage a retrieval pipeline runs after ANN (q30/q32)
    so near-duplicate passages don't crowd a context window.

    Fully declarative: the greedy loop is unrolled into ``k`` chained
    join+window steps (no UDF, no collect), each an equi-join on
    query_id over the bounded candidate set — so the plan is static and
    every step distributes by query key no matter how many queries run
    at once. Candidate relevance and pairwise sims use the rounded
    sequential-double cosine (oracle-replayable, q30 idiom); the
    combined score uses the pinned floor-half-up idiom, which cannot
    diverge cross-engine even for negative scores because both engines
    evaluate the identical floor expression.

    Scale: the quadratic part is n_candidates^2 per query — a constant
    (the ANN stage already bounded it), NOT corpus-sized. cand/pairs are
    cached because each greedy step re-reads them; both are k*n and
    k*n^2 rows per query.
    """
    cand = brute_force_topk(queries, corpus, id_col, vec_col, k=n_candidates).select(
        "query_id", "neighbor_id", F.col("sim").alias("rel")
    )
    return mmr_over_candidates(cand, corpus, id_col, vec_col, k=k, lam=lam)


def mmr_over_candidates(
    cand: DataFrame,
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 5,
    lam: float = 0.7,
) -> DataFrame:
    """The MMR greedy loop over an EXTERNALLY-supplied candidate frame
    ``cand`` (query_id, neighbor_id, rel) — the relevance can come from
    any retrieval stage: exact/ANN cosine (mmr_rerank, q202) or a BM25
    shortlist (the CLI ``search`` flow). ``corpus`` supplies the
    embedding column used for the pairwise diversity penalty. Same
    unrolled join+window steps and localCheckpoint plan-bounding as
    mmr_rerank (whose docstring has the measured rationale)."""
    from ..functions.core import fits_on_driver, round_half_up

    vecs = _vec_side(corpus, id_col, vec_col, "neighbor_id", "")
    # localCheckpoint, not persist: each greedy step references these
    # frames twice, so with plain persist the ANALYZED plan tree doubles
    # per step (2^k copies of the crossJoin+window subtree — measured
    # 7 MB plan strings and ~25 s of pure compilation at sf0.1).
    # Truncating lineage to a LogicalRDD leaf keeps the unrolled plan
    # O(k); both frames are ANN-bounded (k*n and k*n^2 rows per query).
    cand = cand.join(vecs, "neighbor_id").localCheckpoint(eager=True)
    a = cand.select(
        "query_id",
        F.col("neighbor_id").alias("a_id"),
        F.col("__v").alias("__va"),
        F.col("__n").alias("__na"),
    )
    b = cand.select(
        "query_id",
        F.col("neighbor_id").alias("b_id"),
        F.col("__v").alias("__vb"),
        F.col("__n").alias("__nb"),
    )
    pairs = (
        a.join(b, ["query_id"])
        .filter(F.col("a_id") != F.col("b_id"))
        .select(
            "query_id",
            "a_id",
            "b_id",
            F.round(_pair_cosine("a", "b"), 6).alias("sim"),
        )
        .localCheckpoint(eager=True)
    )
    slim = cand.select("query_id", "neighbor_id", "rel")
    # Driver-side greedy while both relations fit the driver budget
    # (r11; guide §8 — the q398/union-find precedent): the k greedy
    # steps read nothing but the ANN-bounded (query, cand, rel) and
    # (query, a, b, sim) relations (k*n and k*n^2 rows per query — both
    # already checkpointed above), yet each step previously ran its own
    # join+window+checkpoint Spark job. Score arithmetic is the
    # identical double sequence (lam*rel - (1-lam)*pen, floor-half-up at
    # 1e6), pen is a max over the SAME rounded sims, and tie-breaks
    # compare the same values — so picks and scores are bit-identical.
    # Many-query workloads past the budget keep the distributed
    # unrolled loop — the scale path.
    n_pairs = pairs.count()
    n_cand = cand.count()
    if 0 < n_cand and fits_on_driver("mmr_over_candidates", (n_cand, 3), (n_pairs, 4)):
        import math

        one_minus = 1.0 - lam
        by_q: dict = {}
        for r in slim.collect():
            by_q.setdefault(r["query_id"], []).append(
                (r["neighbor_id"], r["rel"])
            )
        sim_lut: dict = {}
        for r in pairs.select("query_id", "a_id", "b_id", "sim").collect():
            sim_lut[(r["query_id"], r["a_id"], r["b_id"])] = r["sim"]
        out_rows = []
        for qid, cands in by_q.items():
            remaining = dict(cands)
            picked_ids: list = []
            for step in range(1, k + 1):
                if not remaining:
                    break
                best_key = None
                best = None
                for nid, rel in remaining.items():
                    if picked_ids:
                        pens = [
                            sim_lut[(qid, nid, b)]
                            for b in picked_ids
                            if (qid, nid, b) in sim_lut
                        ]
                        pen = max(pens) if pens else 0.0
                        score = (
                            math.floor(
                                (lam * rel - one_minus * pen) * 1_000_000 + 0.5
                            )
                            / 1_000_000
                        )
                    else:
                        score = math.floor(lam * rel * 1_000_000 + 0.5) / 1_000_000
                    key = (-score, nid)
                    if best_key is None or key < best_key:
                        best_key, best = key, (nid, rel, score)
                nid, rel, score = best
                del remaining[nid]
                picked_ids.append(nid)
                out_rows.append((qid, step, nid, rel, score))
        spark = cand.sparkSession
        q_t = slim.schema["query_id"].dataType
        n_t = slim.schema["neighbor_id"].dataType
        from pyspark.sql import types as T

        schema = T.StructType(
            [
                T.StructField("query_id", q_t),
                T.StructField("pick_rank", T.LongType()),
                T.StructField("neighbor_id", n_t),
                T.StructField("rel", T.DoubleType()),
                T.StructField("mmr_score", T.DoubleType()),
            ]
        )
        return spark.createDataFrame(out_rows, schema)
    w = Window.partitionBy("query_id").orderBy(F.desc("mmr_score"), F.asc("neighbor_id"))
    picked: DataFrame | None = None
    for step in range(1, k + 1):
        if picked is None:
            scored = slim.withColumn(
                "mmr_score", round_half_up(F.lit(lam) * F.col("rel"), 6)
            )
        else:
            pen = (
                pairs.join(
                    picked.select("query_id", F.col("neighbor_id").alias("b_id")),
                    ["query_id", "b_id"],
                )
                .groupBy("query_id", "a_id")
                .agg(F.max("sim").alias("pen"))
            )
            scored = (
                slim.join(picked.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_anti")
                .join(
                    pen.select("query_id", F.col("a_id").alias("neighbor_id"), "pen"),
                    ["query_id", "neighbor_id"],
                    "left",
                )
                .withColumn(
                    "mmr_score",
                    round_half_up(
                        F.lit(lam) * F.col("rel")
                        - F.lit(1.0 - lam) * F.coalesce(F.col("pen"), F.lit(0.0)),
                        6,
                    ),
                )
                .drop("pen")
            )
        top = (
            scored.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
            .withColumn("pick_rank", F.lit(step).cast("long"))
            # checkpoint each pick (one row per query): step s references
            # picked_{s-1} TWICE (anti-join + penalty join), so without
            # lineage truncation the final action re-evaluates ~2^k step
            # subtrees — measured 3.9 s at sf0.1 vs ~1 s linearized
            # (guide §5: localCheckpoint to cut lineage of a reused
            # intermediate).
            .localCheckpoint(eager=True)
        )
        picked = top if picked is None else picked.unionByName(top)
    assert picked is not None
    return picked.select("query_id", "pick_rank", "neighbor_id", "rel", "mmr_score")
