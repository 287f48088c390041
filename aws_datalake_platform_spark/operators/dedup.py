"""Deduplication operators for large-scale training-data pipelines.

The reference itself never dedups (its overwrite-everything write makes
it moot — SURVEY.md §2.7); these are the north-star extensions, built
relational-first so Catalyst plans them:

- exact_dedup:          hash-groupBy on normalized text
- ngram_jaccard_pairs:  shared-shingle join -> exact Jaccard
- minhash_lsh_pairs:    MinHash signatures -> banded LSH buckets ->
                        candidate join -> exact-Jaccard verify
- simhash:              64-bit SimHash (vectorized pandas_udf) ->
                        banded buckets -> Hamming verify (bit_count)

Scale design (the part that matters at 100 TB):
- Every step is explode/groupBy/join — no driver materialization, no
  per-row Python except the SimHash signature (Arrow-vectorized).
- MinHash avoids the all-pairs blowup: cost is O(docs x shingles x H)
  map-side + a bucket join whose fan-out is controlled by band width.
- Hash functions are md5-derived so results are deterministic across
  engines and cluster sizes (and therefore DuckDB-oracle checkable).
- ngram_jaccard_pairs supports a max_df guard: shingles occurring in
  more than max_df documents are dropped before the pair join — at
  scale a single stop-shingle otherwise produces a quadratic join.
"""

import hashlib
from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark import StorageLevel
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..functions.core import fits_on_driver


# ── text normalization + shingling (shared building blocks) ─────────────────


def normalize_text(col: Column | str) -> Column:
    """lower -> strip non-alphanumerics to spaces -> collapse whitespace."""
    c = F.col(col) if isinstance(col, str) else col
    return F.trim(F.regexp_replace(F.regexp_replace(F.lower(c), "[^a-z0-9]+", " "), " +", " "))


def word_shingles(col: Column | str, k: int = 3) -> Column:
    """Distinct word k-gram shingles as array<string>; empty array when the
    document has fewer than k tokens (null -> empty).

    Implementation is an Arrow-vectorized pandas UDF, not Catalyst
    higher-order functions: the equivalent
    ``array_distinct(transform(sequence(...), i -> array_join(slice(toks,
    i, k))))`` is interpreted (HOFs never enter whole-stage codegen) and
    measured ~20-50 ms PER DOCUMENT — it dominated every shingle-based
    dedup. The Python loop is ~10 us/doc and batches via Arrow.
    """
    c = F.col(col) if isinstance(col, str) else col

    @pandas_udf(T.ArrayType(T.StringType()))
    def shingle(texts: pd.Series) -> pd.Series:
        out = []
        join = " ".join
        for t in texts:
            toks = t.split() if t else []
            if len(toks) >= k:
                # zip-of-offsets beats index slicing ~1.5x; dict preserves
                # first-occurrence order == array_distinct
                out.append(list(dict.fromkeys(map(join, zip(*(toks[i:] for i in range(k)))))))
            else:
                out.append([])
        return pd.Series(out)

    return shingle(c)


def _exploded_shingles(df: DataFrame, id_col: str, text_col: str, k: int) -> DataFrame:
    """(id, shingle) pairs, distinct per doc. The narrow base relation for
    every shingle-based dedup; partitioned by shingle after the explode."""
    return df.select(
        F.col(id_col).alias("__id"), F.explode(word_shingles(text_col, k)).alias("__sh")
    )


# ── exact dedup ──────────────────────────────────────────────────────────────


def exact_dedup_groups(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Group documents by md5(normalized text); keep the smallest id as the
    canonical representative. One shuffle on the fingerprint."""
    return (
        df.select(F.col(id_col).alias("doc_id"), F.md5(normalize_text(text_col)).alias("fingerprint"))
        .groupBy("fingerprint")
        .agg(F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_docs"))
    )


def exact_dedup(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Return the deduplicated rows (canonical representative per group)."""
    keep = exact_dedup_groups(df, id_col, text_col).select(F.col("keep_id").alias(id_col))
    return df.join(keep, on=id_col, how="left_semi")


# ── n-gram Jaccard near-dup ──────────────────────────────────────────────────


def _shingle_pair_intersections(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    max_df: int | None,
    symmetric: bool,
):
    """Shared scaffolding for the exact shingle-pair family: explode to
    (id, shingle), optionally drop hot stop-shingles (df > max_df),
    aggregate per-doc set sizes, and self-join on the shingle into
    per-pair intersection counts. ``symmetric`` picks doc_a < doc_b
    (unordered pairs, Jaccard) vs doc_a != doc_b (ordered pairs,
    containment). Returns (inter, sizes) with columns
    (doc_a, doc_b, __i) and (__id, __sz). One shared implementation so
    the max_df guard and join shape can never diverge between the two
    operators (r4 review)."""
    sh = _exploded_shingles(df, id_col, text_col, k)
    if max_df is not None:
        rare = (
            sh.groupBy("__sh")
            .agg(F.count(F.lit(1)).alias("__df"))
            .filter(F.col("__df") <= max_df)
        )
        sh = sh.join(rare.select("__sh"), "__sh", "left_semi")
    sizes = sh.groupBy("__id").agg(F.count(F.lit(1)).alias("__sz"))
    a = sh.select(F.col("__id").alias("doc_a"), "__sh")
    b = sh.select(F.col("__id").alias("doc_b"), "__sh")
    cond = (
        F.col("doc_a") < F.col("doc_b")
        if symmetric
        else F.col("doc_a") != F.col("doc_b")
    )
    inter = (
        a.join(b, "__sh")
        .filter(cond)
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("__i"))
    )
    return inter, sizes


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.5,
    max_df: int | None = None,
) -> DataFrame:
    """All-pairs exact Jaccard over word k-shingles, computed relationally:
    explode -> (optional max_df stop-shingle filter) -> self-join on the
    shingle -> per-pair intersection counts -> |A|+|B|-i union.

    Scale: the self-join fan-out is sum over shingles of df^2; max_df caps
    it. For data where even that is too hot, use minhash_lsh_pairs.
    Output: (doc_a, doc_b, jaccard) with doc_a < doc_b.

    max_df semantics: per-doc sizes are computed AFTER the stop-shingle
    filter, so with max_df set the emitted 'jaccard' is Jaccard over the
    stop-shingle-removed universe (the standard stopword-filtered measure),
    not Jaccard over raw shingles — boilerplate shared by >max_df docs
    neither creates candidates nor inflates the denominator. Leave
    max_df=None for true Jaccard (the oracle-checked configuration).
    """
    inter, sizes = _shingle_pair_intersections(
        df, id_col, text_col, k, max_df, symmetric=True
    )
    sz_a = sizes.select(F.col("__id").alias("doc_a"), F.col("__sz").alias("__sza"))
    sz_b = sizes.select(F.col("__id").alias("doc_b"), F.col("__sz").alias("__szb"))
    return (
        inter.join(sz_a, "doc_a")
        .join(sz_b, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (F.col("__i") / (F.col("__sza") + F.col("__szb") - F.col("__i"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", F.round("jaccard", 4).alias("jaccard"))
    )


# ── MinHash + banded LSH ─────────────────────────────────────────────────────


_MH_PRIME = 2147483647  # 2^31 - 1


def minhash_coeffs(num_hashes: int) -> tuple[list[int], list[int]]:
    """Deterministic affine coefficients (a_i, b_i) for the universal hash
    family h_i(x) = (a_i * x + b_i) mod P, md5-derived so any engine or
    cluster layout regenerates the same family."""
    a = [int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16) % (_MH_PRIME - 1) + 1
         for i in range(num_hashes)]
    b = [int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16) % _MH_PRIME
         for i in range(num_hashes)]
    return a, b


def _minhash_features(text_col: Column | str, k: int, num_hashes: int, bands: int) -> Column:
    """struct(bks: array<string>, mh: array<long>) per document, in ONE
    Arrow-vectorized pass: shingle -> md5 -> affine minhash -> band
    buckets, all inside a single pandas UDF. ``bks`` is the per-band LSH
    bucket array; ``mh`` is the SORTED DISTINCT set of 60-bit md5 shingle
    hashes — the verify side computes Jaccard over these hash sets with
    array_intersect/array_union, so minhash_lsh_pairs needs no second
    shingling pass, no second corpus scan, and no candidate semi-join.
    array<long> is cheap through both Arrow transfer and the columnar
    cache builder (persisting the array<string> shingles themselves was
    measured ~3x slower than recomputing them — hashes are 8 bytes flat
    per shingle instead).

    Jaccard over 60-bit hash sets instead of raw shingle strings: a
    collision needs two distinct shingles within one document pair
    sharing 60 bits (~n^2 / 2^61 per pair — vanishing), and the oracle
    mirrors the identical hashing, so both engines see the same sets and
    results stay bit-deterministic.

    Hash family: ONE md5 per shingle -> 60-bit int m -> h_i = (a_i * (m mod
    P) + b_i) mod P (affine universal hashing, P = 2^31-1), band bucket =
    md5 of the band's comma-joined minhash slice. Bit-identical to the
    relational encoding (DuckDB: ('0x' || substr(md5(s),1,15))::BIGINT), so
    the whole LSH pipeline stays oracle-checkable. Coefficient products stay
    under 2^62: no int64 overflow on any engine.

    Why a UDF and not explode + 32 min() aggregates: the single pass has NO
    shuffle and ~6 plan stages fewer; the exploded encoding shuffles
    docs x shingles rows and its 32-column hash aggregate ran 5+ s at
    sf0.1 against ~0.4 s for this UDF (and at 100 TB the explode
    materializes ~50x the corpus through a shuffle — the signature should
    be computed where the document is read). numpy does the (shingles x
    seeds) affine sweep vectorized; md5 via hashlib at ~0.5 us/shingle.
    """
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    rows_per_band = num_hashes // bands
    a_co, b_co = minhash_coeffs(num_hashes)
    a_arr = np.array(a_co, dtype=np.int64)
    b_arr = np.array(b_co, dtype=np.int64)

    @pandas_udf("bks array<string>, mh array<long>")
    def feat(texts: pd.Series) -> pd.DataFrame:
        bk_out: list[list[str]] = []
        mh_out: list[list[int]] = []
        join = " ".join
        for t in texts:
            toks = t.split() if t else []
            if len(toks) >= k:
                shs = list(dict.fromkeys(map(join, zip(*(toks[i:] for i in range(k))))))
            else:
                shs = []
            if not shs:
                bk_out.append([])
                mh_out.append([])
                continue
            m60 = np.array(
                [int(hashlib.md5(s.encode()).hexdigest()[:15], 16) for s in shs],
                dtype=np.int64,
            )
            m = m60 % _MH_PRIME
            mins = ((m[:, None] * a_arr[None, :] + b_arr[None, :]) % _MH_PRIME).min(axis=0)
            bk_out.append(
                [
                    hashlib.md5(
                        ",".join(str(v) for v in mins[bi * rows_per_band : (bi + 1) * rows_per_band]).encode()
                    ).hexdigest()
                    for bi in range(bands)
                ]
            )
            mh_out.append(np.unique(m60).tolist())
        return pd.DataFrame({"bks": bk_out, "mh": mh_out})

    return feat(c)


def minhash_doc_features(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(__id, __bks, __mh) per document from the one-pass feature UDF.
    The repartition spreads the cpu-bound UDF across cores when the input
    is a single parquet split; at real scale the scan's own splits make
    it a no-op-sized doc shuffle."""
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, id_col)
        .select(
            F.col(id_col).alias("__id"),
            _minhash_features(text_col, k, num_hashes, bands).alias("__f"),
        )
        .select("__id", F.col("__f.bks").alias("__bks"), F.col("__f.mh").alias("__mh"))
    )


def minhash_band_buckets(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """(doc, band, bucket): posexplode of the per-band bucket array from
    the one-pass feature UDF."""
    base = minhash_doc_features(df, id_col, text_col, k, num_hashes, bands)
    return base.select("__id", F.posexplode("__bks").alias("__band", "__bucket"))


def capped_candidate_pairs(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """Distinct candidate (doc_a, doc_b) pairs from (__id, __band, __bucket)
    membership, with a hot-bucket guard.

    Two expansion regimes by bucket size:

    - cnt <= max_bucket_size: collect_list + HOF-slice expansion into
      every pair of the bucket. The groupBy reuses the stats window's
      (band, bucket) partitioning — NO extra shuffle — and the agg
      buffer is bounded by the cap. Controlled same-session A/B at sf0.1
      (3 interleaved passes each): expand 2.44 s vs a (band, bucket)
      equi-self-join 3.06 s for q24 MinHash AND expand 2.49 s vs join
      2.91 s for q25 SimHash; expand wins at any cap <= ~512.
    - cnt > max_bucket_size: STAR pairs (bucket-min id, member) —
      linear in the bucket size; the bucket stays ONE connected
      component for GROUP RESOLUTION (connected_components), so the
      duplicate group is still fully reported there. Precision caveat
      (r3 review): when a caller VERIFIES candidate pairs afterwards
      (hamming / jaccard threshold), a star pair whose anchor fails the
      check is dropped, and a (B, C) pair both within threshold of each
      other but not of the bucket-min anchor is then LOST for
      pair-emitting queries — the connectivity guarantee holds for the
      candidate graph, not the post-verification pair set. The oracles
      (q24/q25) mirror the cap, so the contract is explicit. Degenerate
      corpora (millions of boilerplate-identical docs in one bucket) can
      never OOM a task: the window stats spill through WindowExec's
      external sorter and no agg buffer exceeds the cap. Callers
      quantify drops with bucket_stats().
    """
    w = Window.partitionBy("__band", "__bucket")
    members = buckets.withColumn("__cnt", F.count(F.lit(1)).over(w)).withColumn(
        "__mn", F.min("__id").over(w)
    )
    ids = F.array_sort(F.collect_list("__id"))
    pair_expand = F.flatten(
        F.transform(
            F.col("__ids"),
            lambda a, i: F.transform(
                F.slice(F.col("__ids"), i + F.lit(2), F.size("__ids")),
                lambda b: F.struct(a.alias("doc_a"), b.alias("doc_b")),
            ),
        )
    )
    small = (
        members.filter(F.col("__cnt") <= max_bucket_size)
        .groupBy("__band", "__bucket")
        .agg(ids.alias("__ids"))
        .filter(F.size("__ids") > 1)
        .select(F.explode(pair_expand).alias("__p"))
        .select(F.col("__p.doc_a").alias("doc_a"), F.col("__p.doc_b").alias("doc_b"))
        # r3 advisor: callers may feed duplicate (__id, __band, __bucket)
        # rows (public API — internal producers happen to be dup-free);
        # sorted duplicate ids would then expand to doc_a == doc_b
        # self-pairs that survive distinct(); a codegen'd a < b filter
        # drops them.
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    big = members.filter(
        (F.col("__cnt") > max_bucket_size) & (F.col("__id") != F.col("__mn"))
    ).select(F.col("__mn").alias("doc_a"), F.col("__id").alias("doc_b"))
    return small.union(big).distinct()


def _verified_pairs(
    buckets: DataFrame,
    payload: DataFrame,
    score: Callable[[Column, Column], Column],
    max_bucket_size: int,
) -> DataFrame:
    """(doc_a, doc_b, __score): the filter-and-verify tail every banded-LSH
    detector shares. Capped candidates from ``buckets`` (__id, __band,
    __bucket) each join both sides' payload from ``payload`` (__id, __p)
    on doc id, and ``score(a, b)`` scores the two payloads. Callers keep
    their own threshold, rounding and output names.

    Joins against the payload are plain equi-joins on doc id — AQE
    broadcasts the candidate side when it is small and falls back to
    shuffle joins when a boilerplate-heavy corpus makes it large.
    """
    a = payload.select(F.col("__id").alias("doc_a"), F.col("__p").alias("__pa"))
    b = payload.select(F.col("__id").alias("doc_b"), F.col("__p").alias("__pb"))
    return (
        capped_candidate_pairs(buckets, max_bucket_size)
        .join(a, "doc_a")
        .join(b, "doc_b")
        .select("doc_a", "doc_b", score(F.col("__pa"), F.col("__pb")).alias("__score"))
    )


def bucket_stats(buckets: DataFrame, max_bucket_size: int) -> DataFrame:
    """Oversized (band, bucket) rows with the number of candidate
    comparisons the cap drops (full-quadratic minus star). Run it when you
    need the audit trail for a capped dedup pass."""
    return (
        buckets.groupBy("__band", "__bucket")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") > max_bucket_size)
        .select(
            F.col("__band").alias("band"),
            F.col("__bucket").alias("bucket"),
            "n_docs",
            (F.col("n_docs") * (F.col("n_docs") - 1) / 2 - (F.col("n_docs") - 1))
            .cast("long")
            .alias("dropped_comparisons"),
        )
    )


def minhash_lsh_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 512,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, exact-Jaccard verified (over the 60-bit
    shingle-hash sets the signature pass already computed).

    Scale: ONE Arrow-vectorized signature pass over the corpus emits
    (id, band buckets, shingle-hash set) — ~8 bytes per shingle — and is
    the ONLY pass that touches document text. The narrow base relation is
    persisted MEMORY_AND_DISK because three branches read it: bucket
    membership (posexplode), and both verify sides. Candidates come from
    an equi-join on (band, bucket) — never an all-pairs product — with
    the hot-bucket cap bounding per-task state on degenerate corpora.
    Verification is array_intersect/array_union on the per-doc hash sets:
    one row per candidate pair, |A|+|B| work each — never a shingle
    equi-join (quadratic on hot shingles). bands/num_hashes trade recall
    for bucket fan-out (8 bands x 4 rows: ~J>=0.7 reliably caught; raise
    bands for lower thresholds).

    Earlier shape (signature pass + separate word_shingles verify pass
    behind a candidate semi-join) cost a second corpus scan, a second
    pandas-UDF stage, and a semi-join exchange on the critical path;
    sharing the hash sets removes all three. Candidates, both verify
    sides and the score go through _verified_pairs, the tail SimHash and
    embedding LSH share.

    The persisted base relation stays cached after the call, so a repeat
    call on an unchanged table reuses it; load_table refreshes it when
    the table is rewritten in place. A derived ``df`` (not a table read)
    caches a new base per call that nothing releases.
    """
    base = minhash_doc_features(df, id_col, text_col, k, num_hashes, bands).persist(
        StorageLevel.MEMORY_AND_DISK
    )
    # Materialize the cache NOW: the candidate and verify branches hang
    # off separate AQE-materialized exchanges, and when both jobs race to
    # compute a cold cache they EACH run the signature pass (profiled: the
    # UDF stage ran twice per query, doubling its cost). One eager count
    # populates the cache once; every branch then reads it.
    base.count()
    buckets = base.select("__id", F.posexplode("__bks").alias("__band", "__bucket"))
    pairs = _verified_pairs(
        buckets,
        base.select("__id", F.col("__mh").alias("__p")),
        lambda a, b: F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b)),
        max_bucket_size,
    )
    return pairs.filter(F.col("__score") >= threshold).select(
        "doc_a", "doc_b", F.round("__score", 4).alias("jaccard")
    )


# ── SimHash ──────────────────────────────────────────────────────────────────


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """64-bit SimHash per document (Arrow-vectorized pandas UDF; md5-derived
    token hashes so signatures are deterministic).

    Vectorization: each UNIQUE token in the Arrow batch is md5-hashed once
    and unpacked to a (V, 64) ±1 bit matrix; a document's accumulator is
    then one ``counts @ matrix`` matmul over its unique-token rows. The
    former per-token-instance Python loop (md5 + a 64-wide numpy op per
    instance) measured ~6 s per invocation at sf0.1 — and ran TWICE in the
    near-dup self-join; this form is ~50x less Python per token. Bit order
    matches the scalar definition bit i = (md5_int >> i) & 1, which the
    DuckDB oracle (plans/llm_ops.py q25) replays."""

    @pandas_udf(T.LongType())
    def simhash(texts: pd.Series) -> pd.Series:
        docs_toks = [t.lower().split() if t else [] for t in texts]
        vocab: dict[str, int] = {}
        for toks in docs_toks:
            for tok in toks:
                if tok not in vocab:
                    vocab[tok] = len(vocab)
        if vocab:
            digests = np.frombuffer(
                b"".join(hashlib.md5(tok.encode()).digest()[:8] for tok in vocab),
                dtype=np.uint8,
            ).reshape(len(vocab), 8)
            # unpackbits is MSB-first per byte on big-endian digest bytes:
            # position j holds bit 63-j of int.from_bytes(d8, "big");
            # reversing gives index i == bit i of the scalar definition.
            pm = np.unpackbits(digests, axis=1)[:, ::-1].astype(np.int64) * 2 - 1
        out = np.zeros(len(texts), dtype=np.int64)
        for row, toks in enumerate(docs_toks):
            if not toks:
                continue
            idx = np.fromiter((vocab[t] for t in toks), dtype=np.int64, count=len(toks))
            uniq, counts = np.unique(idx, return_counts=True)
            acc = counts @ pm[uniq]
            pos = acc > 0
            sig = int.from_bytes(np.packbits(pos[::-1]).tobytes(), "big")
            out[row] = sig - (1 << 64) if sig >= 1 << 63 else sig
        return pd.Series(out)

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(n_parts, id_col).select(
        F.col(id_col).alias("doc_id"), simhash(F.col(text_col)).alias("simhash")
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = 3,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Near-dup pairs by SimHash Hamming distance <= max_hamming.

    Candidate generation uses the pigeonhole principle: signatures are cut
    into max_hamming+1 16-bit bands; any pair within the distance budget
    must agree on >= 1 band, so candidates come from an equi-join on
    (band_idx, band_value) — never an all-pairs scan. Verification is
    JVM-side bit_count(xor).

    Candidates route through capped_candidate_pairs: the sf1 scale proof
    (PROGRESS.jsonl r3) planted 2,000 boilerplate-identical docs and the
    then-uncapped band self-join expanded them quadratically — a
    million-doc boilerplate block would OOM/runaway the join. Oversized
    buckets now degrade to star pairs exactly like the MinHash path; note
    the post-verification precision caveat in capped_candidate_pairs —
    with every shared band oversized, a pair within hamming range of
    each other but not of the bucket-min anchor is not emitted (the
    candidate graph stays connected for group resolution; the verified
    PAIR set is anchor-limited). The q25 oracle mirrors the cap, so the
    contract is explicit and hash-checked.

    The signature relation is persisted and materialized before the
    self-join: both join branches hang off it, and without the persist the
    Arrow signature pass (the only stage touching text) executes once PER
    BRANCH — profiled 2x at sf0.1, same lesson as the MinHash base
    (minhash_lsh_pairs above). Like that base, the signatures stay cached
    after the call, so a repeat call on an unchanged table reuses them;
    load_table refreshes them when the table is rewritten in place.
    """
    sig = simhash_signatures(df, id_col, text_col).persist(StorageLevel.MEMORY_AND_DISK)
    sig.count()
    n_bands = max_hamming + 1
    width = 64 // n_bands
    buckets = sig.select(
        F.col("doc_id").alias("__id"),
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), i * width).bitwiseAND(
                        F.lit((1 << width) - 1)
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("__band", "__bucket"),
    )
    pairs = _verified_pairs(
        buckets,
        sig.select(F.col("doc_id").alias("__id"), F.col("simhash").alias("__p")),
        lambda a, b: F.bit_count(a.bitwiseXOR(b)),
        max_bucket_size,
    )
    return pairs.filter(F.col("__score") <= max_hamming).select(
        "doc_a", "doc_b", F.col("__score").alias("hamming")
    )


# ── Winnowing document fingerprints ──────────────────────────────────────────


def winnow_fingerprints(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, window: int = 4
) -> DataFrame:
    """(doc_id, fp) winnowing fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03 — the MOSS algorithm): hash every positional word k-gram
    (60-bit md5, the same encoding as the MinHash pipeline), slide a
    window of ``window`` consecutive hashes, keep the minimum of each
    window, emit the distinct kept hashes.

    Guarantees: any shared run of ``window + k - 1`` tokens between two
    documents yields at least one shared fingerprint, while only ~2/(w+1)
    of all k-gram hashes are kept — a contiguity-sensitive sketch sized
    well below the full shingle set (bag_fingerprint hashes the whole doc;
    MinHash sketches set overlap; winnowing sits between: it localizes
    WHERE the overlap is).

    Scale: map-side only — one Arrow-vectorized pass (numpy sliding-window
    min), no shuffle; output is ~2N/w rows for N total k-grams. Join
    fingerprints to fingerprints to find plagiarism-style overlaps; the
    md5 hashing is mirrored in the DuckDB oracle (plans/llm_ops.py q64)
    so the whole sketch is hash-match checkable. Docs with fewer than
    ``window`` k-grams emit no fingerprints (no complete window).
    """
    c = F.col(text_col)

    @pandas_udf(T.ArrayType(T.LongType()))
    def winnow(texts: pd.Series) -> pd.Series:
        out: list[list[int]] = []
        join = " ".join
        for t in texts:
            toks = t.split() if t else []
            if len(toks) < k:
                out.append([])
                continue
            hs = np.array(
                [
                    int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
                    for s in map(join, zip(*(toks[i:] for i in range(k))))
                ],
                dtype=np.int64,
            )
            if len(hs) < window:
                out.append([])
                continue
            mins = np.lib.stride_tricks.sliding_window_view(hs, window).min(axis=1)
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, id_col)
        .select(F.col(id_col).alias("doc_id"), F.explode(winnow(c)).alias("fp"))
    )


# ── Duplicate-cluster resolution (connected components) ──────────────────────


def connected_components(
    edges: DataFrame, src: str = "doc_a", dst: str = "doc_b", max_iter: int = 25
) -> DataFrame:
    """(node, component) from undirected pair edges via min-label
    propagation — the step that turns near-dup PAIRS into dedup GROUPS
    (keep one representative per component).

    Iterative DataFrame algorithm: every node starts labeled with its own
    id; each round a node takes the min label among itself and its
    neighbors; converged when a round changes nothing. Rounds needed =
    component diameter, and near-dup clusters are dense blobs (diameter
    2-4), not long chains — the loop is short in practice, with
    ``max_iter`` as the pathological-chain guard.

    Scale: each round is one equi-join (labels x edges, both hash-
    partitioned on the key) + one min-aggregate; each round's labels are
    localCheckpoint'ed, and the ContextCleaner releases earlier rounds'
    once nothing references them. The convergence check rides the same
    aggregate and materializes the checkpoint (one count per round). At
    very large diameters you'd switch to alternating large/small-star
    (Kiveris et al.) — same join primitive, O(log n) rounds.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    sym = e.union(e.select(F.col("b").alias("a"), F.col("a").alias("b")))
    sym = sym.localCheckpoint(eager=False)
    # Small-graph collapse: dedup edge lists are usually TINY relative
    # to the corpus (sf0.1 profile: 256 edges from 5,000 docs, yet the
    # 32-partition propagation rounds cost 4.6 s of pure task-scheduling
    # overhead). While the symmetric pair list fits the driver budget,
    # the component labels are computed on a DRIVER-SIDE copy with
    # union-find: the result — min node id per component — is exactly
    # the converged min-label fixpoint the loop reaches AND exactly the
    # oracle's recursive-CTE transitive-closure semantics (least(a, min
    # reachable)), with none of the per-round join/aggregate/count jobs
    # (guide §8: decide with small rows; the per-round loop was 8-12
    # Spark jobs over kilobytes). The count materializes the checkpoint
    # (no extra pass over the corpus); big graphs keep the
    # partitioned propagation loop below, whose per-round cost is what
    # actually scales to 100 TB. The budget here is tighter than the
    # global one (200k pairs x 16 B): the driver side is pure-Python
    # union-find, and nobody has measured it above 200k pairs.
    if fits_on_driver("connected_components", (sym.count(), 2), budget=200_000 * 16):
        # read from the checkpoint (never the upstream lineage)
        pair_rows = sym.collect()  # bounded by the guard above
        parent: dict = {}

        def find(x):
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for row in pair_rows:
            a, b = row["a"], row["b"]
            for n in (a, b):
                if n not in parent:
                    parent[n] = n
            ra, rb = find(a), find(b)
            if ra != rb:
                # union by MIN id so every root is its component's min —
                # the min-label fixpoint without a second pass
                lo, hi = (ra, rb) if ra < rb else (rb, ra)
                parent[hi] = lo
        out_rows = [(n, find(n)) for n in parent]
        # node/comp share one type: a comp label is always some node's id
        # (ADVICE r10 — an int-vs-long src/dst mix would otherwise build a
        # schema that truncates or rejects dst-only node ids)
        node_type = edges.schema[src].dataType
        dst_type = edges.schema[dst].dataType
        if node_type != dst_type:
            raise TypeError(
                f"connected_components: {src} is {node_type.simpleString()} "
                f"but {dst} is {dst_type.simpleString()}; edge endpoints "
                "must share one node type"
            )
        schema = T.StructType(
            [
                T.StructField("node", node_type),
                T.StructField("comp", node_type),
            ]
        )
        return edges.sparkSession.createDataFrame(out_rows, schema)
    labels = (
        sym.select(F.col("a").alias("node")).distinct().withColumn("comp", F.col("node"))
    ).localCheckpoint(eager=False)

    comp_type = labels.schema["comp"].dataType
    for _ in range(max_iter):
        nbr = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .select(F.col("a").alias("node"), "comp")
        )
        # Fold the previous label into the same aggregate (each node has
        # exactly ONE labels row, so min(__old) recovers it): convergence
        # is read off the merged relation instead of a second
        # labels-vs-new-labels join per round.
        merged = (
            labels.withColumn("__old", F.col("comp"))
            .union(nbr.withColumn("__old", F.lit(None).cast(comp_type)))
            .groupBy("node")
            .agg(F.min("comp").alias("comp"), F.min("__old").alias("__old"))
        ).localCheckpoint(eager=False)
        changed = merged.filter(F.col("comp") < F.col("__old")).count()
        labels = merged.select("node", "comp")
        if changed == 0:
            break
    return labels


def dup_clusters(pairs: DataFrame) -> DataFrame:
    """(doc_id, cluster_id, cluster_size) per document in some (doc_a,
    doc_b) near-dup pair: connected_components' min-id label as the
    cluster id, and the cluster's member count. Documents in no pair
    (singletons) are absent."""
    comp = connected_components(pairs, "doc_a", "doc_b")
    return comp.select(
        F.col("node").alias("doc_id"), F.col("comp").alias("cluster_id")
    ).withColumn("cluster_size", F.count(F.lit(1)).over(Window.partitionBy("cluster_id")))


# ── Incremental dedup against a stored corpus index ──────────────────────────


def build_dedup_index(
    df: DataFrame, id_col: str, text_col: str, k: int = 3, num_hashes: int = 32, bands: int = 8
) -> DataFrame:
    """Per-document dedup metadata (__id, __fp, __bks, __mh): the exact
    fingerprint, the banded LSH buckets, and the 60-bit shingle-hash set,
    all in ONE scan of the corpus (fingerprint + _minhash_features fused
    into the same projection).

    This is the STORED artifact that makes dedup incremental: a daily
    ingest batch joins against this metadata — never against corpus
    text — so yesterday's curated corpus is scanned exactly once, on the
    day it was curated. Size per doc is 8 bucket strings + the distinct
    shingle hashes (8 bytes each), independent of future batch count.
    """
    n_parts = df.sparkSession.sparkContext.defaultParallelism
    return (
        df.repartition(n_parts, id_col)
        .select(
            F.col(id_col).alias("__id"),
            F.md5(normalize_text(text_col)).alias("__fp"),
            _minhash_features(text_col, k, num_hashes, bands).alias("__f"),
        )
        .select("__id", "__fp", F.col("__f.bks").alias("__bks"), F.col("__f.mh").alias("__mh"))
    )


def incremental_dedup_verdicts(
    new_docs: DataFrame,
    index: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.5,
    max_bucket_size: int = 512,
) -> DataFrame:
    """Verdict per NEW document against an existing corpus
    (:func:`build_dedup_index` artifact): ``exact_dup`` (identical
    normalized-text fingerprint), ``near_dup`` (LSH candidate whose
    exact Jaccard over the 60-bit shingle-hash sets >= threshold), else
    ``unique``. ``dup_of`` is the smallest matching corpus id
    (deterministic; exact wins over near). Returns (doc_id, verdict,
    dup_of).

    Batch-internal duplicates are out of scope by design — run
    :func:`exact_dedup` / :func:`minhash_lsh_pairs` WITHIN the batch
    first; this operator answers only "is it already in the corpus".

    Scale: the batch's features are one Arrow pass over the batch; the
    exact stage is an equi-join on fingerprint (broadcastable when the
    daily batch is small — Catalyst/AQE decides); candidates come from
    the same banded bucket join as minhash_lsh_pairs with corpus-side
    hot buckets degraded to their min-id star representative (a
    boilerplate bucket with a million corpus members contributes ONE
    candidate per new doc, not a million); verification touches only
    candidate pairs. Corpus text is never read.
    """
    # Eagerly CHECKPOINT both feature relations (not merely persist):
    # three branches read each (exact join / bucket explode / verify
    # side), and cold-cache races across AQE-materialized exchanges
    # re-run the Arrow feature UDF once per branch (the
    # minhash_lsh_pairs lesson). persist+count was the first fix, but a
    # cache entry under the nondeterministic Arrow-UDF lineage is not
    # reliably substituted into DERIVED plans: with a complex input
    # lineage (the incremental pipeline's staged batch at sf0.1) the
    # verdict action re-executed the whole input chain per branch —
    # 111 s vs 1.8 s with the lineage truncated. localCheckpoint is the
    # semdedup precedent (operators/similarity.py) and bounds every
    # branch to the materialized feature relations. In production the
    # index arrives FROM STORAGE, so its checkpoint is one batch-sized
    # copy; for a freshly built index it is the difference between one
    # corpus pass and three-plus.
    new_idx = build_dedup_index(
        new_docs, id_col, text_col, k, num_hashes, bands
    ).localCheckpoint(eager=True)
    corpus = index.localCheckpoint(eager=True)

    exact = (
        new_idx.select("__id", "__fp")
        .join(corpus.select("__fp", F.col("__id").alias("__cid")), "__fp")
        .groupBy("__id")
        .agg(F.min("__cid").alias("__exact_of"))
    )

    cb = corpus.select("__id", F.posexplode("__bks").alias("__band", "__bucket"))
    w = Window.partitionBy("__band", "__bucket")
    cb = cb.withColumn("__cnt", F.count(F.lit(1)).over(w)).withColumn(
        "__mn", F.min("__id").over(w)
    )
    nb = new_idx.select(
        F.col("__id").alias("__nid"), F.posexplode("__bks").alias("__band", "__bucket")
    )
    cand_small = nb.join(
        cb.filter(F.col("__cnt") <= max_bucket_size), ["__band", "__bucket"]
    ).select("__nid", F.col("__id").alias("__cid"))
    cand_big = nb.join(
        cb.filter(F.col("__cnt") > max_bucket_size)
        .select("__band", "__bucket", "__mn")
        .distinct(),
        ["__band", "__bucket"],
    ).select("__nid", F.col("__mn").alias("__cid"))
    cand = cand_small.union(cand_big).distinct()

    pairs = (
        cand.join(
            new_idx.select(F.col("__id").alias("__nid"), F.col("__mh").alias("__mh_n")),
            "__nid",
        )
        .join(
            corpus.select(F.col("__id").alias("__cid"), F.col("__mh").alias("__mh_c")),
            "__cid",
        )
        .withColumn("__i", F.size(F.array_intersect("__mh_n", "__mh_c")))
        .withColumn("__u", F.size("__mh_n") + F.size("__mh_c") - F.col("__i"))
    )
    near = (
        pairs.filter(F.col("__i") * 1.0 / F.col("__u") >= threshold)
        .groupBy("__nid")
        .agg(F.min("__cid").alias("__near_of"))
        .withColumnRenamed("__nid", "__id")
    )

    out = (
        new_idx.select("__id")
        .join(exact, "__id", "left")
        .join(near, "__id", "left")
        .select(
            F.col("__id").alias("doc_id"),
            F.when(F.col("__exact_of").isNotNull(), F.lit("exact_dup"))
            .when(F.col("__near_of").isNotNull(), F.lit("near_dup"))
            .otherwise(F.lit("unique"))
            .alias("verdict"),
            F.coalesce("__exact_of", "__near_of").alias("dup_of"),
        )
    )
    return out


def shingle_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """Asymmetric containment C(A in B) = |A∩B| / |A| over word
    k-shingles — catches a SHORT document swallowed by a longer one
    (quote, excerpt, boilerplate-plus-payload), which symmetric Jaccard
    misses: a 50-shingle doc inside a 1000-shingle doc has J ≈ 0.05 but
    containment 1.0.

    Same relational shape (and max_df hot-shingle guard) as
    ngram_jaccard_pairs; emits ORDERED pairs (doc_a contained-in doc_b,
    doc_a != doc_b), so a pair of mutual near-copies appears twice —
    once per direction.

    SCALE ORDER MATTERS (measured, 10x planted-variant corpus, 50k
    docs): on a duplicate-heavy corpus the OUTPUT is quadratic in the
    duplicates (501k true pairs, 343 s), and max_df cannot cut it —
    variant groups collide on medium-df shingles far below any sane
    cap (max_df=200 left all 501k rows, 321 s). Run containment AFTER
    exact+near dedup: the same corpus deduped first leaves 4,756
    residual docs and the whole dedup+containment chain finishes in
    37 s. This operator is the residual-corpus excerpt detector, not a
    substitute for the dedup pass.
    """
    inter, sizes = _shingle_pair_intersections(
        df, id_col, text_col, k, max_df, symmetric=False
    )
    sz_a = sizes.select(F.col("__id").alias("doc_a"), F.col("__sz").alias("__sza"))
    return (
        inter.join(sz_a, "doc_a")
        .select(
            "doc_a",
            "doc_b",
            (F.col("__i") / F.col("__sza")).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        # pinned half-up floor math, not round(): engine-divergent on
        # exact .xxx5 doubles (r4 review; q76 precedent)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(F.col("containment") * 10000.0 + 0.5) / 10000.0).alias(
                "containment"
            ),
        )
    )


def shingle_containment_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    k: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Prefix-filtered containment — the candidate-generation scale path
    for :func:`shingle_containment_pairs` (AllPairs/SSJoin family,
    Bayardo et al. WWW'07; Chaudhuri et al. ICDE'06).

    Correctness of the filter: order every document's shingles by a
    GLOBAL total order (document frequency ascending, then shingle).
    If C(A in B) = |A∩B|/|A| >= t, then B misses at most
    |A| - ceil(t*|A|) of A's shingles, so B must contain at least one
    of A's first |A| - ceil(t*|A|) + 1 shingles in that order (the
    "prefix"). Joining only A-prefix shingles against B's full shingle
    set therefore loses no qualifying pair — results are EXACTLY those
    of the brute self-join (equivalence pinned by a hypothesis test).

    Scale: the brute operator's candidate stage fans out sum(df^2) over
    ALL shingles; here the A-side contributes only prefix shingles,
    which the global order makes the RAREST available — candidate cost
    drops to sum over prefix occurrences of df, near-linear on real
    corpora. The OUTPUT on a duplicate-heavy corpus is still quadratic
    in the duplicates (that is the answer, not the algorithm — see the
    10x counter-example in shingle_containment_pairs), so the
    dedup-first composition order still applies.
    """
    sh = _exploded_shingles(df, id_col, text_col, k)
    dfreq = sh.groupBy("__sh").agg(F.count(F.lit(1)).alias("__df"))
    w = Window.partitionBy("__id").orderBy(F.asc("__df"), F.asc("__sh"))
    ranked = (
        sh.join(dfreq, "__sh")
        .withColumn("__rank", F.row_number().over(w))
        .withColumn("__sz", F.count(F.lit(1)).over(Window.partitionBy("__id")))
    )
    # prefix length |A| - ceil(t|A|) + 1
    prefix = ranked.filter(
        F.col("__rank") <= F.col("__sz") - F.ceil(F.lit(threshold) * F.col("__sz")) + 1
    )
    a = prefix.select(F.col("__id").alias("doc_a"), "__sh")
    b = sh.select(F.col("__id").alias("doc_b"), "__sh")
    cand = (
        a.join(b, "__sh")
        .filter(F.col("doc_a") != F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact verify on candidates only: intersect the per-doc shingle sets
    sets_ = df.select(
        F.col(id_col).alias("__vid"), word_shingles(text_col, k).alias("__shs")
    ).filter(F.size("__shs") > 0)
    sa = sets_.select(F.col("__vid").alias("doc_a"), F.col("__shs").alias("__sa"))
    sb = sets_.select(F.col("__vid").alias("doc_b"), F.col("__shs").alias("__sb"))
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (
                F.size(F.array_intersect("__sa", "__sb")) / F.size("__sa")
            ).alias("containment"),
        )
        .filter(F.col("containment") >= threshold)
        .select(
            "doc_a",
            "doc_b",
            (F.floor(F.col("containment") * 10000.0 + 0.5) / 10000.0).alias(
                "containment"
            ),
        )
    )
