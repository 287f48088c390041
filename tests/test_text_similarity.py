"""Text analysis, similarity search, and multimodal plumbing tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from aws_datalake_platform_spark.catalog import load_table
from aws_datalake_platform_spark.operators import textops as tx
from aws_datalake_platform_spark.operators.multimodal import (
    FEATURE_DIM,
    attach_binary_payload,
    decode_media,
    extract_features,
)
from aws_datalake_platform_spark.operators.similarity import (
    brute_force_topk,
    embedding_near_dup_pairs,
    embedding_near_dup_pairs_lsh,
    lsh_ann_topk,
)

from .conftest import SF_SMOKE


def test_token_counts(spark):
    df = spark.createDataFrame(
        [("hello world foo",), ("one-two, three!",), ("",), ("   ",)], "text string"
    )
    rows = df.select(
        tx.token_count("text").alias("n"), tx.bpe_token_count("text").alias("b")
    ).collect()
    assert [r["n"] for r in rows] == [3, 2, 0, 0]
    # 'one-two, three!' -> one,-,two,',',three,! = 6 BPE-ish tokens
    assert rows[1]["b"] == 6
    assert rows[0]["b"] == 3


def test_ratios_and_quality(spark):
    df = spark.createDataFrame([("abc 123!?",)], "text string")
    r = df.select(
        tx.punct_ratio("text").alias("p"), tx.digit_ratio("text").alias("d")
    ).collect()[0]
    assert r["p"] == pytest.approx(2 / 9)
    assert r["d"] == pytest.approx(3 / 9)

    long_clean = " ".join(["word"] * 70)  # 349 chars, 70 tokens, no punct
    df2 = spark.createDataFrame(
        [(long_clean, len(long_clean)), ("short text", 10), ("x" * 200, 200)],
        "text string, n_chars long",
    )
    got = [r["q"] for r in df2.select(tx.quality_class("text", "n_chars").alias("q")).collect()]
    assert got == ["HIGH", "LOW", "MED"]


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            ("the cat is in the house and it is warm",),
            ("der hund ist nicht mit der katze",),
            ("el perro es un animal que no habla",),
            ("le chien est dans la maison pour dormir",),
            ("qwzx bnmp vcxz",),
        ],
        "text string",
    )
    got = [r["l"] for r in df.select(tx.language_id("text").alias("l")).collect()]
    assert got == ["en", "de", "es", "fr", "und"]


def test_bag_fingerprint_shuffle_invariant(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "gamma alpha beta"), (3, "alpha beta delta")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["f"] for r in df.select("doc_id", tx.bag_fingerprint("text").alias("f")).collect()}
    assert rows[1] == rows[2]
    assert rows[1] != rows[3]


@pytest.fixture(scope="module")
def emb(spark):
    return load_table(spark, SF_SMOKE, "embeddings")


def test_brute_force_topk_shape(spark, emb):
    out = brute_force_topk(emb.filter(F.col("vec_id") < 5), emb, k=3).collect()
    by_q = {}
    for r in out:
        assert r["neighbor_id"] != r["query_id"]
        by_q.setdefault(r["query_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rows in by_q.items():
        ranks = sorted(r["rank"] for r in rows)
        assert ranks == [1, 2, 3]
        sims = [r["sim"] for r in sorted(rows, key=lambda r: r["rank"])]
        assert sims == sorted(sims, reverse=True)


def test_lsh_ann_finds_true_near_neighbors(spark, emb):
    """LSH recall is only meaningful for genuinely near vectors (the
    testdata embeddings are near-random, max pairwise cosine ~0.5, where
    any LSH rightfully returns nothing). Plant exact duplicates shifted by
    +10000 ids: identical vectors share every bucket, so LSH must rank
    each planted twin as its query's top-1."""
    twins = emb.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.union(twins)
    queries = emb.filter(F.col("vec_id") < 10)
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_ann_topk(queries, corpus, k=1, n_planes=8).collect()
    }
    assert approx == {q: q + 10000 for q in range(10)}
    # and the candidate set really was bucket-restricted (plumbing check):
    # with 8 planes over 256 buckets, a full scan would be ~510 candidates
    # per query; bucket join must stay far below that. Verified implicitly:
    # identical vectors landed in identical buckets (else no result at all).


def test_near_dup_pairs_symmetry_free(spark, emb):
    pairs = embedding_near_dup_pairs(emb, threshold=0.4).collect()
    for r in pairs:
        assert r["vec_a"] < r["vec_b"]
        assert r["sim"] >= 0.4


def test_embedding_lsh_recall_vs_exact_baseline(spark, emb):
    """q59's config (16 bands x 4 planes) vs the q31 exact all-pairs output
    at the same threshold: subset (verify is exact) + recall bound. All
    deterministic — fixed md5 planes, fixed data."""
    from aws_datalake_platform_spark.operators.similarity import embedding_near_dup_pairs_lsh

    exact = {(r["vec_a"], r["vec_b"]) for r in embedding_near_dup_pairs(emb, threshold=0.4).collect()}
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs_lsh(
            emb, threshold=0.4, bands=16, planes_per_band=4
        ).collect()
    }
    assert lsh <= exact  # bucketing can only drop pairs, never invent them
    assert len(lsh) >= 0.85 * len(exact)  # theory: 1-(1-p^4)^16 ~ 0.94 at cos 0.4


def test_embedding_lsh_near_dup_scale_config(spark, emb):
    """Near-dup regime (threshold 0.9, 8 bands x 8 planes): planted twins
    must be recovered with recall 1.0 AND the candidate set must actually
    prune — the point of the bucketed variant over the O(N^2) baseline."""
    from aws_datalake_platform_spark.operators.dedup import capped_candidate_pairs
    from aws_datalake_platform_spark.operators.similarity import (
        banded_lsh_buckets,
        embedding_near_dup_pairs_lsh,
    )

    twins = emb.filter(F.col("vec_id") < 20).select(
        (F.col("vec_id") + 10000).alias("vec_id"), "embedding", "label"
    )
    corpus = emb.union(twins)
    exact = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs(corpus, threshold=0.9).collect()
    }
    assert len(exact) == 20  # the planted twin pairs, nothing else
    lsh = {
        (r["vec_a"], r["vec_b"])
        for r in embedding_near_dup_pairs_lsh(
            corpus, threshold=0.9, bands=8, planes_per_band=8
        ).collect()
    }
    assert lsh == exact  # identical vectors share every bucket -> recall 1.0

    n = corpus.count()
    n_candidates = capped_candidate_pairs(
        banded_lsh_buckets(corpus, bands=8, planes_per_band=8), 512
    ).count()
    assert n_candidates < 0.10 * n * (n - 1) / 2  # ~3% expected on random data


def test_multimodal_plumbing(spark):
    docs = spark.createDataFrame(
        [(1, "hello world"), (2, ""), (3, "third doc")], "doc_id long, text string"
    )
    media = attach_binary_payload(docs)
    assert [f.name for f in media.schema.fields] == ["doc_id", "payload", "media_meta"]
    feats = extract_features(media, fake_decode=True).collect()
    by_id = {r["doc_id"]: r for r in feats}
    assert by_id[1]["n_bytes"] == len(b"hello world")
    assert len(by_id[1]["features"]) == FEATURE_DIM
    assert all(0.0 <= x <= 1.0 for x in by_id[1]["features"])
    # deterministic decode
    feats2 = extract_features(media, fake_decode=True).collect()
    assert {r["doc_id"]: r["features"] for r in feats2} == {
        r["doc_id"]: r["features"] for r in feats
    }


def test_real_decode_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x89PNG...", "png", fake=False)


def test_multimodal_resize(spark):
    from aws_datalake_platform_spark.operators.multimodal import resize_images

    docs = spark.createDataFrame(
        [(1, "x" * 100), (2, "y")], "doc_id long, text string"
    )
    media = attach_binary_payload(docs)
    out = {r["doc_id"]: r for r in resize_images(media, height=4, width=4).collect()}
    assert out[1]["height"] == 4 and out[1]["width"] == 4
    assert len(out[1]["pixels"]) == 16  # 4x4 uint8
    assert len(out[2]["pixels"]) == 16  # tiny payload still resizes


def test_multimodal_frame_sampling(spark):
    from aws_datalake_platform_spark.operators.multimodal import sample_frames

    docs = spark.createDataFrame(
        [(1, "a" * 300), (2, "b" * 10)], "doc_id long, text string"
    )
    media = attach_binary_payload(docs)
    frames = sample_frames(media, frame_bytes=64, every_n=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 300 bytes // 64 = 4 frames, stride 2 -> frames 0 and 2
    assert sorted(r["frame_idx"] for r in by_doc[1]) == [0, 2]
    assert len(by_doc[1][0]["frame"]) == 64
    # short payload -> single frame 0
    assert [r["frame_idx"] for r in by_doc[2]] == [0]


def test_pq_topk_recall_vs_brute_force(spark, emb):
    """PQ+ADC with exact re-rank must recover most true top-5 neighbors;
    identical determinism contract as the IVF/LSH variants (hash-ordered
    sample, argmin ties -> lowest index)."""
    from aws_datalake_platform_spark.operators.similarity import brute_force_topk, pq_topk

    queries = emb.filter("vec_id < 10")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in brute_force_topk(queries, emb, k=5).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(queries, emb, k=5, m_subspaces=8, n_codes=32, refine=8).collect()
    }
    assert len(pq & exact) / len(exact) >= 0.6, f"PQ recall {len(pq & exact) / len(exact)}"
    # determinism: a second run returns the identical set
    pq2 = {
        (r["query_id"], r["neighbor_id"])
        for r in pq_topk(queries, emb, k=5, m_subspaces=8, n_codes=32, refine=8).collect()
    }
    assert pq == pq2


def test_ann_at_full_recall_equals_brute_force(spark, emb):
    """IVF probing every list and PQ re-ranking the whole corpus see every
    candidate, so they must return exactly brute force's (query_id,
    neighbor_id, sim, rank) rows: one score and one tie-break for all.
    Two exact copies of vector 3 planted under ids 20003 and 10003 tie
    on sim for query 3; the smaller neighbor_id ranks first."""
    import math

    from aws_datalake_platform_spark.operators.similarity import ivf_topk, pq_topk

    twin = emb.filter("vec_id = 3")
    corpus = emb
    for twin_id in (20003, 10003):
        corpus = corpus.unionByName(twin.withColumn("vec_id", F.lit(twin_id).cast("long")))
    queries = corpus.filter("vec_id < 10")
    k = 5
    n = corpus.count()

    def rows(df):
        return sorted(tuple(r) for r in df.select("query_id", "neighbor_id", "sim", "rank").collect())

    exact = rows(brute_force_topk(queries, corpus, k=k))
    assert len(exact) == 10 * k
    assert rows(ivf_topk(queries, corpus, k=k, n_centroids=16, n_probe=16)) == exact
    assert rows(pq_topk(queries, corpus, k=k, refine=math.ceil(n / k))) == exact
    top_of_3 = sorted((r for r in exact if r[0] == 3), key=lambda r: r[3])[:2]
    assert [r[1] for r in top_of_3] == [10003, 20003]
    assert [r[3] for r in top_of_3] == [1, 2]
    assert top_of_3[0][2] == top_of_3[1][2]


def test_audio_pcm_decode_known_signal(spark):
    """int16 PCM decode + windowed features verified against a hand-built
    waveform: constant amplitude alternating signal -> exact sum of
    squares and maximal zero-crossing count."""
    import numpy as np

    from aws_datalake_platform_spark.operators.multimodal import (
        AUDIO_WIN,
        audio_window_energy,
    )

    # 512 samples alternating +1000 / -1000: zcr = 255 per 256-window
    sig = np.tile(np.array([1000, -1000], dtype="<i2"), 256)
    df = spark.createDataFrame([(7, bytearray(sig.tobytes()))], "doc_id long, payload binary")
    rows = {r["win_idx"]: r for r in audio_window_energy(df).collect()}
    assert set(rows) == {0, 1}
    for w in (0, 1):
        assert rows[w]["sum_sq"] == 1000 * 1000 * AUDIO_WIN
        assert rows[w]["zcr"] == AUDIO_WIN - 1


def test_lsh_band_params_scale_with_corpus():
    """Bucket width must grow with the corpus (the sf1 proof's recall
    collapse: 16 buckets/band at 20k vectors put every bucket over the
    cap) and the band count must satisfy the amplification recall bound."""
    import math

    from aws_datalake_platform_spark.operators.similarity import lsh_band_params

    b_small, r_small = lsh_band_params(2_000, threshold=0.95)
    b_big, r_big = lsh_band_params(20_000, threshold=0.95)
    assert r_big > r_small  # more planes per band as the corpus grows
    # 2^r buckets keep expected bucket size near the target
    assert 2_000 / 2**r_small <= 128
    assert 20_000 / 2**r_big <= 128
    # recall bound holds at the threshold it was sized for
    for n, (b, r) in [(2_000, (b_small, r_small)), (20_000, (b_big, r_big))]:
        p = 1 - math.acos(0.95) / math.pi
        assert 1 - (1 - p**r) ** b >= 0.95
    # a million-doc corpus still yields sane, finite parameters
    b_m, r_m = lsh_band_params(1_000_000, threshold=0.9)
    assert 2**r_m >= 1_000_000 / 128 and b_m < 200


def test_near_dup_lsh_auto_sizing_finds_planted_pairs(spark):
    """bands=None auto-sizes band structure from the corpus count; planted
    near-identical vectors are all recovered."""
    import numpy as np

    from aws_datalake_platform_spark.operators.similarity import (
        embedding_near_dup_pairs_lsh,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(300, 64)).astype(np.float32)
    rows = []
    for i, v in enumerate(base):
        rows.append((i, v.tolist()))
        w = v.copy()
        w[0] += 0.01  # planted near-dup, cosine ~0.99999
        rows.append((i + 10_000, w.tolist()))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    pairs = embedding_near_dup_pairs_lsh(df, threshold=0.99, bands=None, planes_per_band=None)
    got = {(r["vec_a"], r["vec_b"]) for r in pairs.collect()}
    planted = {(i, i + 10_000) for i in range(300)}
    assert planted <= got, f"missing {len(planted - got)} planted pairs"


def test_lsh_band_params_caps_explosive_low_threshold():
    """Low thresholds on big corpora would solve to thousands of bands;
    the helper caps at 64 and warns (LSH cannot prune at cos ~0.4 — the
    exact path is the honest plan there)."""
    import warnings

    from aws_datalake_platform_spark.operators.similarity import lsh_band_params

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        b, r = lsh_band_params(1_000_000, threshold=0.4)
    assert b == 64
    assert any("capping" in str(x.message) for x in w)


def test_decode_media_real_path_via_stubbed_pil(monkeypatch):
    """The optional-Pillow image path: wiring verified with a stub module
    so installing Pillow on a real cluster needs no code change."""
    import numpy as np
    from types import SimpleNamespace

    from aws_datalake_platform_spark.operators import multimodal as mm

    class _StubImg:
        def convert(self, mode):
            assert mode == "L"
            return self

        def __array__(self, dtype=None, copy=None):
            a = np.full((4, 4), 128, dtype=np.uint8)
            return a.astype(dtype) if dtype is not None else a

    monkeypatch.setattr(mm, "_PILImage", SimpleNamespace(open=lambda b: _StubImg()))
    feats = mm.decode_media(b"payload-bytes", "png")
    assert len(feats) == mm.FEATURE_DIM
    assert abs(float(feats.sum()) - 1.0) < 1e-6  # normalized histogram
    # all mass in the bin holding 128/255
    assert float(feats.max()) == 1.0

    # unknown format still refuses without fake=True
    import pytest as _pytest

    with _pytest.raises(NotImplementedError):
        mm.decode_media(b"x", "mp4")


def test_decode_media_without_pil_raises(monkeypatch):
    from aws_datalake_platform_spark.operators import multimodal as mm
    import pytest as _pytest

    monkeypatch.setattr(mm, "_PILImage", None)
    with _pytest.raises(NotImplementedError):
        mm.decode_media(b"x", "png")


def test_semdedup_drops_planted_near_duplicate(spark):
    """A vector nearly parallel to a keeper must land in the same cluster
    and be dropped with dup_of pointing at the keeper; orthogonal-ish
    vectors survive. Also pins the invariants: keepers carry dup_of=-1,
    and every dropped vec's dup_of is a lower id in the same cluster."""
    import os
    import tempfile

    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

    dim = 64

    def vec(axis, eps=0.0):
        v = [0.0] * dim
        v[axis] = 1.0
        v[(axis + 1) % dim] = eps
        return v

    rows = [(i, vec(i)) for i in range(8)]  # centroids: one per axis
    rows.append((100, vec(3, eps=0.05)))  # near-parallel to centroid 3
    rows.append((101, vec(9)))  # far from everything above threshold
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    with tempfile.TemporaryDirectory() as d:
        emb.write.parquet(os.path.join(d, "embeddings.parquet"))
        out = {r["vec_id"]: r for r in QUERY_REGISTRY["q201_semdedup"].fn(spark, d).collect()}
    assert out[100]["cluster"] == 3 and not out[100]["kept"]
    assert out[100]["dup_of"] == 3
    assert out[101]["kept"] and out[101]["dup_of"] == -1
    clusters = {v: r["cluster"] for v, r in out.items()}
    for v, r in out.items():
        if not r["kept"]:
            assert r["dup_of"] < v and clusters[r["dup_of"]] == r["cluster"]


def test_mmr_rerank_prefers_diverse_over_redundant(spark):
    """A near-verbatim twin of the first pick must lose its #2 slot to a
    less-relevant but diverse candidate — the whole point of MMR. c2 is
    exactly parallel to c1 (sim 1.0), so at lambda=0.5 its step-2 score
    is 0.5*0.995 - 0.5*1.0 = -0.0025 while the orthogonal-ish c3 scores
    0.5*0.6 - 0.5*0.597 = +0.0015."""
    from aws_datalake_platform_spark.operators.similarity import mmr_rerank

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),  # query
        (1, [1.0, 0.1, 0.0, 0.0]),  # top candidate
        (2, [2.0, 0.2, 0.0, 0.0]),  # parallel to c1: redundant
        (3, [0.6, 0.0, 0.8, 0.0]),  # diverse, lower relevance
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = mmr_rerank(
        emb.filter("vec_id = 0"), emb, n_candidates=3, k=3, lam=0.5
    ).collect()
    picks = [r["neighbor_id"] for r in sorted(out, key=lambda r: r["pick_rank"])]
    assert picks == [1, 3, 2]
    by_rank = {r["pick_rank"]: r for r in out}
    # step-1 score is just lambda*rel (no one picked yet), half-up to 6
    import math

    assert by_rank[1]["mmr_score"] == math.floor(0.5 * by_rank[1]["rel"] * 1e6 + 0.5) / 1e6
    # every later pick scores no higher than the one before it
    for t in range(2, 4):
        assert by_rank[t]["mmr_score"] <= by_rank[t - 1]["mmr_score"]


def test_semdedup_rounding_tie_assigns_smaller_cid(spark):
    """Assignment compares round(cosine, 6), and a tie goes to the
    smaller cid. Vector 100's cosines to cid 7 (0.8000000359...) and cid
    3 (0.8000000000...) differ unrounded but agree to 6 decimals, so it
    must land in cid 3, although cid 7 is nearer and comes first in the
    centroid frame. Vector 101 has a clear nearest centroid, cid 9."""
    from aws_datalake_platform_spark.operators.similarity import semdedup

    cents = spark.createDataFrame(
        [(7, [0.8000001, 0.6]), (3, [0.8, 0.6]), (9, [0.0, 1.0])], "cid BIGINT, ce ARRAY<DOUBLE>"
    )
    emb = spark.createDataFrame(
        [(100, [1.0, 0.0]), (101, [0.1, 1.0])], "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r["cluster"] for r in semdedup(emb, centroids=cents).collect()}
    assert out == {100: 3, 101: 9}


@pytest.mark.parametrize(
    "bad_id, bad_vec",
    [(42, None), (43, [1.0, 0.0]), (44, [1.0] + [None] * 63), (0, None)],
    ids=["null", "ragged", "null_element", "null_centroid"],
)
def test_semdedup_rejects_dirty_vectors(spark, bad_id, bad_vec):
    """A NULL vector, a NULL element, or a length other than the
    centroids' has no nearest centroid: semdedup must raise a ValueError
    naming the vec_id, not assign it somewhere. vec_id 0 is one of the
    default seed centroids (checked on the driver); the others are
    checked by the assignment UDF on the executor, so the ValueError
    reaches the caller inside Spark's PythonException at the action."""
    from aws_datalake_platform_spark.operators.similarity import semdedup

    rows = [(i, [float(i == d) + 0.1 for d in range(64)]) for i in range(10) if i != bad_id]
    emb = spark.createDataFrame(rows + [(bad_id, bad_vec)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match=rf"(ValueError: |^)semdedup: vec_id {bad_id} ") as e:
        semdedup(emb, n_centroids=4, threshold=0.9).collect()
    assert bad_id or isinstance(e.value, ValueError)


@pytest.mark.parametrize(
    "bad_vec, match",
    [
        (None, r"hyperplane LSH: NULL embedding"),
        ([1.0, 0.0], r"embedding dim 2 != configured dim 64"),
    ],
    ids=["null", "ragged"],
)
def test_hyperplane_lsh_rejects_dirty_vectors(spark, bad_vec, match):
    """Hyperplane codes need every vector at the configured dim: a NULL
    or ragged embedding raises a ValueError that says which, rather than
    numpy's unnamed shape error or a silently mis-projected bucket."""
    rows = [(i, [float(i == d) + 0.1 for d in range(64)]) for i in range(10)]
    emb = spark.createDataFrame(rows + [(10, bad_vec)], "vec_id long, embedding array<double>")
    with pytest.raises(Exception, match=rf"ValueError: {match}"):
        embedding_near_dup_pairs_lsh(emb).collect()


@pytest.fixture(scope="module")
def zero_vector_lake(tmp_path_factory):
    """sf0.001 with vec_id 20's embedding replaced by 64 zeros: a vector
    whose norm is 0, so every cosine with it has no value."""
    import shutil

    import pyarrow as pa
    import pyarrow.parquet as pq

    from aws_datalake_platform_spark.catalog import TESTDATA_TABLES

    dst = tmp_path_factory.mktemp("zero_vector_lake")
    for t in TESTDATA_TABLES:
        shutil.copy(f"{SF_SMOKE}/{t}.parquet", dst / f"{t}.parquet")
    emb = pq.read_table(f"{SF_SMOKE}/embeddings.parquet")
    vecs = [
        [0.0] * 64 if i == 20 else v
        for i, v in zip(emb["vec_id"].to_pylist(), emb["embedding"].to_pylist())
    ]
    col = emb.schema.get_field_index("embedding")
    emb = emb.set_column(col, "embedding", pa.array(vecs, emb.schema.field(col).type))
    pq.write_table(emb, str(dst / "embeddings.parquet"))
    return str(dst)


@pytest.mark.parametrize(
    "name",
    [
        # scored by _pair_cosine or cosine(): a zero norm is NULL, as in DuckDB
        "q30_ann_bruteforce_topk",
        "q31_embedding_near_dup",
        "q47_ann_ivf_topk",
        "q115_ann_pq_topk",
        "q202_mmr_rerank",
        "q203_kmeans_clusters",
        "q204_semantic_decontamination",
        "q209_ann_recall_audit",
        "q238_ivf_nprobe_plan",
        "q257_rrf_hybrid_rank",
        "q273_knn_outlier_scores",
        "q308_matryoshka_audit",
        # other embedding queries that must keep matching
        "q32_ann_lsh_topk",
        "q59_embedding_near_dup_lsh",
        "q213_embedding_drift",
        "q334_mutual_nn_pairs",
        "q411_similarity_margin",
        # a NULL representative score ranks last; NULL sim cells add no cover
        "q426_facility_location_coreset",
    ],
)
def test_zero_vector_matches_oracle(spark, zero_vector_lake, name):
    """A zero embedding gives a NULL cosine on both engines; the query
    must still hash-equal its DuckDB oracle, with the NULL sorting where
    DuckDB sorts it (q273 ranks its k-th cosine ascending, NULL last)."""
    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

    from .oracle import compare, duckdb_conn

    spec = QUERY_REGISTRY[name]
    ok, msg = compare(spec.fn(spark, zero_vector_lake), duckdb_conn(zero_vector_lake), spec.sql)
    assert ok, msg


@pytest.mark.parametrize(
    "name, match",
    [("q201_semdedup", r"semdedup: vec_id 20 ")],
)
def test_zero_vector_rejected_loudly(spark, zero_vector_lake, name, match):
    """Queries that cannot give a zero vector a meaningful answer raise
    rather than return rows that differ from the oracle."""
    from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY

    with pytest.raises(Exception, match=match):
        QUERY_REGISTRY[name].fn(spark, zero_vector_lake).collect()
