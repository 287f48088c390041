"""Loud duplicate-primary-key guard (VERDICT r9 item 2).

The constant-lake probe documented six queries whose semantics are
undefined on PK-violating input (q64 q107 q118 q203 q238 q332 —
oracle-side per-id dedup vs physical-row engine semantics). The engine
previously never *checked* the contract: duplicate ids produced
silently different numbers. Now those queries load their keyed table
through ``catalog.load_table_pk`` and raise ``DuplicateKeyError``; the
``validate-lake`` CLI locates offenders across the whole lake. q47 and
q209 joined them: two different vectors under one vec_id made IVF
top-k score an arbitrary copy, and its sim differed from the oracle's.
"""

from __future__ import annotations

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from aws_datalake_platform_spark.catalog import (
    TABLE_PRIMARY_KEYS,
    _PK_VERIFIED,
    load_table_pk,
)
from aws_datalake_platform_spark.plans.queries import QUERY_REGISTRY
from aws_datalake_platform_spark.validation import (
    DataValidator,
    DuplicateKeyError,
    require_unique_key,
)

from .conftest import SF_SMOKE

GUARDED_QUERIES = (
    "q47_ann_ivf_topk",
    "q64_winnow_fingerprints",
    "q107_recursive_cte",
    "q118_audio_window_energy",
    "q203_kmeans_clusters",
    "q209_ann_recall_audit",
    "q238_ivf_nprobe_plan",
    "q332_bm25_tuning_plan",
)


def _write_lake(dst, rows: int, repeat: int) -> str:
    """First ``rows`` rows of each sf0.001 table, duplicated ``repeat``
    times — the degenerate-probe constant-lake construction."""
    for t in TABLE_PRIMARY_KEYS:
        src = pq.read_table(f"{SF_SMOKE}/{t}.parquet")
        kept = src.slice(0, rows)
        if repeat > 1 and kept.num_rows:
            kept = pa.concat_tables([kept] * repeat)
        pq.write_table(kept, str(dst / f"{t}.parquet"))
    # lineitem is keyed compositely and not in the PK map
    li = pq.read_table(f"{SF_SMOKE}/lineitem.parquet").slice(0, rows)
    if repeat > 1 and li.num_rows:
        li = pa.concat_tables([li] * repeat)
    pq.write_table(li, str(dst / "lineitem.parquet"))
    return str(dst)


@pytest.fixture(scope="module")
def dup_lake(tmp_path_factory):
    return _write_lake(tmp_path_factory.mktemp("dup_lake"), rows=2, repeat=3)


def test_expectation_counts_duplicates_and_nulls(spark):
    df = spark.createDataFrame(
        [(1,), (1,), (2,), (None,)], "doc_id int"
    )
    report = (
        DataValidator(df, "t")
        .expect_column_values_to_be_unique("doc_id")
        .validate()
    )
    assert not report["success"]
    det = report["results"][0]["details"]
    # 4 physical rows, 2 distinct non-null ids -> 2 violations
    assert det == {"column": "doc_id", "non_unique_count": 2, "total_count": 4}


def test_expectation_passes_on_unique_key(spark):
    df = spark.createDataFrame([(1,), (2,), (3,)], "doc_id int")
    report = (
        DataValidator(df, "t")
        .expect_column_values_to_be_unique("doc_id")
        .validate()
    )
    assert report["success"]


def test_require_unique_key_raises_loudly(spark):
    df = spark.createDataFrame([(7,), (7,)], "vec_id int")
    with pytest.raises(DuplicateKeyError, match=r"embeddings\.vec_id: 1 of 2"):
        require_unique_key(df, "vec_id", "embeddings")


@pytest.mark.parametrize("name", GUARDED_QUERIES)
def test_guarded_queries_reject_duplicate_ids(spark, name, dup_lake):
    with pytest.raises(DuplicateKeyError):
        QUERY_REGISTRY[name].fn(spark, dup_lake).collect()


def test_guard_passes_and_caches_on_valid_lake(spark):
    _PK_VERIFIED.clear()
    df = load_table_pk(spark, SF_SMOKE, "documents")
    assert df.count() > 0
    assert any(t[1] == "documents" for t in _PK_VERIFIED)
    # second load of the same (lake, table) must not re-verify: poison
    # the cache token set and confirm no re-check clears it
    before = set(_PK_VERIFIED)
    load_table_pk(spark, SF_SMOKE, "documents")
    assert _PK_VERIFIED == before


def test_guard_rechecks_a_table_rewritten_in_place(spark, tmp_path):
    lake = _write_lake(tmp_path, rows=3, repeat=1)
    assert load_table_pk(spark, lake, "embeddings").count() == 3
    # same path, one vec_id repeated: the verified token must not cover it
    path = tmp_path / "embeddings.parquet"
    clean = pq.read_table(str(path))
    pq.write_table(pa.concat_tables([clean, clean.slice(0, 1)]), str(path))
    with pytest.raises(DuplicateKeyError, match=r"embeddings\.vec_id"):
        load_table_pk(spark, lake, "embeddings")


def test_validate_lake_cli(spark, dup_lake, capsys):
    from aws_datalake_platform_spark.__main__ import main

    assert main(["validate-lake", "--sf-dir", dup_lake]) == 1
    out = capsys.readouterr().out
    assert "documents.doc_id: FAIL" in out
    # composite lineitem key is informational only — the real testdata
    # itself does not honor it, so it can never fail the lake
    assert "lineitem.(l_orderkey, l_linenumber): info" in out
    assert "validate-lake: FAIL" in out

    assert main(["validate-lake", "--sf-dir", SF_SMOKE]) == 0
    out = capsys.readouterr().out
    assert "validate-lake: ok" in out
